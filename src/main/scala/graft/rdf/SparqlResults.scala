package graft.rdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SPARQL query-results wire formats — the serialization half of the
  * serving protocol. The reference's serving stack speaks these on the
  * wire: its Python client posts queries and consumes the store's
  * result documents (`cam/graphdb.py:34-58` via sparqlwrapper, whose
  * default response format is the W3C JSON results document), so an
  * engine replacing that store must produce the same documents.
  *
  *  - [[csv]] — W3C "SPARQL 1.1 Query Results CSV Format": header of
  *    variable names, one RFC 4180 row per solution. The CSV format is
  *    deliberately UNTYPED by spec (plain lexical values, no term
  *    syntax) — exactly the information a solution relation carries,
  *    so the mapping is lossless per spec.
  *  - [[tsv]] — the TSV variant: full term syntax (`<iri>`, quoted
  *    literals), so term kinds must be supplied per variable.
  *  - [[json]] — "SPARQL 1.1 Query Results JSON Format":
  *    `{"head":{"vars":[…]},"results":{"bindings":[…]}}` as ONE row.
  *    Binding type (`uri` vs `literal`) likewise comes from the
  *    caller's per-variable kind map — a solution relation is untyped,
  *    and guessing types from value shapes would be silently wrong.
  *
  * Everything renders distributively (an escape + concat projection per
  * row; the JSON document adds one sorted global aggregation, the
  * small-result serving contract — result sets are LIMIT-bounded pages,
  * not corpora). Unbound (null) bindings follow each spec: empty CSV
  * field, omitted JSON binding entry.
  */
object SparqlResults {

  /** RFC 4180 field: quote when the value contains a comma, quote, CR
    * or LF; double interior quotes; unbound renders empty. */
  private def csvField(c: Column): Column = {
    val v = coalesce(c.cast("string"), lit(""))
    when(v.rlike("[\",\r\n]"),
      concat(lit("\""), regexp_replace(v, "\"", "\"\""), lit("\"")))
      .otherwise(v)
  }

  /** Data-row `ord`: a real per-solution sequence number when the
    * caller supplies the query's ORDER BY keys (an ordered/paged query's
    * solution sequence is part of the results document per the W3C
    * formats — shuffles would otherwise discard it), constant 1
    * otherwise (unordered query: any row order is a valid document).
    * The sequence is a single-partition window — fine by the serving
    * contract (result sets are LIMIT-bounded pages, not corpora). */
  private def dataOrd(orderBy: Seq[Column]): Column =
    if (orderBy.isEmpty) lit(1)
    else row_number().over(org.apache.spark.sql.expressions.Window
      .orderBy(orderBy: _*))

  /** The results as CSV lines: `(ord, value)` with the header at
    * ord 0, data rows following — write `orderBy(ord).select(value)`
    * for the document, or compare the relation directly. Pass the
    * query's ORDER BY keys as `orderBy` to preserve solution sequence
    * (see [[dataOrd]]). */
  def csv(solutions: DataFrame, orderBy: Seq[Column] = Nil): DataFrame = {
    val cols = solutions.columns.toSeq
    val header = solutions.sparkSession.range(1)
      .select(lit(0).as("ord"), lit(cols.mkString(",")).as("value"))
    header.unionByName(
      solutions.select(dataOrd(orderBy).as("ord"),
        concat_ws(",", cols.map(n => csvField(col(n))): _*).as("value")))
  }

  /** TSV lines with full term syntax: `kinds` maps a variable to
    * `uri` | `literal` (default literal). Tabs/newlines in literals are
    * escaped N-Triples-style, as the TSV spec requires. */
  def tsv(solutions: DataFrame,
      kinds: Map[String, String] = Map.empty,
      orderBy: Seq[Column] = Nil): DataFrame = {
    val cols = solutions.columns.toSeq
    def term(n: String): Column = {
      val v = col(n).cast("string")
      val rendered = kinds.getOrElse(n, "literal") match {
        case "uri" => concat(lit("<"), v, lit(">"))
        case _ => concat(lit("\""),
          call_function("graft_nt_escape", v), lit("\""))
      }
      coalesce(rendered, lit("")) // unbound: empty field
    }
    val header = solutions.sparkSession.range(1)
      .select(lit(0).as("ord"),
        lit(cols.map("?" + _).mkString("\t")).as("value"))
    header.unionByName(
      solutions.select(dataOrd(orderBy).as("ord"),
        concat_ws("\t", cols.map(term): _*).as("value")))
  }

  /** The W3C JSON results document for an ASK query:
    * `{"head":{},"boolean":b}` — `ask` is the 1-row boolean relation
    * the parser's ASK verb returns. */
  def askJson(ask: DataFrame): DataFrame =
    ask.select(concat(lit("{\"head\":{},\"boolean\":"),
      col("ask").cast("string"), lit("}")).as("value"))

  /** The XML results document for an ASK query:
    * `<sparql…><head/><boolean>b</boolean></sparql>`. */
  def askXml(ask: DataFrame): DataFrame =
    ask.select(concat(
      lit("<?xml version=\"1.0\"?>" +
        "<sparql xmlns=\"http://www.w3.org/2005/sparql-results#\">" +
        "<head/><boolean>"),
      col("ask").cast("string"),
      lit("</boolean></sparql>")).as("value"))

  /** XML content escape — the five predefined entities' three that
    * matter in content position (& first, then < and >). */
  private def xmlEsc(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c.cast("string"),
      "&", "&amp;"), "<", "&lt;"), ">", "&gt;")

  /** The W3C "SPARQL Query Results XML Format" document as one row:
    * `<sparql><head><variable name=…/></head><results><result>
    * <binding name=…><uri|literal>…` — the third standard results
    * serialization next to [[csv]]/[[tsv]]/[[json]] (the format
    * SPARQLWrapper's XML mode consumes). `kinds` maps variables to
    * `uri` | `literal` (default literal); unbound bindings are omitted
    * from their result element per spec. Same distribution shape as
    * [[json]]: an escape + concat projection per row, then one sorted
    * global aggregation (results documents are LIMIT-bounded pages). */
  def xml(solutions: DataFrame,
      kinds: Map[String, String] = Map.empty,
      orderBy: Seq[Column] = Nil): DataFrame = {
    val cols = solutions.columns.toSeq
    val head = cols.map(v => s"""<variable name="$v"/>""").mkString
    val entries = cols.map { n =>
      val t = kinds.getOrElse(n, "literal") match {
        case "uri" => "uri"
        case _ => "literal"
      }
      when(col(n).isNotNull,
        concat(lit(s"""<binding name="$n"><$t>"""),
          xmlEsc(col(n)), lit(s"</$t></binding>")))
    }
    val result = concat(lit("<result>"), concat_ws("", entries: _*),
      lit("</result>"))
    val sorted =
      if (orderBy.isEmpty)
        solutions.select(result.as("b"))
          .agg(sort_array(collect_list(col("b"))).as("bs"))
      else
        solutions
          .select(struct(orderBy :+ result.as("_b"): _*).as("kb"))
          .agg(sort_array(collect_list(col("kb"))).as("kbs"))
          .select(transform(col("kbs"), x => x.getField("_b")).as("bs"))
    sorted.select(concat(
      lit("<?xml version=\"1.0\"?>" +
        "<sparql xmlns=\"http://www.w3.org/2005/sparql-results#\">" +
        s"<head>$head</head><results>"),
      array_join(col("bs"), ""),
      lit("</results></sparql>")).as("value"))
  }

  /** The W3C JSON results document as one row. `kinds` maps variables
    * to `uri` | `literal` (default literal). With `orderBy` keys the
    * bindings array preserves the query's solution sequence (the W3C
    * results document for an ORDER BY/LIMIT-paged query must — the
    * collected structs sort by the keys, then project back to the
    * serialized binding); without, bindings sort by their serialized
    * form so the document is at least deterministic. */
  def json(solutions: DataFrame,
      kinds: Map[String, String] = Map.empty,
      orderBy: Seq[Column] = Nil): DataFrame = {
    def esc(c: Column) = call_function("graft_nt_escape", c)
    val cols = solutions.columns.toSeq
    val headVars = cols.map(v => "\"" + v + "\"").mkString(",")
    // concat_ws skips null entries — an unbound variable's binding is
    // omitted from the solution object, per spec
    val entries = cols.map { n =>
      val t = kinds.getOrElse(n, "literal")
      when(col(n).isNotNull,
        concat(lit("\"" + n + "\":{\"type\":\"" + t + "\",\"value\":\""),
          esc(col(n).cast("string")), lit("\"}")))
    }
    val binding = concat(lit("{"), concat_ws(",", entries: _*), lit("}"))
    val sortedBindings =
      if (orderBy.isEmpty)
        solutions.select(binding.as("b"))
          .agg(sort_array(collect_list(col("b"))).as("bs"))
      else
        solutions
          .select(struct(orderBy :+ binding.as("_b"): _*).as("kb"))
          .agg(sort_array(collect_list(col("kb"))).as("kbs"))
          .select(transform(col("kbs"), x => x.getField("_b")).as("bs"))
    sortedBindings
      .select(concat(
        lit("{\"head\":{\"vars\":[" + headVars + "]},"),
        lit("\"results\":{\"bindings\":["),
        array_join(col("bs"), ","),
        lit("]}}")).as("value"))
  }
}
