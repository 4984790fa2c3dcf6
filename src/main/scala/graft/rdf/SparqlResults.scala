package graft.rdf

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SPARQL query-results wire formats — the serialization half of the
  * serving protocol. The reference's serving stack speaks these on the
  * wire: its Python client posts queries and consumes the store's
  * result documents (`cam/graphdb.py:34-58` via sparqlwrapper, whose
  * default response format is the W3C JSON results document), so an
  * engine replacing that store must produce the same documents.
  *
  *  - [[csvLines]] — W3C "SPARQL 1.1 Query Results CSV Format": header
  *    of variable names, one RFC 4180 row per solution. The CSV format
  *    is deliberately UNTYPED by spec (plain lexical values, no term
  *    syntax) — exactly the information a solution relation carries,
  *    so the mapping is lossless per spec.
  *  - [[tsvLines]] — the TSV variant: full term syntax (`<iri>`, quoted
  *    literals), so term kinds must be supplied per variable.
  *  - [[jsonDoc]] / [[xmlDoc]] — "SPARQL 1.1 Query Results JSON Format"
  *    and the XML format. Binding type (`uri` vs `literal`) likewise
  *    comes from the caller's per-variable kind map — a solution
  *    relation is untyped, and guessing types from value shapes would
  *    be silently wrong.
  *  - [[askJsonDoc]] / [[askXmlDoc]] — the boolean documents of ASK.
  *
  * Results documents are LIMIT-bounded pages, so they render on the
  * driver from a collected page: the variable names and each
  * solution's values as strings ([[strings]] — Spark's own casts, so
  * lexical forms match a Spark-side render byte for byte), in solution
  * order, which is the document order the W3C formats require of an
  * ORDER BY query. Unbound (null) bindings follow each spec: empty
  * CSV/TSV field, omitted JSON/XML binding. The DataFrame forms collect
  * the whole relation and render the same way; the catalog gates and
  * in-process callers use them.
  */
object SparqlResults {

  /** The solution relation with every column cast to string — the page
    * a server collects and these renderers read. */
  def strings(solutions: DataFrame): DataFrame =
    solutions.select(solutions.columns.toSeq
      .map(n => col(n).cast("string").as(n)): _*)

  private def kindOf(kinds: Map[String, String], n: String): String =
    kinds.getOrElse(n, "literal")

  /** The N-Triples literal escape `graft_nt_escape` runs. */
  private def ntEsc(v: String): String =
    graft.plans.NtEscape.compute(UTF8String.fromString(v)).toString

  /** RFC 4180 field: quote when the value contains a comma, quote, CR
    * or LF; double interior quotes; unbound renders empty. */
  private def csvField(v: String): String =
    if (v == null) ""
    else if (v.exists(c => c == '"' || c == ',' || c == '\r' || c == '\n'))
      "\"" + v.replace("\"", "\"\"") + "\""
    else v

  /** CSV lines: the header of variable names, then one line per row. */
  def csvLines(vars: Seq[String], rows: Seq[Row]): Seq[String] =
    vars.mkString(",") +: rows.map(r =>
      vars.indices.map(i => csvField(r.getString(i))).mkString(","))

  /** TSV lines with full term syntax: `kinds` maps a variable to
    * `uri` | `literal` (default literal). Tabs/newlines in literals are
    * escaped N-Triples-style, as the TSV spec requires. */
  def tsvLines(vars: Seq[String], rows: Seq[Row],
      kinds: Map[String, String] = Map.empty): Seq[String] =
    vars.map("?" + _).mkString("\t") +: rows.map(r =>
      vars.indices.map { i =>
        val v = r.getString(i)
        if (v == null) "" // unbound: empty field
        else if (kindOf(kinds, vars(i)) == "uri") "<" + v + ">"
        else "\"" + ntEsc(v) + "\""
      }.mkString("\t"))

  /** The W3C JSON results document:
    * `{"head":{"vars":[…]},"results":{"bindings":[…]}}`. `kinds` maps
    * variables to the binding `type` (default `literal`). */
  def jsonDoc(vars: Seq[String], rows: Seq[Row],
      kinds: Map[String, String] = Map.empty): String =
    rows.map { r =>
      vars.indices.filter(r.getString(_) != null).map { i =>
        "\"" + vars(i) + "\":{\"type\":\"" + kindOf(kinds, vars(i)) +
          "\",\"value\":\"" + ntEsc(r.getString(i)) + "\"}"
      }.mkString("{", ",", "}")
    }.mkString(
      "{\"head\":{\"vars\":[" + vars.map("\"" + _ + "\"").mkString(",") +
        "]},\"results\":{\"bindings\":[", ",", "]}}")

  /** XML content escape — the five predefined entities' three that
    * matter in content position (& first, then < and >). */
  private def xmlEsc(v: String): String =
    v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private val XmlOpen = "<?xml version=\"1.0\"?>" +
    "<sparql xmlns=\"http://www.w3.org/2005/sparql-results#\">"

  /** The W3C "SPARQL Query Results XML Format" document (the format
    * SPARQLWrapper's XML mode consumes): `kinds` maps variables to
    * `uri` | `literal` (default literal). */
  def xmlDoc(vars: Seq[String], rows: Seq[Row],
      kinds: Map[String, String] = Map.empty): String =
    rows.map { r =>
      vars.indices.filter(r.getString(_) != null).map { i =>
        val t = if (kindOf(kinds, vars(i)) == "uri") "uri" else "literal"
        s"""<binding name="${vars(i)}"><$t>""" + xmlEsc(r.getString(i)) +
          s"</$t></binding>"
      }.mkString("<result>", "", "</result>")
    }.mkString(
      XmlOpen + vars.map(v => s"""<variable name="$v"/>""")
        .mkString("<head>", "", "</head>") + "<results>",
      "", "</results></sparql>")

  /** The JSON results document for an ASK query:
    * `{"head":{},"boolean":b}`. */
  def askJsonDoc(b: Boolean): String = s"""{"head":{},"boolean":$b}"""

  /** The XML results document for an ASK query:
    * `<sparql…><head/><boolean>b</boolean></sparql>`. */
  def askXmlDoc(b: Boolean): String =
    XmlOpen + s"<head/><boolean>$b</boolean></sparql>"

  // -- DataFrame forms: collect, render on the driver, return the rows --

  private val ValueSchema = StructType(Seq(
    StructField("value", StringType, nullable = false)))
  private val OrdSchema = StructType(
    StructField("ord", IntegerType, nullable = false) +: ValueSchema)

  private def frame(like: DataFrame, schema: StructType,
      rows: Seq[Row]): DataFrame =
    like.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)

  private def collected(solutions: DataFrame): Seq[Row] =
    strings(solutions).collect().toSeq

  /** `(ord, value)` lines: the header at ord 0, every data line at 1. */
  private def ordLines(like: DataFrame, lines: Seq[String]): DataFrame =
    frame(like, OrdSchema, lines.zipWithIndex.map { case (l, i) =>
      Row(if (i == 0) 0 else 1, l) })

  /** [[csvLines]] of the whole relation as `(ord, value)` rows. */
  def csv(solutions: DataFrame): DataFrame =
    ordLines(solutions,
      csvLines(solutions.columns.toSeq, collected(solutions)))

  /** [[tsvLines]] of the whole relation as `(ord, value)` rows. */
  def tsv(solutions: DataFrame,
      kinds: Map[String, String] = Map.empty): DataFrame =
    ordLines(solutions,
      tsvLines(solutions.columns.toSeq, collected(solutions), kinds))

  /** [[jsonDoc]] of the whole relation as one `value` row. */
  def json(solutions: DataFrame,
      kinds: Map[String, String] = Map.empty): DataFrame =
    frame(solutions, ValueSchema, Seq(Row(
      jsonDoc(solutions.columns.toSeq, collected(solutions), kinds))))

  /** [[xmlDoc]] of the whole relation as one `value` row. */
  def xml(solutions: DataFrame,
      kinds: Map[String, String] = Map.empty): DataFrame =
    frame(solutions, ValueSchema, Seq(Row(
      xmlDoc(solutions.columns.toSeq, collected(solutions), kinds))))

  /** [[askJsonDoc]] per row of the parser's one-row `ask` relation. */
  def askJson(ask: DataFrame): DataFrame =
    frame(ask, ValueSchema, collected(ask.select("ask")).map(r =>
      Row(askJsonDoc(r.getString(0).toBoolean))))

  /** [[askXmlDoc]] per row of the parser's one-row `ask` relation. */
  def askXml(ask: DataFrame): DataFrame =
    frame(ask, ValueSchema, collected(ask.select("ask")).map(r =>
      Row(askXmlDoc(r.getString(0).toBoolean))))
}
