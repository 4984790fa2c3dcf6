package graft.rdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.TermKind

/** JSON-LD serialization of the quad relation (W3C JSON-LD 1.1,
  * expanded/flattened form) — the third RDF interchange syntax next to
  * the N-Quads and Turtle sinks. The reference's ecosystem is
  * JSON-LD-adjacent (schema.org vocabularies are published as JSON-LD;
  * `cam/etl/namespaces.py` binds the same namespaces), and a JSON
  * rendering is what a downstream indexer or web API consumes directly.
  *
  * Shapes:
  *  - [[renderNodes]] — one EXPANDED NODE OBJECT per (graph, subject):
  *    `{"@id":…,"@type":[…],"<pred>":[{"@value"|"@id":…}…]}` — an
  *    NDJSON relation, the 100 TB-safe form (two map-side-combinable
  *    aggregations keyed by subject, no document assembly).
  *  - [[renderDocument]] — the corpus as ONE flattened JSON-LD document
  *    `[{"@id":g,"@graph":[nodes]}…]`, the small-data contract (same
  *    discipline as `QuadEmitter.writeTurtle`).
  *
  * Determinism: predicate entries, value arrays and graph objects are
  * all sorted; duplicate quads collapse (a graph is a set, collect_set).
  * Literal escaping reuses the native `graft_nt_escape` expression —
  * N-Triples and JSON escape the same characters the same way
  * (backslash, quote, LF, CR, tab), so one codegen'd walk serves both
  * serializers. rdf:type edges with IRI objects render as `"@type"`
  * keyword arrays of bare IRI strings, the JSON-LD convention.
  */
object JsonLd {

  private val RdfTypeIri = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

  /** One expanded node object per (graph, subject); columns
    * `(graph, value)`. Blank-node subjects keep their `_:label` ids. */
  def renderNodes(quads: DataFrame): DataFrame = {
    def esc(c: Column) = call_function("graft_nt_escape", c)
    val g: Column =
      if (quads.columns.contains("graph")) col("graph")
      else lit(null).cast("string")
    val sKind: Column =
      if (quads.columns.contains("subjectKind")) col("subjectKind")
      else lit(TermKind.Iri)
    // EVERY term lands inside a JSON string — @id subjects, predicate
    // keys, @type IRIs, language tags, datatypes, not just literal
    // @value — so every one goes through the escape walk (a quote or
    // backslash anywhere would otherwise yield an invalid document; the
    // JSON reader in parseNodes unescapes them all back identically).
    val sid = esc(when(sKind === TermKind.BNode,
      concat(lit("_:"), col("subject"))).otherwise(col("subject")))
    val isType = col("predicate") === RdfTypeIri &&
      col("objectKind") === TermKind.Iri
    val key = when(isType, lit("@type")).otherwise(esc(col("predicate")))
    val objJson = when(isType,
        concat(lit("\""), esc(col("objectValue")), lit("\"")))
      .when(col("objectKind") === TermKind.Iri,
        concat(lit("{\"@id\":\""), esc(col("objectValue")), lit("\"}")))
      .when(col("objectKind") === TermKind.BNode,
        concat(lit("{\"@id\":\"_:"), esc(col("objectValue")), lit("\"}")))
      .otherwise(concat(
        lit("{\"@value\":\""), esc(col("objectValue")), lit("\""),
        when(col("lang").isNotNull,
          concat(lit(",\"@language\":\""), esc(col("lang")), lit("\"")))
          .when(col("datatype").isNotNull,
            concat(lit(",\"@type\":\""), esc(col("datatype")), lit("\"")))
          .otherwise(lit("")),
        lit("}")))
    quads
      .select(g.as("graph"), sid.as("sid"), key.as("k"), objJson.as("oj"))
      .groupBy(col("graph"), col("sid"), col("k"))
      .agg(sort_array(collect_set(col("oj"))).as("ojs"))
      .select(col("graph"), col("sid"),
        concat(lit("\""), col("k"), lit("\":["),
          array_join(col("ojs"), ","), lit("]")).as("entry"))
      .groupBy(col("graph"), col("sid"))
      .agg(sort_array(collect_list(col("entry"))).as("entries"))
      .select(col("graph"),
        concat(lit("{\"@id\":\""), col("sid"), lit("\","),
          array_join(col("entries"), ","), lit("}")).as("value"))
  }

  /** The corpus as one flattened JSON-LD document string: a top-level
    * array of named-graph objects (`{"@id":g,"@graph":[…]}`), plus a
    * bare `{"@graph":[…]}` object for default-graph nodes; everything
    * sorted. Single-row result — the small-document contract. */
  def renderDocument(quads: DataFrame): DataFrame = {
    val nodes = renderNodes(quads)
    val graphObjs = nodes.groupBy(col("graph"))
      .agg(sort_array(collect_list(col("value"))).as("ns"))
      .select(when(col("graph").isNotNull,
          concat(lit("{\"@id\":\""),
            call_function("graft_nt_escape", col("graph")),
            lit("\",\"@graph\":["), array_join(col("ns"), ","), lit("]}")))
        .otherwise(concat(lit("{\"@graph\":["),
          array_join(col("ns"), ","), lit("]}")))
        .as("gobj"))
    graphObjs.agg(concat(lit("["),
      array_join(sort_array(collect_list(col("gobj"))), ","),
      lit("]")).as("value"))
  }

  /** Single-document JSON-LD sink (small-data contract; the scale path
    * is [[renderNodes]] written as NDJSON, e.g. partitioned by graph). */
  def writeJsonLd(quads: DataFrame, path: String): Unit =
    renderDocument(quads).coalesce(1).write.mode("overwrite").text(path)

  /** Inverse of [[renderNodes]] — expanded JSON-LD node objects (the
    * NDJSON relation `spark.read.json` yields from that sink) back to
    * the quad relation. SCHEMA-DRIVEN: after JSON load the predicate
    * vocabulary IS the column set, so the plan compiles one `transform`
    * lambda per predicate column and performs ONE scan/parse/explode
    * pass — predicates × objects flatten into a single array of quad
    * structs per node, never one scan per predicate. JSON string
    * unescaping inverts the sink's `graft_nt_escape` exactly (both
    * escape the same five characters the same way — object doc above).
    * At 100 TB pass an explicit schema (or `samplingRatio`) to
    * `spark.read.json` — inference is a full extra pass.
    *
    * @param nodes `spark.read.json` result over renderNodes NDJSON
    * @param graph constant graph column for the parsed quads (the sink
    *              partitions by graph, so the caller knows it) */
  def parseNodes(nodes: DataFrame,
      graph: Column = lit(null).cast("string")): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val sid = col("`@id`")
    val subject = when(sid.startsWith("_:"), sid.substr(lit(3), length(sid)))
      .otherwise(sid)
    val subjectKind = when(sid.startsWith("_:"), lit(TermKind.BNode))
      .otherwise(lit(TermKind.Iri))
    val nullStr = lit(null).cast("string")
    def quadStruct(pred: Column, value: Column, kind: Column,
        datatype: Column, lang: Column): Column =
      struct(pred.as("predicate"), value.as("objectValue"),
        kind.as("objectKind"), datatype.as("datatype"), lang.as("lang"))
    val legs: Seq[Column] = nodes.schema.fields.toSeq.collect {
      case f if f.name == "@type" =>
        // node-level @type keyword: bare IRI strings → rdf:type edges
        transform(coalesce(col("`@type`"), array().cast(f.dataType)),
          t => quadStruct(lit(RdfTypeIri), t, lit(TermKind.Iri),
            nullStr, nullStr))
      case f if f.name != "@id" &&
          f.dataType.isInstanceOf[ArrayType] &&
          f.dataType.asInstanceOf[ArrayType].elementType
            .isInstanceOf[StructType] =>
        val st = f.dataType.asInstanceOf[ArrayType].elementType
          .asInstanceOf[StructType]
        def fld(o: Column, n: String): Column =
          if (st.fieldNames.contains(n)) o.getField(n) else nullStr
        transform(coalesce(col(s"`${f.name}`"), array().cast(f.dataType)),
          o => {
          val oid = fld(o, "@id")
          quadStruct(
            lit(f.name),
            when(oid.isNotNull && oid.startsWith("_:"),
                oid.substr(lit(3), length(oid)))
              .otherwise(coalesce(oid, fld(o, "@value"))),
            when(oid.isNotNull && oid.startsWith("_:"),
                lit(TermKind.BNode))
              .when(oid.isNotNull, lit(TermKind.Iri))
              .otherwise(lit(TermKind.Literal)),
            fld(o, "@type"), fld(o, "@language"))
        })
    }
    require(legs.nonEmpty,
      "no predicate columns — not an expanded JSON-LD node relation")
    nodes
      .select(subject.as("subject"), subjectKind.as("subjectKind"),
        explode(flatten(array(legs: _*))).as("q"))
      .select(col("subject"), col("subjectKind"),
        col("q.predicate").as("predicate"),
        col("q.objectValue").as("objectValue"),
        col("q.objectKind").as("objectKind"),
        col("q.datatype").as("datatype"), col("q.lang").as("lang"),
        graph.as("graph"))
  }
}
