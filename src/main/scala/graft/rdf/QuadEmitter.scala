package graft.rdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.TermKind

/** Declarative row→quads explosion (SURVEY §2.9).
  *
  * The heart of the reference: one input row becomes 20-60 quads via
  * imperative `ds.add((s,p,o,g))` calls (`etl_lalf_address.py:273-686`,
  * `etl_pndb.py:85-343`, `etl_qrt.py:48-181`). The Spark-native shape is an
  * `array(struct(...))` with `when`-gated optional elements followed by a
  * single `explode` — pure Catalyst, whole-stage-codegen'd, no UDTF.
  *
  * An [[Emit]] mirrors one `ds.add(...)` call site; the YAML-driven
  * declarative variant of the reference (`cam/transform.py:58-114`,
  * `cam/config.py:5-46`) maps 1:1 onto a `Seq[Emit]`.
  */
final case class Emit(
    predicate: Column,
    obj: Column,
    kind: String = TermKind.Literal,
    datatype: Option[Column] = None,
    lang: Option[Column] = None)

object Emit {
  /** Object-property quad: predicate → IRI object. */
  def iri(predicate: String, obj: Column): Emit =
    Emit(lit(predicate), obj, TermKind.Iri)

  /** Plain/typed/lang literal. */
  def literal(predicate: String, obj: Column,
      datatype: String = null, lang: String = null): Emit =
    Emit(lit(predicate), obj, TermKind.Literal,
      Option(datatype).map(lit(_)), Option(lang).map(lit(_)))

  /** Deterministically-labelled blank node
    * (`BNode(f"{addr_id_uuid}-country")`, etl_lalf_address.py:400). */
  def bnode(predicate: String, label: Column): Emit =
    Emit(lit(predicate), label, TermKind.BNode)
}

/** Full-fidelity emit: per-emit subject (IRI or blank node) AND per-emit
  * graph, so one input row can fan out into multiple subjects across
  * multiple named graphs — the reference's bnode 3-quad groups
  * (`addr_iri →hasPart→ _:x; _:x →additionalType→ t; _:x →value→ v`,
  * etl_lalf_address.py:398-410) and the pndb given-name groups written
  * into a different graph (etl_pndb.py:236-245) both need this shape. */
final case class EmitQ(
    subject: Column,
    subjectKind: String,
    predicate: String,
    obj: Column,
    kind: String = TermKind.Literal,
    datatype: Option[String] = None,
    lang: Option[String] = None,
    graph: String)

object EmitQ {
  def iri(subject: Column, predicate: String, obj: Column,
      graph: String): EmitQ =
    EmitQ(subject, TermKind.Iri, predicate, obj, TermKind.Iri, graph = graph)

  def literal(subject: Column, predicate: String, obj: Column, graph: String,
      datatype: String = null, lang: String = null): EmitQ =
    EmitQ(subject, TermKind.Iri, predicate, obj, TermKind.Literal,
      Option(datatype), Option(lang), graph)

  /** subject →predicate→ _:label (blank node as OBJECT). */
  def bnodeObj(subject: Column, predicate: String, label: Column,
      graph: String): EmitQ =
    EmitQ(subject, TermKind.Iri, predicate, label, TermKind.BNode,
      graph = graph)

  /** _:label →predicate→ IRI (blank node as SUBJECT). */
  def fromBnodeIri(label: Column, predicate: String, obj: Column,
      graph: String): EmitQ =
    EmitQ(label, TermKind.BNode, predicate, obj, TermKind.Iri, graph = graph)

  /** _:label →predicate→ literal (blank node as SUBJECT). */
  def fromBnodeLiteral(label: Column, predicate: String, obj: Column,
      graph: String, datatype: String = null, lang: String = null): EmitQ =
    EmitQ(label, TermKind.BNode, predicate, obj, TermKind.Literal,
      Option(datatype), Option(lang), graph)
}

object QuadEmitter {

  /** Compile a subject + emit list into the quad relation.
    *
    * Null or blank objects vanish (the reference's truthiness guards,
    * `cam/tables/lf_address.py:41`, `etl_lalf_address.py:452,477,523`):
    * each element is `when(gate, struct).otherwise(null)`, nulls dropped
    * after the explode. The output column set matches
    * [[graft.model.Quad.schema]].
    */
  def explodeQuads(df: DataFrame, subject: Column, graph: String,
      emits: Seq[Emit]): DataFrame = {
    val elems = emits.map { e =>
      val gated = when(
        e.obj.isNotNull && length(trim(e.obj.cast("string"))) > 0,
        struct(
          e.predicate.as("predicate"),
          e.obj.cast("string").as("objectValue"),
          lit(e.kind).as("objectKind"),
          e.datatype.getOrElse(lit(null).cast("string")).as("datatype"),
          e.lang.getOrElse(lit(null).cast("string")).as("lang")))
      gated // null when gate fails
    }
    df.select(subject.as("subject"), explode(array(elems: _*)).as("q"))
      .where(col("q").isNotNull)
      .select(
        col("subject"),
        col("q.predicate").as("predicate"),
        col("q.objectValue").as("objectValue"),
        col("q.objectKind").as("objectKind"),
        col("q.datatype").as("datatype"),
        col("q.lang").as("lang"),
        lit(graph).as("graph"))
  }

  /** Full-fidelity explosion: one array(struct)+explode over per-emit
    * (subject, subjectKind, graph) — same pure-Catalyst shape as
    * [[explodeQuads]], widened so a single input row emits its IRI-subject
    * quads, its blank-node 3-quad groups, and its quads in OTHER named
    * graphs in one pass (etl_lalf_address.py:273-686: 20-60 `ds.add`
    * calls per row). */
  def explodeQuadsFull(df: DataFrame, emits: Seq[EmitQ]): DataFrame = {
    val elems = emits.map { e =>
      when(
        e.obj.isNotNull && length(trim(e.obj.cast("string"))) > 0,
        struct(
          e.subject.cast("string").as("subject"),
          lit(e.subjectKind).as("subjectKind"),
          lit(e.predicate).as("predicate"),
          e.obj.cast("string").as("objectValue"),
          lit(e.kind).as("objectKind"),
          e.datatype.map(lit(_)).getOrElse(lit(null).cast("string"))
            .as("datatype"),
          e.lang.map(lit(_)).getOrElse(lit(null).cast("string")).as("lang"),
          lit(e.graph).as("graph")))
    }
    df.select(explode(array(elems: _*)).as("q"))
      .where(col("q").isNotNull)
      .select(col("q.*"))
  }

  /** The rendered N-Quads line as a Column over a quad relation. Subjects
    * render as `_:label` when a `subjectKind` column marks them blank
    * (full-fidelity path); relations without the column are all-IRI. */
  private def lineExpr(quads: DataFrame): Column = {
    val v = col("objectValue")
    // single-pass escape kernel (plans/NtEscape) — bit-identical to the
    // old five-regexp_replace chain the DuckDB oracles still replay
    // (ExtensionsSpec asserts parity); one string walk instead of five
    // regex passes per literal on the serialize hot path
    val escaped = call_function("graft_nt_escape", v)
    val objectTerm = when(col("objectKind") === graft.model.TermKind.Iri,
        concat(lit("<"), v, lit(">")))
      .when(col("objectKind") === graft.model.TermKind.BNode,
        concat(lit("_:"), v))
      .otherwise(
        concat(lit("\""), escaped, lit("\""),
          when(col("lang").isNotNull, concat(lit("@"), col("lang")))
            .when(col("datatype").isNotNull,
              concat(lit("^^<"), col("datatype"), lit(">")))
            .otherwise(lit(""))))
    val subjectTerm =
      if (quads.columns.contains("subjectKind"))
        when(col("subjectKind") === graft.model.TermKind.BNode,
          concat(lit("_:"), col("subject")))
          .otherwise(concat(lit("<"), col("subject"), lit(">")))
      else concat(lit("<"), col("subject"), lit(">"))
    concat_ws(" ",
      subjectTerm,
      concat(lit("<"), col("predicate"), lit(">")),
      objectTerm,
      concat(lit("<"), col("graph"), lit(">")),
      lit("."))
  }

  /** N-Quads line renderer (S8): one text line per quad, with the string
    * escaping N-Triples requires (backslash first, then quote, LF, CR,
    * tab). Order-independent by design — the reference's per-job file
    * split (`etl_lalf_address.py:688-690`) already implies set semantics.
    */
  def renderNQuads(quads: DataFrame): DataFrame =
    quads.select(lineExpr(quads).as("value"))

  /** N-Quads file sink: `partitionBy("graph")` keeps one directory per
    * named graph — the columnar twin of the reference's per-graph .nq
    * outputs (`Taskfile.yml:108-114`). */
  def writeNQuads(quads: DataFrame, path: String): Unit =
    renderNQuads(quads).write.mode("overwrite").text(path)

  /** Per-graph N-Quads sink: one directory per named graph
    * (`Taskfile.yml:108-114` — the reference ships one .nq per graph).
    * A re-read filtered on `graph` prunes to a single directory before
    * touching a row — partition pruning is the point at 100 TB. */
  def writeNQuadsByGraph(quads: DataFrame, path: String): Unit =
    quads.select(lineExpr(quads).as("value"), col("graph"))
      .write.mode("overwrite").partitionBy("graph").text(path)

  /** N-Triples line renderer (S9) — the CAM1 sink
    * (`cam/tables/__init__.py:32-41`): identical term syntax minus the
    * graph term. A null graph vanishes inside renderNQuads' concat_ws,
    * leaving exactly the `<s> <p> o .` triple line. */
  def renderNTriples(quads: DataFrame): DataFrame =
    renderNQuads(quads.withColumn("graph", lit(null).cast("string")))

  /** Default prefix table for Turtle compaction (the reference's
    * namespace bindings, `cam/etl/namespaces.py:5-17`, all public W3C /
    * schema.org IRIs). Order matters: longer namespaces first so the most
    * specific prefix wins. */
  val DefaultPrefixes: Seq[(String, String)] = Seq(
    "xsd" -> "http://www.w3.org/2001/XMLSchema#",
    "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
    "rdf" -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "sdo" -> "https://schema.org/",
    "time" -> "http://www.w3.org/2006/time#")

  /** `pfx:local` if the IRI is `ns + simple-local-part`, else `<iri>`.
    * The local part is the text AFTER the leading namespace (a fixed-
    * length substring — NOT substring_index, which splits on the LAST
    * namespace occurrence and would mis-compact an IRI containing its
    * namespace twice). Only a conservative local-name shape compacts:
    * letters/digits/`_-` with interior dots but no trailing dot (Turtle
    * PN_LOCAL may not end in `.` — the parser would eat it as the
    * statement terminator). Everything else stays a full `<iri>`, which
    * is always valid Turtle. */
  private def compactIri(c: Column,
      prefixes: Seq[(String, String)]): Column =
    prefixes.foldLeft(None: Option[Column]) { case (acc, (p, ns)) =>
      val local = c.substr(lit(ns.length + 1), length(c) - ns.length)
      val hit = c.startsWith(ns) &&
        local.rlike("^[A-Za-z]([A-Za-z0-9_.-]*[A-Za-z0-9_-])?$")
      val compacted = concat(lit(p + ":"), local)
      Some(acc.fold(when(hit, compacted))(w => w.when(hit, compacted)))
    }.get.otherwise(concat(lit("<"), c, lit(">")))

  /** Pretty-printed Turtle (S9 — the reference's vocab-merge output,
    * `run.py:6-16`, `cam/transform.py:116-119`): one predicate-grouped
    * block per subject,
    * {{{
    * <s> p1 o1 ;
    *   p2 o2 .
    * }}}
    * with prefix-compacted IRIs. Deterministic: predicates/objects sort
    * inside each block (`sort_array` on the collected structs), blocks
    * sort by subject. The group-and-render is ONE shuffle keyed by
    * subject — Turtle pretty-printing is inherently a per-subject
    * aggregation, and this is its map-side-combinable Spark shape.
    * Returns one row per subject block (multi-line `value`), header not
    * included — see [[turtleHeader]] / [[writeTurtle]]. */
  /** The three Turtle-syntax term columns (subject, predicate, object)
    * shared by the Turtle and TriG renderers. */
  private def turtleTerms(quads: DataFrame,
      prefixes: Seq[(String, String)]): (Column, Column, Column) = {
    val v = col("objectValue")
    val escaped = call_function("graft_nt_escape", v)
    val objectTerm = when(col("objectKind") === graft.model.TermKind.Iri,
        compactIri(v, prefixes))
      .when(col("objectKind") === graft.model.TermKind.BNode,
        concat(lit("_:"), v))
      .otherwise(
        concat(lit("\""), escaped, lit("\""),
          when(col("lang").isNotNull, concat(lit("@"), col("lang")))
            .when(col("datatype").isNotNull,
              concat(lit("^^"), compactIri(col("datatype"), prefixes)))
            .otherwise(lit(""))))
    val subjectTerm =
      if (quads.columns.contains("subjectKind"))
        when(col("subjectKind") === graft.model.TermKind.BNode,
          concat(lit("_:"), col("subject")))
          .otherwise(compactIri(col("subject"), prefixes))
      else compactIri(col("subject"), prefixes)
    val predTerm = when(
        col("predicate") === "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
        lit("a")) // the Turtle keyword for rdf:type
      .otherwise(compactIri(col("predicate"), prefixes))
    (subjectTerm, predTerm, objectTerm)
  }

  def renderTurtleBlocks(quads: DataFrame,
      prefixes: Seq[(String, String)] = DefaultPrefixes): DataFrame = {
    val (subjectTerm, predTerm, objectTerm) = turtleTerms(quads, prefixes)
    quads
      .select(subjectTerm.as("st"),
        struct(predTerm.as("p"), objectTerm.as("o")).as("po"))
      .groupBy(col("st"))
      .agg(sort_array(collect_list(col("po"))).as("pos"))
      .select(concat(
        col("st"), lit(" "),
        array_join(transform(col("pos"),
          x => concat(x.getField("p"), lit(" "), x.getField("o"))),
          " ;\n  "),
        lit(" .")).as("value"))
  }

  /** The `@prefix` header lines for a prefix table. */
  def turtleHeader(prefixes: Seq[(String, String)] = DefaultPrefixes): Seq[String] =
    prefixes.map { case (p, ns) => s"@prefix $p: <$ns> ." }

  /** Single-document Turtle sink. Turtle is the reference's SMALL-data
    * format (compounded vocabs, `run.py:6-16`) — one readable file is the
    * contract, so the sink sorts blocks and coalesces to one partition;
    * the 100 TB serialization path is [[writeNQuadsByGraph]]. */
  def writeTurtle(quads: DataFrame, path: String,
      prefixes: Seq[(String, String)] = DefaultPrefixes): Unit = {
    val s = quads.sparkSession
    import s.implicits._
    val header = turtleHeader(prefixes).toDS().toDF("value")
      .withColumn("ord", lit(0))
    header.unionByName(
        renderTurtleBlocks(quads, prefixes).withColumn("ord", lit(1)))
      .orderBy(col("ord"), col("value"))
      .select(col("value"))
      .coalesce(1)
      .write.mode("overwrite").text(path)
  }

  /** TriG subject blocks (the named-graph Turtle, W3C TriG): Turtle
    * pretty-printing per (graph, subject) — the same one-shuffle
    * group-and-render as [[renderTurtleBlocks]], keyed by the pair, each
    * block pre-indented for its graph brace. Blocks of the DEFAULT graph
    * (null) render unindented at top level, which TriG allows. Returns
    * `(graph, value)` so callers can assemble or partition by graph. */
  def renderTrigBlocks(quads: DataFrame,
      prefixes: Seq[(String, String)] = DefaultPrefixes): DataFrame = {
    val (subjectTerm, predTerm, objectTerm) = turtleTerms(quads, prefixes)
    val g: Column =
      if (quads.columns.contains("graph")) col("graph")
      else lit(null).cast("string")
    val named = col("g").isNotNull
    quads
      .select(g.as("g"), subjectTerm.as("st"),
        struct(predTerm.as("p"), objectTerm.as("o")).as("po"))
      .groupBy(col("g"), col("st"))
      .agg(sort_array(collect_list(col("po"))).as("pos"))
      .select(col("g").as("graph"), {
        val joined = transform(col("pos"),
          x => concat(x.getField("p"), lit(" "), x.getField("o")))
        when(named,
          concat(lit("  "), col("st"), lit(" "),
            array_join(joined, " ;\n    "), lit(" .")))
          .otherwise(concat(col("st"), lit(" "),
            array_join(joined, " ;\n  "), lit(" .")))
          .as("value")
      })
  }

  /** Single-document TriG sink: `@prefix` header, top-level blocks for
    * default-graph quads, then one `<g> { … }` section per named graph,
    * everything deterministically ordered. Like [[writeTurtle]] this is
    * the SMALL-data contract (one readable document); the 100 TB path
    * stays [[writeNQuadsByGraph]], whose layout TriG's graph sections
    * mirror one-to-one. */
  def writeTrig(quads: DataFrame, path: String,
      prefixes: Seq[(String, String)] = DefaultPrefixes): Unit = {
    val s = quads.sparkSession
    import s.implicits._
    // sort key: (graph section, phase, text) — header first (phase -1
    // on the empty graph key), default-graph blocks under the empty
    // key, then per-graph open-brace / blocks / close-brace
    val header = turtleHeader(prefixes).toDS().toDF("value")
      .select(lit("").as("gk"), lit(-1).as("ord"), col("value"))
    // the brace lines need only DISTINCT graph — that branch re-reads
    // `quads` (cheap: the graph column prunes to the scan) rather than
    // paying a checkpoint of the rendered blocks (measured slower);
    // callers rendering an expensive derived relation should persist it
    // before passing it in
    val blocks = renderTrigBlocks(quads, prefixes)
      .select(coalesce(col("graph"), lit("")).as("gk"), lit(1).as("ord"),
        col("value"))
    val opens =
      if (quads.columns.contains("graph"))
        quads.select(col("graph").as("gk"))
          .filter(col("gk").isNotNull).distinct()
          .select(col("gk"), lit(0).as("ord"),
            concat(lit("<"), col("gk"), lit("> {")).as("value"))
      else header.limit(0)
    val closes = opens.select(col("gk"), lit(2).as("ord"),
      lit("}").as("value"))
    header.unionByName(blocks).unionByName(opens).unionByName(closes)
      .orderBy(col("gk"), col("ord"), col("value"))
      .select(col("value"))
      .coalesce(1)
      .write.mode("overwrite").text(path)
  }

  /** DESCRIBE verb (`cam/graphdb.py:60-71`, `cam/web/app.py:70-75`) as a
    * concise bounded description (CBD) of the focus IRIs: every quad
    * whose subject is a focus IRI, plus the quads of the blank nodes
    * those statements point at (the reference's part groups travel
    * with their owner — a bnode label is meaningless without them).
    * `DESCRIBE <a> [<b> …]`: the focus test is `subject IN (…)`, so the
    * constants reach the store scan. See [[cbd]] for the plan. */
  def describe(quads: DataFrame, iris: String*): DataFrame =
    cbd(quads, quads.filter(col("subject").isin(iris: _*) &&
      kindOf(quads, "subjectKind") === TermKind.Iri))

  /** The CBD of a focus RELATION — the `DESCRIBE ?v WHERE { … }` form:
    * the same contract as [[describe]], with the focus set semi-joined
    * in — never iterated driver-side. Serving DESCRIBE sets are small
    * (bounded by the WHERE's solutions), so the focus broadcasts; a bulk
    * export of millions of focuses should drop the hint and let the
    * (subject-keyed) shuffle join run.
    * @param iris single-column relation of focus IRIs (any column name)
    */
  def describeAll(quads: DataFrame, iris: DataFrame): DataFrame =
    cbd(quads, quads
      .filter(kindOf(quads, "subjectKind") === TermKind.Iri)
      .join(broadcast(iris.toDF("describe_iri")),
        col("subject") === col("describe_iri"), "left_semi"))

  /** `quads ⋉ broadcast(keys)` on `(subjectKind, subject)`: the keys are
    * the subjects of the `direct` statements (kind `iri`) and their
    * blank-node objects (kind `bnode`), two keys per direct statement
    * (the second null unless the object is a blank node). The semi-join
    * tolerates duplicate keys, so the plan needs no distinct and no
    * union: the keys' broadcast job, then the result job. */
  private def cbd(quads: DataFrame, direct: DataFrame): DataFrame = {
    val keys = direct.select(inline(array(
      struct(lit(TermKind.Iri).as("k_kind"), col("subject").as("k_term")),
      struct(when(kindOf(quads, "objectKind") === TermKind.BNode,
          lit(TermKind.BNode)).as("k_kind"),
        col("objectValue").as("k_term")))))
    quads.join(broadcast(keys), kindOf(quads, "subjectKind") ===
      col("k_kind") && col("subject") === col("k_term"), "left_semi")
  }

  /** A term-kind column of `quads`; a kind-less triple relation holds
    * IRIs only (so it has no blank-node closure to walk). */
  private def kindOf(quads: DataFrame, kind: String): Column =
    if (quads.columns.contains(kind)) col(kind)
    else lit(TermKind.Iri)
}
