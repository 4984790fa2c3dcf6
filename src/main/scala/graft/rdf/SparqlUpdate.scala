package graft.rdf

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.model.TermKind

/** SPARQL UPDATE — the write half of the serving protocol
  * (`cam/graphdb.py:52-58` posts update strings to the store's
  * `/statements` endpoint). The engine's graph is an immutable
  * RELATION, so an update is a transform: `execute(quads, update)`
  * returns the updated quad relation; callers persist it with any sink
  * (parquet, the nquads DSv2 connector). Supported operations, `;`
  * separable, with leading PREFIX declarations:
  *
  * {{{
  * INSERT DATA { [GRAPH <g> {] s p o . … [}] }
  * DELETE DATA { [GRAPH <g> {] s p o . … [}] }
  * DELETE WHERE { [GRAPH <g> {] patterns [}] }
  * [WITH <g>] [DELETE { templates }] [INSERT { templates }]
  *   WHERE { patterns }
  * CLEAR|DROP [SILENT] (GRAPH <g> | DEFAULT | NAMED | ALL)
  * COPY|MOVE|ADD [SILENT] ([GRAPH] <g> | DEFAULT) TO ([GRAPH] <g> | DEFAULT)
  * LOAD <url> [INTO GRAPH <g>]      (execute overload takes the loader;
  *                                   default: .nq/.nt line-parallel,
  *                                   .ttl/.trig per-document)
  * }}}
  *
  * `WITH <g>` (SPARQL 1.1 §3.1.3) scopes a modify form: WHERE patterns
  * without an explicit GRAPH match only `g`, and graph-less
  * DELETE/INSERT templates target `g` instead of every/default graph.
  *
  * Graph management (SPARQL 1.1 Update §3.2): on a quad RELATION a
  * graph exists exactly while it has quads, so DROP and CLEAR coincide
  * (both remove the graph's quads) and SILENT is accepted and ignored
  * (clearing an absent graph is already a no-op). COPY replaces the
  * destination graph with the source's quads, MOVE additionally removes
  * the source, ADD unions source into destination (set semantics). All
  * compile to partition-prunable graph-column filters + projection-only
  * relabels — no joins at all.
  *
  * The modify form instantiates its templates once per WHERE solution
  * (CONSTRUCT-style: template variables bind from the solution;
  * variable objects instantiate as literals, `<iri>` objects as IRIs —
  * [[Bgp.Template]]'s documented convention). A graph-less DELETE
  * template retracts the statement from EVERY graph (our corpora are
  * all named graphs; the spec's default-graph reading would silently
  * retract nothing), a `GRAPH <g>` wrapping pins insert/delete to `g`.
  *
  * Scale shape: INSERT/DELETE DATA carry CONSTANT triples — the insert
  * is a union with a literal relation, the delete an anti-join against
  * a broadcast-sized constant set. DELETE WHERE compiles its pattern
  * match through [[Bgp.select]] (the same filtered-scan joins as
  * queries), instantiates each pattern over the solutions, and removes
  * by one anti-join per pattern — never a driver-side row loop.
  */
object SparqlUpdate {

  private case class ConstQuad(s: String, sKind: String, p: String,
      o: String, oKind: String, g: Option[String],
      lang: Option[String] = None, dt: Option[String] = None)

  private def constTerm(t: String): (String, String) =
    if (t.startsWith("<")) (t.substring(1, t.length - 1), TermKind.Iri)
    else if (t.startsWith("\"")) (SparqlParser.unquote(t), TermKind.Literal)
    else if (t.startsWith("_:")) (t.substring(2), TermKind.BNode)
    else if (t.nonEmpty && t.forall(_.isDigit)) (t, TermKind.Literal)
    else throw new IllegalArgumentException(
      s"expected a constant term, got '$t'")

  /** Align a constant-quad set to the input relation's columns: any of
    * the canonical 8 columns the input carries are populated, others
    * dropped; columns the input has beyond the canon are nulled. */
  private def constRelation(like: DataFrame,
      rows: Seq[ConstQuad]): DataFrame = {
    val values: Map[String, ConstQuad => Any] = Map(
      "subject" -> (_.s), "subjectKind" -> (_.sKind),
      "predicate" -> (_.p), "objectValue" -> (_.o),
      "objectKind" -> (_.oKind), "datatype" -> (_.dt.orNull),
      "lang" -> (_.lang.orNull), "graph" -> (_.g.orNull))
    val schema = StructType(like.columns.map(c =>
      StructField(c, StringType, nullable = true)))
    val data = rows.map(q => Row.fromSeq(like.columns.toSeq.map(c =>
      values.get(c).map(_(q)).orNull)))
    like.sparkSession.createDataFrame(
      like.sparkSession.sparkContext.parallelize(data, 1), schema)
  }

  private def nullSafe(a: Column, b: Column): Column = a <=> b

  /** One parsed operation. */
  private sealed trait Op
  private case class InsertData(rows: Seq[ConstQuad]) extends Op
  private case class DeleteData(rows: Seq[ConstQuad]) extends Op
  private case class DeleteWhere(pats: Seq[Bgp.Pattern]) extends Op

  /** A modify-form template quad: terms may be solution variables. */
  private case class TmplQuad(s: Bgp.Term, p: String, o: Bgp.Term,
      oKind: String, g: Option[String],
      lang: Option[String] = None, dt: Option[String] = None)
  private case class Modify(deletes: Seq[TmplQuad], inserts: Seq[TmplQuad],
      where: Seq[Bgp.Pattern]) extends Op
  /** LOAD <url> [INTO GRAPH <g>] — resolved by the caller's loader. */
  private case class LoadOp(url: String, graph: Option[String]) extends Op

  /** Graph designator for the management verbs: a named graph or the
    * default graph (`graph IS NULL` in the relation). */
  private sealed trait GraphRef
  private case object DefaultG extends GraphRef
  private case class NamedG(iri: String) extends GraphRef
  /** CLEAR/DROP target scope. */
  private case class ClearOp(scope: String, // graph | default | named | all
      iri: Option[String]) extends Op
  private case class GraphOp(verb: String, // copy | move | add
      from: GraphRef, to: GraphRef) extends Op

  private def parse(update: String): Seq[Op] = SparqlParser.parsing {
    var ts = SparqlParser.applyPrefixes(SparqlParser.tokenize(update))
    def eat(): String = {
      val h = ts.headOption.getOrElse(
        throw new IllegalArgumentException("unexpected end of update"))
      ts = ts.tail; h
    }
    def peek: String = ts.headOption.getOrElse("<eof>")
    def is(t: String): Boolean = peek.equalsIgnoreCase(t)
    def expect(t: String): Unit = {
      val h = eat()
      require(h.equalsIgnoreCase(t), s"expected '$t', got '$h'")
    }

    // `@tag` / `^^<iri>` after a quoted literal token (the tokenizer
    // splits `^^` into two carets; prefixed datatypes arrive
    // IRI-expanded) — the data/template grammars' typed-literal suffix.
    def litSuffix(): (Option[String], Option[String]) =
      if (peek.startsWith("@") && peek.length > 1)
        (Some(eat().substring(1)), None)
      else if (is("^") && ts.drop(1).headOption.contains("^")) {
        eat(); eat()
        val dtTok = eat()
        require(dtTok.startsWith("<"),
          s"a datatype must be an IRI, got '$dtTok'")
        (None, Some(dtTok.substring(1, dtTok.length - 1)))
      } else (None, None)

    def constBlock(): Seq[ConstQuad] = {
      expect("{")
      val out = Seq.newBuilder[ConstQuad]
      def triplesIn(g: Option[String]): Unit = {
        // default-graph triples may be followed by a GRAPH block in the
        // same QuadData ({ <s> <p> <o> . GRAPH <g> { … } }) — yield
        // back to the outer loop instead of eating GRAPH as a subject
        var more = true
        while (more && !is("}") && (g.nonEmpty || !is("GRAPH"))) {
          val (s, sk) = constTerm(eat())
          val pTok = eat()
          require(pTok.startsWith("<"),
            s"update data predicates must be IRIs, got '$pTok'")
          val oTok = eat()
          val (o, ok) = constTerm(oTok)
          val (lg, dt) =
            if (oTok.startsWith("\"")) litSuffix() else (None, None)
          out += ConstQuad(s, sk, pTok.substring(1, pTok.length - 1),
            o, ok, g, lg, dt)
          if (is(".")) { eat(); more = !is("}") } else more = false
        }
      }
      while (!is("}")) {
        if (is("GRAPH")) {
          eat()
          val gTok = eat()
          require(gTok.startsWith("<"),
            s"GRAPH needs a constant IRI, got '$gTok'")
          expect("{")
          triplesIn(Some(gTok.substring(1, gTok.length - 1)))
          expect("}")
        } else triplesIn(None)
      }
      expect("}")
      out.result()
    }

    def patternBlock(): Seq[Bgp.Pattern] = {
      expect("{")
      val out = Seq.newBuilder[Bgp.Pattern]
      def pattsIn(g: Option[Bgp.Term]): Unit = {
        var more = true
        while (more && !is("}")) {
          val s = SparqlParser.term(eat())
          val pTok = eat()
          val p: Bgp.Term =
            if (pTok.startsWith("?")) Bgp.Var(pTok.substring(1))
            else if (pTok.startsWith("<"))
              Bgp.Const(pTok.substring(1, pTok.length - 1))
            else if (pTok == "a") Bgp.Const(
              "http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
            else throw new IllegalArgumentException(
              s"expected a predicate, got '$pTok'")
          val o = SparqlParser.term(eat())
          out += Bgp.Pattern(s, p, o, g)
          if (is(".")) { eat(); more = !is("}") } else more = false
        }
      }
      while (!is("}")) {
        if (is("GRAPH")) {
          eat()
          val g = SparqlParser.term(eat())
          expect("{"); pattsIn(Some(g)); expect("}")
        } else pattsIn(None)
      }
      expect("}")
      out.result()
    }

    def templateBlock(): Seq[TmplQuad] = {
      expect("{")
      val out = Seq.newBuilder[TmplQuad]
      def tmplsIn(g: Option[String]): Unit = {
        var more = true
        while (more && !is("}")) {
          val s = SparqlParser.term(eat())
          val pTok = eat()
          require(pTok.startsWith("<"),
            s"template predicates must be IRIs, got '$pTok'")
          val oTok = eat()
          val (o, kind) =
            if (oTok.startsWith("?"))
              (Bgp.Var(oTok.substring(1)), TermKind.Literal)
            else if (oTok.startsWith("<"))
              (Bgp.Const(oTok.substring(1, oTok.length - 1)), TermKind.Iri)
            else (Bgp.Const(SparqlParser.unquote(oTok)), TermKind.Literal)
          val (lg, dt) =
            if (oTok.startsWith("\"")) litSuffix() else (None, None)
          out += TmplQuad(s, pTok.substring(1, pTok.length - 1), o, kind,
            g, lg, dt)
          if (is(".")) { eat(); more = !is("}") } else more = false
        }
      }
      while (!is("}")) {
        if (is("GRAPH")) {
          eat()
          val gTok = eat()
          require(gTok.startsWith("<"),
            s"GRAPH needs a constant IRI, got '$gTok'")
          expect("{")
          tmplsIn(Some(gTok.substring(1, gTok.length - 1)))
          expect("}")
        } else tmplsIn(None)
      }
      expect("}")
      out.result()
    }

    // WITH <g>: rewrite the modify form's graph-less parts to target g
    def scopeWith(m: Modify, g: String): Modify = Modify(
      m.deletes.map(t => t.copy(g = t.g.orElse(Some(g)))),
      m.inserts.map(t => t.copy(g = t.g.orElse(Some(g)))),
      m.where.map(pt =>
        if (pt.g.isEmpty) pt.copy(g = Some(Bgp.Const(g))) else pt))

    val ops = Seq.newBuilder[Op]
    var more = true
    while (more) {
      if (is("WITH")) {
        eat()
        val gTok = eat()
        require(gTok.startsWith("<"),
          s"WITH needs a constant graph IRI, got '$gTok'")
        val g = gTok.substring(1, gTok.length - 1)
        val del =
          if (is("DELETE")) { eat(); templateBlock() } else Nil
        val ins =
          if (is("INSERT")) { eat(); templateBlock() } else Nil
        require(del.nonEmpty || ins.nonEmpty,
          "WITH needs a DELETE and/or INSERT modify form")
        expect("WHERE")
        ops += scopeWith(Modify(del, ins, patternBlock()), g)
      } else if (is("LOAD")) {
        eat()
        val uTok = eat()
        require(uTok.startsWith("<"),
          s"LOAD needs a <url>, got '$uTok'")
        var g: Option[String] = None
        if (is("INTO")) {
          eat(); expect("GRAPH")
          val gTok = eat()
          require(gTok.startsWith("<"),
            s"INTO GRAPH needs a constant IRI, got '$gTok'")
          g = Some(gTok.substring(1, gTok.length - 1))
        }
        ops += LoadOp(uTok.substring(1, uTok.length - 1), g)
      } else if (is("INSERT")) {
        eat()
        if (is("DATA")) { eat(); ops += InsertData(constBlock()) }
        else { // INSERT { tmpl } WHERE { patterns }
          val ins = templateBlock()
          expect("WHERE")
          ops += Modify(Nil, ins, patternBlock())
        }
      } else if (is("DELETE")) {
        eat()
        if (is("DATA")) { eat(); ops += DeleteData(constBlock()) }
        else if (is("WHERE")) { eat(); ops += DeleteWhere(patternBlock()) }
        else { // DELETE { tmpl } [INSERT { tmpl }] WHERE { patterns }
          val del = templateBlock()
          val ins =
            if (is("INSERT")) { eat(); templateBlock() } else Nil
          expect("WHERE")
          ops += Modify(del, ins, patternBlock())
        }
      } else if (is("CLEAR") || is("DROP")) {
        eat()
        if (is("SILENT")) eat()
        if (is("GRAPH")) {
          eat()
          val gTok = eat()
          require(gTok.startsWith("<"),
            s"CLEAR/DROP GRAPH needs a constant IRI, got '$gTok'")
          ops += ClearOp("graph", Some(gTok.substring(1, gTok.length - 1)))
        } else if (is("DEFAULT")) { eat(); ops += ClearOp("default", None) }
        else if (is("NAMED")) { eat(); ops += ClearOp("named", None) }
        else if (is("ALL")) { eat(); ops += ClearOp("all", None) }
        else throw new IllegalArgumentException(
          s"CLEAR/DROP needs GRAPH <iri> | DEFAULT | NAMED | ALL, " +
            s"got '$peek'")
      } else if (is("COPY") || is("MOVE") || is("ADD")) {
        val verb = eat().toLowerCase
        if (is("SILENT")) eat()
        def graphRef(): GraphRef =
          if (is("DEFAULT")) { eat(); DefaultG }
          else {
            if (is("GRAPH")) eat()
            val gTok = eat()
            require(gTok.startsWith("<"),
              s"$verb needs [GRAPH] <iri> or DEFAULT, got '$gTok'")
            NamedG(gTok.substring(1, gTok.length - 1))
          }
        val from = graphRef()
        expect("TO")
        ops += GraphOp(verb, from, graphRef())
      } else throw new IllegalArgumentException(
        s"unsupported update operation '$peek'")
      if (is(";")) { eat(); more = ts.nonEmpty } else more = false
    }
    require(ts.isEmpty, s"trailing tokens: ${ts.mkString(" ")}")
    ops.result()
  }

  /** The quad key used for removal matching — the term columns the
    * input relation actually carries (graph null-safe: an update outside
    * GRAPH addresses the default graph). `broadcastRemoval` is set only
    * for CONSTANT removal sets (DELETE DATA — a handful of parsed rows);
    * solution-derived removals (DELETE WHERE, modify-form) scale with
    * the corpus (`DELETE WHERE { ?s ?p ?o }` is the whole store), so the
    * planner picks the join strategy there — AQE still broadcasts the
    * genuinely small ones at runtime. */
  private def removalJoin(quads: DataFrame, removal: DataFrame,
      keys: Seq[String], broadcastRemoval: Boolean): DataFrame = {
    val r = keys.foldLeft(removal)((df, k) =>
      df.withColumnRenamed(k, s"_rm_$k")).distinct()
    val rh = if (broadcastRemoval) broadcast(r) else r
    val cond = keys.map(k => nullSafe(quads(k), rh(s"_rm_$k")))
      .reduce(_ && _)
    quads.join(rh, cond, "left_anti")
  }

  /** LOAD resolver: http(s) URLs fetch through the driver-side vocab
    * gateway (r13, [[HttpVocab]] — the reference's `graph.parse(url)`);
    * files dispatch by extension — Turtle/TriG documents parse
    * per-file, N-Quads/N-Triples parse line-parallel. */
  def defaultLoader(s: org.apache.spark.sql.SparkSession)
      : String => DataFrame = url => {
    if (url.startsWith("http://") || url.startsWith("https://"))
      HttpVocab.fetch(s, url)
    else {
      val path = if (url.startsWith("file://")) url.substring(7) else url
      if (path.endsWith(".ttl") || path.endsWith(".trig"))
        TurtleParser.readTrig(s, path)
      else QuadParser.readNQuads(s, path)
    }
  }

  /** Apply `update` to the quad relation, returning the updated
    * relation (set semantics — INSERT DATA of an existing statement is
    * a no-op, per SPARQL Update). */
  def execute(quads: DataFrame, update: String): DataFrame =
    execute(quads, update, defaultLoader(quads.sparkSession))

  /** As [[execute]], with an explicit LOAD url resolver. */
  def execute(quads: DataFrame, update: String,
      loader: String => DataFrame): DataFrame = {
    val hasGraph = quads.columns.contains("graph")
    val dataKeys =
      Seq("subject", "predicate", "objectValue") ++
        (if (hasGraph) Seq("graph") else Nil)
    // SPARQL Update removes by TERM equality, not lexical form —
    // DELETE DATA { <s> <p> "x" } must not remove <s> <p> <x> (IRI
    // object, same lexical form) nor "x"@en / "x"^^dt variants. The
    // removal key therefore includes every object-term column the
    // relation carries; a constant row populates objectKind from its
    // parsed token and datatype/lang as null (the plain-literal term).
    // Solution-bound VARIABLE objects in modify-form/DELETE WHERE
    // templates match on value only — BGP solutions bind lexical forms,
    // so the kind columns are unavailable there (documented deviation;
    // over-deletes only when one lexical form names terms of different
    // kinds in the same s/p/g slot).
    val termKeys = Seq("objectKind", "datatype", "lang")
      .filter(quads.columns.contains)
    parse(update).foldLeft(quads) { (acc0, op) =>
      // Modify / DeleteWhere / GraphOp read the accumulated state several
      // times (one filtered scan per WHERE pattern + the removal
      // anti-joins); without a lineage cut each read re-derives the whole
      // upstream chain — after two chained ops that's the base relation
      // re-computed ~10× (the shape_validate trap, PERF.md). A lazy cut
      // materializes each op's input once. Single-read ops pass through
      // so a lone CLEAR/INSERT keeps its scan pushdown.
      val acc = op match {
        case _: Modify | _: DeleteWhere | _: GraphOp =>
          // idempotent: the session-preloaded store (or a source scan)
          // arrives materialized — only derived accumulated state cuts.
          graft.operators.Checkpoints.cutOnce(acc0, eager = false)
        case _ => acc0
      }
      op match {
        case InsertData(rows) =>
          // set semantics WITHOUT a corpus-wide dedup shuffle (r12):
          // the constant relation is tiny by construction, so already-
          // present copies are detected by a BROADCAST semi-join (a
          // map-side scan of the store — no exchange) and only the
          // missing rows append. The store relation itself is
          // set-semantic by contract (an RDF graph is a set), so no
          // global dropDuplicates is owed here.
          // Both joins must be NULL-SAFE: the keys include nullable
          // term columns (datatype/lang are null for plain literals and
          // IRIs; graph is null for default-graph quads). Plain `=`
          // never matches NULL=NULL, so existing statements would go
          // undetected and INSERT DATA would append duplicates.
          val keys = dataKeys ++ termKeys
          val newRows = constRelation(acc, rows).dropDuplicates(keys)
          val probe = keys.foldLeft(newRows.select(keys.map(col): _*))(
            (df, k) => df.withColumnRenamed(k, s"_in_$k"))
          val semiCond = keys
            .map(k => nullSafe(acc(k), probe(s"_in_$k"))).reduce(_ && _)
          val existing = acc
            .join(broadcast(probe), semiCond, "left_semi")
            .select(keys.map(col): _*)
          val exR = keys.foldLeft(existing)(
            (df, k) => df.withColumnRenamed(k, s"_ex_$k"))
          val antiCond = keys
            .map(k => nullSafe(newRows(k), exR(s"_ex_$k"))).reduce(_ && _)
          val missing = newRows.join(broadcast(exR), antiCond, "left_anti")
          acc.unionByName(missing)
        case DeleteData(rows) =>
          val keys = dataKeys ++ termKeys
          removalJoin(acc, constRelation(acc, rows)
            .select(keys.map(col): _*), keys, broadcastRemoval = true)
        case Modify(dels, inss, where) =>
          // WHERE evaluates against the PRE-update state (SPARQL
          // modify semantics); deletes apply before inserts
          val sol = Bgp.select(acc, where)
          def inst(t: Bgp.Term): Column = t match {
            case Bgp.Var(n) => sol(n)
            case Bgp.Const(v) => lit(v)
          }
          val afterDel = dels.foldLeft(acc) { (cur, tq) =>
            val graphAgnostic = hasGraph && tq.g.isEmpty
            // a CONSTANT object term carries its parsed kind — and, for
            // literals, its lang/datatype — so the removal matches by
            // full TERM equality ("x" keeps "x"@en and "x"^^dt); a
            // variable object matches on value (see termKeys note above)
            val termKeyCols: Seq[(String, Column)] = tq.o match {
              case Bgp.Const(_) => termKeys.map {
                case "objectKind" => "objectKind" -> lit(tq.oKind)
                case "datatype" =>
                  "datatype" -> lit(tq.dt.orNull).cast("string")
                case "lang" => "lang" -> lit(tq.lang.orNull).cast("string")
              }
              case _ => Nil
            }
            val keys =
              (if (graphAgnostic) dataKeys.dropRight(1) else dataKeys) ++
                termKeyCols.map(_._1)
            val keyCols = Seq(inst(tq.s).as("subject"),
              lit(tq.p).as("predicate"),
              inst(tq.o).as("objectValue")) ++
              (if (hasGraph && !graphAgnostic)
                Seq(lit(tq.g.get).as("graph")) else Nil) ++
              termKeyCols.map { case (n, c) => c.as(n) }
            removalJoin(cur, sol.select(keyCols: _*), keys,
              broadcastRemoval = false)
          }
          if (inss.isEmpty) afterDel
          else {
            val inserted0 = inss.map { tq =>
              val colFor: Map[String, Column] = Map(
                "subject" -> inst(tq.s),
                "subjectKind" -> lit(TermKind.Iri),
                "predicate" -> lit(tq.p),
                "objectValue" -> inst(tq.o),
                "objectKind" -> lit(tq.oKind),
                "datatype" -> lit(tq.dt.orNull).cast("string"),
                "lang" -> lit(tq.lang.orNull).cast("string"),
                "graph" -> tq.g.map(lit(_)).getOrElse(lit(null))
                  .cast("string"))
              sol.select(acc.columns.toSeq.map(c =>
                colFor.getOrElse(c, lit(null).cast("string")).as(c)): _*)
                .filter(col("subject").isNotNull &&
                  col("objectValue").isNotNull)
                .distinct()
            }.reduce(_ unionByName _)
            // a template subject VARIABLE can bind blank-node solutions;
            // hardcoding Iri would corrupt kind-gated consumers (sameAs
            // smush, describe, N-Quads rendering). The bound subject's
            // kind is recovered from the pre-update state (every bound
            // subject exists there); genuinely new constant subjects are
            // IRIs by the template grammar.
            val inserted =
              if (acc.columns.contains("subjectKind") &&
                  inss.exists(_.s.isInstanceOf[Bgp.Var])) {
                val kinds = acc
                  .groupBy(col("subject").as("_sk_s"))
                  .agg(min(col("subjectKind")).as("_sk_kind"))
                inserted0.join(kinds,
                    inserted0("subject") === col("_sk_s"), "left")
                  .withColumn("subjectKind",
                    coalesce(col("_sk_kind"), lit(TermKind.Iri)))
                  .drop("_sk_s", "_sk_kind")
                  .select(acc.columns.toSeq.map(col): _*)
              } else inserted0
            afterDel.unionByName(inserted).dropDuplicates()
          }
        case LoadOp(url, g) =>
          val loaded = g match {
            case Some(gi) => loader(url).withColumn("graph", lit(gi))
            case None => loader(url)
          }
          // align the loaded relation to the accumulator's column set
          val aligned = loaded.select(acc.columns.toSeq.map(c =>
            (if (loaded.columns.contains(c)) col(c)
            else lit(null).cast("string")).as(c)): _*)
          acc.unionByName(aligned).dropDuplicates()
        case ClearOp(scope, iri) =>
          require(hasGraph || scope == "default" || scope == "all",
            "graph management needs a quad relation with a graph column")
          scope match {
            case "graph" => acc.filter(!(col("graph") <=> iri.get))
            case "default" =>
              if (hasGraph) acc.filter(col("graph").isNotNull)
              else acc.limit(0)
            case "named" =>
              if (hasGraph) acc.filter(col("graph").isNull) else acc
            case "all" => acc.limit(0)
          }
        case GraphOp(verb, from, to) =>
          require(hasGraph,
            "graph management needs a quad relation with a graph column")
          if (from == to) acc // spec: same-graph COPY/MOVE/ADD is a no-op
          else {
            def matches(r: GraphRef): Column = r match {
              case DefaultG => col("graph").isNull
              case NamedG(g) => col("graph") <=> g
            }
            // negation must be null-safe: `graph === g` is NULL (not
            // false) on default-graph rows and a plain ! would drop them
            def keeps(r: GraphRef): Column = r match {
              case DefaultG => col("graph").isNotNull
              case NamedG(g) => !(col("graph") <=> g)
            }
            val toLit: Column = to match {
              case DefaultG => lit(null).cast("string")
              case NamedG(g) => lit(g)
            }
            val relabeled = acc.filter(matches(from))
              .withColumn("graph", toLit)
            verb match {
              case "add" => acc.unionByName(relabeled).dropDuplicates()
              case "copy" =>
                acc.filter(keeps(to)).unionByName(relabeled)
              case "move" =>
                acc.filter(keeps(to) && keeps(from))
                  .unionByName(relabeled)
            }
          }
        case DeleteWhere(pats) =>
          val sol = Bgp.select(acc, pats)
          // instantiate each pattern over the solutions → the quads to
          // remove; constants project as literals, variables from their
          // binding columns
          def inst(t: Bgp.Term): Column = t match {
            case Bgp.Var(n) => sol(n)
            case Bgp.Const(v) => lit(v)
          }
          pats.foldLeft(acc) { (cur, pt) =>
            val keyCols = Seq(inst(pt.s).as("subject"),
              inst(pt.p).as("predicate"), inst(pt.o).as("objectValue")) ++
              (if (hasGraph) Seq(pt.g match {
                case Some(t) => inst(t).as("graph")
                case None => lit(null).cast("string").as("graph")
              }) else Nil)
            // a pattern outside GRAPH matches ANY graph in Bgp.select;
            // removal must likewise ignore the graph column then
            val keys =
              if (hasGraph && pt.g.isEmpty) dataKeys.dropRight(1)
              else dataKeys
            removalJoin(cur,
              sol.select(keyCols.take(keys.length).map(c => c): _*), keys,
              broadcastRemoval = false)
          }
      }
    }
  }
}
