package graft.rdf

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints.CutOps

/** SPARQL property paths (`pred+`) over the quad relation — the third
  * serving verb next to DESCRIBE and BGP SELECT. The reference serves its
  * emitted graph through a SPARQL store (`cam/graphdb.py`), where
  * one-or-more paths power the hierarchy walks its notes express as
  * recursive CTEs (`etl-notes.md:663-692`).
  *
  * Spark-first shape: breadth-first semi-naive closure — each round joins
  * the FRONTIER (pairs discovered last round, not the whole closure) to
  * the edge relation on the hop key, anti-joins the accumulated closure so
  * already-known pairs never re-expand, and cuts lineage so the plan stays
  * one-join-deep per round. Rounds = graph diameter; the anti-join makes
  * the loop terminate on CYCLIC graphs too (a pair can only be discovered
  * once). At 100 TB every round is one shuffle keyed on the join node —
  * the same discipline as the ConnectedComponents rounds and PageRank;
  * no driver-side graph state beyond the loop counter.
  */
object PropertyPath {

  /** Transitive closure of an edge relation `(src, dst)` →
    * `(src, dst, dist)` where `dist` is the minimum hop count (≥ 1).
    * Set semantics on pairs; safe on cycles (see object doc).
    *
    * @param maxDepth hard bound on rounds — a closure that genuinely
    *                 needs more is a modelling smell (SPARQL engines
    *                 bound recursion the same way)
    */
  def closure(edges: DataFrame, maxDepth: Int = 32): DataFrame = {
    // ONE action per round (r15 — the BFS/traverse discipline from
    // r13/r14, applied to the oldest remaining 2-actions-per-round
    // loop): cuts are LAZY and the full count() is both the
    // materializer of the cut blocks and the emptiness probe — the
    // eager-cut + limit(1).count() pair scheduled two jobs per round
    // for the same information (and limit-probing a lazily-cut relation
    // would materialize only the probed partitions).
    val e = edges.select(col("src"), col("dst")).distinct()
      .cutLineage(eager = false)
    var acc = e.select(col("src"), col("dst"), lit(1).as("dist"))
    var frontier = acc
    var depth = 1
    var more = frontier.count() > 0
    while (more && depth < maxDepth) {
      val next = frontier.as("f")
        .join(e.as("e"), col("f.dst") === col("e.src"))
        .select(col("f.src").as("src"), col("e.dst").as("dst"),
          (col("f.dist") + 1).as("dist"))
        // several length-(d+1) paths can reach the same pair this round
        .groupBy(col("src"), col("dst"))
        .agg(min(col("dist")).as("dist"))
        // known pairs (shorter or equal paths) never re-expand — this is
        // both the min-dist guarantee and the cycle-termination proof
        .join(acc.select(col("src"), col("dst")), Seq("src", "dst"),
          "left_anti")
        .cutLineage(eager = false)
      depth += 1
      more = next.count() > 0
      if (more) {
        acc = acc.unionByName(next)
        frontier = next
      }
    }
    acc
  }

  /** SPARQL `<predicate>+`: subject→object pairs connected by one or more
    * `predicate` edges, with the minimum hop distance. */
  def transitive(quads: DataFrame, predicate: String,
      maxDepth: Int = 32): DataFrame =
    closure(
      quads.filter(col("predicate") === predicate)
        .select(col("subject").as("src"), col("objectValue").as("dst")),
      maxDepth)
      .select(col("src").as("subject"), col("dst").as("ancestor"),
        col("dist"))

  // -- Compound paths ----------------------------------------------------
  // The full SPARQL 1.1 property-path algebra composes from four
  // constructors over pair relations: a predicate step, inverse (`^p` —
  // a projection swap, free), sequence (`a/b` — one equi-join on the
  // middle node), alternation (`a|b` — union) and one-or-more (`p+` —
  // the bounded closure above). Every constructor maps to exactly the
  // relational operator Catalyst already optimizes, so a compound path
  // plans like any multi-hop star/chain query: per-step filtered scans,
  // hash joins keyed on the hop nodes, set-semantics distincts.

  sealed trait Path
  /** `<iri>` — one forward predicate step. */
  final case class Step(predicate: String) extends Path
  /** `^p` — the inverse path (object→subject). */
  final case class Inverse(p: Path) extends Path
  /** `a/b` — sequence: follow `a`, then `b` from where `a` landed. */
  final case class Then(a: Path, b: Path) extends Path
  /** `a|b` — alternation: either branch. */
  final case class Alternative(a: Path, b: Path) extends Path
  /** `p+` — one or more repetitions (semi-naive bounded closure). */
  final case class OneOrMore(p: Path, maxDepth: Int = 32) extends Path
  /** `p*` — zero or more: the closure plus the zero-length path, which
    * per SPARQL 1.1 §9.3 connects every graph node to itself (nodes =
    * subjects ∪ objects; a CONSTANT endpoint that never occurs in the
    * graph therefore has no zero-length match — documented subset). */
  final case class ZeroOrMore(p: Path, maxDepth: Int = 32) extends Path
  /** `p?` — zero or one: the path's pairs plus the zero-length path. */
  final case class ZeroOrOne(p: Path) extends Path
  /** `p{n,m}` — between n and m repetitions inclusive (`p{n}` = both
    * n). Dropped from the final SPARQL 1.1 REC grammar but kept as the
    * widely-implemented store extension (Jena, Virtuoso, Stardog);
    * n = 0 includes the zero-length relation. Bounded by construction
    * — m composes the hop relation m-1 times, no fixpoint needed. */
  final case class Repeat(p: Path, min: Int, max: Int) extends Path
  /** `!(<a>|<b>|^<c>)` — SPARQL 1.1 §9.1 negated property set. Forward
    * triples whose predicate is NOT in `fwd` (direction present only
    * when the set had a forward member — or no members in that
    * direction at all means `!^c` excludes nothing forward and the
    * forward direction is absent), unioned with REVERSED triples whose
    * predicate is not in `inv` (present only when a `^` member
    * occurred). A scan-level NOT IN filter — never an enumeration of
    * the predicate vocabulary, so it pushes to the source at 100 TB. */
  final case class Negated(fwd: Option[Seq[String]],
      inv: Option[Seq[String]] = None) extends Path

  /** All graph nodes self-paired — the zero-length path relation. */
  private def zeroLength(quads: DataFrame): DataFrame =
    quads.select(col("subject").as("n"))
      .unionByName(quads.select(col("objectValue").as("n")))
      .distinct()
      .select(col("n").as("src"), col("n").as("dst"))

  /** Evaluate a compound path to its `(src, dst)` pair relation with set
    * semantics (SPARQL path evaluation is over node pairs). */
  def eval(quads: DataFrame, path: Path): DataFrame = path match {
    case Step(p) =>
      quads.filter(col("predicate") === p)
        .select(col("subject").as("src"), col("objectValue").as("dst"))
        .distinct()
    case Inverse(p) =>
      eval(quads, p).select(col("dst").as("src"), col("src").as("dst"))
    case Then(a, b) =>
      eval(quads, a).as("a")
        .join(eval(quads, b).as("b"), col("a.dst") === col("b.src"))
        .select(col("a.src").as("src"), col("b.dst").as("dst"))
        .distinct()
    case Alternative(a, b) =>
      eval(quads, a).unionByName(eval(quads, b)).distinct()
    case OneOrMore(p, maxDepth) =>
      closure(eval(quads, p), maxDepth).select(col("src"), col("dst"))
    case ZeroOrMore(p, maxDepth) =>
      zeroLength(quads)
        .unionByName(closure(eval(quads, p), maxDepth)
          .select(col("src"), col("dst")))
        .distinct()
    case ZeroOrOne(p) =>
      zeroLength(quads).unionByName(eval(quads, p)).distinct()
    case Repeat(p, mn, mx) =>
      require(mn >= 0 && mx >= mn,
        s"path quantifier needs 0 <= min <= max, got {$mn,$mx}")
      require(mx <= 32, s"path quantifier bound $mx exceeds 32 — use p+ " +
        "or p* (bounded fixpoint) for effectively-unbounded repetition")
      // hop is referenced up to `mx` times — cut once so each level is
      // one join, not a re-derivation of the inner path per level.
      // Lazy cuts (r15): the quantifier loop has no per-level action, so
      // eager cuts scheduled mx separate materialization jobs; lazily
      // cut, each level's blocks fill inside the one terminal action
      // while the LOGICAL plan still sees a leaf per level (the
      // plan-explosion guard the cut exists for).
      val hop = eval(quads, p).cutLineage(eager = false)
      var acc: DataFrame = if (mn == 0) zeroLength(quads) else null
      var cur = hop
      for (k <- 1 to mx) {
        if (k >= math.max(mn, 1))
          acc = if (acc == null) cur else acc.unionByName(cur)
        if (k < mx) cur = cur.as("a")
          .join(hop.as("b"), col("a.dst") === col("b.src"))
          .select(col("a.src").as("src"), col("b.dst").as("dst"))
          .distinct().cutLineage(eager = false)
      }
      if (acc == null) zeroLength(quads).limit(0) else acc.distinct()
    case Negated(fwd, inv) =>
      require(fwd.nonEmpty || inv.nonEmpty,
        "negated property set needs at least one member")
      def notIn(ex: Seq[String]) =
        if (ex.isEmpty) lit(true) else !col("predicate").isin(ex: _*)
      val legs = Seq(
        fwd.map(ex => quads.filter(notIn(ex))
          .select(col("subject").as("src"), col("objectValue").as("dst"))),
        inv.map(ex => quads.filter(notIn(ex))
          .select(col("objectValue").as("src"), col("subject").as("dst"))))
        .flatten
      legs.reduce(_ unionByName _).distinct()
  }
}
