package graft.rdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.TermKind
import graft.operators.ConnectedComponents

/** `owl:sameAs` closure + canonicalization ("smushing") — the RDF-side
  * twin of dedup-cluster canonical pick. The reference's vocab graphs
  * link equivalent registry terms with `owl:sameAs`
  * (`vocabs-import/reg-statuses.ttl:76-188`), and a multi-source ETL
  * (LALF addresses ⊕ PNDB placenames ⊕ QRT roads) routinely mints two
  * IRIs for one real-world entity; serving a coherent graph means
  * rewriting every alias to ONE canonical IRI and collapsing the
  * now-duplicate statements.
  *
  * sameAs is symmetric + transitive, so alias groups are the connected
  * components of the sameAs edge relation — [[ConnectedComponents]]
  * labels every alias with its component's minimum IRI, which doubles
  * as the deterministic canonical choice. Alias groups in practice are
  * tiny (2-4 IRIs per entity); below its size cap the whole sameAs
  * relation is labeled by one driver-side union-find pass.
  *
  * Scale shape: the canonical-label relation holds ALIASED nodes only —
  * orders of magnitude smaller than the corpus — and the rewrite is two
  * equi-joins of the quad relation against it (keyed on `subject`, then
  * on `objectValue` restricted to IRI terms), each a plain shuffle (or
  * broadcast, when the alias table fits) hash join. The final
  * `dropDuplicates` is the one extra shuffle that set semantics costs —
  * statements merged from two aliases MUST collapse or the smushed graph
  * double-counts.
  */
object SameAs {

  /** Canonical-IRI labels from a sameAs pair relation: one row per
    * aliased IRI, `(node, canon)` with `canon` = lexicographic minimum
    * of the node's sameAs component. */
  def canonicalLabels(sameAs: DataFrame, a: Column, b: Column,
      maxRounds: Int = 20): DataFrame =
    ConnectedComponents.label(sameAs, a, b, maxRounds)
      .select(col("node"), col("comp").as("canon"))

  /** Rewrite `quads` through the `(node, canon)` label relation:
    * subjects always, objects only where `objectKind` is IRI (literals
    * never alias), then collapse statements that became identical. The
    * quad relation keeps its full term-fidelity columns — when the input
    * carries `subjectKind` (the canonical 8-column [[QuadParser]] shape)
    * the subject-side rewrite additionally gates on `subjectKind = iri`
    * (a bnode whose label collides with an aliased IRI must NOT be
    * canonicalized — labels are document-scoped, not IRIs) and the
    * column is propagated so the smushed relation still feeds the
    * nquads sink (ADVICE r7). */
  def smush(quads: DataFrame, labels: DataFrame): DataFrame = {
    val hasSubjKind = quads.columns.contains("subjectKind")
    // r14 opt (guide §3.1): above its size cap ConnectedComponents
    // returns the label relation as a checkpointed LogicalRDD, whose
    // size estimate never clears the auto-broadcast threshold — both
    // rewrite joins would plan as SortMergeJoin, shuffling the FULL
    // quad relation twice just to rewrite a (small) alias table's worth
    // of IRIs. The alias table is node-cardinality (grows with the
    // data), so the broadcast is SIZE-GATED like every score-vector
    // join (Broadcasts.sizeGated, 5M-row cap): below the cap the quad
    // relation is never shuffled by the rewrite (only dropDuplicates
    // pays one exchange), above it the join degrades to the node-keyed
    // shuffle. The count is cheap at the current call sites — labels is
    // a local relation (below the CC cap) or already materialized by
    // the rounds — and cutOnce (ADVICE r14 low) guards the general
    // caller: a raw-lineage label relation is materialized ONCE by the
    // count instead of computing the full derivation for the count and
    // again for each rewrite join.
    val mat = graft.operators.Checkpoints.cutOnce(labels, eager = false)
    val gated = graft.operators.Broadcasts.sizeGated(mat, mat.count())
    val subjL = gated.select(col("node").as("_s_node"),
      col("canon").as("_s_canon"))
    val objL = gated.select(col("node").as("_o_node"),
      col("canon").as("_o_canon"))
    val subjCond =
      if (hasSubjKind)
        quads("subject") === subjL("_s_node") &&
          quads("subjectKind") === TermKind.Iri
      else quads("subject") === subjL("_s_node")
    val outCols: Seq[org.apache.spark.sql.Column] =
      Seq(coalesce(col("_s_canon"), col("subject")).as("subject")) ++
        (if (hasSubjKind) Seq(col("subjectKind")) else Nil) ++
        Seq(col("predicate"),
          coalesce(col("_o_canon"), col("objectValue")).as("objectValue"),
          col("objectKind"), col("datatype"), col("lang"), col("graph"))
    quads
      .join(subjL, subjCond, "left")
      .join(objL,
        quads("objectKind") === TermKind.Iri &&
          quads("objectValue") === objL("_o_node"), "left")
      .select(outCols: _*)
      .dropDuplicates()
  }
}
