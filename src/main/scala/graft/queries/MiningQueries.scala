package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions.epochMs

/** Corpus-mining operators for the LLM training-data pipeline (builder
  * brief: dedup / similarity / text analysis are first-class alongside
  * SURVEY §2) — the model-building half that TextAnalysisQueries'
  * per-document signals feed into:
  *
  *  - `q_text_chunk_overlap`: overlapping token-window chunking — the
  *    standard pre-tokenization step that turns long documents into
  *    training windows (size 32, stride 24). Shuffle-free: explode of a
  *    `sequence` of chunk starts inside one projection, so the whole
  *    query is a single codegen'd scan. Tail windows that add no new
  *    tokens beyond the previous window's coverage are dropped
  *    (`start + (size − stride) < n`), the standard sliding-window rule.
  *  - `q_lm_unigram_score`: add-one-smoothed unigram language-model
  *    scoring — train token counts on 80% of the corpus (doc_id % 5 ≠ 0),
  *    score held-out docs by mean log-probability. The classic
  *    cheap-perplexity quality signal for corpus filtering. The
  *    vocab join is TOKEN-keyed (shuffle join, NOT a broadcast): a
  *    100 TB corpus's vocabulary is itself huge, and the token join is
  *    uniform by Zipf-bucket salting if needed — only the 2-value
  *    (total, vocab-size) row is broadcast.
  *  - `q_cluster_kmeans`: 2 Lloyd iterations over the embeddings table
  *    via [[graft.operators.Clustering.lloyd]] — semantic clustering for
  *    topic balancing / semantic dedup. Scale analysis on the operator.
  *  - `q_join_fuzzy_levenshtein`: edit-distance fuzzy self-match over
  *    part names with first-token blocking — candidate pairs come from a
  *    blocking-key EQUI-join (the shuffle key), the length-difference
  *    guard `|len(a)−len(b)| ≤ maxDist` prunes before the O(len²)
  *    levenshtein, and only block-mates ever compare. At 100 TB: skewed
  *    blocks route through the operators/SkewJoin salting rule.
  *  - `q_events_anomaly_zscore`: per-group z-score outlier detection
  *    (|z| ≥ 3) — group stats are a partial-aggregable groupBy on a
  *    low-cardinality key, broadcast back to the fact scan; one shuffle
  *    of group partials, no fact-table re-shuffle.
  *
  * Parity: z and log-prob values are ROUNDED TO 6 DP on both sides and
  * thresholds compare the ROUNDED value, so engine-order float summation
  * in means/stddevs cannot flip a row in or out; levenshtein and md5 are
  * exact; k-means parity is documented on the operator.
  */
object MiningQueries extends QueryCatalog {

  private val ChunkSize = 32
  private val ChunkStride = 24

  private def docToks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
        explode(split(lower(regexp_replace(trim(col("text")), "\\s+", " ")),
          " ")).as("tok"))
      .filter(length(col("tok")) > 0)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Item-item collaborative filtering: cosine similarity over binary
    // basket membership — cos(i,j) = |orders with both| / √(nᵢ·nⱼ), the
    // classic "customers who bought X also bought Y" kernel. Scale
    // shape: baskets dedup to (order, item) FIRST; the pair enumeration
    // is the order-keyed self equi-join (quadratic per basket only);
    // per-item totals re-join on the item key. Ranking uses the
    // 6-dp-ROUNDED score with (pa, pb) tie-breaks, so the top-20 cut is
    // engine-deterministic even among near-equal cosines.
    "q_rec_item_cosine" -> ((s, dir) => {
      // cut: `b` feeds the co-occurrence self-join twice plus the
      // per-item totals — uncut each re-runs the distinct from the scan
      val b = graft.operators.Checkpoints.cut(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct(),
        eager = false)
      val ni = b.groupBy(col("p")).agg(count(lit(1)).as("n"))
      val co = b.as("x").join(b.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("pa"), col("y.p").as("pb"))
        .agg(count(lit(1)).as("c"))
      co.join(ni.select(col("p").as("pa"), col("n").as("na")), Seq("pa"))
        .join(ni.select(col("p").as("pb"), col("n").as("nb")), Seq("pb"))
        .select(col("pa"), col("pb"), col("c").as("support"),
          round(col("c") / sqrt(col("na").cast("double") * col("nb")), 6)
            .as("cosine"))
        .orderBy(col("cosine").desc, col("pa"), col("pb"))
        .limit(20)
    }),

    // A-priori frequent 3-itemsets: candidate triples are enumerated by
    // EXTENDING frequent pairs only (the downward-closure prune), never
    // by a blind 3-way basket join — per-order pair instances are first
    // semi-joined against L2 (pairs with support ≥ 2), the third item
    // joins in only where (pb,pc) and (pa,pc) are also frequent, and the
    // final count keeps triples at support ≥ 2. At scale the prune is
    // the whole game: the unpruned triple space is |basket|³-ish, while
    // candidates extend the (tiny) frequent-pair relation.
    "q_basket_triples" -> ((s, dir) => {
      // Lineage cuts: `b` feeds the pair self-join twice plus the
      // third-item join, and the pair instances feed both L2 and the
      // frequent-instance semi-join — uncut, each consumer re-runs the
      // lineitem distinct (and the quadratic pair enumeration) from the
      // scan.
      val b = graft.operators.Checkpoints.cut(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct(),
        eager = false)
      val pairInst = graft.operators.Checkpoints.cut(
        b.as("x").join(b.as("y"),
            col("x.o") === col("y.o") && col("x.p") < col("y.p"))
          .select(col("x.o").as("o"), col("x.p").as("pa"),
            col("y.p").as("pb")),
        eager = false)
      val l2 = pairInst.groupBy(col("pa"), col("pb"))
        .agg(count(lit(1)).as("sup")).filter(col("sup") >= 2)
        .select(col("pa"), col("pb"))
      val freqPairInst = pairInst.join(l2, Seq("pa", "pb"), "left_semi")
      freqPairInst
        .join(b.select(col("o"), col("p").as("pc")), Seq("o"))
        .filter(col("pc") > col("pb"))
        .join(l2.toDF("pb", "pc"), Seq("pb", "pc"), "left_semi")
        .join(l2.toDF("pa", "pc"), Seq("pa", "pc"), "left_semi")
        .groupBy(col("pa"), col("pb"), col("pc"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2)
        .orderBy(col("pa"), col("pb"), col("pc"))
    }),

    "q_text_chunk_overlap" -> ((s, dir) => {
      val newTok = ChunkSize - ChunkStride
      Tables.documents(s, dir)
        .select(col("doc_id"),
          split(regexp_replace(trim(col("text")), "\\s+", " "), " ").as("t"))
        .withColumn("n", size(col("t")))
        .withColumn("s", explode(expr(s"sequence(0, n - 1, $ChunkStride)")))
        .filter(col("s") === 0 || col("s") + newTok < col("n"))
        .select(col("doc_id"),
          (col("s") / ChunkStride).cast("int").as("chunk_id"),
          col("s").cast("long").as("chunk_start"),
          least(lit(ChunkSize), col("n") - col("s")).cast("long").as("n_tok"),
          md5(concat_ws(" ",
            expr(s"slice(t, s + 1, least($ChunkSize, n - s))")))
            .as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    "q_lm_unigram_score" -> ((s, dir) => {
      val toks = docToks(s, dir)
      val vocab = toks.filter(col("doc_id") % 5 =!= 0)
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val stats = vocab.agg(sum(col("cnt")).as("tt_total"),
        count(lit(1)).as("v_size"))
      toks.filter(col("doc_id") % 5 === 0)
        .join(vocab, Seq("tok"), "left")
        .crossJoin(broadcast(stats))
        .withColumn("lp",
          log((coalesce(col("cnt"), lit(0L)) + 1).cast("double") /
            (col("tt_total") + col("v_size")).cast("double")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          round(avg(col("lp")), 6).as("avg_logprob"))
        .orderBy(col("doc_id"))
    }),

    // Logistic-regression quality classifier trained by full-batch GD
    // (operators/GradientDescent): 3 fixed iterations, lr 2.0, over the
    // 64-dim embeddings with a binary label split. Per iteration ONE
    // data pass with a map-side-combinable componentwise gradient; the
    // driver holds only the dim+1 model vector (the Lloyd discipline).
    // The oracle replays all three iterations as an unrolled CTE chain.
    "q_ml_logreg" -> ((s, dir) => {
      graft.operators.GradientDescent.logistic(
        Tables.embeddings(s, dir)
          .select(col("embedding").as("features"),
            when(col("label") < 5, 1.0).otherwise(0.0).as("y")),
        iters = 3, lr = 2.0)
    }),

    "q_cluster_kmeans" -> ((s, dir) => {
      graft.operators.Clustering
        .lloyd(Tables.embeddings(s, dir), initModulus = 100L, iters = 2)
        .select(col("vec_id"), col("cid"),
          // abs normalizes the -0.0 a centroid's own round(−1e−16) yields
          abs(round(col("d2"), 6)).as("dist2"))
        .orderBy(col("vec_id"))
    }),

    // Cluster-quality companion of q_cluster_kmeans: simplified
    // silhouette from the SAME final distance matrix the assignment
    // computes (see Clustering.silhouette — quality is one extra window,
    // not a new data pass). Low mean silhouette flags clusters to split
    // or merge before the mix is balanced on them.
    "q_cluster_silhouette" -> ((s, dir) => {
      graft.operators.Clustering
        .silhouette(Tables.embeddings(s, dir), initModulus = 100L,
          iters = 2)
        .orderBy(col("cid"))
    }),

    // Semantic dedup — the 6th dedup flavor: k-means clusters as the
    // BLOCKING stage (candidates must share a cluster), exact cosine as
    // the verifier. Complements q_dedup_embedding's sign-LSH blocking:
    // LSH buckets are random projections, clusters follow the data — at
    // 100 TB the cluster id is the shuffle key and per-cluster pair
    // counts are corpus²/C, tunable via the centroid modulus.
    "q_dedup_semantic" -> ((s, dir) => {
      import graft.operators.VectorSearch.dotSql
      val asg = graft.operators.Clustering
        .lloyd(Tables.embeddings(s, dir), initModulus = 100L, iters = 2)
        .select(col("vec_id"), col("cid"))
      val v = graft.operators.VectorSearch.withNorm(s,
        Tables.embeddings(s, dir), col("vec_id"), col("embedding"))
      val m = v.join(asg, Seq("vec_id"))
      m.as("a").join(m.as("b"),
          col("a.cid") === col("b.cid") &&
            col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos",
          expr(dotSql("a.embedding", "b.embedding")) /
            (col("a.nrm") * col("b.nrm")))
        .filter(col("cos") >= 0.4)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          round(col("cos"), 9).as("cos"))
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // Market-basket co-occurrence: parts bought together in one order
    // (the item-item signal recommenders and negative-sampling miners
    // start from). The pair explode is an order-keyed SELF equi-join —
    // quadratic only in per-basket size (bounded), never in the corpus —
    // and the support count shuffles on the pair key with map-side
    // partials. Top-20 by support with a full deterministic tiebreak.
    "q_basket_pairs" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
      li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
        .agg(count(lit(1)).as("support"))
        .orderBy(col("support").desc, col("pa"), col("pb"))
        .limit(20)
    }),

    // Association rules from the frequent pairs — the directional
    // confidence/lift layer over q_basket_pairs' symmetric supports
    // (each qualifying pair yields a→b and b→a, which score
    // differently because the antecedent's support is the denominator).
    // All statistics are exact BIGINT counts; confidence s/supp(a) and
    // lift s·N/(supp(a)·supp(b)) each do ONE double division at the
    // end. The item-support relation is dimension-sized (per-part) and
    // joins onto the rule stream; only the single-row basket total
    // broadcasts. Top-20 by lift leaves the executors as a
    // TakeOrderedAndProject.
    "q_basket_rules" -> ((s, dir) => {
      // r14 opt (guide §2.4): the distinct basket relation feeds FOUR
      // consumers (item supports, the basket total, both pair-join
      // legs) — uncut, each replayed the scan + distinct shuffle. One
      // lazy cut materializes it once (the q_basket_triples `b`
      // discipline applied here).
      val li = graft.operators.Checkpoints.cut(
        Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_partkey")).distinct(),
        eager = false)
      val item = li.groupBy(col("l_partkey").as("p"))
        .agg(count(lit(1)).as("sp"))
      val n = li.agg(countDistinct(col("l_orderkey")).as("n"))
      val pairs = li.as("a").join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .groupBy(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"))
        .agg(count(lit(1)).as("s"))
        .filter(col("s") >= 2)
      val directed = pairs
        .select(col("pa").as("ante"), col("pb").as("cons"), col("s"))
        .unionByName(pairs
          .select(col("pb").as("ante"), col("pa").as("cons"), col("s")))
      directed
        .join(item.as("ia"), col("ante") === col("ia.p"))
        .join(item.as("ic"), col("cons") === col("ic.p"))
        .crossJoin(broadcast(n))
        .select(col("ante"), col("cons"), col("s").as("support"),
          round(col("s").cast("double") / col("ia.sp"), 6)
            .as("confidence"),
          round(col("s").cast("double") * col("n") /
            (col("ia.sp") * col("ic.sp")), 6).as("lift"))
        .orderBy(col("lift").desc, col("ante"), col("cons"))
        .limit(20)
    }),

    // Dictionary encoding (StringIndexer twin): dense integer codes for
    // a categorical column, assigned in deterministic value order, plus
    // the code table's frequencies. The single-partition window is FINE
    // here because it runs over the already-aggregated distinct values
    // (5 rows), never the fact table — for high-cardinality dictionaries
    // the assignment becomes a sort + zipWithIndex-style range layout.
    "q_encode_dictionary" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.events(s, dir)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .withColumn("code",
          row_number().over(Window.orderBy(col("event_type"))))
        .select(col("code"), col("event_type"), col("n"))
        .orderBy(col("code"))
    }),

    "q_join_fuzzy_levenshtein" -> ((s, dir) => {
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_name"),
        split(col("p_name"), " ").getItem(0).as("blk"),
        length(col("p_name")).as("ln"))
      val probes = p.filter(col("p_partkey") % 100 === 0)
        .select(col("p_partkey").as("probe_key"),
          col("p_name").as("probe_name"), col("blk"), col("ln").as("pl"))
      probes.join(p, Seq("blk"))
        .filter(col("probe_key") =!= col("p_partkey") &&
          abs(col("pl") - col("ln")) <= 2 &&
          levenshtein(col("probe_name"), col("p_name")) <= 2)
        .select(col("probe_key"), col("p_partkey").as("match_key"),
          levenshtein(col("probe_name"), col("p_name")).cast("int")
            .as("dist"))
        .orderBy(col("probe_key"), col("dist"), col("match_key"))
    }),

    // Jaro-Winkler fuzzy self-match — the edit-distance join's scorer
    // twin for NAME data, where transposition tolerance and the Winkler
    // common-prefix boost fit typos better than raw Levenshtein. The
    // scorer is graft_jaro_winkler, the kernel plans/JaroWinkler (one
    // static JVM call per candidate pair); candidates come from the same
    // first-token blocking discipline as q_join_fuzzy_levenshtein —
    // blocking bounds pairs, string length never becomes the scale axis.
    // Oracle independence is real: DuckDB scores with its own
    // utf8proc-era jaro_winkler_similarity implementation, so the 6-dp
    // hash gate cross-checks two independent codings of Winkler 1990
    // (conventions verified identical on 3000 random pairs incl. the
    // integer-floored transposition count and the 0.7 boost threshold).
    "q_join_jaro_winkler" -> ((s, dir) => {
      val p = Tables.part(s, dir).select(col("p_partkey"), col("p_name"),
        split(col("p_name"), " ").getItem(0).as("blk"))
      val probes = p.filter(col("p_partkey") % 100 === 0)
        .select(col("p_partkey").as("probe_key"),
          col("p_name").as("probe_name"), col("blk"))
      // top-5 per probe, not every pair: TPC-H names draw from a tiny
      // color vocabulary, so "all pairs over threshold" grows
      // superlinearly with corpus size — best-k-matches is both the
      // linkage semantics a resolver wants and the output contract that
      // stays linear at scale (WindowGroupLimit makes the rank filter a
      // map-side partial top-k)
      probes.join(p, Seq("blk"))
        .filter(col("probe_key") =!= col("p_partkey"))
        .withColumn("jw", round(
          expr("graft_jaro_winkler(probe_name, p_name)"), 6))
        .filter(col("jw") >= 0.88)
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("probe_key"))
            .orderBy(col("jw").desc, col("p_partkey"))))
        .filter(col("rk") <= 5)
        .select(col("probe_key"), col("p_partkey").as("match_key"),
          col("jw"))
        .orderBy(col("probe_key"), col("jw").desc, col("match_key"))
    }),

    "q_events_anomaly_zscore" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val stats = ev.groupBy(col("event_type"))
        .agg(avg(col("value")).as("m"), stddev_samp(col("value")).as("sd"))
      ev.join(broadcast(stats), Seq("event_type"))
        .withColumn("z", round((col("value") - col("m")) / col("sd"), 6))
        .filter(abs(col("z")) >= 3.0)
        .select(col("event_id"), col("event_type"), col("value"), col("z"))
        .orderBy(col("event_type"), col("event_id"))
    }),

    // Robust (median/MAD) outlier twin of q_events_anomaly_zscore:
    // mean/stddev are themselves dragged by the outliers they hunt, so
    // heavy-tailed telemetry uses the modified z-score |x−med| ∕
    // (1.4826·MAD) ≥ 3.5 (Iglewicz–Hoaglin). Same scale shape — two
    // partial-aggregable group stats broadcast back to the fact scan —
    // with exact interpolated percentiles (the q_agg_percentiles parity
    // pattern; at 100 TB swap in percentile_approx like
    // q_agg_approx_percentiles).
    "q_events_anomaly_mad" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val med = ev.groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5D)").as("med"))
      val mad = ev.join(broadcast(med), Seq("event_type"))
        .groupBy(col("event_type"), col("med"))
        .agg(expr("percentile(abs(value - med), 0.5D)").as("mad"))
      ev.join(broadcast(mad), Seq("event_type"))
        .withColumn("rz",
          round(abs(col("value") - col("med")) /
            (lit(1.4826) * col("mad")), 6))
        .filter(col("rz") >= 3.5)
        .select(col("event_id"), col("event_type"), col("value"), col("rz"))
        .orderBy(col("event_type"), col("event_id"))
    }),

    // Bigram conditional LM — the context-aware upgrade of
    // q_lm_unigram_score: P(b|a) = (c(ab)+1) / (c(a)+V) with add-one
    // smoothing, trained on the 80% split, scoring held-out docs by mean
    // log-prob. Fluency (word-order) signal where the unigram model only
    // sees vocabulary. Count joins are pair-/token-keyed shuffles; only
    // the single-row vocab size broadcasts.
    "q_lm_bigram_score" -> ((s, dir) => {
      val pairs = Tables.documents(s, dir)
        .select(col("doc_id"), expr(
          """filter(split(lower(regexp_replace(trim(text), '\\s+', ' ')),
            | ' '), x -> length(x) > 0)""".stripMargin.replace("\n", ""))
          .as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(t) - 1),
            | i -> named_struct('a', t[i - 1], 'b', t[i]))"""
            .stripMargin.replace("\n", ""))).as("pr"))
        .select(col("doc_id"), col("pr.a").as("a"), col("pr.b").as("b"))
      val train = pairs.filter(col("doc_id") % 5 =!= 0)
      val cab = train.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("cab"))
      val ca = train.groupBy(col("a")).agg(count(lit(1)).as("ca"))
      val v = train.select(col("a").as("tok"))
        .unionByName(train.select(col("b").as("tok")))
        .distinct().agg(count(lit(1)).as("v_size"))
      pairs.filter(col("doc_id") % 5 === 0)
        .join(cab, Seq("a", "b"), "left")
        .join(ca, Seq("a"), "left")
        .crossJoin(broadcast(v))
        .withColumn("lp",
          log((coalesce(col("cab"), lit(0L)) + 1).cast("double") /
            (coalesce(col("ca"), lit(0L)) + col("v_size")).cast("double")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(col("lp")), 6).as("avg_logprob"))
        .orderBy(col("doc_id"))
    }),

    // Training-sequence assembly: each user's event stream becomes one
    // ordered record (the SFT/conversation-packing shape: group, order
    // within group, serialize). One key shuffle; the per-group sort is
    // the aggregation itself. Parity: the sequence is fingerprinted as
    // md5 over "type:ms" joined by ';' in (ms, event_id) order — a total
    // order both engines replay exactly; no doubles are serialized.
    "q_events_to_sequences" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"), epochMs(col("ts")).as("ms"))
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          md5(array_join(
            transform(
              array_sort(collect_list(
                struct(col("ms"), col("event_id"), col("event_type")))),
              x => concat(x("event_type"), lit(":"),
                x("ms").cast("string"))),
            ";")).as("seq_md5"))
        .orderBy(col("user_id"))
    }),

    // First-order Markov transition matrix over per-user event sequences
    // — P(next event type | current), the behavioral model a sequence-
    // mining pipeline estimates. One user-keyed window (the lag is the
    // only fact-scale operation, shuffled on the session's natural key)
    // collapses to a (type × type)-cardinality count matrix; the
    // normalizing row total joins back by broadcast. Probabilities are
    // exact int/int divisions rounded to 6 dp.
    // Frequent 3-step behavior paths — the sequential-pattern upgrade of
    // q_events_transitions' bigrams: which (a → b → c) event chains do
    // users actually walk (funnel discovery, next-action models feed on
    // exactly these counts). One user-keyed exchange serves both leads
    // (consecutive-window semantics, so no self-join blowup: a user with
    // n events contributes exactly n−2 paths, never O(n³) triples); the
    // path count is a map-side-combinable aggregate and only the global
    // top-20 leaves the executors (TakeOrderedAndProject).
    "q_events_paths3" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .filter(col("e3").isNotNull)
        .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("e1"), col("e2"), col("e3"))
        .limit(20)
    }),

    "q_events_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("cnt"))
      val totals = pairs.groupBy(col("prev_type"))
        .agg(sum(col("cnt")).as("total"))
      pairs.join(broadcast(totals), Seq("prev_type"))
        .select(col("prev_type"), col("next_type"), col("cnt"),
          round(col("cnt").cast("double") / col("total"), 6).as("p"))
        .orderBy(col("prev_type"), col("next_type"))
    }),

    // Sequential-pattern detection, the batch twin of a CEP rule: a
    // "dip" is a strict local minimum over a user's value sequence
    // (prev > v < next) — the down-then-up shape alerting/trading rules
    // watch for. Pure lag/lead over USER-partitioned event-time order
    // (one window exchange, per-key streaming state at scale), then a
    // partial-aggregable per-user rollup: n_dips + the deepest dip's
    // depth, min(prev,next) − v, via an ordinary max.
    "q_events_dips" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          epochMs(col("ts")).as("ms"), col("value"))
        .withColumn("pv", lag(col("value"), 1).over(w))
        .withColumn("nv", lead(col("value"), 1).over(w))
        .filter(col("pv") > col("value") && col("nv") > col("value"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_dips"),
          round(max(least(col("pv"), col("nv")) - col("value")), 6)
            .as("max_depth"))
        .filter(col("user_id") % 7 === 0)
        .orderBy(col("user_id"))
    }),

    // RFM segmentation — the classic customer-value cube: per user,
    // Recency (days since last event), Frequency (event count), Monetary
    // (value sum, exact decimal), each bucketed into quintiles, users
    // rolled up per 3-digit segment. Quintiles come from
    // [[graft.operators.GlobalRank]] + the floor((rank−1)·5/n) formula —
    // NOT a no-partition ntile window (single-task at scale) — and the
    // formula replays exactly in SQL, so both engines agree on every
    // boundary row by construction.
    "q_events_rfm" -> ((s, dir) => {
      import graft.operators.GlobalRank
      val ev = Tables.events(s, dir)
      val per = ev.groupBy(col("user_id"))
        .agg(max(epochMs(col("ts"))).as("last_ms"),
          count(lit(1)).as("f"),
          sum(col("value").cast("decimal(18,6)")).as("m"))
      val gmax = ev.agg(max(epochMs(col("ts"))).as("gms"))
      val base = per.crossJoin(broadcast(gmax))
        .withColumn("r_days", expr("(gms - last_ms) div 86400000"))
      val n = base.agg(count(lit(1)).as("n_users"))
      def quintile(df: DataFrame, metric: String, asc: Boolean, q: String) = {
        val key = if (asc) col(metric) else negate(col(metric))
        GlobalRank.withGlobalRowNumber(
            df, Seq(key, col("user_id")), "_rk")
          .crossJoin(broadcast(n))
          // integer `div`, NOT `/`: Spark's / is double division and
          // DuckDB rounds on CAST-to-int — div/`//` floors in both.
          .withColumn(q, expr("((_rk - 1) * 5) div n_users") + 1)
          .drop("_rk", "n_users")
      }
      // R: recent = low r_days = highest score ⇒ rank ascending on
      // r_days gives quintile 1 to the freshest — invert to 5.
      val scored = quintile(quintile(quintile(base,
          "r_days", asc = true, "rq0"),
          "f", asc = false, "fq0"),
          "m", asc = false, "mq0")
        .withColumn("r_q", lit(6) - col("rq0"))
        .withColumn("f_q", lit(6) - col("fq0"))
        .withColumn("m_q", lit(6) - col("mq0"))
      scored
        .groupBy(concat(col("r_q").cast("string"),
          col("f_q").cast("string"), col("m_q").cast("string"))
          .as("segment"))
        .agg(count(lit(1)).as("n_users"),
          min(col("user_id")).as("min_user"))
        .orderBy(col("segment"))
    }),

    // Position-weighted multi-touch attribution (the U-shaped model):
    // each purchase credits the user's VIEW touches in the prior 7 days
    // — 100% to a lone touch, 50/50 for two, else 40% first / 40% last /
    // 20% split across the middle — and the credit rolls up by touch
    // day. The touch-collection join is USER-keyed with the time window
    // as a residual band predicate (the interval-join shape): shuffle
    // key = user_id, so per-user touch lists co-locate and nothing
    // resembles a time-cross-join. Touch counts/positions come from
    // per-conversion windows over the collected pairs.
    "q_events_attribution" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("pid"),
          epochMs(col("ts")).as("pms"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("vid"),
          epochMs(col("ts")).as("vms"))
      val SevenDays = 7L * 86400000L
      val touches = purchases.join(views, Seq("user_id"))
        .filter(col("vms") < col("pms") &&
          col("vms") >= col("pms") - SevenDays)
      val wp = w.partitionBy(col("pid")).orderBy(col("vms"), col("vid"))
      val weighted = touches
        .withColumn("pos", row_number().over(wp))
        .withColumn("n", count(lit(1)).over(w.partitionBy(col("pid"))))
        .withColumn("wt",
          when(col("n") === 1, 1.0)
            .when(col("n") === 2, 0.5)
            .when(col("pos") === 1 || col("pos") === col("n"), 0.4)
            .otherwise(lit(0.2) / (col("n") - 2)))
      weighted
        .groupBy(((col("vms") - (col("vms") % 86400000L)) / 86400000L)
          .cast("long").as("touch_day"))
        .agg(count(lit(1)).as("n_touches"),
          round(sum(col("wt")), 6).as("credit"))
        .orderBy(col("touch_day"))
    })
  )

  // DuckDB list-comprehension dot product — same left-to-right double fold
  // as graft_dot (see AnnQueries parity note).
  private def duckDot(a: String, b: String): String =
    s"list_sum([$a[i]::DOUBLE * $b[i]::DOUBLE for i in range(1, len($a) + 1)])"

  private def duckD2(e: String, n2: String, ce: String, cn2: String): String =
    s"$n2 - 2 * ${duckDot(e, ce)} + $cn2"

  /** Shared 2-iteration Lloyd replay (Clustering.lloyd's oracle): ends at
    * `a2` = the final vector×centroid distance matrix ranked per vector —
    * q_cluster_kmeans takes rank 1 (the assignment), q_cluster_silhouette
    * takes ranks 1 and 2 (own vs nearest-other centroid). */
  /** Unrolled 3-iteration GD replay (see operators/GradientDescent): per
    * iteration score → componentwise gradient → 9-dp weight update, the
    * sigmoid rounded per row exactly like the engine; lr 2.0 and the
    * 64-dim width mirror the q_ml_logreg call site. */
  private def logregOracle: String = {
    val dim = 64
    def dot(wl: String) =
      s"list_sum([x[i] * $wl[i] for i in range(1, ${dim + 1})])"
    def grad(i: Int) =
      s"""g$i AS (
         |  SELECT i AS pos, sum((p - y) * x[i]) AS g, sum(p - y) AS gb,
         |    count(*) AS n
         |  FROM s$i CROSS JOIN range(1, ${dim + 1}) t(i) GROUP BY i)"""
        .stripMargin
    s"""WITH d AS (
       |  SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x,
       |    CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS y
       |  FROM embeddings),
       |s1 AS (SELECT x, y, round(1/(1 + exp(-(0.0))), 9) AS p FROM d),
       |${grad(1)},
       |b1 AS (SELECT round(0.0 - 2.0 * gb / n, 9) AS b FROM g1
       |       WHERE pos = 1),
       |w1 AS (SELECT pos, round(0.0 - 2.0 * g / n, 9) AS w FROM g1),
       |wl1 AS (SELECT list(w ORDER BY pos) AS wl FROM w1),
       |s2 AS (SELECT x, y,
       |    round(1/(1 + exp(-(b + ${dot("wl")}))), 9) AS p
       |  FROM d, b1, wl1),
       |${grad(2)},
       |b2 AS (SELECT round(b - 2.0 * gb / n, 9) AS b FROM g2, b1
       |       WHERE pos = 1),
       |w2 AS (SELECT pos, round(w1.w - 2.0 * g2.g / g2.n, 9) AS w
       |       FROM g2 JOIN w1 USING (pos)),
       |wl2 AS (SELECT list(w ORDER BY pos) AS wl FROM w2),
       |s3 AS (SELECT x, y,
       |    round(1/(1 + exp(-(b + ${dot("wl")}))), 9) AS p
       |  FROM d, b2, wl2),
       |${grad(3)},
       |b3 AS (SELECT round(b - 2.0 * gb / n, 9) AS b FROM g3, b2
       |       WHERE pos = 1),
       |w3 AS (SELECT pos, round(w2.w - 2.0 * g3.g / g3.n, 9) AS w
       |       FROM g3 JOIN w2 USING (pos)),
       |wl3 AS (SELECT list(w ORDER BY pos) AS wl FROM w3),
       |s4 AS (SELECT x, y,
       |    round(1/(1 + exp(-(b + ${dot("wl")}))), 9) AS p
       |  FROM d, b3, wl3),
       |m AS (SELECT count(*) AS n, round(avg(ll), 6) AS log_loss,
       |    round(avg(CASE WHEN (p >= 0.5) = (y = 1.0)
       |      THEN 1.0 ELSE 0.0 END), 6) AS accuracy
       |  FROM (SELECT y, p,
       |    round(-(y * ln(p) + (1 - y) * ln(1 - p)), 9) AS ll
       |    FROM s4) q),
       |co AS (SELECT 0 AS pos, b AS weight FROM b3
       |       UNION ALL SELECT pos, w FROM w3)
       |SELECT CAST(co.pos AS INT) AS pos, co.weight, m.n, m.log_loss,
       |  m.accuracy
       |FROM co, m ORDER BY pos""".stripMargin
  }

  private val kmeansCtes: String =
    s"""WITH v AS (
       |  SELECT vec_id, embedding,
       |    ${duckDot("embedding", "embedding")} AS n2
       |  FROM embeddings),
       |c0 AS (
       |  SELECT vec_id // 100 AS cid,
       |    list_transform(embedding, x -> x::DOUBLE) AS ce, n2 AS cn2
       |  FROM v WHERE vec_id % 100 = 0),
       |p1 AS (
       |  SELECT v.vec_id, v.embedding, v.n2, c.cid,
       |    ${duckD2("v.embedding", "v.n2", "c.ce", "c.cn2")} AS d2
       |  FROM v CROSS JOIN c0 c),
       |a1 AS (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY vec_id ORDER BY d2, cid) AS rk
       |  FROM p1),
       |m1 AS (SELECT vec_id, embedding, n2, cid FROM a1 WHERE rk = 1),
       |comp1 AS (
       |  SELECT cid, i.i AS pos, round(avg(embedding[i.i]::DOUBLE), 6) AS val
       |  FROM m1, range(1, 65) i(i) GROUP BY cid, i.i),
       |c1l AS (
       |  SELECT cid, list(val ORDER BY pos) AS ce FROM comp1 GROUP BY cid),
       |c1 AS (
       |  SELECT cid, ce, ${duckDot("ce", "ce")} AS cn2 FROM c1l),
       |p2 AS (
       |  SELECT v.vec_id, c.cid,
       |    ${duckD2("v.embedding", "v.n2", "c.ce", "c.cn2")} AS d2
       |  FROM v CROSS JOIN c1 c),
       |a2 AS (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY vec_id ORDER BY d2, cid) AS rk
       |  FROM p2)""".stripMargin

  override def oracleSql: Map[String, String] = Map(

    "q_text_chunk_overlap" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(
         |    regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS t
         |  FROM documents),
         |st AS (
         |  SELECT doc_id, t, len(t) AS n,
         |    unnest(generate_series(0, len(t) - 1, $ChunkStride)) AS s
         |  FROM toks)
         |SELECT doc_id, CAST(s // $ChunkStride AS INT) AS chunk_id,
         |  s AS chunk_start, least($ChunkSize, n - s) AS n_tok,
         |  md5(array_to_string(
         |    list_slice(t, s + 1, s + least($ChunkSize, n - s)), ' '))
         |    AS chunk_md5
         |FROM st WHERE s = 0 OR s + ${ChunkSize - ChunkStride} < n
         |ORDER BY doc_id, chunk_id""".stripMargin,

    "q_lm_unigram_score" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        |tt AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
        |vocab AS (
        |  SELECT tok, COUNT(*) AS cnt FROM tt
        |  WHERE doc_id % 5 <> 0 GROUP BY tok),
        |stats AS (
        |  SELECT SUM(cnt) AS tt_total, COUNT(*) AS v_size FROM vocab),
        |held AS (
        |  SELECT t.doc_id, COALESCE(v.cnt, 0) AS cnt
        |  FROM tt t LEFT JOIN vocab v USING (tok)
        |  WHERE t.doc_id % 5 = 0)
        |SELECT doc_id, COUNT(*) AS n_tok,
        |  round(avg(ln((cnt + 1)::DOUBLE / (tt_total + v_size)::DOUBLE)), 6)
        |    AS avg_logprob
        |FROM held, stats GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_ml_logreg" -> logregOracle,

    "q_cluster_kmeans" ->
      s"""$kmeansCtes
         |SELECT vec_id, cid, abs(round(d2, 6)) AS dist2
         |FROM a2 WHERE rk = 1 ORDER BY vec_id""".stripMargin,

    "q_cluster_silhouette" ->
      s"""$kmeansCtes,
         |top2 AS (
         |  SELECT vec_id,
         |    min(CASE WHEN rk = 1 THEN d2 END) AS a,
         |    min(CASE WHEN rk = 1 THEN cid END) AS cid,
         |    min(CASE WHEN rk = 2 THEN d2 END) AS b
         |  FROM a2 WHERE rk <= 2 GROUP BY vec_id)
         |SELECT cid, COUNT(*) AS n_members,
         |  round(avg((b - a) / greatest(a, b)), 6) AS mean_silhouette
         |FROM top2 GROUP BY cid ORDER BY cid""".stripMargin,


    "q_dedup_semantic" ->
      s"""$kmeansCtes,
         |m2 AS (
         |  SELECT a2.vec_id, a2.cid, v.embedding, sqrt(v.n2) AS nrm
         |  FROM a2 JOIN v USING (vec_id) WHERE rk = 1)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(${duckDot("a.embedding", "b.embedding")} /
         |    (a.nrm * b.nrm), 9) AS cos
         |FROM m2 a JOIN m2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |WHERE ${duckDot("a.embedding", "b.embedding")} /
         |  (a.nrm * b.nrm) >= 0.4
         |ORDER BY vec_a, vec_b""".stripMargin,

    // Replays the cosine kernel directly: dedup to binary baskets, the
    // order-keyed self-join for co-occurrence, per-item totals re-joined.
    "q_rec_item_cosine" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |ni AS (SELECT p, COUNT(*) AS n FROM b GROUP BY p),
        |co AS (
        |  SELECT x.p AS pa, y.p AS pb, COUNT(*) AS c
        |  FROM b x JOIN b y ON x.o = y.o AND x.p < y.p
        |  GROUP BY 1, 2)
        |SELECT pa, pb, c AS support,
        |  round(c / sqrt(na.n::DOUBLE * nb.n), 6) AS cosine
        |FROM co JOIN ni na ON co.pa = na.p JOIN ni nb ON co.pb = nb.p
        |ORDER BY cosine DESC, pa, pb LIMIT 20""".stripMargin,

    // The apriori prune replayed as CTEs: L2 = frequent pairs, candidate
    // triples EXTEND frequent-pair instances only, and both closure edges
    // (pb,pc) and (pa,pc) must be frequent before counting.
    "q_basket_triples" ->
      """WITH b AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |pair_inst AS (
        |  SELECT x.o AS o, x.p AS pa, y.p AS pb
        |  FROM b x JOIN b y ON x.o = y.o AND x.p < y.p),
        |l2 AS (
        |  SELECT pa, pb FROM pair_inst GROUP BY pa, pb
        |  HAVING COUNT(*) >= 2),
        |fpi AS (
        |  SELECT pi.o, pi.pa, pi.pb FROM pair_inst pi
        |  WHERE EXISTS (SELECT 1 FROM l2
        |                WHERE l2.pa = pi.pa AND l2.pb = pi.pb)),
        |tri AS (
        |  SELECT f.pa, f.pb, c.p AS pc
        |  FROM fpi f JOIN b c ON f.o = c.o AND c.p > f.pb
        |  WHERE EXISTS (SELECT 1 FROM l2
        |                WHERE l2.pa = f.pb AND l2.pb = c.p)
        |    AND EXISTS (SELECT 1 FROM l2
        |                WHERE l2.pa = f.pa AND l2.pb = c.p))
        |SELECT pa, pb, pc, COUNT(*) AS support
        |FROM tri GROUP BY pa, pb, pc HAVING COUNT(*) >= 2
        |ORDER BY pa, pb, pc""".stripMargin,

    "q_basket_rules" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |item AS (
        |  SELECT l_partkey AS p, COUNT(*) AS sp FROM li GROUP BY p),
        |n AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM li),
        |pairs AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS s
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY pa, pb HAVING COUNT(*) >= 2),
        |directed AS (
        |  SELECT pa AS ante, pb AS cons, s FROM pairs
        |  UNION ALL
        |  SELECT pb AS ante, pa AS cons, s FROM pairs)
        |SELECT d.ante, d.cons, d.s AS support,
        |  round(CAST(d.s AS DOUBLE) / ia.sp, 6) AS confidence,
        |  round(CAST(d.s AS DOUBLE) * (SELECT n FROM n) /
        |    (ia.sp * ic.sp), 6) AS lift
        |FROM directed d
        |JOIN item ia ON d.ante = ia.p
        |JOIN item ic ON d.cons = ic.p
        |ORDER BY lift DESC, ante, cons LIMIT 20""".stripMargin,

    "q_basket_pairs" ->
      """SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS support
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY pa, pb
        |ORDER BY support DESC, pa, pb LIMIT 20""".stripMargin,

    "q_encode_dictionary" ->
      """SELECT CAST(row_number() OVER (ORDER BY event_type) AS INT) AS code,
        |  event_type, n
        |FROM (SELECT event_type, COUNT(*) AS n FROM events
        |      GROUP BY event_type) t
        |ORDER BY code""".stripMargin,

    "q_join_fuzzy_levenshtein" ->
      """WITH p AS (
        |  SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS blk,
        |    length(p_name) AS ln
        |  FROM part)
        |SELECT a.p_partkey AS probe_key, b.p_partkey AS match_key,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey <> b.p_partkey
        |  AND abs(a.ln - b.ln) <= 2
        |WHERE a.p_partkey % 100 = 0
        |  AND levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY probe_key, dist, match_key""".stripMargin,

    "q_join_jaro_winkler" ->
      """WITH p AS (
        |  SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS blk
        |  FROM part),
        |scored AS (
        |  SELECT a.p_partkey AS probe_key, b.p_partkey AS match_key,
        |    round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw
        |  FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey <> b.p_partkey
        |  WHERE a.p_partkey % 100 = 0
        |    AND round(jaro_winkler_similarity(a.p_name, b.p_name), 6)
        |      >= 0.88)
        |SELECT probe_key, match_key, jw FROM (
        |  SELECT *, row_number() OVER (PARTITION BY probe_key
        |    ORDER BY jw DESC, match_key) AS rk
        |  FROM scored)
        |WHERE rk <= 5
        |ORDER BY probe_key, jw DESC, match_key""".stripMargin,

    "q_events_anomaly_zscore" ->
      """WITH stats AS (
        |  SELECT event_type, avg(value) AS m, stddev_samp(value) AS sd
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |  round((e.value - s.m) / s.sd, 6) AS z
        |FROM events e JOIN stats s USING (event_type)
        |WHERE abs(round((e.value - s.m) / s.sd, 6)) >= 3.0
        |ORDER BY e.event_type, e.event_id""".stripMargin,

    "q_events_anomaly_mad" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY event_type),
        |mad AS (
        |  SELECT e.event_type, m.med,
        |    quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |  FROM events e JOIN med m USING (event_type)
        |  GROUP BY e.event_type, m.med)
        |SELECT e.event_id, e.event_type, e.value,
        |  round(abs(e.value - d.med) / (1.4826 * d.mad), 6) AS rz
        |FROM events e JOIN mad d USING (event_type)
        |WHERE round(abs(e.value - d.med) / (1.4826 * d.mad), 6) >= 3.5
        |ORDER BY e.event_type, e.event_id""".stripMargin,

    "q_lm_bigram_score" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(
        |      lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' '),
        |    x -> length(x) > 0) AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_zip(t[1:len(t) - 1], t[2:len(t)])) AS pr
        |  FROM toks WHERE len(t) >= 2),
        |pairs AS (SELECT doc_id, pr[1] AS a, pr[2] AS b FROM bg),
        |train AS (SELECT * FROM pairs WHERE doc_id % 5 <> 0),
        |cab AS (SELECT a, b, COUNT(*) AS cab FROM train GROUP BY a, b),
        |ca AS (SELECT a, COUNT(*) AS ca FROM train GROUP BY a),
        |v AS (
        |  SELECT COUNT(*) AS v_size FROM (
        |    SELECT a AS tok FROM train UNION SELECT b FROM train) u),
        |held AS (
        |  SELECT p.doc_id,
        |    (COALESCE(cab.cab, 0) + 1)::DOUBLE /
        |      (COALESCE(ca.ca, 0) + v.v_size)::DOUBLE AS prob
        |  FROM pairs p
        |  LEFT JOIN cab ON p.a = cab.a AND p.b = cab.b
        |  LEFT JOIN ca ON p.a = ca.a, v
        |  WHERE p.doc_id % 5 = 0)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  round(avg(ln(prob)), 6) AS avg_logprob
        |FROM held GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_events_to_sequences" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_events,
        |  md5(string_agg(event_type || ':' || ms, ';'
        |    ORDER BY ms, event_id)) AS seq_md5
        |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_events_paths3" ->
      """WITH seq AS (
        |  SELECT event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT e1, e2, e3, COUNT(*) AS n
        |FROM seq WHERE e3 IS NOT NULL
        |GROUP BY e1, e2, e3
        |ORDER BY n DESC, e1, e2, e3 LIMIT 20""".stripMargin,

    "q_events_transitions" ->
      """WITH lagged AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |pairs AS (
        |  SELECT prev_type, event_type AS next_type, COUNT(*) AS cnt
        |  FROM lagged WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, next_type),
        |totals AS (
        |  SELECT prev_type, CAST(SUM(cnt) AS BIGINT) AS total
        |  FROM pairs GROUP BY prev_type)
        |SELECT p.prev_type, p.next_type, p.cnt,
        |  round(CAST(p.cnt AS DOUBLE) / t.total, 6) AS p
        |FROM pairs p JOIN totals t ON p.prev_type = t.prev_type
        |ORDER BY p.prev_type, p.next_type""".stripMargin,

    "q_events_dips" ->
      """WITH seq AS (
        |  SELECT user_id, event_id, value,
        |    lag(value) OVER w AS pv, lead(value) OVER w AS nv
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |    ORDER BY epoch_ms(ts), event_id))
        |SELECT user_id, COUNT(*) AS n_dips,
        |  round(max(least(pv, nv) - value), 6) AS max_depth
        |FROM seq WHERE pv > value AND nv > value
        |GROUP BY user_id HAVING user_id % 7 = 0
        |ORDER BY user_id""".stripMargin,

    "q_events_rfm" ->
      """WITH per AS (
        |  SELECT user_id, max(epoch_ms(ts)) AS last_ms, COUNT(*) AS f,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS m
        |  FROM events GROUP BY user_id),
        |g AS (SELECT max(epoch_ms(ts)) AS gms FROM events),
        |n AS (SELECT COUNT(*) AS n_users FROM per),
        |base AS (
        |  SELECT user_id, (gms - last_ms) // 86400000 AS r_days, f, m
        |  FROM per, g),
        |rk AS (
        |  SELECT user_id,
        |    row_number() OVER (ORDER BY r_days, user_id) AS rr,
        |    row_number() OVER (ORDER BY f DESC, user_id) AS rf,
        |    row_number() OVER (ORDER BY m DESC, user_id) AS rm
        |  FROM base),
        |q AS (
        |  SELECT user_id,
        |    6 - (((rr - 1) * 5) // n_users + 1) AS r_q,
        |    6 - (((rf - 1) * 5) // n_users + 1) AS f_q,
        |    6 - (((rm - 1) * 5) // n_users + 1) AS m_q
        |  FROM rk, n)
        |SELECT CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) ||
        |    CAST(m_q AS VARCHAR) AS segment,
        |  COUNT(*) AS n_users, min(user_id) AS min_user
        |FROM q GROUP BY segment ORDER BY segment""".stripMargin,

    "q_events_attribution" ->
      """WITH p AS (
        |  SELECT user_id, event_id AS pid, epoch_ms(ts) AS pms
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, event_id AS vid, epoch_ms(ts) AS vms
        |  FROM events WHERE event_type = 'view'),
        |touches AS (
        |  SELECT pid, vid, vms FROM p JOIN v USING (user_id)
        |  WHERE vms < pms AND vms >= pms - 604800000),
        |pos AS (
        |  SELECT pid, vms,
        |    row_number() OVER (PARTITION BY pid ORDER BY vms, vid) AS pos,
        |    COUNT(*) OVER (PARTITION BY pid) AS n
        |  FROM touches),
        |wt AS (
        |  SELECT vms,
        |    CASE WHEN n = 1 THEN 1.0
        |         WHEN n = 2 THEN 0.5
        |         WHEN pos = 1 OR pos = n THEN 0.4
        |         ELSE 0.2 / (n - 2) END AS wt
        |  FROM pos)
        |SELECT CAST((vms - (vms % 86400000)) / 86400000 AS BIGINT)
        |    AS touch_day,
        |  COUNT(*) AS n_touches, round(SUM(wt), 6) AS credit
        |FROM wt GROUP BY touch_day ORDER BY touch_day""".stripMargin
  )
}
