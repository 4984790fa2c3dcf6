package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions._

import graft.operators.Checkpoints.CutOps

/** LLM-pipeline deduplication operators over `documents` (builder brief;
  * VERDICT r1 "LLM-data-pipeline operators"). Four escalating flavors:
  *
  *  - exact (prefix-fingerprint hash-groupBy),
  *  - MinHash + LSH banding (word 3-gram shingles),
  *  - SimHash (32-bit, banded buckets, Hamming verify),
  *  - character n-gram Jaccard with single-hash (argmin) LSH blocking.
  *
  * Scale design: every flavor is a *bucketed* equi-join — shingle→sketch→
  * band→groupBy(bucket)→pair join inside buckets — never an all-pairs
  * cross join. Candidate generation is linear in corpus size ×  bands;
  * verification touches only in-bucket pairs. At 100 TB the band/bucket
  * key is the shuffle key; skewed buckets (argmin-LSH especially) are
  * handled by AQE skew-join or by widening to multi-band keys.
  *
  * Cross-engine parity: every hash is md5 (identical hex in Spark and
  * DuckDB); MinHash order is lexicographic over md5 hex — equivalent to
  * numeric min over the leading bits — because the engines share no
  * common 64-bit integer hash. Jaccard divisions are int/int in identical
  * order → bit-identical doubles.
  */
object DedupQueries extends QueryCatalog {

  // The sketch machinery lives in graft.operators.TextDedup as
  // PARAMETERIZED library functions (shingle width, seeds, bands, rows
  // per band — VERDICT r2 watch item); this catalog pins the corpus
  // defaults its DuckDB oracles replay. Planning-cost and
  // constraint-pushdown lessons (flat per-array transforms, coalesce-
  // wrapped keys) are documented there and in PERF.md #2/#8.
  import graft.operators.TextDedup

  /** doc_id + distinct word-3-gram shingle set. */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    TextDedup.wordShingles(Tables.documents(s, dir),
      col("doc_id"), col("text"), n = 3)

  /** 8-component MinHash signature (2 md5 seeds × 4 slices). */
  private[queries] def minhashed(s: SparkSession, dir: String): DataFrame =
    shingled(s, dir).withColumn("sig",
      TextDedup.minhashSignature(col("shingles"), seeds = 2))

  private def jaccard(a: Column, b: Column): Column =
    TextDedup.jaccard(a, b)

  /** Skew-proof pair-join salting — see [[PairJoins.salted]]. */
  private def salted(df: DataFrame): (DataFrame, DataFrame) =
    PairJoins.salted(df, col("doc_id"))

  /** Verified near-dup pairs: LSH candidates → exact Jaccard ≥ 0.8.
    * Feeds q_dedup_minhash directly and q_dedup_clusters' component
    * step. Plain bucket-keyed shuffle self-join (PairJoins scaladoc has
    * the decision rule): band_key is an md5 digest, so a bucket is one
    * near-dup cluster — a handful of rows, no compute skew to fix.
    * Salting replicated the relation ×32 and ran 15 s at sf0.1
    * (round-4 bench); probeSpread's explicit broadcast of the WHOLE
    * corpus×4-bands build side would exceed the broadcast cap at the
    * 100 TB target (ADVICE r4). One shuffle per side on the band key,
    * and the planner still auto-broadcasts when the relation really
    * is small — size-gated by Spark, not hard-coded here. */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    // r14 opt (guide §2.4, the ngram_jaccard lesson applied here): the
    // shingle relation feeds the band build AND both verify legs —
    // uncut, each consumer re-ran the scan + repartition + HOF shingle
    // transform (3× the sketch compute per action, and the analyzer
    // walked three copies of the HOF subtree). One lazy cut
    // materializes it once; q_dedup_minhash/_clusters/_canonical all
    // inherit the fix.
    val sh = shingled(s, dir).cutLineage(eager = false)
    val b = TextDedup.lshBands(
      sh.withColumn("sig", TextDedup.minhashSignature(col("shingles"),
        seeds = 2)),
      bands = 4, rowsPerBand = 2)
    val cand = b.as("a")
      .join(b.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("sa.shingles"), col("sb.shingles")).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  /** 32-bit SimHash over the shingle set. */
  private def simhashed(s: SparkSession, dir: String): DataFrame =
    shingled(s, dir)
      .withColumn("simhash", TextDedup.simhash("shingles"))
      .select(col("doc_id"), col("simhash"))

  /** Normalized text + distinct character 5-gram set. */
  private def charGrams(s: SparkSession, dir: String): DataFrame =
    TextDedup.charGrams(Tables.documents(s, dir),
      col("doc_id"), col("text"), n = 5)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup via hash-groupBy on a prefix fingerprint (first 8
    // words): duplicate groups with their kept/dropped member lists.
    "q_dedup_exact" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(col("ws"), 1, 8))).as("fp"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("keep_id"),
          concat_ws(",", transform(sort_array(collect_list(col("doc_id"))),
            x => x.cast("string"))).as("doc_ids"))
        .filter(col("n") > 1)
        .orderBy(col("fp"))
    }),

    // MinHash + LSH: banded buckets → in-bucket candidate pairs →
    // exact-Jaccard verification at 0.8.
    "q_dedup_minhash" -> ((s, dir) =>
      minhashPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))),

    // INCREMENTAL dedup — a new ingest batch (doc_id % 5 = 0) dedups
    // against a PERSISTED corpus band index (written to parquet and read
    // back, simulating yesterday's index): batch bands equi-join the
    // index on (band, band_key), then only candidate corpus docs are
    // re-shingled for exact verification. The corpus is never
    // re-sketched and never self-joined — ingestion cost scales with the
    // batch, not the history (TextDedup.bandIndex scaladoc).
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val idxPath = graft.operators.BuildOnce.scoped(
        tmp(s, "dedup_band_index"), dir)
      // "yesterday's index" builds once per (JVM, dir) at a dir-scoped
      // path — rebuilding it on every run would charge the bench's warm
      // passes the full corpus sketch the serving split exists to avoid
      graft.operators.BuildOnce(idxPath) {
        TextDedup.bandIndex(corpus, col("doc_id"), col("text"))
          .write.mode("overwrite").parquet(idxPath)
      }
      val idx = s.read.parquet(idxPath)
      val cand = TextDedup.bandIndex(batch, col("doc_id"), col("text")).as("b")
        .join(idx.as("c"), col("b.band") === col("c.band") &&
          col("b.band_key") === col("c.band_key"))
        .select(col("b.doc_id").as("batch_doc"),
          col("c.doc_id").as("corpus_doc"))
        .distinct()
      val shB = TextDedup.wordShingles(batch, col("doc_id"), col("text"))
      val shC = TextDedup.wordShingles(corpus, col("doc_id"), col("text"))
      cand
        .join(shB.as("sb"), col("batch_doc") === col("sb.doc_id"))
        .join(shC.as("sc"), col("corpus_doc") === col("sc.doc_id"))
        .select(col("batch_doc"), col("corpus_doc"),
          jaccard(col("sb.shingles"), col("sc.shingles")).as("jaccard"))
        .filter(col("jaccard") >= 0.8)
        .orderBy(col("batch_doc"), col("corpus_doc"))
    }),

    // STREAMING near-dup dedup — the foreachBatch twin of
    // q_dedup_incremental: documents ARRIVE in 3 micro-batches (arrival
    // order = doc_id % 3); each batch dedups against the band-index
    // partitions of all earlier batches (TextDedup.dedupAgainstIndex —
    // only band-colliding history docs re-shingle), then appends its own
    // partition. One immutable partition per batch means each round's
    // index read is a fixed file snapshot — no read-own-append race
    // under lazy evaluation — and is the production layout (daily index
    // partitions). StreamingSpec runs the same loop as a genuine
    // foreachBatch stream; the oracle replays the sketches with the
    // arrival-order condition.
    "q_dedup_streaming" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val idxRoot = graft.operators.BuildOnce.scoped(
        tmp(s, "stream_band_index"), dir)
      var out: DataFrame = null
      for (k <- 0 to 2) {
        val batch = docs.filter(col("doc_id") % 3 === k)
        if (k > 0) {
          val idx = s.read.parquet(
            (0 until k).map(j => s"$idxRoot/batch=$j"): _*)
          val seen = docs.filter(col("doc_id") % 3 < k)
          val verified = TextDedup.dedupAgainstIndex(
            batch, col("doc_id"), col("text"),
            idx, seen, col("doc_id"), col("text"))
          out = if (out == null) verified else out.unionByName(verified)
        }
        // each arrival batch's immutable index partition builds once
        // per (JVM, dir); re-runs only re-read the fixed snapshots
        // (idxRoot is already dir-scoped, so the path IS the key)
        graft.operators.BuildOnce(s"$idxRoot/batch=$k") {
          TextDedup.bandIndex(batch, col("doc_id"), col("text"))
            .write.mode("overwrite").parquet(s"$idxRoot/batch=$k")
        }
      }
      out.orderBy(col("new_doc"), col("seen_doc"))
    }),

    // Pair detection is only half a dedup pipeline: "a~b, b~c" must
    // become ONE cluster {a,b,c} with one survivor before anything is
    // dropped, or transitive groups lose extra members (a kept, b
    // dropped vs a, c kept vs b). Connected components over the verified
    // pair graph (operators/ConnectedComponents: driver-side union-find
    // below its size cap, hash-min rounds above it) — then one summary
    // row per cluster with the canonical keep (min doc_id, which IS the
    // component label — no second pass).
    "q_dedup_clusters" -> ((s, dir) => {
      val labels = graft.operators.ConnectedComponents.label(
        minhashPairs(s, dir), col("doc_a"), col("doc_b"))
      labels.groupBy(col("comp"))
        .agg(count(lit(1)).as("n"),
          concat_ws(",", transform(sort_array(collect_list(col("node"))),
            x => x.cast("string"))).as("doc_ids"))
        .select(col("comp").as("keep_id"), col("n"), col("doc_ids"))
        .orderBy(col("keep_id"))
    }),

    // Canonical-survivor selection — the policy step AFTER clustering:
    // every near-dup cluster keeps exactly ONE document, chosen by an
    // explicit rule (longest text wins, ties to the smallest id), and
    // the rule runs as a partial-aggregable max(struct(quality, -id))
    // over the labeled relation — no rank window, no join-back. This is
    // the step that turns "these documents duplicate each other" into
    // the actual training-corpus cut list.
    "q_dedup_canonical" -> ((s, dir) => {
      val labels = graft.operators.ConnectedComponents.label(
        minhashPairs(s, dir), col("doc_a"), col("doc_b"))
      labels
        .join(Tables.documents(s, dir),
          col("node") === col("doc_id"))
        .groupBy(col("comp"))
        .agg(max(struct(col("n_chars"), negate(col("doc_id")).as("nid")))
          .as("m"), count(lit(1)).as("n_members"))
        .select(col("comp"),
          negate(col("m").getField("nid")).as("keeper_id"),
          col("m").getField("n_chars").as("keeper_chars"),
          col("n_members"))
        .orderBy(col("comp"))
    }),

    // Golden-record survivorship — the MDM step AFTER linkage decides
    // "these source records are one entity": per-FIELD merge rules build
    // the record that survives. Name/segment follow first-non-null by
    // source priority (trust order), balance follows latest-by-timestamp
    // (recency) — the two standard rule families. Every rule compiles to
    // ONE partial-aggregable min/max over a packed sort key (priority-
    // prefixed / zero-padded-timestamp-prefixed strings), so the merge
    // is a single groupBy with map-side combine — no rank windows, no
    // per-rule join-backs, and NULLs cascade to the next source because
    // null fields never enter the key. Sources are synthesized from the
    // customer relation with deterministic conflicts (crm drops every
    // 5th name; app exists only for even keys and is always newest); the
    // oracle replays rules and conflicts symmetrically.
    "q_er_survivorship" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      def src(prio: Int, ts: Column, name: Column, seg: Column,
          bal: Column): DataFrame =
        c.select(col("c_custkey").as("entity_id"), lit(prio).as("prio"),
          ts.as("ts"), name.as("name"), seg.as("segment"),
          bal.cast("string").as("bal"))
      val recs = src(1, lit(1000) + col("c_custkey") % 50,
          when(col("c_custkey") % 5 =!= 0, col("c_name")),
          lit(null).cast("string"), dec2(col("c_acctbal")))
        .unionByName(src(2, lit(2000) + col("c_custkey") % 77,
          lit(null).cast("string"), col("c_mktsegment"),
          dec2(col("c_acctbal") + 50)))
        .unionByName(src(3, lit(3000) + col("c_custkey") % 31,
          concat(col("c_name"), lit(" A")),
          concat(lit("APP-"), col("c_mktsegment")),
          dec2(col("c_acctbal") - 25))
          .filter(col("entity_id") % 2 === 0))
      recs.groupBy(col("entity_id"))
        .agg(
          expr("substring(min(CASE WHEN name IS NOT NULL THEN " +
            "concat(CAST(prio AS STRING), '|', name) END), 3)")
            .as("name"),
          expr("substring(min(CASE WHEN segment IS NOT NULL THEN " +
            "concat(CAST(prio AS STRING), '|', segment) END), 3)")
            .as("segment"),
          expr("substring(max(concat(lpad(CAST(ts AS STRING), 6, '0'), " +
            "'|', bal)), 8)").as("bal_latest"),
          count(lit(1)).as("n_sources"))
        .orderBy(col("entity_id"))
    }),

    // SimHash: 8-bit band buckets → pairs → Hamming-distance ≤ 3 verify.
    // Pigeonhole guarantee: ≤3 differing bits can dirty at most 3 of the
    // 4 bands, so every true pair still collides on ≥1 clean band —
    // exact recall, but 256 values per band instead of 16 keeps buckets
    // (and the quadratic pair explosion) ~30× smaller.
    "q_dedup_simhash" -> ((s, dir) => {
      val sim = simhashed(s, dir)
        .withColumn("band", explode(sequence(lit(0), lit(3))))
        .withColumn("band_val",
          expr("shiftright(simhash, band * 8) & 255"))
      val (simA, simB) = salted(sim)
      val pairs = simA.as("a")
        .join(simB.as("b"),
          col("a.band") === col("b.band") &&
            col("a.band_val") === col("b.band_val") &&
            col("a.salt") === col("b.salt") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
        .distinct()
      pairs
        .withColumn("hamming", expr("cast(bit_count(sim_a ^ sim_b) as int)"))
        .filter(col("hamming") <= 3)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // §2.12b: corpus-level sketch via the custom MinHash-merge Aggregator
    // — one merged signature per source, partial-aggregated map-side.
    "q_sketch_source_minhash" -> ((s, dir) => {
      val mergeSig = udaf(graft.functions.MinHashAgg,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]())
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      minhashed(s, dir)
        .join(docs, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(mergeSig(col("sig")).as("merged"))
        .select(col("source"),
          concat_ws(",", col("merged")).as("sketch"))
        .orderBy(col("source"))
    }),

    // Character-5-gram Jaccard with argmin-LSH blocking: the block key is
    // the minimum md5 over a doc's gram set (collision prob == Jaccard),
    // so near-dups co-locate with a single hash — no banding needed.
    "q_dedup_ngram_jaccard" -> ((s, dir) => {
      // The gram relation materializes ONCE (lazy checkpoint) and feeds
      // both the sketch build and the survivor re-joins below.
      val grams = charGrams(s, dir).cutLineage(eager = false)
      // coalesce: non-nullable join key / predicate inputs — see the
      // band-key coalesce rationale in TextDedup.lshBands (ADVICE r14:
      // the old pointer named minhashBuckets, inlined into minhashPairs).
      // r15 opt: the seed-"" digest array feeds BOTH the block key
      // (its array_min) and the first 4 signature components — computed
      // once in its own projection and referenced twice (the double
      // reference is what stops CollapseProject from inlining the
      // transform back into each consumer), saving one of five per-gram
      // md5 passes. blk/sz/sig live in ONE select for the same reason.
      val g = grams
        .withColumn("m0", transform(col("grams"), x => md5(x)))
        .select(col("doc_id"), col("grams"),
          coalesce(array_min(col("m0")), lit("")).as("blk"),
          coalesce(size(col("grams")), lit(0)).as("sz"),
          // 16-component MinHash sketch for the cheap agreement filter —
          // four md5 seeds per gram sliced into 8-hex (32-bit) components
          // (TextDedup.minhashSignature; slice-width and flat-transform
          // rationale in its scaladoc / PERF.md #7-8).
          coalesce(graft.operators.TextDedup.minhashSignature(
            col("grams"), seeds = 4, Some(col("m0"))), array()).as("sig"))
      // Three-stage candidate pruning, all inside the join condition so
      // pairs die before the O(|A|+|B|) exact intersect:
      //  1. size ratio — J >= 0.6 implies min/max >= 3/5, integer-exact,
      //     zero recall loss;
      //  2. sketch agreement — >= 6 of 16 MinHash components match
      //     (E[match] = J per component; deterministic md5 sketches, so
      //     both engines prune the identical pair set). On this corpus
      //     it cuts exact verifications ~48x.
      // The salted pair join carries ONLY keys + sketches (sig ≈ 0.5 KB)
      // — never the 450-element gram arrays, which would put ~0.5 GB of
      // replicated payload through the shuffle. Grams re-join for the
      // few surviving candidates below.
      //
      // localCheckpoint(eager=false): the self-join would otherwise inline
      // the full sketch expression tree into BOTH sides of the analyzed
      // plan (and the gram re-joins twice more) — round-4 jstack sampling
      // showed the single-threaded driver spending 8-17 s/action walking
      // those duplicated HOF trees through analyzer/optimizer rules while
      // every executor sat idle. The lazy checkpoint materializes the
      // sketch relation ONCE at first action and replaces each reference
      // with a leaf — planning cost flat, sketches computed once.
      val keys = g.select(col("doc_id"), col("blk"), col("sz"), col("sig"))
        .cutLineage(eager = false)
      val (ga, gb) = salted(keys)
      val cand = ga.as("a")
        .join(gb.as("b"),
          col("a.blk") === col("b.blk") &&
            col("a.salt") === col("b.salt") &&
            col("a.doc_id") < col("b.doc_id") &&
            col("a.sz") * 3 <= col("b.sz") * 5 &&
            col("b.sz") * 3 <= col("a.sz") * 5 &&
            expr("""aggregate(zip_with(a.sig, b.sig, (x, y) ->
              |  IF(x = y, 1, 0)), 0, (acc, v) -> acc + v) >= 6""".stripMargin))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          (col("a.sz") + col("b.sz")).as("sz_sum"))
        // Candidate set is tiny (~3% of in-block pairs) — checkpoint it so
        // the verify joins plan over a leaf instead of re-deriving the
        // whole salted-join subtree through every optimizer rule.
        .cutLineage(eager = false)
      // Survivor verification re-joins the checkpointed gram relation —
      // same rows, but the analyzed tree carries a leaf, not two more
      // copies of the sketch projections.
      cand
        .join(grams.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(grams.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          // |A∪B| = |A|+|B|-|A∩B| for distinct sets: one intersect (CSE'd
          // by codegen), no union array materialized.
          (size(array_intersect(col("sa.grams"), col("sb.grams"))).cast("double") /
            (col("sz_sum") -
              size(array_intersect(col("sa.grams"), col("sb.grams")))))
            .as("jaccard"))
        .filter(col("jaccard") >= 0.6)
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Asymmetric containment join |A∩B|/|A| ≥ 0.8 with |A| ≤ |B| — the
    // subset/quote detector (a doc mostly contained in a longer one is a
    // near-dup that symmetric Jaccard MISSES when the sizes differ).
    // Blocking is PPJoin-style PREFIX FILTERING (Xiao et al., WWW'08)
    // with an EXACT pigeonhole guarantee: containment ≥ 0.8 means at most
    // ⌊0.2·|A|⌋ of A's shingles are missing from B, so among A's
    // ⌊0.2·|A|⌋+1 smallest shingle-hashes at least one IS in B — probing
    // only that prefix against the full inverted index finds every true
    // pair. Cost shape at 100 TB: the index side is linear in corpus
    // shingle mass (one explode, shuffle on the hash key), the probe side
    // is ~20% of it, and the candidate pair set — not the quadratic
    // all-pairs space — is all that reaches the exact verify, which
    // re-joins the shingle arrays by doc key (never shipping arrays
    // through the pair join; same payload discipline as ngram_jaccard).
    // Hash order is md5-lexicographic on BOTH engines, so the prefix
    // choice and the verified fractions (int/int division) replay
    // bit-identically.
    "q_dedup_containment" -> ((s, dir) => {
      val sh = shingled(s, dir).withColumn("sz", size(col("shingles")))
        .cutLineage(eager = false)
      val hashes = sh.select(col("doc_id"), col("sz"),
          array_sort(transform(col("shingles"), x => md5(x))).as("hs"))
        .cutLineage(eager = false)
      val prefix = hashes.select(col("doc_id").as("doc_a"),
        col("sz").as("pa_sz"),
        explode(slice(col("hs"), lit(1),
          floor(col("sz") * lit(0.2)).cast("int") + 1)).as("hk"))
      val inv = hashes.select(col("doc_id").as("doc_b"),
        col("sz").as("pb_sz"), explode(col("hs")).as("hk"))
      val candidates = prefix.as("pa").join(inv.as("pb"),
          col("pa.hk") === col("pb.hk") &&
            (col("pa.pa_sz") < col("pb.pb_sz") ||
              (col("pa.pa_sz") === col("pb.pb_sz") &&
                col("pa.doc_a") < col("pb.doc_b"))))
        .select(col("pa.doc_a").as("doc_a"), col("pb.doc_b").as("doc_b"))
        .distinct()
      candidates
        .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
        .join(sh.as("sb"), col("doc_b") === col("sb.doc_id"))
        .select(col("doc_a"), col("doc_b"),
          col("sa.sz").as("sz_a"), col("sb.sz").as("sz_b"),
          (size(array_intersect(col("sa.shingles"), col("sb.shingles")))
            .cast("double") / col("sa.sz")).as("containment"))
        .filter(col("containment") >= 0.8)
        .select(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"),
          round(col("containment"), 6).as("containment"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Approximate exact-substring dedup (the suffix-array span dedup of
    // Lee et al. "Deduplicating Training Data Makes Language Models
    // Better", approximated at fixed granularity): a word 8-gram that
    // appears in more than one document marks a repeated SPAN at every
    // position it occupies. Per-doc repeated-position and distinct-gram
    // counts drive span excision upstream. Scale shape: positional grams
    // explode ~|words| rows/doc; the repeated-gram set is one
    // partial-aggregable groupBy (countDistinct doc_id > 1) and rides
    // Cross-corpus SEGMENT (line) dedup — the CCNet/RefinedWeb
    // boilerplate-removal step: a doc's repeated lines (nav bars, cookie
    // banners, license headers) are exactly the segments whose DOCUMENT
    // frequency across the corpus is high. Docs split into fixed 3-token
    // segments (the corpus has no newlines — the splitter is the honest
    // proxy; the mechanism is the point), each segment's df counts
    // DISTINCT docs on an md5 segment key (slim shuffle — at 100 TB the
    // segment text never shuffles, only its 16-byte hash + doc id), and
    // docs reassemble ordered with df≥5 segments dropped. Per-doc output
    // keeps the audit (n_segs, n_dropped) plus the cleaned-text md5 so
    // the gate hashes reassembly fidelity without hauling document
    // bodies through the compare.
    "q_dedup_lines" -> ((s, dir) => {
      val W = 3
      val segs = Tables.documents(s, dir)
        .select(col("doc_id"),
          split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")
            .as("t"))
        .withColumn("n", size(col("t")))
        .withColumn("s0", explode(expr(s"sequence(0, n - 1, $W)")))
        .select(col("doc_id"), (col("s0") / W).cast("int").as("seg_idx"),
          concat_ws(" ", expr(s"slice(t, s0 + 1, $W)")).as("seg"))
        .withColumn("sm", md5(col("seg")))
      val df = segs.groupBy(col("sm"))
        .agg(countDistinct(col("doc_id")).as("df"))
      segs.join(df, Seq("sm"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_segs"),
          sum(when(col("df") >= 5, 1L).otherwise(0L)).as("n_dropped"),
          md5(concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(seg_idx, " +
              "CASE WHEN df < 5 THEN seg END AS kept))), x -> x.kept)")))
            .as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // back on a gram-keyed equi-join — production variants key both
    // sides on a 64-bit gram fingerprint to slim the shuffle; the string
    // key stays here so the DuckDB oracle replays it verbatim.
    "q_dedup_substring" -> ((s, dir) => {
      val g = Tables.documents(s, dir)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("ws"))
        .filter(size(col("ws")) >= 8)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("ws")) - 7),
            i => array_join(slice(col("ws"), i, lit(8)), " "))).as("gram"))
        .cutLineage(eager = false) // feeds the repeat set AND the probe
      val rep = g.groupBy(col("gram"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > 1).select(col("gram"))
      g.join(rep, Seq("gram"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_rep"),
          countDistinct(col("gram")).as("n_grams"))
        .orderBy(col("doc_id"))
    }),

    // ExactSubstr span REMOVAL (operators/ExactSubstrDedup — Lee et
    // al. ACL'22): every 32-char span occurring in >1 document is cut
    // from all of them, keeping each document's unique remainder — the
    // suffix-array dedup of the paper as four relational stages
    // (window explode → repeat set → interval merge → span
    // subtraction). Output pins the CLEANED TEXT byte-for-byte via md5
    // against the oracle's independent window/island/string_agg replay.
    "q_dedup_exact_substr" -> ((s, dir) => {
      graft.operators.ExactSubstrDedup
        .dedup(Tables.documents(s, dir), "doc_id", "text", 32)
        .select(col("id").as("doc_id"),
          length(col("clean")).cast("long").as("clean_len"),
          md5(col("clean")).as("clean_md5"),
          col("n_spans"), col("chars_removed"))
        .orderBy(col("doc_id"))
    }),

    // Probabilistic record linkage (operators/EntityResolution, the
    // Fellegi–Sunter accumulate-evidence shape): blocking on
    // (nation, coarse balance bucket) bounds the pair space, then three
    // field comparisons — market segment, balance proximity, key
    // adjacency — each add a positive agreement weight or a negative
    // disagreement weight; pairs above threshold are linkage candidates.
    // DECIMAL weights keep the evidence sum exact on both engines. The
    // one shuffle is the block-keyed self equi-join.
    "q_er_link" -> ((s, dir) => {
      import graft.operators.EntityResolution._
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          col("c_acctbal"),
          floor(col("c_acctbal") / 500.0).cast("long").as("bal_bucket"))
      val pairs = blockPairs(cust, Seq("c_nationkey", "bal_bucket"),
        "c_custkey")
      val score = matchWeight(Seq(
        FieldWeight(col("a_c_mktsegment") === col("b_c_mktsegment"),
          BigDecimal("2.0"), BigDecimal("-1.5")),
        FieldWeight(abs(col("a_c_acctbal") - col("b_c_acctbal")) <= 50.0,
          BigDecimal("3.0"), BigDecimal("-0.5")),
        FieldWeight(abs(col("a_c_custkey") - col("b_c_custkey")) <= 5,
          BigDecimal("1.0"), BigDecimal("-0.3"))))
      pairs
        .select(col("a_c_custkey").as("key_a"),
          col("b_c_custkey").as("key_b"),
          score.cast("double").as("score"))
        .filter(col("score") >= 1.5)
        .orderBy(col("key_a"), col("key_b"))
    })
  )

  // DuckDB twins. List comprehensions mirror the Spark HOFs one-to-one;
  // DuckDB list indexing and range() bounds are aligned with the 1-based
  // element_at / inclusive sequence() calls on the Spark side.
  private val wordsCte =
    """words AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents)""".stripMargin

  private val shinglesCte =
    s"""$wordsCte,
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
       |                   for i in range(1, len(ws) - 1)]) AS shingles
       |  FROM words WHERE len(ws) >= 3)""".stripMargin

  /** Shared by q_dedup_minhash and q_dedup_clusters: shingles → MinHash
    * signatures → LSH buckets → verified pairs (exact Jaccard ≥ 0.8). */
  private val minhashPairsCte =
    s"""$shinglesCte,
       |mh AS (
       |  SELECT doc_id, shingles,
       |    [CASE WHEN h < 4
       |       THEN list_min([substring(md5(s), 8 * h + 1, 8) for s in shingles])
       |       ELSE list_min([substring(md5('x' || s), 8 * (h - 4) + 1, 8) for s in shingles])
       |     END for h in range(0, 8)] AS sig
       |  FROM sh),
       |buckets AS (
       |  SELECT doc_id, band, md5(sig[2*band+1] || sig[2*band+2]) AS band_key
       |  FROM mh, (SELECT unnest(range(0, 4)) AS band)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM buckets a JOIN buckets b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |   AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
       |      len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS jaccard
       |  FROM cand
       |  JOIN sh sa ON cand.doc_a = sa.doc_id
       |  JOIN sh sb ON cand.doc_b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
       |      len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= 0.8)""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "q_er_survivorship" ->
      """WITH recs AS (
        |  SELECT c_custkey AS entity_id, 1 AS prio,
        |    1000 + c_custkey % 50 AS ts,
        |    CASE WHEN c_custkey % 5 <> 0 THEN c_name END AS name,
        |    CAST(NULL AS VARCHAR) AS segment,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS bal
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 2, 2000 + c_custkey % 77, NULL, c_mktsegment,
        |    CAST(CAST(c_acctbal + 50 AS DECIMAL(18,2)) AS VARCHAR)
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 3, 3000 + c_custkey % 31, c_name || ' A',
        |    'APP-' || c_mktsegment,
        |    CAST(CAST(c_acctbal - 25 AS DECIMAL(18,2)) AS VARCHAR)
        |  FROM customer WHERE c_custkey % 2 = 0)
        |SELECT entity_id,
        |  substring(min(CASE WHEN name IS NOT NULL
        |    THEN CAST(prio AS VARCHAR) || '|' || name END), 3) AS name,
        |  substring(min(CASE WHEN segment IS NOT NULL
        |    THEN CAST(prio AS VARCHAR) || '|' || segment END), 3)
        |    AS segment,
        |  substring(max(lpad(CAST(ts AS VARCHAR), 6, '0') || '|' || bal),
        |    8) AS bal_latest,
        |  COUNT(*) AS n_sources
        |FROM recs GROUP BY entity_id ORDER BY entity_id""".stripMargin,

    "q_dedup_lines" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |segs AS (
        |  SELECT doc_id, CAST(s // 3 AS INT) AS seg_idx,
        |    array_to_string(list_slice(t, s + 1, s + 3), ' ') AS seg
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(0, len(t) - 1, 3)) AS s
        |        FROM toks)),
        |df AS (
        |  SELECT md5(seg) AS sm, COUNT(DISTINCT doc_id) AS df
        |  FROM segs GROUP BY 1),
        |j AS (
        |  SELECT s.doc_id, s.seg_idx, s.seg, d.df
        |  FROM segs s JOIN df d ON md5(s.seg) = d.sm)
        |SELECT doc_id, COUNT(*) AS n_segs,
        |  CAST(SUM(CASE WHEN df >= 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped,
        |  md5(COALESCE(string_agg(CASE WHEN df < 5 THEN seg END, ' '
        |    ORDER BY seg_idx), '')) AS clean_md5
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      s"""WITH $wordsCte
         |SELECT fp, COUNT(*) AS n, MIN(doc_id) AS keep_id,
         |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
         |FROM (SELECT doc_id, md5(array_to_string(ws[1:8], ' ')) AS fp FROM words)
         |GROUP BY fp HAVING COUNT(*) > 1 ORDER BY fp""".stripMargin,
    "q_dedup_minhash" ->
      s"""WITH $minhashPairsCte
         |SELECT doc_a, doc_b, jaccard FROM pairs
         |ORDER BY doc_a, doc_b""".stripMargin,
    // Same sketch pipeline, but candidates cross the batch/corpus split
    // instead of self-joining (the persisted-index layout is invisible
    // to the oracle — it replays the sketches relationally).
    "q_dedup_incremental" ->
      s"""WITH $shinglesCte,
         |mh AS (
         |  SELECT doc_id, shingles,
         |    [CASE WHEN h < 4
         |       THEN list_min([substring(md5(s), 8 * h + 1, 8) for s in shingles])
         |       ELSE list_min([substring(md5('x' || s), 8 * (h - 4) + 1, 8) for s in shingles])
         |     END for h in range(0, 8)] AS sig
         |  FROM sh),
         |buckets AS (
         |  SELECT doc_id, band, md5(sig[2*band+1] || sig[2*band+2]) AS band_key
         |  FROM mh, (SELECT unnest(range(0, 4)) AS band)),
         |cand AS (
         |  SELECT DISTINCT b.doc_id AS batch_doc, c.doc_id AS corpus_doc
         |  FROM buckets b JOIN buckets c
         |    ON b.band = c.band AND b.band_key = c.band_key
         |   AND b.doc_id % 5 = 0 AND c.doc_id % 5 <> 0)
         |SELECT batch_doc, corpus_doc,
         |  CAST(len(list_intersect(sb.shingles, sc.shingles)) AS DOUBLE) /
         |    len(list_distinct(list_concat(sb.shingles, sc.shingles))) AS jaccard
         |FROM cand
         |JOIN sh sb ON cand.batch_doc = sb.doc_id
         |JOIN sh sc ON cand.corpus_doc = sc.doc_id
         |WHERE CAST(len(list_intersect(sb.shingles, sc.shingles)) AS DOUBLE) /
         |    len(list_distinct(list_concat(sb.shingles, sc.shingles))) >= 0.8
         |ORDER BY batch_doc, corpus_doc""".stripMargin,
    // Same sketch replay as q_dedup_incremental, with the candidate
    // condition on ARRIVAL order (doc_id % 3) instead of the batch/corpus
    // split — the micro-batch loop and partitioned index layout are
    // invisible to the oracle.
    "q_dedup_streaming" ->
      s"""WITH $shinglesCte,
         |mh AS (
         |  SELECT doc_id, shingles,
         |    [CASE WHEN h < 4
         |       THEN list_min([substring(md5(s), 8 * h + 1, 8) for s in shingles])
         |       ELSE list_min([substring(md5('x' || s), 8 * (h - 4) + 1, 8) for s in shingles])
         |     END for h in range(0, 8)] AS sig
         |  FROM sh),
         |buckets AS (
         |  SELECT doc_id, band, md5(sig[2*band+1] || sig[2*band+2]) AS band_key
         |  FROM mh, (SELECT unnest(range(0, 4)) AS band)),
         |cand AS (
         |  SELECT DISTINCT b.doc_id AS new_doc, c.doc_id AS seen_doc
         |  FROM buckets b JOIN buckets c
         |    ON b.band = c.band AND b.band_key = c.band_key
         |   AND b.doc_id % 3 > c.doc_id % 3)
         |SELECT new_doc, seen_doc,
         |  CAST(len(list_intersect(sb.shingles, sc.shingles)) AS DOUBLE) /
         |    len(list_distinct(list_concat(sb.shingles, sc.shingles))) AS jaccard
         |FROM cand
         |JOIN sh sb ON cand.new_doc = sb.doc_id
         |JOIN sh sc ON cand.seen_doc = sc.doc_id
         |WHERE CAST(len(list_intersect(sb.shingles, sc.shingles)) AS DOUBLE) /
         |    len(list_distinct(list_concat(sb.shingles, sc.shingles))) >= 0.8
         |ORDER BY new_doc, seen_doc""".stripMargin,

    // Transitive closure as the independent oracle for the iterative
    // label-propagation loop (same independence pattern as the
    // WITH RECURSIVE twin of q_recursive_hierarchy): reach(node, m)
    // saturates reachability over the verified pair graph, then each
    // node's component is MIN(reachable) — replayed entirely in SQL,
    // no propagation rounds anywhere on the oracle side.
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashPairsCte,
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT src AS node, src AS m FROM edges
         |  UNION
         |  SELECT r.node, e.dst FROM reach r JOIN edges e ON r.m = e.src),
         |labels AS (
         |  SELECT node, MIN(m) AS comp FROM reach GROUP BY node)
         |SELECT comp AS keep_id, COUNT(*) AS n,
         |  string_agg(CAST(node AS VARCHAR), ',' ORDER BY node) AS doc_ids
         |FROM labels GROUP BY comp ORDER BY keep_id""".stripMargin,

    "q_dedup_canonical" ->
      s"""WITH RECURSIVE $minhashPairsCte,
         |edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT src AS node, src AS m FROM edges
         |  UNION
         |  SELECT r.node, e.dst FROM reach r JOIN edges e ON r.m = e.src),
         |labels AS (
         |  SELECT node, MIN(m) AS comp FROM reach GROUP BY node),
         |ranked AS (
         |  SELECT comp, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY comp
         |      ORDER BY n_chars DESC, doc_id) AS rk,
         |    COUNT(*) OVER (PARTITION BY comp) AS n_members
         |  FROM labels JOIN documents ON node = doc_id)
         |SELECT comp, doc_id AS keeper_id, n_chars AS keeper_chars,
         |  n_members
         |FROM ranked WHERE rk = 1 ORDER BY comp""".stripMargin,
    "q_dedup_simhash" ->
      s"""WITH $shinglesCte,
         |sim AS (
         |  SELECT doc_id, CAST(list_sum(
         |    [CASE WHEN 2 * len(list_filter([md5(s) for s in shingles], m ->
         |            substring(m, i + 1, 1) IN ('8','9','a','b','c','d','e','f')))
         |          > len(shingles)
         |     THEN CAST(1 AS BIGINT) << i ELSE 0 END for i in range(0, 32)]) AS BIGINT) AS simhash
         |  FROM sh),
         |banded AS (
         |  SELECT doc_id, simhash, band, (simhash >> (band * 8)) & 255 AS band_val
         |  FROM sim, (SELECT unnest(range(0, 4)) AS band)),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.simhash AS sim_a, b.simhash AS sim_b
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.band_val = b.band_val
         |   AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
         |FROM pairs WHERE bit_count(xor(sim_a, sim_b)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_sketch_source_minhash" ->
      s"""WITH $shinglesCte,
         |hashes AS (
         |  SELECT d.source, h,
         |    min(CASE WHEN h < 4 THEN substring(md5(s), 8 * h + 1, 8)
         |        ELSE substring(md5('x' || s), 8 * (h - 4) + 1, 8) END) AS mh
         |  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) sx
         |  JOIN documents d ON sx.doc_id = d.doc_id
         |  CROSS JOIN (SELECT unnest(range(0, 8)) AS h)
         |  GROUP BY d.source, h)
         |SELECT source, string_agg(mh, ',' ORDER BY h) AS sketch
         |FROM hashes GROUP BY source ORDER BY source""".stripMargin,
    "q_dedup_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct([substring(t, i, 5) for i in range(1, length(t) - 3)]) AS grams
        |  FROM (SELECT doc_id,
        |          lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |        FROM documents)
        |  WHERE length(t) >= 5),
        |b AS (
        |  SELECT doc_id, grams, len(grams) AS sz,
        |    list_min([md5(x) for x in grams]) AS blk,
        |    [CASE WHEN h < 4
        |       THEN list_min([substring(md5(x), 8 * h + 1, 8) for x in grams])
        |     WHEN h < 8
        |       THEN list_min([substring(md5('x' || x), 8 * (h - 4) + 1, 8) for x in grams])
        |     WHEN h < 12
        |       THEN list_min([substring(md5('y' || x), 8 * (h - 8) + 1, 8) for x in grams])
        |       ELSE list_min([substring(md5('z' || x), 8 * (h - 12) + 1, 8) for x in grams])
        |     END for h in range(0, 16)] AS sig
        |  FROM g)
        |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |  CAST(len(list_intersect(x.grams, y.grams)) AS DOUBLE) /
        |    len(list_distinct(list_concat(x.grams, y.grams))) AS jaccard
        |FROM b x JOIN b y ON x.blk = y.blk AND x.doc_id < y.doc_id
        |  AND x.sz * 3 <= y.sz * 5 AND y.sz * 3 <= x.sz * 5
        |  AND list_sum([CASE WHEN x.sig[i] = y.sig[i] THEN 1 ELSE 0 END
        |                for i in range(1, 17)]) >= 6
        |WHERE CAST(len(list_intersect(x.grams, y.grams)) AS DOUBLE) /
        |    len(list_distinct(list_concat(x.grams, y.grams))) >= 0.6
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q_dedup_containment" ->
      s"""WITH $shinglesCte,
         |hs AS (
         |  SELECT doc_id, len(shingles) AS sz,
         |    list_sort([md5(x) for x in shingles]) AS hs
         |  FROM sh),
         |pre AS (
         |  SELECT doc_id AS doc_a, sz AS pa_sz,
         |    unnest(list_slice(hs, 1, CAST(floor(sz * 0.2) AS INT) + 1)) AS hk
         |  FROM hs),
         |inv AS (SELECT doc_id AS doc_b, sz AS pb_sz, unnest(hs) AS hk
         |        FROM hs),
         |cand AS (
         |  SELECT DISTINCT doc_a, doc_b
         |  FROM pre JOIN inv ON pre.hk = inv.hk
         |  WHERE pa_sz < pb_sz OR (pa_sz = pb_sz AND doc_a < doc_b)),
         |v AS (
         |  SELECT doc_a, doc_b,
         |    len(sa.shingles) AS sz_a, len(sb.shingles) AS sz_b,
         |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
         |      / len(sa.shingles) AS containment
         |  FROM cand
         |  JOIN sh sa ON cand.doc_a = sa.doc_id
         |  JOIN sh sb ON cand.doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, sz_a, sz_b, round(containment, 6) AS containment
         |FROM v WHERE containment >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q_dedup_substring" ->
      s"""WITH $wordsCte,
         |g AS (
         |  SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS gram
         |  FROM (SELECT doc_id, ws,
         |          unnest(generate_series(1, len(ws) - 7)) AS i
         |        FROM words WHERE len(ws) >= 8)),
         |rep AS (
         |  SELECT gram FROM g GROUP BY gram
         |  HAVING count(DISTINCT doc_id) > 1)
         |SELECT g.doc_id, count(*) AS n_rep,
         |       count(DISTINCT g.gram) AS n_grams
         |FROM g JOIN rep ON g.gram = rep.gram
         |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,

    "q_dedup_exact_substr" ->
      """WITH w AS (
        |  SELECT doc_id, g AS s, g + 31 AS e,
        |    substring(text, g, 32) AS win
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1,
        |            greatest(length(text) - 31, 0))) AS g
        |        FROM documents)),
        |rep AS (SELECT win FROM w GROUP BY win
        |        HAVING count(DISTINCT doc_id) > 1),
        |pos AS (SELECT doc_id, s, e FROM w JOIN rep USING (win)),
        |m AS (SELECT doc_id, s, e,
        |        MAX(e) OVER (PARTITION BY doc_id ORDER BY s
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |      FROM pos),
        |isl AS (SELECT doc_id, s, e,
        |        SUM(CASE WHEN pm IS NULL OR s > pm + 1 THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY s
        |            ROWS UNBOUNDED PRECEDING) AS island
        |        FROM m),
        |spans AS (SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e
        |          FROM isl GROUP BY doc_id, island),
        |segs AS (SELECT doc_id, s, e,
        |    coalesce(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1
        |      AS ks
        |  FROM spans),
        |cln AS (
        |  SELECT sg.doc_id,
        |    coalesce(string_agg(
        |      CASE WHEN sg.s > sg.ks
        |           THEN substring(dd.text, sg.ks, sg.s - sg.ks)
        |           ELSE '' END, '' ORDER BY sg.s), '')
        |      || substring(dd.text, MAX(sg.e) + 1) AS clean,
        |    CAST(COUNT(*) AS BIGINT) AS n_spans,
        |    CAST(SUM(sg.e - sg.s + 1) AS BIGINT) AS chars_removed
        |  FROM segs sg JOIN documents dd USING (doc_id)
        |  GROUP BY sg.doc_id, dd.text)
        |SELECT d.doc_id,
        |  CAST(length(coalesce(c.clean, d.text)) AS BIGINT) AS clean_len,
        |  md5(coalesce(c.clean, d.text)) AS clean_md5,
        |  coalesce(c.n_spans, 0) AS n_spans,
        |  coalesce(c.chars_removed, 0) AS chars_removed
        |FROM documents d LEFT JOIN cln c USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_er_link" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal,
        |    CAST(floor(c_acctbal / 500.0) AS BIGINT) AS bal_bucket
        |  FROM customer),
        |pairs AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
        |    (CASE WHEN a.c_mktsegment = b.c_mktsegment
        |          THEN CAST(2.0 AS DECIMAL(6,1))
        |          ELSE CAST(-1.5 AS DECIMAL(6,1)) END +
        |     CASE WHEN abs(a.c_acctbal - b.c_acctbal) <= 50.0
        |          THEN CAST(3.0 AS DECIMAL(6,1))
        |          ELSE CAST(-0.5 AS DECIMAL(6,1)) END +
        |     CASE WHEN abs(a.c_custkey - b.c_custkey) <= 5
        |          THEN CAST(1.0 AS DECIMAL(6,1))
        |          ELSE CAST(-0.3 AS DECIMAL(6,1)) END) AS score
        |  FROM c a JOIN c b
        |    ON a.c_nationkey = b.c_nationkey
        |   AND a.bal_bucket = b.bal_bucket
        |   AND a.c_custkey < b.c_custkey)
        |SELECT ka AS key_a, kb AS key_b, CAST(score AS DOUBLE) AS score
        |FROM pairs WHERE CAST(score AS DOUBLE) >= 1.5
        |ORDER BY key_a, key_b""".stripMargin
  )
}
