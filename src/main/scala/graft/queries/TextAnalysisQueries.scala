package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions._
import graft.operators.Checkpoints.CutOps

/** Text-analysis operators for the LLM-data-pipeline surface (builder
  * brief): language-ID (character-n-gram heuristic), quality scoring
  * (length/punctuation/stopword/uniqueness ratios), token counting
  * (whitespace + BPE-ish regex), and document fingerprinting (polynomial
  * rolling hash).
  *
  * Everything is a narrow per-row projection over the scan — no shuffle
  * except the final small aggregates — so the operators scale linearly
  * with corpus bytes and stay inside whole-stage codegen.
  *
  * Cross-engine parity notes: substring-occurrence counts use the
  * `(len(t) - len(replace(t, g, ''))) / len(g)` identity (replace exists
  * in both engines); ratios are int/int divisions (bit-identical); the
  * rolling hash folds characters left-to-right mod 1e9+7 in both engines.
  */
object TextAnalysisQueries extends QueryCatalog {

  /** Occurrences of literal `g` in column t — portable substring count. */
  private def occ(t: Column, g: String): Column =
    (length(t) - length(regexp_replace(t, java.util.regex.Pattern.quote(g), ""))) / g.length

  /** Per-language character-bigram profiles for the langid heuristic. */
  private val Profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("th", "he", "a "),
    "de" -> Seq("ch", "ei", "de"),
    "fr" -> Seq("le", "ou", "es"))

  private def langScore(t: Column, grams: Seq[String]): Column =
    grams.map(g => occ(t, g).cast("double") / length(t)).reduce(_ + _)

  private def normText(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        lower(normalizeWs(col("text"))).as("t"))
      .repartition(col("doc_id")) // single-split parquet → parallel HOFs
      .filter(length(col("t")) >= 1)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Benchmark decontamination (the drop-benchmark-text-from-train
    // pipeline step): word-8-gram overlap between the train split and a
    // held-out eval corpus (src0 plays the benchmark). Eval's distinct
    // gram set BROADCASTS — benchmarks are tiny by nature — so the train
    // side is scan → explode → broadcast join → count, no train shuffle
    // before the per-doc combine (operators/TextDedup.contaminationHits).
    "q_text_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.TextDedup.contaminationHits(
          docs.filter(col("source") =!= "src0"), col("doc_id"), col("text"),
          docs.filter(col("source") === "src0"), col("doc_id"), col("text"),
          n = 8)
        .orderBy(col("doc_id"))
    }),

    // Language ID: argmax of bigram-profile scores → confusion matrix
    // against the labelled lang column. (The synthetic corpus draws every
    // doc from one English-ish vocabulary, so the matrix shows exactly
    // that — which is the honest output of an n-gram heuristic here.)
    "q_text_langid" -> ((s, dir) => {
      val t = col("t")
      val scored = normText(s, dir)
        .withColumn("s_en", langScore(t, Profiles(0)._2))
        .withColumn("s_de", langScore(t, Profiles(1)._2))
        .withColumn("s_fr", langScore(t, Profiles(2)._2))
      scored
        .withColumn("pred_lang",
          when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"), "en")
            .when(col("s_de") >= col("s_fr"), "de")
            .otherwise("fr"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred_lang"))
    }),

    // Classifier evaluation — per-class precision/recall/F1 of the
    // langid heuristic against the labeled lang column: the confusion
    // cells reduce FIRST (map-side combinable), so the metric algebra
    // runs over a classes² relation no matter the corpus size. F1 uses
    // the 2·tp/(pt+at) identity — one division, no p·r/(p+r)
    // intermediate. The eval harness every model-training pipeline
    // bolts on, expressed as the same partial-aggregable shape as any
    // other rollup.
    "q_eval_class_metrics" -> ((s, dir) => {
      val t = col("t")
      val cells = normText(s, dir)
        .withColumn("s_en", langScore(t, Profiles(0)._2))
        .withColumn("s_de", langScore(t, Profiles(1)._2))
        .withColumn("s_fr", langScore(t, Profiles(2)._2))
        .withColumn("pred",
          when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr"),
            "en").when(col("s_de") >= col("s_fr"), "de").otherwise("fr"))
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"))
      // Reshape the 9-row cells relation in ONE pass: each cell credits
      // pred's predicted-total and lang's actual-total (tp when equal).
      // The previous tp/predTot/actTot 3-way self-join referenced the
      // cells subtree three times, and Spark planned three full corpus
      // scans + langScore passes (no cross-branch CSE) — 3× the work for
      // the same 5 rows. Classes are those with actual > 0, replicating
      // the old actTot-driven left joins.
      cells.select(explode(array(
          struct(col("pred").as("cls"), lit(0L).as("tp"),
            col("n").as("pt"), lit(0L).as("at")),
          struct(col("lang").as("cls"),
            when(col("lang") === col("pred"), col("n")).otherwise(0L)
              .as("tp"),
            lit(0L).as("pt"), col("n").as("at")))).as("c"))
        .groupBy(col("c.cls").as("cls"))
        .agg(sum(col("c.tp")).as("tp"), sum(col("c.pt")).as("pt"),
          sum(col("c.at")).as("at"))
        .filter(col("at") > 0)
        .select(col("cls"), col("tp"),
          col("pt").as("predicted"), col("at").as("actual"),
          round(when(col("pt") > 0, col("tp").cast("double") / col("pt"))
            .otherwise(0.0), 6).as("prec"), // "precision" is a reserved
                                            // type word in the oracle
          round(col("tp").cast("double") / col("at"), 6).as("recall"),
          round(lit(2.0) * col("tp") / (col("pt") + col("at")), 6).as("f1"))
        .orderBy(col("cls"))
    }),

    // ROC AUC via the Mann-Whitney rank-sum identity, tie-corrected
    // with midranks — the threshold-free ranking metric ("does the
    // score order positives above negatives?"). INTEGER arithmetic end
    // to end: the score stream collapses to per-distinct-score
    // (count, positives) pairs, midranks double to stay integral
    // (2·Σrank⁺ = Σ p·(2·cumBefore + c + 1)), and the only division is
    // the final AUC = (2Σrank⁺ − P(P+1)) / (2PN). The cumulative runs
    // over the score DOMAIN (the q_stats_ks shape). Synthetic label:
    // doc_id % 3 = 0; score: n_chars.
    "q_eval_auc" -> ((s, dir) => {
      val w = Window.orderBy(col("s"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val per = Tables.documents(s, dir)
        .select((col("doc_id") % 3 === 0).cast("long").as("y"),
          col("n_chars").as("s"))
        .groupBy(col("s"))
        .agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
        .withColumn("cum_before", coalesce(sum(col("c")).over(w), lit(0L)))
      per.agg(
          sum(col("p") * (lit(2) * col("cum_before") + col("c") + 1))
            .as("num2"),
          sum(col("p")).as("np"), sum(col("c") - col("p")).as("nn"))
        .select(col("np").as("n_pos"), col("nn").as("n_neg"),
          round((col("num2") - col("np") * (col("np") + 1)).cast("double") /
            (lit(2) * col("np") * col("nn")), 6).as("auc"))
    }),

    // END-TO-END CURATION FUNNEL — the composed pipeline a corpus owner
    // actually runs, as ONE relational plan: quality gate (the
    // q_text_quality_gate rules) → exact-dup canonicalization (md5
    // groupBy, min-id canonical) → benchmark decontamination
    // (TextDedup.contaminationHits vs the src0 eval split) → keep. The
    // FIRST failing stage names the drop ("1_" quality beats "2_" dup
    // beats "3_" contamination), and the output is the per-verdict
    // funnel every curation run reports. Composition is the point: all
    // three stages stay partial-aggregable joins over the one corpus
    // scan family — no stage materializes an intermediate corpus.
    "q_pipeline_curation" -> ((s, dir) => {
      import graft.operators.TextDedup
      val docs = Tables.documents(s, dir).filter(col("source") =!= "src0")
        .select(col("doc_id"), lower(normalizeWs(col("text"))).as("t"))
        .repartition(col("doc_id"))
        .filter(length(col("t")) >= 1)
      val quality = docs.withColumn("ws", split(col("t"), " "))
        .withColumn("n_words", size(col("ws")))
        .withColumn("rep_ratio",
          lit(1.0) - size(array_distinct(col("ws"))).cast("double") /
            col("n_words"))
        .withColumn("stop_cnt",
          size(filter(col("ws"), w => w.isin("the", "a"))))
        .withColumn("q_reason",
          when(col("n_words") < 5, "1_too_short")
            .when(col("rep_ratio") > 0.4, "1_repetitive")
            .when(col("stop_cnt") === 0, "1_no_stopwords"))
        .select(col("doc_id"), col("t"), col("q_reason"))
      val canon = docs.groupBy(md5(col("t")).as("h"))
        .agg(min(col("doc_id")).as("canon_id"))
      val contaminated = TextDedup.contaminationHits(
          Tables.documents(s, dir).filter(col("source") =!= "src0"),
          col("doc_id"), col("text"),
          Tables.documents(s, dir).filter(col("source") === "src0"),
          col("doc_id"), col("text"), n = 8)
        .select(col("doc_id"), lit(true).as("cont"))
      quality.withColumn("h", md5(col("t")))
        .join(canon, Seq("h"))
        .join(contaminated, Seq("doc_id"), "left")
        .withColumn("verdict", coalesce(col("q_reason"),
          when(col("doc_id") =!= col("canon_id"), "2_exact_dup"),
          when(col("cont"), "3_contaminated"), lit("4_keep")))
        .groupBy(col("verdict")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("verdict"))
    }),

    // Calibration curve (reliability table) — the companion readout to
    // q_eval_auc: does a predicted probability MEAN what it says? Scores
    // bucket into 10 fixed-width bins; each bin reports predicted-mean
    // vs observed positive rate and the |gap| that an expected-
    // calibration-error rollup would weight. Parity discipline: the bin
    // id is pure integer arithmetic ((m·10) div 997 — floors identically
    // in both engines), and both means are assembled from exact BIGINT
    // sums with ONE double division at the end, so bin membership and
    // 6-dp values can never drift cross-engine. Synthetic score m/996
    // from n_chars, label doc_id % 3 = 0 (same proxy family as the AUC).
    // NDCG@5 — THE graded-relevance ranking metric for retrieval /
    // recommender eval, next to q_eval_auc (binary ranking) and
    // q_eval_class_metrics (classification). Each order plays a query:
    // the "system" ranks its lines by extended price, graded relevance
    // is the quantity, and NDCG@5 = DCG over the system order ÷ DCG over
    // the ideal (relevance-sorted) order. Both rankings come from the
    // SAME per-order window exchange (two sorts, one shuffle); the
    // per-query metric is O(1) rows after the combine, and the report
    // groups by result-list length so truncation effects stay visible.
    // Eval runs on the o_orderkey % 20 hash-sample — eval sets are
    // samples by nature, and the mod filter pushes into the scan.
    // Tie discipline: row_number with the line number as tiebreak makes
    // both engines pick the identical top-5; IDCG is tie-order-invariant
    // by construction (equal relevance ⇒ equal term at swapped ranks).
    "q_eval_ndcg" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_orderkey"))
      val rnSys = row_number().over(
        w.orderBy(col("l_extendedprice").desc, col("l_linenumber")))
      val rnIdeal = row_number().over(
        w.orderBy(col("rel").desc, col("l_linenumber")))
      val per = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("rel"),
          col("l_extendedprice"))
        .withColumn("rn_sys", rnSys)
        .withColumn("rn_ideal", rnIdeal)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(when(col("rn_sys") <= 5,
            col("rel") / log2(col("rn_sys") + 1)).otherwise(0.0))
            .as("dcg"),
          sum(when(col("rn_ideal") <= 5,
            col("rel") / log2(col("rn_ideal") + 1)).otherwise(0.0))
            .as("idcg"))
      per.groupBy(col("n_items"))
        .agg(count(lit(1)).as("n_queries"),
          round(avg(col("dcg") / col("idcg")), 6).as("avg_ndcg"))
        .orderBy(col("n_items"))
    }),

    "q_eval_calibration" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select((col("doc_id") % 3 === 0).cast("long").as("y"),
          (col("n_chars") % 997).as("m"))
        .withColumn("bin", expr("(m * 10) div 997").cast("int"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("m")).as("sm"),
          sum(col("y")).as("p"))
        .select(col("bin"), col("n"),
          round(col("sm") / (lit(996.0) * col("n")), 6).as("mean_score"),
          round(col("p").cast("double") / col("n"), 6).as("frac_pos"),
          round(abs(round(col("p").cast("double") / col("n"), 6) -
            round(col("sm") / (lit(996.0) * col("n")), 6)), 6).as("gap"))
        .orderBy(col("bin"))
    }),

    // Quality scoring: stopword ratio, uniqueness, length saturation,
    // punctuation penalty → composite score and low/medium/high buckets.
    "q_text_quality" -> ((s, dir) => {
      normText(s, dir)
        .withColumn("ws", split(col("t"), " "))
        .withColumn("n_words", size(col("ws")))
        .withColumn("stop_ratio",
          size(filter(col("ws"), w => w.isin("the", "a"))).cast("double") /
            col("n_words"))
        .withColumn("uniq_ratio",
          size(array_distinct(col("ws"))).cast("double") / col("n_words"))
        .withColumn("punct_ratio",
          size(regexp_extract_all(col("t"), lit("[.,!?;:]"), lit(0)))
            .cast("double") / length(col("t")))
        .withColumn("score", round(
          lit(0.4) * col("stop_ratio") + lit(0.3) * col("uniq_ratio") +
            lit(0.2) * least(col("n_words").cast("double") / 100.0, lit(1.0)) +
            lit(0.1) * (lit(1.0) - col("punct_ratio")), 6))
        .withColumn("bucket",
          when(col("score") >= 0.35, "high")
            .when(col("score") >= 0.25, "medium")
            .otherwise("low"))
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("n_words"),
          round(col("stop_ratio"), 6).as("stop_ratio"),
          round(col("uniq_ratio"), 6).as("uniq_ratio"),
          col("score"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // Token counting: whitespace tokens vs BPE-ish regex tokens
    // (letter runs / digit runs / single other chars), per lang.
    "q_text_tokens" -> ((s, dir) => {
      normText(s, dir)
        .withColumn("ws_tokens", size(split(col("t"), " ")))
        .withColumn("bpe_tokens",
          size(regexp_extract_all(col("t"),
            lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("sum_ws_tokens"),
          sum(col("bpe_tokens")).as("sum_bpe_tokens"),
          round(sum(col("ws_tokens")).cast("double") / count(lit(1)), 6)
            .as("avg_ws_tokens"))
        .orderBy(col("lang"))
    }),

    // Sequence packing (r9): the concat-and-chunk example packer that
    // sits between the cleaned corpus and the trainer in every
    // pretraining pipeline — documents concatenated in deterministic
    // order and sliced into fixed context-length chunks (the packing
    // T5/GPT-style dataloaders ship, as opposed to first-fit bin
    // packing, which is inherently sequential). Per SHARD (the unit a
    // downstream dataloader owns) docs order by doc_id; ONE window
    // cumsum maps each doc to its token span [cum−toks, cum), so the
    // chunk ids it touches are pure integer arithmetic — no stateful
    // packer, no driver loop. Gate emits per-shard packing stats:
    // chunk count, chunk-boundary-straddling docs, tail padding waste
    // — all exact integers. 100 TB shape: shards are the parallelism
    // unit (8 here, O(10^5) in prod); each per-shard window sorts only
    // its own docs, and the stats combine map-side.
    "q_pack_sequences" -> ((s, dir) => {
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      normText(s, dir)
        .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
          size(split(col("t"), " ")).cast("long").as("toks"))
        .withColumn("cum", sum(col("toks")).over(w))
        .withColumn("first_chunk", expr("(cum - toks) div 512"))
        .withColumn("last_chunk", expr("(cum - 1) div 512"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("total_toks"),
          sum(when(col("first_chunk") =!= col("last_chunk"), 1L)
            .otherwise(0L)).as("straddlers"))
        .withColumn("n_chunks", expr("(total_toks - 1) div 512 + 1"))
        .withColumn("waste", expr("n_chunks * 512 - total_toks"))
        .select(col("shard"), col("n_docs"), col("total_toks"),
          col("n_chunks"), col("straddlers"), col("waste"))
        .orderBy(col("shard"))
    }),

    // Intra-document repetition signals (the Gopher-style quality rules
    // that catch boilerplate/keyword-stuffed docs DEDUP can't — dedup
    // compares across docs, these measure repetition WITHIN one):
    // token repeat ratio (1 − distinct/total), top-token mass, and the
    // fraction of word-bigram occurrences that are duplicated in-doc.
    // Shape at scale: per-doc signals only, so both combines are keyed by
    // doc_id (map-side combinable); the lazy checkpoint pins the bigram
    // transform out of the scan filter (PERF.md #12).
    "q_text_repetition" -> ((s, dir) => {
      import graft.operators.Checkpoints.CutOps
      val base = normText(s, dir)
        .select(col("doc_id"), split(col("t"), " ").as("ws"))
        .withColumn("bg",
          // sequence(1, 0) counts DOWN in Spark — guard short docs.
          when(size(col("ws")) >= 2, expr(
            """transform(sequence(1, size(ws) - 1),
              |  i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"""
              .stripMargin))
            .otherwise(expr("cast(array() as array<string>)")))
        .cutLineage(eager = false)
      val tok = base
        .select(col("doc_id"), explode(col("ws")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_c"))
      val big = base
        .select(col("doc_id"), explode(col("bg")).as("b"))
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("bg_total"),
          sum(when(col("c") > 1, col("c")).otherwise(lit(0))).as("bg_dup"))
      tok.join(big, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          round(lit(1.0) -
            col("n_distinct").cast("double") / col("n_tokens"), 6)
            .as("rep_ratio"),
          round(col("top_c").cast("double") / col("n_tokens"), 6)
            .as("top_tok_frac"),
          round(coalesce(col("bg_dup").cast("double") / col("bg_total"),
            lit(0.0)), 6).as("dup_bigram_frac"))
        .orderBy(col("doc_id"))
    }),

    // PII-style redaction + pseudonymization (training corpora scrub
    // identifiers before the text ships): numeric IDs in the name column
    // are replaced with a <ID> tag, and a stable md5 pseudonym preserves
    // join-ability across the corpus without exposing the raw value —
    // same value → same pseudonym on every engine, run, and partition
    // (the rule all the sampling/dedup keys here follow). Pure per-row
    // column expressions: redaction at 100 TB is exactly a scan.
    "q_text_redact" -> ((s, dir) => {
      Tables.customer(s, dir)
        .filter(col("c_custkey") % 25 === 0)
        .select(col("c_custkey"),
          regexp_replace(col("c_name"), "[0-9]+", "<ID>").as("redacted"),
          md5(regexp_extract(col("c_name"), "([0-9]+)", 1)).as("pseudonym"))
        .orderBy(col("c_custkey"))
    }),

    // Document fingerprint: order-sensitive polynomial rolling hash over
    // the characters, mod 1e9+7 — unlike the set-based dedup sketches,
    // any reordering changes the fingerprint.
    "q_text_fingerprint" -> ((s, dir) => {
      normText(s, dir)
        .withColumn("fp", expr(
          """aggregate(
            |  transform(sequence(1, length(t)), i -> ascii(substring(t, i, 1))),
            |  cast(0 as bigint), (acc, c) -> (acc * 31 + c) % 1000000007)""".stripMargin))
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("fp"))
        .orderBy(col("doc_id"))
    }),

    // Character-distribution Shannon entropy (bits/char) — the
    // model-free compressibility signal quality pipelines use to drop
    // mojibake, binary-ish spill and keyboard-mash documents (low OR
    // implausibly high entropy are both red flags; natural language sits
    // ~4 bits). Per-doc char histogram = one partial-aggregable groupBy;
    // counts are exact integers, so the only engine-order float sum is
    // the ≤|alphabet| -Σp·ln(p) terms, rounded 6 dp.
    // Zipf rank-frequency fit — the corpus-health profile a tokenizer /
    // data-mix pipeline checks first: natural text follows freq ∝
    // rank^s with s ≈ −1, and a slope far off (or a low R²) flags
    // synthetic, boilerplate-heavy, or mis-extracted corpora. Token
    // counts are one map-side-combinable aggregate; the rank is a
    // window over the VOCABULARY domain (|V| ≪ corpus — at web scale
    // range-partition it via GlobalRank like every global ordering
    // here); the OLS of ln(freq) on ln(rank) reduces to six
    // partial-aggregable sums and does all division in the final
    // one-row projection.
    "q_text_zipf" -> ((s, dir) => {
      val tok = Tables.documents(s, dir)
        .select(explode(expr(
          """filter(split(lower(regexp_replace(trim(text), '\\s+', ' ')),
            | ' '), x -> length(x) > 0)""".stripMargin.replace("\n", "")))
          .as("tok"))
      val ranked = tok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("c").desc, col("tok"))))
      val sums = ranked
        .select(log(col("r").cast("double")).as("x"),
          log(col("c").cast("double")).as("y"))
        .agg(count(lit(1)).as("v"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sx2"),
          sum(col("y") * col("y")).as("sy2"))
      val num = col("v") * col("sxy") - col("sx") * col("sy")
      val dx = col("v") * col("sx2") - col("sx") * col("sx")
      val dy = col("v") * col("sy2") - col("sy") * col("sy")
      sums.select(col("v").as("vocab"),
        round(num / dx, 6).as("slope"),
        round((col("sy") - (num / dx) * col("sx")) / col("v"), 6)
          .as("intercept"),
        round(num * num / (dx * dy), 6).as("r2"))
    }),

    // Unicode NFC canonicalization BEFORE exact dedup — multi-source
    // corpora mix precomposed (U+00E9) and decomposed (e + U+0301)
    // encodings of the same text, which are byte-different and so leak
    // straight past every hash-keyed dedup in this catalog. The scan-time
    // fix is graft_nfc, one static call of the kernel plans/NfcNormalize
    // (java.text.Normalizer, quick-check fast path for already-NFC
    // ASCII). The testdata is ASCII, so the query PLANTS the hazard:
    // each doc prefix is emitted once precomposed and once decomposed —
    // raw distinct counts both variants, NFC-distinct collapses them
    // (n_nfc = n_raw / 2 by construction, and the digest of the
    // normalized strings is hash-gated). Oracle independence: DuckDB
    // normalizes with utf8proc's NFC, a second implementation of TR#15.
    "q_text_nfc_dedup" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          substring(trim(col("text")), 1, 40).as("t"))
      val pre = d.select(col("doc_id"), col("source"),
        concat(lit("caf\u00e9 "), col("t")).as("s"))
      val dec = d.select(col("doc_id"), col("source"),
        concat(lit("cafe\u0301 "), col("t")).as("s"))
      pre.unionByName(dec)
        .withColumn("nfc", expr("graft_nfc(s)"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("s")).as("n_raw"),
          countDistinct(col("nfc")).as("n_nfc"),
          min(md5(col("nfc"))).as("nfc_digest"))
        .orderBy(col("source"))
    }),

    // URL canonicalization + dedup (r9): the web-corpus ingest step
    // every crawl pipeline runs before exact dedup — scheme/host
    // lowercasing, `www.` strip, default-port drop, fragment drop,
    // tracking-param (`utm_*`) removal, query-param sort, trailing-
    // slash strip — then a hash-groupBy on the canonical form. Messy
    // URLs are synthesized deterministically from doc_id (both engines
    // build the identical input string); each side then canonicalizes
    // with its OWN machinery — Spark's native parse_url expression +
    // higher-order filter/sort_array here, regexp_extract + list
    // lambdas in the oracle — so the normalization logic is genuinely
    // independently implemented. Pure projection + one groupBy shuffle:
    // canonical-URL dedup at crawl scale is exactly this shape.
    "q_text_url_canonicalize" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"))
      val messy = d.withColumn("url", concat(
        when(col("doc_id") % 2 === 0, lit("HTTP://")).otherwise(lit("HTTPS://")),
        lit("WWW.Example"), (col("doc_id") % 5).cast("string"),
        lit(".COM"),
        when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit(":443")),
        lit("/Api/V"), (col("doc_id") % 4).cast("string"), lit("/items"),
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=feed&b="), (col("doc_id") % 3).cast("string"),
        lit("&a=1&utm_campaign=x"),
        lit("#frag"), (col("doc_id") % 7).cast("string")))
      val parsed = messy
        .withColumn("scheme", lower(expr("parse_url(url, 'PROTOCOL')")))
        .withColumn("host", regexp_replace(
          lower(expr("parse_url(url, 'HOST')")), "^www\\.", ""))
        .withColumn("path0", expr("parse_url(url, 'PATH')"))
        .withColumn("path", when(col("path0") === "/", col("path0"))
          .otherwise(regexp_replace(col("path0"), "/$", "")))
        .withColumn("qs", array_join(sort_array(
          expr("filter(split(parse_url(url, 'QUERY'), '&')," +
            " p -> NOT startswith(p, 'utm_'))")), "&"))
      parsed
        .withColumn("canon", concat(col("scheme"), lit("://"),
          col("host"), col("path"),
          when(col("qs") === "" || col("qs").isNull, lit(""))
            .otherwise(concat(lit("?"), col("qs")))))
        .groupBy(col("canon"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("canon"))
    }),

    "q_text_entropy" -> ((s, dir) => {
      // r14 opt audit: cnt feeds the total AND the join, but the two
      // subtrees are identical, so ReuseExchange already dedups the
      // explode+groupBy — a lineage cut measured flat (2.08→2.03 s)
      // and was not kept.
      val cnt = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .withColumn("i", explode(sequence(lit(1), length(col("text")))))
        .select(col("doc_id"), expr("substring(text, i, 1)").as("c"))
        .groupBy(col("doc_id"), col("c")).agg(count(lit(1)).as("k"))
      val tot = cnt.groupBy(col("doc_id")).agg(sum(col("k")).as("n"))
      cnt.join(tot, Seq("doc_id"))
        .withColumn("p", col("k").cast("double") / col("n"))
        .groupBy(col("doc_id"))
        .agg(round(-sum(col("p") * log(col("p"))) / math.log(2.0), 6)
          .as("entropy_bits"))
        .orderBy(col("doc_id"))
    }),

    // Bigram collocations by pointwise mutual information — phrase
    // mining for tokenizer/vocab construction: which adjacent token
    // pairs co-occur far above chance (PMI = ln p(a,b)/(p(a)p(b)), with
    // a min-count floor to kill the low-frequency PMI explosion). The
    // bigram explode is a shuffle-free scan projection; pair/unigram
    // counts are partial-aggregable groupBys keyed by the pair/token;
    // the two unigram relations ride back in broadcast joins. All
    // probabilities are exact-integer-count ratios — the only float op
    // is the final ln, identical on identical doubles.
    "q_text_bigram_pmi" -> ((s, dir) => {
      val pairs = Tables.documents(s, dir)
        .select(expr(
          """filter(split(lower(regexp_replace(trim(text), '\\s+', ' ')),
            | ' '), x -> length(x) > 0)""".stripMargin.replace("\n", ""))
          .as("t"))
        .filter(size(col("t")) >= 2)
        .select(explode(expr(
          """transform(sequence(1, size(t) - 1),
            | i -> named_struct('a', t[i - 1], 'b', t[i]))"""
            .stripMargin.replace("\n", ""))).as("pr"))
        .select(col("pr.a").as("a"), col("pr.b").as("b"))
      val pc = pairs.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("cab"))
      val tp = pc.agg(sum(col("cab")).as("tpairs"))
      val ua = pairs.groupBy(col("a")).agg(count(lit(1)).as("ca"))
      val ub = pairs.groupBy(col("b")).agg(count(lit(1)).as("cb"))
      pc.join(broadcast(ua), Seq("a")).join(broadcast(ub), Seq("b"))
        .crossJoin(broadcast(tp))
        .filter(col("cab") >= 5)
        .select(col("a"), col("b"), col("cab"),
          round(log((col("cab").cast("double") / col("tpairs")) /
            ((col("ca").cast("double") / col("tpairs")) *
              (col("cb").cast("double") / col("tpairs")))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("a"), col("b"))
        .limit(20)
    }),

    // Corpus curation gate — the keep/drop POLICY a training pipeline
    // applies on top of the raw signals (q_text_quality scores,
    // q_text_repetition ratios): first matching drop reason wins, and the
    // output is the per-reason audit summary a pipeline owner reviews
    // before shipping the cut. Pure per-row signal math + one tiny
    // aggregate — the corpus-sized stage is a single codegen'd scan pass.
    "q_text_quality_gate" -> ((s, dir) => {
      normText(s, dir)
        .withColumn("ws", split(col("t"), " "))
        .withColumn("n_words", size(col("ws")))
        .withColumn("rep_ratio",
          lit(1.0) - size(array_distinct(col("ws"))).cast("double") /
            col("n_words"))
        .withColumn("stop_cnt",
          size(filter(col("ws"), w => w.isin("the", "a"))))
        .withColumn("reason",
          when(col("n_words") < 5, "too_short")
            .when(col("rep_ratio") > 0.4, "repetitive")
            .when(col("stop_cnt") === 0, "no_stopwords")
            .otherwise("keep"))
        .groupBy(col("reason"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_words")), 6).as("avg_words"),
          round(avg(col("rep_ratio")), 6).as("avg_rep_ratio"))
        .orderBy(col("reason"))
    }),

    // TF-IDF keyword extraction: top-3 highest-scoring tokens per doc —
    // the per-document topical summary a corpus-curation pipeline tags
    // documents with. Corpus stats are global (tf feeds df via a second
    // partial-aggregable groupBy; tf is lineage-cut so the token scan runs
    // once); the token→df join is TOKEN-keyed — a shuffle join, NOT a
    // broadcast, because a 100 TB corpus's vocabulary is itself huge (same
    // shape rationale as q_lm_unigram_score). Only the single-row doc
    // count broadcasts. Ranking uses the ROUNDED score on both engines so
    // a last-ulp ln() difference can never flip a rank; the literal
    // rank <= 3 compiles to WindowGroupLimit (map-side partial top-k).
    // The doc_id % 5 gate bounds only the materialized output — df/nd are
    // full-corpus statistics.
    "q_text_keywords" -> ((s, dir) => {
      import graft.operators.Checkpoints.CutOps
      val toks = normText(s, dir)
        .select(col("doc_id"), explode(split(col("t"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      val tf = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
        .cutLineage(eager = false)
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val nd = normText(s, dir).agg(count(lit(1)).as("nd"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("tok"))
      tf.filter(col("doc_id") % 5 === 0)
        .join(dfreq, Seq("tok"))
        .crossJoin(broadcast(nd))
        .withColumn("score", round(col("tf") *
          log((col("nd") + 1).cast("double") / (col("df") + 1)), 6))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("tok"), col("score"))
        .orderBy(col("doc_id"), col("rnk"))
    }),

    // One BPE merge-learning step: corpus-wide counts of ADJACENT symbol
    // pairs — the statistic a tokenizer trainer maximizes at every merge
    // (Sennrich et al. 2016), here at word granularity over the corpus.
    // Positional pairs explode ~|words| rows/doc and collapse in one
    // partial-aggregable groupBy; the top-20 is a TakeOrderedAndProject,
    // never a global sort. Iterating merges = re-running this with the
    // learned vocabulary applied — each step the same one-shuffle plan.
    "q_text_bpe_pairs" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(split(trim(col("text")), "\\s+").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => concat_ws(" ", element_at(col("ws"), i),
            element_at(col("ws"), i + 1)))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(20)
    }),

    // BPE merge APPLICATION (operators/BpeEncode) — the tokenizer-side
    // twin of the pair mining above: the top-3 mined pairs become an
    // ordered merge-rule list, each rule is one doc-partitioned window
    // pass with greedy left-to-right non-overlap inside match runs, and
    // the result is digested per doc. The rule list is the only
    // driver-side state (3 rows — the Lloyd/GD discipline).
    "q_text_bpe_encode" -> ((s, dir) => {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val toks = Tables.documents(s, dir)
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), posexplode(split(trim(col("text")), "\\s+")))
        .toDF("doc_id", "p0", "tok")
        .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
        .cutLineage(eager = false)
      val rules = toks
        .withColumn("nxt", lead(col("tok"), 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(concat_ws(" ", col("tok"), col("nxt")).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(3)
        .collect().toSeq.map { r =>
          val Array(a, b) = r.getString(0).split(" ", 2)
          (a, b)
        }
      graft.operators.BpeEncode.applyMerges(toks, rules)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          md5(concat_ws(" ",
            expr("transform(array_sort(collect_list(struct(pos, tok)))," +
              " x -> x.tok)"))).as("digest"))
        .orderBy(col("doc_id"))
    }),

    // Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    // SIGMOD'03 — the MOSS algorithm): k-gram rolling hashes, then keep
    // the MINIMUM hash of every w-length window. Guarantees detection of
    // matches ≥ w+k−1 chars while storing ~2/(w+1) of the hashes — the
    // storage/recall contract plain fingerprinting (q_text_fingerprint)
    // lacks. Pure per-row HOF pipeline (hash array → window minima →
    // distinct set): scan-side, codegen'd, zero shuffle until the tiny
    // gated projection.
    "q_text_winnowing" -> ((s, dir) => {
      val K = 8; val W = 4
      // The O(len·k) rolling-hash ARRAY materializes once per document
      // behind a lineage cut; without the cut, project collapsing
      // inlines it into the per-window lambda AND the size/digest
      // references — O(len²·k) per document, a measured hang at sf0.1
      // (bench's count() hid it by pruning the column away).
      val hashed = graft.operators.Checkpoints.cut(
        normText(s, dir)
          .filter(length(col("t")) >= K + W - 1 && col("doc_id") % 10 === 0)
          .withColumn("hs",
            expr(graft.operators.TextDedup.winnowHashesSql("t", K)))
          .select(col("doc_id"), col("hs")),
        eager = false)
      hashed
        .withColumn("fps",
          expr(graft.operators.TextDedup.winnowSelectSql("hs", W)))
        .select(col("doc_id"), size(col("fps")).as("n_fp"),
          md5(concat_ws(",",
            expr("transform(fps, x -> cast(x as string))")))
            .as("fp_digest"))
        .orderBy(col("doc_id"))
    }),

    // Skip-gram co-occurrence counts (window ≤ 2) — the raw statistic
    // behind GloVe/word2vec-style embedding training and collocation
    // mining; distinct from q_text_bigram_pmi, which only sees ADJACENT
    // pairs. The distance-d pair lists come from per-row array zips (no
    // positional self-join: a position-keyed join would shuffle every
    // token twice), so the corpus-sized stage is scan → HOF → one
    // partial-aggregable groupBy on the pair key.
    "q_text_cooccurrence" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(expr(
          """filter(split(lower(regexp_replace(trim(text), '\\s+', ' ')),
            | ' '), x -> length(x) > 0)""".stripMargin.replace("\n", ""))
          .as("t"))
      def zipd(d: Int) = toks.filter(size(col("t")) > d)
        .select(explode(expr(
          s"""transform(sequence(1, size(t) - $d),
             | i -> named_struct('a', t[i - 1], 'b', t[i - 1 + $d]))"""
            .stripMargin.replace("\n", ""))).as("pr"))
      zipd(1).unionAll(zipd(2))
        .select(col("pr.a").as("a"), col("pr.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(20)
    }),

    // Vocabulary-coverage / OOV-rate audit: fit a top-K document-
    // frequency vocabulary, then measure per-source what share of tokens
    // falls OUTSIDE it — the tokenizer-fit health check run before
    // committing a vocab (a source with high OOV is about to be
    // shredded into bytes). The vocab is a top-K aggregate (tiny by
    // construction) BROADCAST onto the token stream; both corpus-sized
    // stages are partial-aggregable groupBys.
    "q_text_vocab_oov" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          explode(split(lower(normalizeWs(col("text"))), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      val vocab = toks.groupBy(col("tok"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .orderBy(col("df").desc, col("tok")).limit(15)
        .select(col("tok"), lit(true).as("in_vocab"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"),
          round(sum(when(col("in_vocab").isNull, 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("oov_rate"))
        .orderBy(col("source"))
    })
  )

  // ---- DuckDB twins ----------------------------------------------------

  private def duckOcc(t: String, g: String): String =
    s"(length($t) - length(replace($t, '$g', ''))) / ${g.length}"

  private def duckScore(t: String, grams: Seq[String]): String =
    grams.map(g => s"CAST(${duckOcc(t, g)} AS DOUBLE) / length($t)")
      .mkString(" + ")

  private val duckNorm =
    """norm AS (
      |  SELECT doc_id, lang,
      |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
      |  FROM documents WHERE length(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) >= 1)""".stripMargin

  /** Unrolled 3-rule replay of operators/BpeEncode: identical window
    * bookkeeping (run starts, running match count, even-offset fuse,
    * consumed-successor delete) layer by layer. */
  private def bpeEncodeOracle: String = {
    val wdef = "WINDOW w AS (PARTITION BY doc_id ORDER BY pos)"
    val cum = "w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    def ruleApp(i: Int, prev: String): String =
      s"""x${i}1 AS (SELECT doc_id, pos, tok, lead(tok) OVER w AS nxt
         |  FROM $prev $wdef),
         |x${i}2 AS (SELECT doc_id, pos, tok, nxt,
         |    coalesce(tok = r.a AND nxt = r.b, FALSE) AS m
         |  FROM x${i}1 CROSS JOIN r$i r),
         |x${i}3 AS (SELECT doc_id, pos, tok, nxt, m,
         |    (m AND NOT coalesce(lag(m) OVER w, FALSE)) AS run_start
         |  FROM x${i}2 $wdef),
         |x${i}4 AS (SELECT doc_id, pos, tok, nxt, m, run_start,
         |    sum(CASE WHEN m THEN 1 ELSE 0 END) OVER ($cum) AS rnm
         |  FROM x${i}3 $wdef),
         |x${i}5 AS (SELECT doc_id, pos, tok, nxt, m, rnm,
         |    max(CASE WHEN run_start THEN rnm END) OVER ($cum) AS base
         |  FROM x${i}4 $wdef),
         |x${i}6 AS (SELECT doc_id, pos, tok, nxt,
         |    (m AND (rnm - base) % 2 = 0) AS merged
         |  FROM x${i}5),
         |x${i}7 AS (SELECT doc_id, pos, tok, nxt, merged,
         |    coalesce(lag(merged) OVER w, FALSE) AS del
         |  FROM x${i}6 $wdef),
         |e$i AS (SELECT doc_id, row_number() OVER w AS pos,
         |    CASE WHEN merged THEN tok || ' ' || nxt ELSE tok END AS tok
         |  FROM x${i}7 WHERE NOT del $wdef)""".stripMargin
    s"""WITH t0 AS (
       |  SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos,
       |    unnest(ws) AS tok
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
       |        FROM documents WHERE length(trim(text)) > 0)),
       |pr AS (SELECT tok || ' ' ||
       |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS pair
       |  FROM t0),
       |rnk AS (SELECT pair,
       |    row_number() OVER (ORDER BY count(*) DESC, pair) AS rk
       |  FROM pr WHERE pair IS NOT NULL GROUP BY pair),
       |r1 AS (SELECT string_split(pair, ' ')[1] AS a,
       |    string_split(pair, ' ')[2] AS b FROM rnk WHERE rk = 1),
       |r2 AS (SELECT string_split(pair, ' ')[1] AS a,
       |    string_split(pair, ' ')[2] AS b FROM rnk WHERE rk = 2),
       |r3 AS (SELECT string_split(pair, ' ')[1] AS a,
       |    string_split(pair, ' ')[2] AS b FROM rnk WHERE rk = 3),
       |${ruleApp(1, "t0")},
       |${ruleApp(2, "e1")},
       |${ruleApp(3, "e2")}
       |SELECT doc_id, count(*) AS n_tok,
       |  md5(string_agg(tok, ' ' ORDER BY pos)) AS digest
       |FROM e3 GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  override def oracleSql: Map[String, String] = Map(
    "q_text_decontaminate" ->
      """WITH w AS (
        |  SELECT doc_id, source,
        |    string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source,
        |    list_distinct([array_to_string(ws[i:i+7], ' ')
        |                   for i in range(1, len(ws) - 6)]) AS sh
        |  FROM w WHERE len(ws) >= 8),
        |ev AS (SELECT DISTINCT unnest(sh) AS gram FROM sh
        |       WHERE source = 'src0'),
        |tr AS (SELECT doc_id, unnest(sh) AS gram FROM sh
        |       WHERE source <> 'src0')
        |SELECT tr.doc_id, COUNT(DISTINCT tr.gram) AS n_hits
        |FROM tr JOIN ev USING (gram)
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,
    "q_text_langid" ->
      s"""WITH $duckNorm,
         |scored AS (
         |  SELECT doc_id, lang,
         |    ${duckScore("t", Profiles(0)._2)} AS s_en,
         |    ${duckScore("t", Profiles(1)._2)} AS s_de,
         |    ${duckScore("t", Profiles(2)._2)} AS s_fr
         |  FROM norm)
         |SELECT lang,
         |  CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
         |       WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred_lang,
         |  COUNT(*) AS n
         |FROM scored GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin,
    "q_eval_class_metrics" ->
      s"""WITH $duckNorm,
         |scored AS (
         |  SELECT doc_id, lang,
         |    ${duckScore("t", Profiles(0)._2)} AS s_en,
         |    ${duckScore("t", Profiles(1)._2)} AS s_de,
         |    ${duckScore("t", Profiles(2)._2)} AS s_fr
         |  FROM norm),
         |cells AS (
         |  SELECT lang,
         |    CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
         |         WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred,
         |    COUNT(*) AS n
         |  FROM scored GROUP BY 1, 2),
         |tpc AS (SELECT lang AS cls, n AS tp FROM cells
         |        WHERE lang = pred),
         |ptc AS (SELECT pred AS cls, CAST(SUM(n) AS BIGINT) AS pt
         |        FROM cells GROUP BY pred),
         |atc AS (SELECT lang AS cls, CAST(SUM(n) AS BIGINT) AS act
         |        FROM cells GROUP BY lang)
         |SELECT atc.cls, coalesce(tp, 0) AS tp,
         |  coalesce(pt, 0) AS predicted, act AS actual,
         |  round(CASE WHEN coalesce(pt, 0) > 0
         |    THEN coalesce(tp, 0)::DOUBLE / pt ELSE 0 END, 6) AS prec,
         |  round(coalesce(tp, 0)::DOUBLE / act, 6) AS recall,
         |  round(2.0 * coalesce(tp, 0) / (coalesce(pt, 0) + act), 6) AS f1
         |FROM atc LEFT JOIN ptc USING (cls) LEFT JOIN tpc USING (cls)
         |ORDER BY cls""".stripMargin,

    "q_eval_auc" ->
      """WITH per AS (
        |  SELECT n_chars AS s, COUNT(*) AS c,
        |    CAST(SUM(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS p
        |  FROM documents GROUP BY n_chars),
        |cum AS (
        |  SELECT s, c, p,
        |    CAST(coalesce(SUM(c) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM per)
        |SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
        |  CAST(SUM(c - p) AS BIGINT) AS n_neg,
        |  round(CAST(SUM(p * (2 * cum_before + c + 1)) -
        |      SUM(p) * (SUM(p) + 1) AS DOUBLE) /
        |    (2 * SUM(p) * SUM(c - p)), 6) AS auc
        |FROM cum""".stripMargin,

    "q_pipeline_curation" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
        |  FROM documents WHERE source <> 'src0'
        |    AND length(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
        |      >= 1),
        |q AS (
        |  SELECT doc_id, t,
        |    len(string_split(t, ' ')) AS n_words,
        |    1.0 - len(list_distinct(string_split(t, ' ')))::DOUBLE /
        |      len(string_split(t, ' ')) AS rep_ratio,
        |    len(list_filter(string_split(t, ' '),
        |      w -> w IN ('the', 'a'))) AS stop_cnt
        |  FROM d),
        |qr AS (
        |  SELECT doc_id, t,
        |    CASE WHEN n_words < 5 THEN '1_too_short'
        |         WHEN rep_ratio > 0.4 THEN '1_repetitive'
        |         WHEN stop_cnt = 0 THEN '1_no_stopwords' END AS q_reason
        |  FROM q),
        |canon AS (
        |  SELECT md5(t) AS h, MIN(doc_id) AS canon_id FROM d GROUP BY 1),
        |w AS (
        |  SELECT doc_id, source,
        |    string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source,
        |    list_distinct([array_to_string(ws[i:i+7], ' ')
        |                   for i in range(1, len(ws) - 6)]) AS sh
        |  FROM w WHERE len(ws) >= 8),
        |ev AS (SELECT DISTINCT unnest(sh) AS gram FROM sh
        |       WHERE source = 'src0'),
        |tr AS (SELECT doc_id, unnest(sh) AS gram FROM sh
        |       WHERE source <> 'src0'),
        |cont AS (
        |  SELECT DISTINCT tr.doc_id FROM tr JOIN ev USING (gram)),
        |verdicts AS (
        |  SELECT qr.doc_id,
        |    COALESCE(qr.q_reason,
        |      CASE WHEN c.canon_id <> qr.doc_id THEN '2_exact_dup' END,
        |      CASE WHEN cont.doc_id IS NOT NULL THEN '3_contaminated' END,
        |      '4_keep') AS verdict
        |  FROM qr JOIN canon c ON md5(qr.t) = c.h
        |  LEFT JOIN cont ON qr.doc_id = cont.doc_id)
        |SELECT verdict, COUNT(*) AS n_docs
        |FROM verdicts GROUP BY verdict ORDER BY verdict""".stripMargin,

    "q_eval_ndcg" ->
      """WITH ranked AS (
        |  SELECT l_orderkey, CAST(l_quantity AS DOUBLE) AS rel,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_extendedprice DESC, l_linenumber) AS rn_sys,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_quantity DESC, l_linenumber) AS rn_ideal
        |  FROM lineitem WHERE l_orderkey % 20 = 0),
        |per AS (
        |  SELECT l_orderkey, COUNT(*) AS n_items,
        |    SUM(CASE WHEN rn_sys <= 5
        |        THEN rel / log2(rn_sys + 1) ELSE 0.0 END) AS dcg,
        |    SUM(CASE WHEN rn_ideal <= 5
        |        THEN rel / log2(rn_ideal + 1) ELSE 0.0 END) AS idcg
        |  FROM ranked GROUP BY l_orderkey)
        |SELECT n_items, COUNT(*) AS n_queries,
        |  round(AVG(dcg / idcg), 6) AS avg_ndcg
        |FROM per GROUP BY n_items ORDER BY n_items""".stripMargin,

    "q_eval_calibration" ->
      """WITH sc AS (
        |  SELECT CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y,
        |    n_chars % 997 AS m
        |  FROM documents),
        |b AS (
        |  SELECT CAST((m * 10) // 997 AS INT) AS bin,
        |    COUNT(*) AS n, SUM(m) AS sm, SUM(y) AS p
        |  FROM sc GROUP BY 1)
        |SELECT bin, n,
        |  round(sm / (996.0 * n), 6) AS mean_score,
        |  round(CAST(p AS DOUBLE) / n, 6) AS frac_pos,
        |  round(abs(round(CAST(p AS DOUBLE) / n, 6) -
        |    round(sm / (996.0 * n), 6)), 6) AS gap
        |FROM b ORDER BY bin""".stripMargin,

    "q_text_quality" ->
      s"""WITH $duckNorm,
         |f AS (
         |  SELECT doc_id, t, string_split(t, ' ') AS ws FROM norm),
         |feat AS (
         |  SELECT doc_id,
         |    len(ws) AS n_words,
         |    CAST(len(list_filter(ws, w -> w IN ('the', 'a'))) AS DOUBLE) / len(ws) AS stop_ratio,
         |    CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS uniq_ratio,
         |    CAST(len(regexp_extract_all(t, '[.,!?;:]')) AS DOUBLE) / length(t) AS punct_ratio
         |  FROM f)
         |SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
         |  round(stop_ratio, 6) AS stop_ratio,
         |  round(uniq_ratio, 6) AS uniq_ratio,
         |  round(0.4 * stop_ratio + 0.3 * uniq_ratio +
         |    0.2 * least(CAST(n_words AS DOUBLE) / 100.0, 1.0) +
         |    0.1 * (1.0 - punct_ratio), 6) AS score,
         |  CASE WHEN round(0.4 * stop_ratio + 0.3 * uniq_ratio +
         |    0.2 * least(CAST(n_words AS DOUBLE) / 100.0, 1.0) +
         |    0.1 * (1.0 - punct_ratio), 6) >= 0.35 THEN 'high'
         |   WHEN round(0.4 * stop_ratio + 0.3 * uniq_ratio +
         |    0.2 * least(CAST(n_words AS DOUBLE) / 100.0, 1.0) +
         |    0.1 * (1.0 - punct_ratio), 6) >= 0.25 THEN 'medium'
         |   ELSE 'low' END AS bucket
         |FROM feat WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin,
    "q_text_tokens" ->
      s"""WITH $duckNorm
         |SELECT lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len(string_split(t, ' '))) AS BIGINT) AS sum_ws_tokens,
         |  CAST(SUM(len(regexp_extract_all(t, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS sum_bpe_tokens,
         |  round(CAST(SUM(len(string_split(t, ' '))) AS DOUBLE) / COUNT(*), 6) AS avg_ws_tokens
         |FROM norm GROUP BY lang ORDER BY lang""".stripMargin,

    "q_pack_sequences" ->
      s"""WITH $duckNorm,
         |toks AS (SELECT doc_id, doc_id % 8 AS shard,
         |    CAST(len(string_split(t, ' ')) AS BIGINT) AS toks
         |  FROM norm),
         |spans AS (SELECT shard, doc_id, toks,
         |    SUM(toks) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
         |  FROM toks)
         |SELECT shard, COUNT(*) AS n_docs,
         |  CAST(SUM(toks) AS BIGINT) AS total_toks,
         |  CAST((SUM(toks) - 1) // 512 + 1 AS BIGINT) AS n_chunks,
         |  CAST(SUM(CASE WHEN (cum - toks) // 512 != (cum - 1) // 512
         |    THEN 1 ELSE 0 END) AS BIGINT) AS straddlers,
         |  CAST(((SUM(toks) - 1) // 512 + 1) * 512 - SUM(toks) AS BIGINT)
         |    AS waste
         |FROM spans GROUP BY shard ORDER BY shard""".stripMargin,
    "q_text_repetition" ->
      s"""WITH $duckNorm,
         |d AS (SELECT doc_id, string_split(t, ' ') AS ws FROM norm),
         |tok AS (SELECT doc_id, unnest(ws) AS w FROM d),
         |tc AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
         |ts AS (SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_distinct,
         |         MAX(c) AS top_c FROM tc GROUP BY 1),
         |bgl AS (SELECT doc_id,
         |          [ws[i] || ' ' || ws[i + 1] for i in range(1, len(ws))] AS bg
         |        FROM d),
         |bge AS (SELECT doc_id, unnest(bg) AS b FROM bgl),
         |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bge GROUP BY 1, 2),
         |bs AS (SELECT doc_id, SUM(c) AS bg_total,
         |         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS bg_dup
         |       FROM bc GROUP BY 1)
         |SELECT ts.doc_id,
         |  CAST(ts.n_tokens AS BIGINT) AS n_tokens,
         |  CAST(ts.n_distinct AS BIGINT) AS n_distinct,
         |  round(1.0 - CAST(ts.n_distinct AS DOUBLE) / ts.n_tokens, 6)
         |    AS rep_ratio,
         |  round(CAST(ts.top_c AS DOUBLE) / ts.n_tokens, 6) AS top_tok_frac,
         |  round(COALESCE(CAST(bs.bg_dup AS DOUBLE) / bs.bg_total, 0.0), 6)
         |    AS dup_bigram_frac
         |FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id
         |ORDER BY ts.doc_id""".stripMargin,
    "q_text_redact" ->
      """SELECT c_custkey,
        |  regexp_replace(c_name, '[0-9]+', '<ID>', 'g') AS redacted,
        |  md5(regexp_extract(c_name, '([0-9]+)', 1)) AS pseudonym
        |FROM customer WHERE c_custkey % 25 = 0
        |ORDER BY c_custkey""".stripMargin,
    "q_text_fingerprint" ->
      s"""WITH $duckNorm
         |SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      [CAST(ascii(substring(t, i, 1)) AS BIGINT)
         |       for i in range(1, length(t) + 1)]),
         |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
         |FROM norm WHERE doc_id % 10 = 0 ORDER BY doc_id""".stripMargin,
    "q_text_zipf" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split(
        |      lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' '),
        |    x -> length(x) > 0)) AS tok
        |  FROM documents),
        |c AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
        |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS r
        |       FROM c),
        |xy AS (SELECT ln(CAST(r AS DOUBLE)) AS x,
        |              ln(CAST(c AS DOUBLE)) AS y FROM rk),
        |s AS (SELECT COUNT(*) AS v, SUM(x) AS sx, SUM(y) AS sy,
        |        SUM(x * y) AS sxy, SUM(x * x) AS sx2, SUM(y * y) AS sy2
        |      FROM xy)
        |SELECT v AS vocab,
        |  round((v * sxy - sx * sy) / (v * sx2 - sx * sx), 6) AS slope,
        |  round((sy - ((v * sxy - sx * sy) / (v * sx2 - sx * sx)) * sx)
        |    / v, 6) AS intercept,
        |  round((v * sxy - sx * sy) * (v * sxy - sx * sy) /
        |    ((v * sx2 - sx * sx) * (v * sy2 - sy * sy)), 6) AS r2
        |FROM s""".stripMargin,

    "q_text_url_canonicalize" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'HTTPS://' END
        |    || 'WWW.Example' || CAST(doc_id % 5 AS VARCHAR) || '.COM'
        |    || CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END
        |    || '/Api/V' || CAST(doc_id % 4 AS VARCHAR) || '/items'
        |    || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
        |    || '?utm_source=feed&b=' || CAST(doc_id % 3 AS VARCHAR)
        |    || '&a=1&utm_campaign=x'
        |    || '#frag' || CAST(doc_id % 7 AS VARCHAR) AS url
        |  FROM documents),
        |nofrag AS (
        |  SELECT doc_id, str_split(url, '#')[1] AS u FROM base),
        |parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(u, '^([A-Za-z]+)://', 1)) AS scheme,
        |    regexp_replace(lower(
        |      regexp_extract(u, '^[A-Za-z]+://([^/?#:]+)', 1)),
        |      '^www\.', '') AS host,
        |    regexp_extract(u, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1)
        |      AS path0,
        |    regexp_extract(u, '\?([^#]*)', 1) AS query0
        |  FROM nofrag),
        |canon AS (
        |  SELECT doc_id,
        |    scheme || '://' || host ||
        |    CASE WHEN path0 = '/' THEN '/'
        |         ELSE regexp_replace(path0, '/$', '') END ||
        |    CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canon
        |  FROM (SELECT doc_id, scheme, host, path0,
        |    array_to_string(list_sort(list_filter(
        |      str_split(query0, '&'),
        |      x -> NOT starts_with(x, 'utm_'))), '&') AS qs
        |    FROM parts))
        |SELECT canon, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(doc_id) AS first_doc
        |FROM canon GROUP BY canon ORDER BY canon""".stripMargin,

    "q_text_nfc_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, source, substring(trim(text), 1, 40) AS t
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, source, 'caf' || chr(233) || ' ' || t AS s FROM d
        |  UNION ALL
        |  SELECT doc_id, source, 'cafe' || chr(769) || ' ' || t AS s FROM d)
        |SELECT source, COUNT(*) AS n_rows,
        |  COUNT(DISTINCT s) AS n_raw,
        |  COUNT(DISTINCT nfc_normalize(s)) AS n_nfc,
        |  min(md5(nfc_normalize(s))) AS nfc_digest
        |FROM u GROUP BY source ORDER BY source""".stripMargin,

    "q_text_entropy" ->
      """WITH pos AS (
        |  SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
        |  FROM documents),
        |cnt AS (
        |  SELECT doc_id, substr(text, i, 1) AS c, COUNT(*) AS k
        |  FROM pos GROUP BY doc_id, c),
        |tot AS (SELECT doc_id, SUM(k) AS n FROM cnt GROUP BY doc_id)
        |SELECT cnt.doc_id,
        |  round(-SUM((k::DOUBLE / n) * ln(k::DOUBLE / n)) / ln(2), 6)
        |    AS entropy_bits
        |FROM cnt JOIN tot USING (doc_id)
        |GROUP BY cnt.doc_id ORDER BY cnt.doc_id""".stripMargin,
    "q_text_bigram_pmi" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split(
        |      lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' '),
        |    x -> length(x) > 0) AS t
        |  FROM documents),
        |bg AS (
        |  SELECT unnest(list_zip(t[1:len(t) - 1], t[2:len(t)])) AS pr
        |  FROM toks WHERE len(t) >= 2),
        |pairs AS (SELECT pr[1] AS a, pr[2] AS b FROM bg),
        |pc AS (SELECT a, b, COUNT(*) AS cab FROM pairs GROUP BY a, b),
        |tp AS (SELECT SUM(cab) AS tpairs FROM pc),
        |ua AS (SELECT a, COUNT(*) AS ca FROM pairs GROUP BY a),
        |ub AS (SELECT b, COUNT(*) AS cb FROM pairs GROUP BY b)
        |SELECT pc.a, pc.b, cab,
        |  round(ln((cab::DOUBLE / tpairs) /
        |    ((ca::DOUBLE / tpairs) * (cb::DOUBLE / tpairs))), 6) AS pmi
        |FROM pc JOIN ua USING (a) JOIN ub USING (b), tp
        |WHERE cab >= 5
        |ORDER BY pmi DESC, pc.a, pc.b LIMIT 20""".stripMargin,

    "q_text_quality_gate" ->
      s"""WITH $duckNorm,
         |f AS (SELECT doc_id, string_split(t, ' ') AS ws FROM norm),
         |sig AS (
         |  SELECT doc_id, len(ws) AS n_words,
         |    1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
         |      AS rep_ratio,
         |    len(list_filter(ws, w -> w IN ('the', 'a'))) AS stop_cnt
         |  FROM f),
         |gated AS (
         |  SELECT doc_id, n_words, rep_ratio,
         |    CASE WHEN n_words < 5 THEN 'too_short'
         |         WHEN rep_ratio > 0.4 THEN 'repetitive'
         |         WHEN stop_cnt = 0 THEN 'no_stopwords'
         |         ELSE 'keep' END AS reason
         |  FROM sig)
         |SELECT reason, COUNT(*) AS n_docs,
         |  round(avg(n_words), 6) AS avg_words,
         |  round(avg(rep_ratio), 6) AS avg_rep_ratio
         |FROM gated GROUP BY reason ORDER BY reason""".stripMargin,

    "q_text_keywords" ->
      s"""WITH $duckNorm,
         |toks AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tok
         |         FROM norm),
         |tt AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
         |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tt GROUP BY 1, 2),
         |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
         |nd AS (SELECT COUNT(*) AS nd FROM norm),
         |scored AS (
         |  SELECT f.doc_id, f.tok,
         |    round(f.tf * ln((nd.nd + 1)::DOUBLE / (d.df + 1)), 6) AS score
         |  FROM tf f JOIN dfreq d ON f.tok = d.tok, nd
         |  WHERE f.doc_id % 5 = 0),
         |r AS (
         |  SELECT doc_id, tok, score, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, tok) AS rnk
         |  FROM scored)
         |SELECT doc_id, rnk, tok, score FROM r WHERE rnk <= 3
         |ORDER BY doc_id, rnk""".stripMargin,

    "q_text_bpe_pairs" ->
      """WITH w AS (
        |  SELECT string_split_regex(trim(text), '\s+') AS ws
        |  FROM documents),
        |p AS (
        |  SELECT ws[i] || ' ' || ws[i+1] AS pair
        |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
        |        FROM w WHERE len(ws) >= 2))
        |SELECT pair, count(*) AS cnt FROM p
        |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,

    "q_text_bpe_encode" -> bpeEncodeOracle,

    "q_text_winnowing" ->
      s"""WITH $duckNorm,
         |hs AS (
         |  SELECT doc_id,
         |    [list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        [CAST(ascii(substring(t, j, 1)) AS BIGINT)
         |         for j in range(i, i + 8)]),
         |      (acc, c) -> (acc * 31 + c) % 1000000007)
         |     for i in range(1, length(t) - 8 + 2)] AS hs
         |  FROM norm WHERE length(t) >= 11 AND doc_id % 10 = 0),
         |fp AS (
         |  SELECT doc_id, list_sort(list_distinct(
         |    [list_min(hs[i:i + 3]) for i in range(1, len(hs) - 2)])) AS fps
         |  FROM hs)
         |SELECT doc_id, CAST(len(fps) AS INTEGER) AS n_fp,
         |  md5(list_aggregate([CAST(x AS VARCHAR) for x in fps],
         |    'string_agg', ',')) AS fp_digest
         |FROM fp ORDER BY doc_id""".stripMargin,

    "q_text_cooccurrence" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split(
        |      lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' '),
        |    x -> length(x) > 0) AS t
        |  FROM documents),
        |pairs AS (
        |  SELECT unnest(list_zip(t[1:len(t) - 1], t[2:len(t)])) AS pr
        |  FROM toks WHERE len(t) > 1
        |  UNION ALL
        |  SELECT unnest(list_zip(t[1:len(t) - 2], t[3:len(t)])) AS pr
        |  FROM toks WHERE len(t) > 2)
        |SELECT pr[1] AS a, pr[2] AS b, COUNT(*) AS n
        |FROM pairs GROUP BY a, b
        |ORDER BY n DESC, a, b LIMIT 20""".stripMargin,

    "q_text_vocab_oov" ->
      """WITH toks AS (
        |  SELECT doc_id, source, unnest(string_split(
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        |tt AS (SELECT * FROM toks WHERE length(tok) > 0),
        |vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tt GROUP BY tok
        |    ORDER BY df DESC, tok LIMIT 15))
        |SELECT source, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  round(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)::DOUBLE /
        |    COUNT(*), 6) AS oov_rate
        |FROM tt LEFT JOIN vocab v ON tt.tok = v.tok
        |GROUP BY source ORDER BY source""".stripMargin
  )
}
