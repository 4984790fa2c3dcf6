package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions._
import graft.operators.Checkpoints.CutOps

/** SURVEY §2.10 — the text/search serving surface:
  *
  *  - T1 prefix autocomplete (GraphDB autocomplete REST,
  *    `cam/graphdb.py:5-35`, `cam/web/app.py:37-44`): tokenize into an
  *    inverted-index relation, prefix-filter, rank by document frequency.
  *  - T2 scored full-text query (Jena text index,
  *    `etl-notes-data-loading.md:100`): tf·idf scoring over query terms,
  *    ORDER BY score DESC LIMIT 10 (O5).
  *  - T3 faceted filter + sort + paginate (Redis FT query builder,
  *    `meili/main.py:50-105`): facet predicates + deterministic sort +
  *    offset/limit page, plus the facet-value counts (A7,
  *    `meili/main.py:36-47`).
  *
  * Scale notes: the inverted index is a groupBy shuffle keyed by token —
  * materialize it once and bucket by token for repeated queries; the
  * prefix filter pushes down as a range scan on a token-sorted layout.
  * Deep offset pagination requires a global sort; at 100 TB serve pages
  * keyset-style (WHERE sortkey > last_seen LIMIT n) instead — O4 is the
  * capability demo.
  */
object SearchQueries extends QueryCatalog {

  private val Terms = Seq("spark", "join", "fast")

  private def tokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(split(lower(normalizeWs(col("text"))), " ")).as("tok"))
      .filter(length(col("tok")) > 0)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T1: prefix autocomplete over the inverted index: tokens starting
    // 's', ranked by document frequency (df desc, token), top 10.
    "q_search_prefix" -> ((s, dir) => {
      tokens(s, dir)
        .filter(col("tok").startsWith("s"))
        .groupBy(col("tok"))
        .agg(countDistinct(col("doc_id")).as("df"),
          count(lit(1)).as("tf_total"))
        .orderBy(col("df").desc, col("tok"))
        .limit(10)
    }),

    // T1 at 100 TB (r10, VERDICT r9 next-#7): the SAME autocomplete
    // answer served from a materialized prefix index — built once
    // (token-keyed aggregate, parquet partitioned by first character),
    // then the query reads ONE pruned partition instead of tokenizing
    // the corpus. Same oracle as q_search_prefix by construction;
    // PlanAuditSpec pins the PartitionFilters pruning.
    "q_search_prefix_indexed" -> ((s, dir) => {
      val path = graft.operators.BuildOnce.scoped(tmp(s, "prefix_index"), dir)
      graft.operators.BuildOnce(path) {
        graft.operators.PrefixIndex.build(tokens(s, dir), path)
      }
      graft.operators.PrefixIndex.serve(s, path, "s")
    }),

    // Typo-tolerant autocomplete (r11, VERDICT r10 Missing #4 — the
    // Meilisearch capability): three misspelled queries ("sow" hits
    // both "row" and "slow"; "sparc" → "spark"; "scann" → "scan")
    // resolve through the SymSpell deletion-neighborhood index — an
    // equi-lookup on ≤ |q|+1 keys in ≤ 2 pruned partitions, then the
    // exact levenshtein ≤ 1 re-check and df ranking. Index builds once
    // per (application, sf-dir) — the offline half of the serving
    // contract; the oracle re-checks with DuckDB's own levenshtein
    // over the full dictionary (independent formulation: exhaustive
    // scan vs indexed neighborhood).
    "q_search_typo" -> ((s, dir) => {
      val path = tmp(s, f"typo_index_${dir.hashCode & 0x7fffffff}%08x")
      if (!java.nio.file.Files.exists(
          java.nio.file.Paths.get(path, "_SUCCESS")))
        graft.operators.PrefixIndex.buildTypo(tokens(s, dir), path)
      Seq("sow", "sparc", "scann")
        .map(q => graft.operators.PrefixIndex.serveTypo(s, path, q, 5)
          .withColumn("query", lit(q)))
        .reduce(_ unionByName _)
        .select(col("query"), col("tok"), col("df"))
        .orderBy(col("query"), col("df").desc, col("tok"))
    }),

    // T2: tf·idf scored search for a 3-term query. idf = ln(N/df); the
    // score is rounded in the OUTPUT only (ranking uses the raw double;
    // equal tf-vectors tie-break on doc_id).
    "q_search_scored" -> ((s, dir) => {
      val toks = tokens(s, dir)
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val tf = toks
        .filter(col("tok").isin(Terms: _*))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("tok"))
        .agg(countDistinct(col("doc_id")).as("df"))
      tf.join(broadcast(df), Seq("tok"))
        .crossJoin(broadcast(n))
        .withColumn("w",
          col("tf") * log(col("n_docs").cast("double") / col("df")))
        .groupBy(col("doc_id"))
        .agg(sum(col("w")).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
        .select(col("doc_id"), round(col("score"), 6).as("score"))
    }),

    // TF-IDF document-to-document similarity — text retrieval WITHOUT
    // embeddings (the sparse sibling of AnnQueries' dense cosine): each
    // doc becomes a unit-normalized tf·idf vector, and pair similarity is
    // a TERM-keyed inverted-index join summing weight products — only
    // docs sharing a term ever meet, so cost is Σ_term df(term)², not
    // N². At 100 TB the high-df stopword terms dominate that sum — the
    // classic posting-list prune drops them (a df threshold; this
    // corpus's tiny shared vocabulary only permits dropping df = N
    // terms, which carry idf = ln(1) = 0 anyway — on natural text the
    // threshold bites much lower). Query docs (id % 25 = 0) take top-3
    // neighbors; cosines ROUND to 6 dp before ranking so the rank is
    // identical across engines' float-summation orders.
    "q_search_tfidf_sim" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = tokens(s, dir)
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      // r14 opt (guide §2.4): tf feeds BOTH the df aggregate and the
      // weight projection, and unit feeds BOTH the query and corpus
      // legs of the inverted-index join — uncut, each consumer replayed
      // the tokenize + groupBy from the scan (the token explode ran 4×
      // per action). Two lazy cuts materialize each relation once.
      val tf = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).cast("double").as("tf"))
        .cutLineage(eager = false)
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      // r15: w feeds the norm aggregate AND the unit join leg, whose
      // exchanges differ (partial-agg vs plain), so ReuseExchange cannot
      // dedup them — one more lazy cut makes the idf projection compute
      // once per action
      val w = tf.join(broadcast(df), Seq("tok"))
        .crossJoin(broadcast(n))
        .filter(col("df") < col("n_docs"))
        .select(col("doc_id"), col("tok"),
          (col("tf") * log(col("n_docs").cast("double") / col("df")))
            .as("w"))
        .cutLineage(eager = false)
      val nrm = w.groupBy(col("doc_id"))
        .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
      val unit = w.join(nrm, Seq("doc_id"))
        .select(col("doc_id"), col("tok"), (col("w") / col("nrm")).as("u"))
        .cutLineage(eager = false)
      val q = unit.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("q_doc"), col("tok"), col("u").as("uq"))
      val sim = q.join(unit.filter(col("doc_id") % 25 =!= 0), Seq("tok"))
        .groupBy(col("q_doc"), col("doc_id"))
        .agg(round(sum(col("uq") * col("u")), 6).as("cosine"))
      val rk = Window.partitionBy(col("q_doc"))
        .orderBy(col("cosine").desc, col("doc_id"))
      sim.withColumn("rk", row_number().over(rk))
        .filter(col("rk") <= 3)
        .select(col("q_doc"), col("rk"), col("doc_id").as("match_doc"),
          col("cosine"))
        .orderBy(col("q_doc"), col("rk"))
    }),

    // T3: faceted filter + sort + paginate (page 2 of 10).
    "q_search_facet_page" -> ((s, dir) => {
      Tables.documents(s, dir)
        .filter(col("lang").isin("en", "de") &&
          col("n_chars").between(100, 400))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("n_chars").desc, col("doc_id"))
        .offset(5).limit(10)
    }),

    // A7/T3: distinct facet values with counts (FT.TAGVALS twin).
    "q_search_facet_counts" -> ((s, dir) => {
      Tables.documents(s, dir)
        .filter(col("n_chars").between(100, 400))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }),

    // BM25 ranking for the same 3-term query — the saturating upgrade of
    // q_search_scored's raw tf·idf (tf gains diminish via k1, long docs
    // are normalized via b·dl/avgdl). Same inverted-index shape: only the
    // tiny (n, avgdl) aggregate row is broadcast; tf/df are token-keyed
    // partial-aggregable groupBys. avgdl is an exact integer-sum / count,
    // so every per-doc term weight is deterministic double math — the only
    // engine-order float sum is the ≤3-term per-doc total, rounded 6 dp.
    "q_search_bm25" -> ((s, dir) => {
      val K1 = 1.2; val B = 0.75
      val toks = tokens(s, dir)
      val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dlen"))
      val stats = dl.agg(
        (sum(col("dlen")).cast("double") / count(lit(1))).as("ad"),
        count(lit(1)).as("n"))
      val tf = toks.filter(col("tok").isin(Terms: _*))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val idf = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      tf.join(broadcast(idf), Seq("tok"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(stats))
        .withColumn("w",
          log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
            col("tf") * lit(2.2) / // literal 2.2, NOT K1+1: the float sum
              // 1.2+1.0 can round differently than the literal both
              // engines' parsers produce
            (col("tf") + lit(K1) *
              (lit(1) - lit(B) + lit(B) * col("dlen") / col("ad"))))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("w")), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
    }),

    // Reciprocal-rank fusion (Cormack et al. 2009): merge two term
    // rankings by summing 1/(60+rank) — the standard way to combine
    // heterogeneous retrieval lists (BM25 + vector, here two term lists)
    // without score calibration. Each input list is ALREADY top-k
    // bounded (k=20), so the fusion join touches ≤ 2k rows no matter
    // the corpus size — rank windows run over the term's posting list,
    // never the whole corpus, and missing-from-list contributes zero
    // via the outer join.
    "q_search_rrf" -> ((s, dir) => {
      def ranked(term: String) = {
        val w = Window.orderBy(col("tf").desc, col("doc_id"))
        tokens(s, dir).filter(col("tok") === term)
          .groupBy(col("doc_id")).agg(count(lit(1)).as("tf"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 20)
          .select(col("doc_id"), col("rnk"))
      }
      ranked("spark").as("a")
        .join(ranked("table").as("b"), Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(
            coalesce(lit(1.0) / (lit(60) + col("a.rnk")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("b.rnk")), lit(0.0)),
            6).as("rrf_score"))
        .orderBy(col("rrf_score").desc, col("doc_id"))
        .limit(10)
    }),

    // HYBRID retrieval — the modern search stack in one plan: a lexical
    // leg (tf·idf over the inverted index, top-20) and a vector leg
    // (cosine against a query embedding, top-20) fused with reciprocal
    // ranks (RRF, k=60 — no score calibration needed across the two
    // modalities). Each leg is top-k-bounded BEFORE the fusion join, so
    // the fuse touches ≤40 rows regardless of corpus size; the vector
    // leg here is the brute-force demo shape — at scale it swaps for
    // the sign-LSH / IVF index with the fusion unchanged. doc_id and
    // vec_id share the key space by fixture contract.
    "q_search_hybrid" -> ((s, dir) => {
      val toks = tokens(s, dir)
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val tf = toks.filter(col("tok").isin(Terms: _*))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val idf = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val lex = tf.join(broadcast(idf), Seq("tok"))
        .crossJoin(broadcast(n))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf") * log(col("n_docs").cast("double") / col("df")))
          .as("lscore"))
        .withColumn("lrank", row_number().over(
          Window.orderBy(col("lscore").desc, col("doc_id"))))
        .filter(col("lrank") <= 20)
        .select(col("doc_id"), col("lrank"))
      import graft.operators.VectorSearch.dotSql
      val v = Tables.embeddings(s, dir)
        .withColumn("nrm", sqrt(expr(dotSql("embedding", "embedding"))))
      val q = v.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"), col("nrm").as("qn"))
      val vec = v.crossJoin(broadcast(q))
        .withColumn("cos",
          expr(dotSql("qe", "embedding")) / (col("qn") * col("nrm")))
        .withColumn("vrank", row_number().over(
          Window.orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("vrank") <= 20)
        .select(col("vec_id").as("doc_id"), col("vrank"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          round(
            coalesce(lit(1.0) / (lit(60) + col("lrank")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("vrank")), lit(0.0)),
            6).as("hybrid_score"))
        .orderBy(col("hybrid_score").desc, col("doc_id"))
        .limit(10)
    }),

    // Posting-list DELTA-GAP compression — the index-layout step after
    // q_search_postings: doc-id-sorted postings store first-id + gaps,
    // and the audit reports the variable-byte cost those gaps would
    // occupy (1 B < 2⁷, 2 B < 2¹⁴, else 3 B — the classic VByte model)
    // plus a decode self-check (Σ gaps = last id, hash-gated). All
    // array-local HOF math after one token-keyed groupBy; nothing but
    // fixed-width stats leaves the executor.
    "q_search_postings_dgaps" -> ((s, dir) => {
      val tf = tokens(s, dir).filter(col("tok").isin(Terms: _*))
        .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("tf"))
      tf.groupBy(col("tok"))
        .agg(sort_array(collect_list(col("doc_id"))).as("p"))
        .withColumn("gaps", expr(
          "transform(sequence(1, size(p)), " +
            "i -> IF(i = 1, p[0], p[i - 1] - p[i - 2]))"))
        .withColumn("vbyte_bytes", expr(
          "aggregate(gaps, cast(0 as bigint), (acc, g) -> acc + " +
            "CASE WHEN g < 128 THEN 1 WHEN g < 16384 THEN 2 ELSE 3 END)"))
        .withColumn("decode_ok",
          expr("aggregate(gaps, cast(0 as bigint), (acc, g) -> acc + g)")
            === expr("p[size(p) - 1]"))
        .select(col("tok"), size(col("p")).as("n_postings"),
          (size(col("p")) * 8).cast("long").as("raw_bytes"),
          col("vbyte_bytes"),
          round(col("vbyte_bytes").cast("double") / (size(col("p")) * 8), 6)
            .as("ratio"),
          col("decode_ok"))
        .orderBy(col("tok"))
    }),

    // KEYSET (seek-method) pagination — the 100 TB replacement for
    // OFFSET paging that q_sort_pagination demos (the scaladoc's O4
    // note, made real): page N+1 is fetched by PREDICATE on the last
    // row of page N — `(bal < b) OR (bal = b AND key > k)` — so the
    // engine never materializes/discards the preceding pages; with the
    // client-echoed boundary as a literal the predicate pushes into the
    // parquet scan and a sort-keyed layout prunes whole files. Here the
    // boundary (row 20 under the page ordering) is computed inline via
    // a min-over-struct of the bounded page prefix, so the query is
    // self-contained and SF-independent in shape.
    "q_search_keyset_page" -> ((s, dir) => {
      val base = graft.Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val boundary = base
        .orderBy(col("c_acctbal").desc, col("c_custkey")).limit(20)
        .agg(min(struct(col("c_acctbal").as("b"),
          negate(col("c_custkey")).as("nk"))).as("m"))
        .select(col("m.b").as("b_bal"), negate(col("m.nk")).as("b_key"))
      base.crossJoin(broadcast(boundary))
        .filter(col("c_acctbal") < col("b_bal") ||
          (col("c_acctbal") === col("b_bal") &&
            col("c_custkey") > col("b_key")))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .limit(10)
        .select(col("c_custkey"), col("c_name"),
          graft.functions.GraftFunctions.dec2(col("c_acctbal"))
            .cast("double").as("bal"))
    }),

    // Inverted-index build with TRUNCATED posting lists: per term, the
    // document frequency, total term frequency, and the top-5 postings
    // by tf (the impact-ordered prefix a WAND/impact-sorted index keeps
    // hot; Anh & Moffat 2006). This is the MATERIALIZATION step behind
    // T1-T3 — the index the search sink ships. Scale shape: one
    // token-keyed partial-aggregable groupBy; the rank window runs per
    // token over its own postings (never global); the truncated list is
    // assembled by an array_sort over ≤5 collected structs per term.
    "q_search_postings" -> ((s, dir) => {
      val tf = tokens(s, dir).filter(col("tok").isin(Terms: _*))
        .groupBy(col("tok"), col("doc_id")).agg(count(lit(1)).as("tf"))
      val w = Window.partitionBy(col("tok"))
        .orderBy(col("tf").desc, col("doc_id"))
      val stats = tf.groupBy(col("tok"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))
      val top = tf
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .groupBy(col("tok"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("rn"), col("doc_id")))),
          x => x.getField("doc_id")), ",").as("postings"))
      stats.join(top, Seq("tok")).orderBy(col("tok"))
    })
  )

  private val prefixOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(
      |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS tok
      |  FROM documents)
      |SELECT tok, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf_total
      |FROM toks WHERE tok LIKE 's%' AND length(tok) > 0
      |GROUP BY tok ORDER BY df DESC, tok LIMIT 10""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "q_search_tfidf_sim" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
        |  FROM toks WHERE length(tok) > 0 GROUP BY 1, 2),
        |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |nn AS (SELECT COUNT(*) AS n_docs FROM documents),
        |w AS (
        |  SELECT doc_id, t.tok, t.tf * ln(CAST(n_docs AS DOUBLE) / df) AS w
        |  FROM tf t JOIN dfreq USING (tok), nn
        |  WHERE df < n_docs),
        |nrm AS (
        |  SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY doc_id),
        |unit AS (
        |  SELECT w.doc_id, w.tok, w.w / nrm.nrm AS u
        |  FROM w JOIN nrm ON w.doc_id = nrm.doc_id),
        |sim AS (
        |  SELECT q.doc_id AS q_doc, d.doc_id,
        |    round(SUM(q.u * d.u), 6) AS cosine
        |  FROM unit q JOIN unit d
        |    ON q.tok = d.tok AND q.doc_id % 25 = 0 AND d.doc_id % 25 <> 0
        |  GROUP BY 1, 2),
        |ranked AS (
        |  SELECT q_doc, doc_id, cosine, row_number() OVER (
        |    PARTITION BY q_doc ORDER BY cosine DESC, doc_id) AS rk
        |  FROM sim)
        |SELECT q_doc, CAST(rk AS INT) AS rk, doc_id AS match_doc, cosine
        |FROM ranked WHERE rk <= 3 ORDER BY q_doc, rk""".stripMargin,
    "q_search_prefix" -> prefixOracle,
    // the indexed path must return the identical page
    "q_search_prefix_indexed" -> prefixOracle,
    // exhaustive levenshtein over the dictionary (DuckDB's builtin) vs
    // the engine's indexed deletion neighborhood — the index must
    // change nothing (terms shorter than 2 chars are outside the typo
    // contract on both sides)
    "q_search_typo" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        |dict AS (
        |  SELECT tok, COUNT(DISTINCT doc_id) AS df
        |  FROM toks WHERE length(tok) >= 2 GROUP BY tok)
        |SELECT * FROM (
        |  (SELECT 'sow' AS query, tok, df FROM dict
        |   WHERE levenshtein('sow', tok) <= 1
        |   ORDER BY df DESC, tok LIMIT 5)
        |  UNION ALL
        |  (SELECT 'sparc' AS query, tok, df FROM dict
        |   WHERE levenshtein('sparc', tok) <= 1
        |   ORDER BY df DESC, tok LIMIT 5)
        |  UNION ALL
        |  (SELECT 'scann' AS query, tok, df FROM dict
        |   WHERE levenshtein('scann', tok) <= 1
        |   ORDER BY df DESC, tok LIMIT 5))
        |ORDER BY query, df DESC, tok""".stripMargin,
    "q_search_scored" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        |  WHERE tok IN ('spark', 'join', 'fast') AND length(tok) > 0
        |  GROUP BY doc_id, tok),
        |idf AS (
        |  SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, SUM(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / idf.df)) AS score
        |  FROM tf JOIN idf ON tf.tok = idf.tok CROSS JOIN n
        |  GROUP BY tf.doc_id)
        |SELECT doc_id, round(score, 6) AS score FROM (
        |  SELECT doc_id, score FROM scored
        |  ORDER BY score DESC, doc_id LIMIT 10) top
        |ORDER BY score DESC, doc_id""".stripMargin,
    "q_search_facet_page" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang IN ('en', 'de') AND n_chars BETWEEN 100 AND 400
        |ORDER BY n_chars DESC, doc_id LIMIT 10 OFFSET 5""".stripMargin,
    "q_search_facet_counts" ->
      """SELECT lang, COUNT(*) AS n FROM documents
        |WHERE n_chars BETWEEN 100 AND 400
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_search_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        |tt AS (SELECT doc_id, tok FROM toks WHERE length(tok) > 0),
        |dl AS (SELECT doc_id, COUNT(*) AS dlen FROM tt GROUP BY doc_id),
        |stats AS (
        |  SELECT SUM(dlen)::DOUBLE / COUNT(*) AS ad, COUNT(*) AS n FROM dl),
        |tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf FROM tt
        |  WHERE tok IN ('spark', 'join', 'fast') GROUP BY doc_id, tok),
        |idf AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |sc AS (
        |  SELECT tf.doc_id,
        |    round(SUM(ln((n - df + 0.5) / (df + 0.5) + 1) * tf.tf * 2.2 /
        |      (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dlen / ad))), 6) AS score
        |  FROM tf JOIN idf USING (tok) JOIN dl ON tf.doc_id = dl.doc_id, stats
        |  GROUP BY tf.doc_id)
        |SELECT doc_id, score FROM sc
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "q_search_rrf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        |ra AS (
        |  SELECT doc_id, rnk FROM (
        |    SELECT doc_id, row_number() OVER (
        |      ORDER BY COUNT(*) DESC, doc_id) AS rnk
        |    FROM toks WHERE tok = 'spark' GROUP BY doc_id)
        |  WHERE rnk <= 20),
        |rb AS (
        |  SELECT doc_id, rnk FROM (
        |    SELECT doc_id, row_number() OVER (
        |      ORDER BY COUNT(*) DESC, doc_id) AS rnk
        |    FROM toks WHERE tok = 'table' GROUP BY doc_id)
        |  WHERE rnk <= 20)
        |SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
        |  round(coalesce(1.0::DOUBLE / (60 + ra.rnk), 0) +
        |        coalesce(1.0::DOUBLE / (60 + rb.rnk), 0), 6) AS rrf_score
        |FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id
        |ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin,

    "q_search_hybrid" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks
        |  WHERE tok IN ('spark', 'join', 'fast') GROUP BY doc_id, tok),
        |idf AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
        |lex AS (
        |  SELECT doc_id, row_number() OVER (
        |    ORDER BY SUM(tf * ln(CAST(n_docs AS DOUBLE) / df)) DESC,
        |      doc_id) AS lrank
        |  FROM tf JOIN idf USING (tok), n
        |  GROUP BY doc_id, n_docs),
        |lex20 AS (SELECT doc_id, lrank FROM lex WHERE lrank <= 20),
        |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |vec AS (
        |  SELECT vec_id AS doc_id, row_number() OVER (ORDER BY
        |    list_sum([qe[i]::DOUBLE * embedding[i]::DOUBLE
        |      for i in range(1, len(qe) + 1)]) /
        |    (sqrt(list_sum([qe[i]::DOUBLE * qe[i]::DOUBLE
        |      for i in range(1, len(qe) + 1)])) *
        |     sqrt(list_sum([embedding[i]::DOUBLE * embedding[i]::DOUBLE
        |      for i in range(1, len(embedding) + 1)]))) DESC,
        |    vec_id) AS vrank
        |  FROM embeddings, q),
        |vec20 AS (SELECT doc_id, vrank FROM vec WHERE vrank <= 20)
        |SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
        |  round(coalesce(1.0::DOUBLE / (60 + lrank), 0) +
        |        coalesce(1.0::DOUBLE / (60 + vrank), 0), 6)
        |    AS hybrid_score
        |FROM lex20 l FULL OUTER JOIN vec20 v ON l.doc_id = v.doc_id
        |ORDER BY hybrid_score DESC, doc_id LIMIT 10""".stripMargin,

    "q_search_postings_dgaps" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT tok, doc_id, COUNT(*) AS tf FROM toks
        |  WHERE tok IN ('spark', 'join', 'fast') GROUP BY tok, doc_id),
        |pl AS (SELECT tok, list_sort(list(doc_id)) AS p FROM tf
        |       GROUP BY tok),
        |g AS (
        |  SELECT tok, p,
        |    [CASE WHEN i = 1 THEN p[1] ELSE p[i] - p[i - 1] END
        |     for i in range(1, len(p) + 1)] AS gaps
        |  FROM pl),
        |c AS (
        |  SELECT tok, p, gaps,
        |    CAST(list_sum([CASE WHEN x < 128 THEN 1 WHEN x < 16384 THEN 2
        |      ELSE 3 END for x in gaps]) AS BIGINT) AS vbyte_bytes
        |  FROM g)
        |SELECT tok, CAST(len(p) AS INTEGER) AS n_postings,
        |  CAST(len(p) * 8 AS BIGINT) AS raw_bytes, vbyte_bytes,
        |  round(CAST(vbyte_bytes AS DOUBLE) / (len(p) * 8), 6) AS ratio,
        |  (CAST(list_sum(gaps) AS BIGINT) = p[len(p)]) AS decode_ok
        |FROM c ORDER BY tok""".stripMargin,

    "q_search_keyset_page" ->
      """WITH b AS (
        |  SELECT c_acctbal AS b_bal, c_custkey AS b_key FROM customer
        |  ORDER BY c_acctbal DESC, c_custkey LIMIT 1 OFFSET 19)
        |SELECT c_custkey, c_name,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |FROM customer, b
        |WHERE c_acctbal < b_bal
        |   OR (c_acctbal = b_bal AND c_custkey > b_key)
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin,

    "q_search_postings" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents),
        |tf AS (
        |  SELECT tok, doc_id, COUNT(*) AS tf FROM toks
        |  WHERE tok IN ('spark', 'join', 'fast') GROUP BY tok, doc_id),
        |stats AS (
        |  SELECT tok, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total
        |  FROM tf GROUP BY tok),
        |ranked AS (
        |  SELECT tok, doc_id, row_number() OVER (
        |    PARTITION BY tok ORDER BY tf DESC, doc_id) AS rn
        |  FROM tf),
        |top AS (
        |  SELECT tok, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn)
        |    AS postings
        |  FROM ranked WHERE rn <= 5 GROUP BY tok)
        |SELECT stats.tok, df, tf_total, postings
        |FROM stats JOIN top ON stats.tok = top.tok
        |ORDER BY stats.tok""".stripMargin
  )
}
