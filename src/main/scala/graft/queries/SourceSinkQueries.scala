package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions._
import graft.operators.Compaction
import graft.sources.Sources

/** SURVEY §2.1 source/sink breadth, oracle-checked through round-trips:
  * data leaves Spark through the sink under test, re-enters through the
  * source under test, and the DuckDB oracle checks the result against the
  * original parquet — any fidelity loss in either direction fails the
  * hash compare.
  *
  *  - CSV sink+source (S10/S5) with explicit schema on re-read,
  *  - CSV vocab → broadcast-join with fallback chain (S6/J10),
  *  - JDBC write-back + partitioned scan + pushdown-subquery scan
  *    (S12/S3/S2/S1) against embedded Derby — the same options drive any
  *    JDBC store; partitioned range scans replace the reference's
  *    server-side cursor at cluster scale.
  */
object SourceSinkQueries extends QueryCatalog {

  private val DerbyUrl = "jdbc:derby:memory:graftdb;create=true"

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S10 → S5: nation through a header CSV and back (explicit schema —
    // schema inference is an extra full pass at scale).
    "q_csv_roundtrip" -> ((s, dir) => {
      val out = Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      Sources.writeCsv(out, tmp(s, "nation_csv"))
      Sources.readCsv(s, tmp(s, "nation_csv"), out.schema)
        .orderBy(col("n_nationkey"))
    }),

    // S7 closed natively: the shp2pgsql twin. Two shapefile pairs (a
    // point layer + a polygon layer with an interior hole — the
    // reference's sites/postcode shapes) are written as deterministic
    // binary fixtures, then loaded DISTRIBUTED via sources/Shapefile
    // (binaryFile → per-file parse → geometry ⋈ .dbf attrs on record
    // order). The oracle states the expected relation as golden VALUES —
    // byte-offsets per the public ESRI spec, so a parser regression on
    // any field (record pairing, ring slicing, attr widths) hash-fails.
    "q_shp_load" -> ((s, dir) => {
      import graft.sources.Shapefile
      import graft.sources.Shapefile.{PointShape, PolygonShape}
      val base = tmp(s, "shp_fixture")
      Shapefile.writeShp(s"$base/sites.shp", Seq(
        PointShape(153.0, -27.5), PointShape(151.25, -33.9),
        PointShape(145.75, -16.9)))
      Shapefile.writeDbf(s"$base/sites.dbf",
        Seq(("NAME", 10), ("CODE", 4)),
        Seq(Seq("BRISBANE", "4000"), Seq("SYDNEY", "2000"),
          Seq("CAIRNS", "4870")))
      Shapefile.writeShp(s"$base/zones.shp", Seq(
        PolygonShape(Seq(
          Seq((0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0)),
          Seq((2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0), (2.0, 2.0)))),
        PolygonShape(Seq(
          Seq((20.0, 0.0), (20.0, 5.0), (25.0, 5.0), (25.0, 0.0), (20.0, 0.0))))))
      Shapefile.writeDbf(s"$base/zones.dbf",
        Seq(("NAME", 10), ("CODE", 4)),
        Seq(Seq("ZONE_A", "Z1"), Seq("ZONE_B", "Z2")))
      Shapefile.readShapefile(s, s"$base/*.shp", s"$base/*.dbf")
        .select(
          regexp_replace(regexp_extract(col("src_file"), "([^/]+)$", 1),
            "\\.shp$", "").as("layer"),
          col("record_no"), col("shape_type"),
          element_at(col("attrs"), "NAME").as("name"),
          element_at(col("attrs"), "CODE").as("code"),
          col("wkt"))
        .orderBy(col("layer"), col("record_no"))
    }),

    // S5b — error-TOLERANT CSV ingest: malformed rows quarantine into
    // the corrupt-record column instead of killing the load (PERMISSIVE
    // mode; the tabular twin of the N-Quads source's `rejects()` path).
    // A 100 TB ingest always contains garbage lines — the contract is
    // "load the good rows, count and keep the bad ones for triage", and
    // this gate pins exactly which rows survive typed parsing and which
    // quarantine, against a golden oracle over a deterministic fixture.
    "q_csv_quarantine" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val base = tmp(s, "csv_bad")
      val p = java.nio.file.Paths.get(s"$base/rows.csv")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, String.join("\n",
        "id,name,val",
        "1,alpha,1.5",
        "2,beta,not_a_number", // type failure → quarantined
        "oops,gamma,3.25",     // bad id → quarantined
        "4,delta,4.0",
        "5,epsilon,").getBytes("UTF-8"))
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("name", StringType),
        StructField("val", DoubleType),
        StructField("_corrupt_record", StringType)))
      s.read.option("header", "true").option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema).csv(s"$base/rows.csv")
        .select(col("id"), col("name"), col("val"),
          col("_corrupt_record").isNotNull.as("quarantined"),
          coalesce(col("_corrupt_record"), lit("")).as("raw_line"))
        .orderBy(col("name"))
    }),

    // ORC sink → source round-trip with a PUSHED filter on the re-read
    // (the second columnar format: same relational content must survive
    // the format change, and the predicate reaches the ORC scan).
    "q_orc_roundtrip" -> ((s, dir) => {
      val out = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          dec2(col("s_acctbal")).cast("double").as("bal"))
      Sources.writeOrc(out, tmp(s, "supp_orc"))
      Sources.readOrc(s, tmp(s, "supp_orc"))
        .filter(col("s_nationkey") < 10)
        .orderBy(col("s_suppkey"))
    }),

    // Bucketed-layout co-located join (SURVEY §4 "Indexing": bucketing is
    // the engine's btree replacement): both fact tables written with the
    // same bucket count on the join key, re-read through the session
    // catalog, joined WITHOUT a shuffle on either side (zero-exchange
    // join asserted in PlanAuditSpec). The oracle recomputes from the
    // base parquet and never sees the layout.
    "q_bucket_join_colocated" -> ((s, dir) => {
      val id = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
      val (ot, lt) = (s"graft_bkt_orders_$id", s"graft_bkt_lineitem_$id")
      Sources.writeBucketed(
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus")),
        ot, tmp(s, "bkt_orders"), "o_orderkey", buckets = 8)
      Sources.writeBucketed(
        Tables.lineitem(s, dir).select(col("l_orderkey"),
          dec2(col("l_quantity")).as("qty")),
        lt, tmp(s, "bkt_lineitem"), "l_orderkey", buckets = 8)
      Sources.readBucketed(s, ot)
        .join(Sources.readBucketed(s, lt),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), asMoney(sum(col("qty"))).as("sum_qty"))
        .orderBy(col("o_orderstatus"))
    }),

    // Small-file compaction (operators/Compaction): fragment the events
    // table into 64 files (what a micro-batch ingest leaves behind),
    // compact to 4 range-disjoint ts-sorted files, and report the
    // file-count audit + content checksum columns. Both file counts are
    // computed from REAL file listings (distinct input_file_name of each
    // read-back), so the gate fails if the compactor writes the wrong
    // layout; the content columns prove rewrite fidelity. The oracle
    // states the two expected counts and recomputes content from base
    // parquet.
    "q_compact_files" -> ((s, dir) => {
      val frag = tmp(s, "ev_frag")
      val comp = tmp(s, "ev_compact")
      Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("event_type"))
        .repartition(64)
        .write.mode("overwrite").parquet(frag)
      Compaction.compactToSortedFiles(
        s.read.parquet(frag), comp, nFiles = 4,
        Seq(col("ts"), col("event_id")))
      s.read.parquet(comp)
        .agg(count(lit(1)).as("n_rows"),
          epochMs(min(col("ts"))).as("min_ms"),
          epochMs(max(col("ts"))).as("max_ms"),
          sum(col("event_id")).as("sum_ids"))
        .crossJoin(broadcast(s.read.parquet(frag)
          .select(input_file_name().as("f"))
          .agg(countDistinct(col("f")).as("n_files_before"))))
        .crossJoin(broadcast(s.read.parquet(comp)
          .select(input_file_name().as("f"))
          .agg(countDistinct(col("f")).as("n_files_after"))))
    }),

    // Zone-map / layout-locality audit — WHY q_compact_files sorts:
    // the same one-day predicate touches every file of the fragmented
    // 64-way layout but exactly ONE of the 4 range-sorted files (each
    // file owns a disjoint ts range, so its parquet min/max stats
    // exclude the rest — the data-skipping contract). All five audit
    // numbers are computed from real file listings / row counts via
    // single-row aggregates (no driver-side collect); the oracle pins
    // the expected locality plus the day's row count from base parquet.
    "q_compact_prune" -> ((s, dir) => {
      val frag = tmp(s, "ev_prune_frag")
      val comp = tmp(s, "ev_prune_sorted")
      val ev = Tables.events(s, dir).select(col("event_id"), col("ts"))
      ev.repartition(64).write.mode("overwrite").parquet(frag)
      Compaction.compactToSortedFiles(
        s.read.parquet(frag), comp, nFiles = 4,
        Seq(col("ts"), col("event_id")))
      val day0 = lit("2024-01-03").cast("date")
      def touched(path: String) =
        s.read.parquet(path).filter(to_date(col("ts")) === day0)
          .select(input_file_name().as("f"))
          .agg(countDistinct(col("f")).as("n"))
      def total(path: String) =
        s.read.parquet(path).select(input_file_name().as("f"))
          .agg(countDistinct(col("f")).as("n"))
      s.read.parquet(comp).filter(to_date(col("ts")) === day0)
        .agg(count(lit(1)).as("n_rows_day"))
        .crossJoin(broadcast(touched(comp).toDF("files_touched_sorted")))
        .crossJoin(broadcast(total(comp).toDF("files_total_sorted")))
        .crossJoin(broadcast(touched(frag).toDF("files_touched_frag")))
        .crossJoin(broadcast(total(frag).toDF("files_total_frag")))
    }),

    // Idempotent single-partition backfill via DYNAMIC partition
    // overwrite — the lake correction pattern: rerunning one day's job
    // must replace ONLY that day's partition, never truncate the table
    // (static overwrite mode, the default, deletes every partition
    // first). Full load day-partitioned → corrected rerun of 2024-01-05
    // (values doubled) written with partitionOverwriteMode=dynamic →
    // read-back aggregated per day. The gate fails BOTH failure modes:
    // clobbered other days (row counts vanish) and un-replaced target
    // day (old values persist).
    "q_partition_overwrite_dynamic" -> ((s, dir) => {
      val path = tmp(s, "ev_dynpart")
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          to_date(col("ts")).as("day"))
      ev.write.partitionBy("day").mode("overwrite").parquet(path)
      ev.filter(col("day") === lit("2024-01-05").cast("date"))
        .withColumn("value", col("value") * 2)
        .write.partitionBy("day").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
      s.read.parquet(path)
        .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6)
            .as("sum_value"))
        .orderBy(col("day"))
    }),

    // Schema evolution across batches — the operational reality of any
    // long-lived 100 TB table: early batches lack columns later batches
    // carry. Batch 1 writes (key, name), batch 2 adds the balance
    // column; the read unifies them with mergeSchema (a FOOTER-only
    // union — no data rewrite, which is the point: evolving a 100 TB
    // table by rewriting it is not a plan) and old rows surface NULL
    // for the new column. The oracle replays the per-batch projection
    // semantics from the base table.
    "q_schema_evolution" -> ((s, dir) => {
      val path = tmp(s, "schema_evo")
      val cust = Tables.customer(s, dir)
      cust.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_name"))
        .write.mode("overwrite").parquet(s"$path/batch=1")
      cust.filter(col("c_custkey") % 2 === 1)
        .select(col("c_custkey"), col("c_name"),
          dec2(col("c_acctbal")).cast("double").as("bal"))
        .write.mode("overwrite").parquet(s"$path/batch=2")
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("n"),
          count(col("bal")).as("n_with_bal"),
          round(sum(col("bal").cast("decimal(18,2)")).cast("double"), 2)
            .as("sum_bal"),
          min(col("c_name")).as("min_name"))
        .orderBy(col("batch"))
    }),

    // JSON-lines sink → source round-trip (S5/S10 sibling format):
    // string escaping, decimal-as-double fidelity and explicit-schema
    // read-back all cross the text boundary; the oracle recomputes the
    // relation from parquet and never sees the JSON.
    "q_json_roundtrip" -> ((s, dir) => {
      val out = Tables.customer(s, dir)
        .filter(col("c_custkey") % 100 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          dec2(col("c_acctbal")).cast("double").as("bal"))
      Sources.writeJson(out, tmp(s, "cust_json"))
      Sources.readJson(s, tmp(s, "cust_json"), out.schema)
        .orderBy(col("c_custkey"))
    }),

    // S6/J10: vocab dimension via CSV file, broadcast-joined with the
    // reference's fallback chain (coalesce(vocabLabel, synthesized)).
    "q_csv_vocab_join" -> ((s, dir) => {
      val vocab = Tables.nation(s, dir)
        .filter(col("n_nationkey") < 20)
        .select(col("n_nationkey").as("code"),
          slugify(col("n_name")).as("label"))
      Sources.writeCsv(vocab, tmp(s, "vocab_csv"))
      val v = Sources.readCsv(s, tmp(s, "vocab_csv"), vocab.schema)
      Tables.customer(s, dir)
        .join(broadcast(v), col("c_nationkey") === col("code"), "left")
        .select(coalesce(col("label"),
          concat(lit("unknown-"), col("c_nationkey").cast("string")))
          .as("nation_label"))
        .groupBy(col("nation_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("nation_label"))
    }),

    // T4: filterable-attribute declaration → `partitionBy(facet)` layout.
    // The write produces one directory per lang; the re-read's lang
    // filter prunes to a single partition before any row is touched
    // (PartitionFilters in the scan — asserted by PlanAuditSpec).
    "q_facet_partitioned" -> ((s, dir) => {
      // the faceted layout is the one-time offline half — built once
      // per (JVM, dir) at a dir-scoped path (alternating dirs in one
      // JVM each keep their own layout), pruned read on every run
      val layout = graft.operators.BuildOnce.scoped(
        tmp(s, "docs_by_lang"), dir)
      graft.operators.BuildOnce(layout) {
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
          .write.mode("overwrite").partitionBy("lang")
          .parquet(layout)
      }
      s.read.parquet(layout)
        .filter(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    }),

    // Dynamic partition pruning: the fact side is the lang-partitioned
    // layout, the dim side a separate relation with a selective literal
    // predicate (the serving allowlist) — the fact's partition filter
    // only exists THROUGH the join, so Catalyst injects a dynamicpruning
    // subquery that reuses the dim's broadcast to skip fact partitions at
    // execution time (PlanAuditSpec asserts the dynamicpruningexpression;
    // an aggregate-derived dim filter like `cnt*5 > total` does NOT
    // qualify as likely-selective, which is why the allowlist shape is
    // the one to reach for). THE 100 TB shape: a date/tenant-partitioned
    // fact joined to a filtered dim scans only the partitions the dim
    // admits — I/O proportional to dim selectivity, not corpus size.
    "q_join_dpp" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val layout = graft.operators.BuildOnce.scoped(tmp(s, "docs_dpp"), dir)
      graft.operators.BuildOnce(layout) {
        docs.write.mode("overwrite").partitionBy("lang").parquet(layout)
      }
      val dim = docs.select(col("lang")).distinct()
        .filter(col("lang").isin("en", "es"))
      s.read.parquet(layout)
        .join(broadcast(dim), Seq("lang"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"), col("source"))
    }),

    // S11: search-index sink round-trip. Documents stream through the
    // executor-side per-partition client (IndexSink) into per-partition
    // files, are read back as text, and re-aggregated — the oracle hash
    // proves zero loss/duplication through the chunked ingest path.
    "q_index_sink_roundtrip" -> ((s, dir) => {
      val out = tmp(s, "index_sink")
      val docs = Tables.documents(s, dir)
        .select(concat_ws("|", col("doc_id"), col("lang")).as("doc"))
      graft.sinks.IndexSink.write(docs,
        new graft.sinks.IndexSink.FileIndexClientFactory(out), 1000)
      s.read.text(out)
        .filter(!col("value").startsWith("#")) // drop batch-size markers
        .select(
          substring_index(col("value"), "|", 1).cast("long").as("doc_id"),
          substring_index(col("value"), "|", -1).as("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("lang"))
    }),

    // S12 → S3/S2: supplier keys+balances written to Derby, read back as
    // a 4-way partitioned range scan AND as a pushdown subquery; the two
    // reads are aggregated into one comparable row.
    "q_jdbc_roundtrip" -> ((s, dir) => {
      val sup = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_acctbal"))
      Sources.writeJdbc(sup, DerbyUrl, "suppliers")
      // Bounds come from SELECT min/max over the table itself (VERDICT r2
      // #2) — no literal key range that could stop fitting the data.
      val part = Sources.readJdbcPartitionedAuto(s, DerbyUrl, "suppliers",
        "s_suppkey", 4)
      // Quoted identifiers: Derby folds unquoted names to upper case,
      // while Spark's JDBC writer creates quoted lower-case columns.
      val push = Sources.readJdbcQuery(s, DerbyUrl,
        """SELECT "s_suppkey" FROM suppliers WHERE "s_acctbal" > 0""")
      part.agg(count(lit(1)).as("n_rows"),
          asMoney(sum(dec2(col("s_acctbal")))).as("sum_bal"))
        .crossJoin(push.agg(count(lit(1)).as("n_positive")))
    }),

    // S3b — PARQUET FOOTER aggregate pushdown: COUNT/MIN/MAX answered
    // from row-group STATISTICS, zero data pages read (`PushedAggregation`
    // asserted in PlanAuditSpec). At 100 TB this is the difference
    // between a metadata sweep and a full scan for the most common
    // profiling probes. Needs the DSv2 parquet path (a child session
    // drops parquet from the V1 list — conf isolation, the
    // q_join_bloom_auto pattern) + `parquet.aggregatePushdown`.
    "q_parquet_agg_pushdown" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.sources.useV1SourceList",
        "avro,csv,json,kafka,orc,text")
      s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      s2.read.parquet(s"$dir/lineitem.parquet")
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("min_key"),
          max(col("l_orderkey")).as("max_key"))
    }),

    // S2b — V2-catalog JDBC scan with AGGREGATE pushdown: the groupBy
    // below never runs in Spark; `SELECT n_regionkey, COUNT(*),
    // MAX(n_nationkey) … GROUP BY` ships to Derby (`PushedAggregates`
    // asserted in PlanAuditSpec) and only 5 aggregated rows cross the
    // wire. The oracle recomputes from base parquet — the pushed and
    // local aggregation must agree exactly.
    "q_jdbc_agg_pushdown" -> ((s, dir) => {
      val url = "jdbc:derby:memory:graftaggdb;create=true"
      // upper-case table name: the V1 writer's unquoted DDL lets Derby
      // fold the name, while the V2 catalog QUOTES its lookups — the
      // only spelling both paths agree on is the folded (upper) one
      Sources.writeJdbc(
        Tables.nation(s, dir).select(col("n_nationkey"), col("n_regionkey")),
        url, "NATION_AGG")
      Sources.jdbcCatalog(s, "graftdb", url)
      s.table("graftdb.NATION_AGG")
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n_nations"),
          max(col("n_nationkey")).as("max_key"))
        .orderBy(col("n_regionkey"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    // Golden expectation for the quarantine fixture. Note row 5: a
    // trailing EMPTY field is a legal null, not a malformed row —
    // pinning that distinction is half the point of the gate.
    "q_csv_quarantine" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'alpha', CAST(1.5 AS DOUBLE), false, ''),
        |  (CAST(2 AS BIGINT), 'beta', CAST(NULL AS DOUBLE), true,
        |   '2,beta,not_a_number'),
        |  (CAST(4 AS BIGINT), 'delta', CAST(4.0 AS DOUBLE), false, ''),
        |  (CAST(5 AS BIGINT), 'epsilon', CAST(NULL AS DOUBLE), false, ''),
        |  (CAST(NULL AS BIGINT), 'gamma', CAST(3.25 AS DOUBLE), true,
        |   'oops,gamma,3.25'))
        |  AS t(id, name, val, quarantined, raw_line)
        |ORDER BY name""".stripMargin,

    "q_parquet_agg_pushdown" ->
      """SELECT COUNT(*) AS n_rows, MIN(l_orderkey) AS min_key,
        |  MAX(l_orderkey) AS max_key FROM lineitem""".stripMargin,

    "q_jdbc_agg_pushdown" ->
      """SELECT n_regionkey, COUNT(*) AS n_nations,
        |  MAX(n_nationkey) AS max_key
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "q_shp_load" ->
      """SELECT * FROM (VALUES
        |  ('sites', CAST(1 AS INT), CAST(1 AS INT), 'BRISBANE', '4000',
        |   'POINT (153.0 -27.5)'),
        |  ('sites', CAST(2 AS INT), CAST(1 AS INT), 'SYDNEY', '2000',
        |   'POINT (151.25 -33.9)'),
        |  ('sites', CAST(3 AS INT), CAST(1 AS INT), 'CAIRNS', '4870',
        |   'POINT (145.75 -16.9)'),
        |  ('zones', CAST(1 AS INT), CAST(5 AS INT), 'ZONE_A', 'Z1',
        |   'POLYGON ((0.0 0.0, 0.0 10.0, 10.0 10.0, 10.0 0.0, 0.0 0.0), (2.0 2.0, 4.0 2.0, 4.0 4.0, 2.0 4.0, 2.0 2.0))'),
        |  ('zones', CAST(2 AS INT), CAST(5 AS INT), 'ZONE_B', 'Z2',
        |   'POLYGON ((20.0 0.0, 20.0 5.0, 25.0 5.0, 25.0 0.0, 20.0 0.0))'))
        |  AS t(layer, record_no, shape_type, name, code, wkt)
        |ORDER BY layer, record_no""".stripMargin,
    "q_compact_files" ->
      """SELECT COUNT(*) AS n_rows,
        |  epoch_ms(min(ts)) AS min_ms, epoch_ms(max(ts)) AS max_ms,
        |  CAST(SUM(event_id) AS BIGINT) AS sum_ids,
        |  CAST(64 AS BIGINT) AS n_files_before,
        |  CAST(4 AS BIGINT) AS n_files_after
        |FROM events""".stripMargin,
    "q_compact_prune" ->
      """SELECT
        |  (SELECT COUNT(*) FROM events
        |   WHERE CAST(ts AS DATE) = DATE '2024-01-03') AS n_rows_day,
        |  CAST(1 AS BIGINT) AS files_touched_sorted,
        |  CAST(4 AS BIGINT) AS files_total_sorted,
        |  CAST(64 AS BIGINT) AS files_touched_frag,
        |  CAST(64 AS BIGINT) AS files_total_frag""".stripMargin,

    "q_schema_evolution" ->
      """WITH b AS (
        |  SELECT 1 AS batch, c_custkey, c_name, CAST(NULL AS DOUBLE) AS bal
        |  FROM customer WHERE c_custkey % 2 = 0
        |  UNION ALL
        |  SELECT 2, c_custkey, c_name,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE)
        |  FROM customer WHERE c_custkey % 2 = 1)
        |SELECT batch, COUNT(*) AS n, COUNT(bal) AS n_with_bal,
        |  round(CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_bal,
        |  MIN(c_name) AS min_name
        |FROM b GROUP BY batch ORDER BY batch""".stripMargin,

    "q_partition_overwrite_dynamic" ->
      """WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CASE WHEN CAST(ts AS DATE) = DATE '2024-01-05'
        |         THEN value * 2 ELSE value END AS v
        |  FROM events)
        |SELECT strftime(day, '%Y-%m-%d') AS day, COUNT(*) AS n,
        |  round(CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE), 6)
        |    AS sum_value
        |FROM ev GROUP BY day ORDER BY day""".stripMargin,
    "q_bucket_join_colocated" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_csv_roundtrip" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |ORDER BY n_nationkey""".stripMargin,
    "q_orc_roundtrip" ->
      """SELECT s_suppkey, s_name, s_nationkey,
        |  CAST(CAST(s_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |FROM supplier WHERE s_nationkey < 10
        |ORDER BY s_suppkey""".stripMargin,
    "q_json_roundtrip" ->
      """SELECT c_custkey, c_name, c_mktsegment,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS bal
        |FROM customer WHERE c_custkey % 100 = 0
        |ORDER BY c_custkey""".stripMargin,
    "q_csv_vocab_join" ->
      """SELECT coalesce(v.label, 'unknown-' || CAST(c.c_nationkey AS VARCHAR)) AS nation_label,
        |  COUNT(*) AS n
        |FROM customer c
        |LEFT JOIN (
        |  SELECT n_nationkey AS code,
        |    regexp_replace(lower(trim(n_name)), '\s+', '-', 'g') AS label
        |  FROM nation WHERE n_nationkey < 20) v
        |  ON c.c_nationkey = v.code
        |GROUP BY nation_label ORDER BY nation_label""".stripMargin,
    "q_facet_partitioned" ->
      """SELECT source, COUNT(*) AS n,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,
    "q_index_sink_roundtrip" ->
      """SELECT lang, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS sum_ids
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_join_dpp" ->
      """WITH dim AS (
        |  SELECT DISTINCT lang FROM documents WHERE lang IN ('en', 'es'))
        |SELECT d.lang, d.source, COUNT(*) AS n,
        |  CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
        |FROM documents d JOIN dim ON d.lang = dim.lang
        |GROUP BY d.lang, d.source
        |ORDER BY d.lang, d.source""".stripMargin,
    "q_jdbc_roundtrip" ->
      """SELECT
        |  (SELECT COUNT(*) FROM supplier) AS n_rows,
        |  (SELECT CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |     FROM supplier) AS sum_bal,
        |  (SELECT COUNT(*) FROM supplier WHERE s_acctbal > 0) AS n_positive""".stripMargin
  )
}
