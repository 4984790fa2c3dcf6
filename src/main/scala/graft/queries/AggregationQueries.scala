package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions._

/** SURVEY §2.4 aggregations + §2.2 filters exercised through them.
  * Mirrors: validation counts (etl-notes.md:263-285), duplicate detection
  * via GROUP BY/HAVING (etl-notes.md:488-497), DISTINCT dedup
  * (etl_qrt.py:261-267), categorical counts (etl-notes.md:370-379).
  */
object AggregationQueries extends QueryCatalog {

  /** Exact distinct-`user_id` partials on Spark's bitmap aggregates: per
    * (`keys`, `bucket`), the bitmap `bm` (bitmap_construct_agg over
    * bitmap_bit_position) plus any `extra` aggregates. One bitmap covers
    * one bitmap_bucket_number bucket of ids; the buckets split the whole
    * BIGINT range, zero and negative ids included, so per-bucket
    * bitmap_counts sum to the exact distinct count. */
  private def bitmapPartials(events: DataFrame, keys: Column*)(
      extra: Column*): DataFrame =
    events
      .groupBy(keys :+ bitmap_bucket_number(col("user_id")).as("bucket"): _*)
      .agg(bitmap_construct_agg(bitmap_bit_position(col("user_id"))).as("bm"),
        extra: _*)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A3/A4 + P2 + money math: the TPC-H-Q1-shaped pricing summary.
    "q_agg_pricing_summary" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          asMoney(sum(dec2(col("l_quantity")))).as("sum_qty"),
          asMoney(sum(dec2(col("l_extendedprice")))).as("sum_base_price"),
          asMoney(sum(dec2(col("l_extendedprice")) *
            (lit(1).cast("decimal(18,2)") - dec2(col("l_discount")))))
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // A2: exact distinct counts (validation counts, etl-queries.md:158-162).
    // Parity rule: Spark's multi-column countDistinct drops rows where ANY
    // column is NULL, while DuckDB's COUNT(DISTINCT (a,b)) counts tuples
    // with a NULL field — both sides filter explicitly so semantics align
    // even on NULLable inputs (ADVICE r1).
    "q_agg_count_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_suppkey").isNotNull && col("l_partkey").isNotNull)
        .agg(
          countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey"), col("l_partkey")).as("n_supp_part"))
    }),

    // §2.12c: approx_count_distinct — the 100 TB-mode HLL path. Engines'
    // HLL implementations differ, so the raw estimate can't hash-match a
    // DuckDB oracle. Instead the query is SELF-VALIDATING (VERDICT r2
    // "Next round" #3): it computes the exact counts AND the HLL
    // estimates in one pass and emits |approx−exact|/exact ≤ 2% booleans
    // alongside the exact counts; the oracle expects `true` — so the
    // tolerance check rides the driver's exact hash gate, and the row
    // goes red if Spark's HLL ever drifts outside the budget.
    "q_agg_approx_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .agg(
          countDistinct(col("l_orderkey")).as("exact_orders"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_orderkey"), 0.01).as("ao"),
          approx_count_distinct(col("l_partkey"), 0.01).as("ap"))
        .select(
          col("exact_orders"), col("exact_parts"),
          (abs(col("ao") - col("exact_orders")).cast("double") /
            col("exact_orders") <= 0.02).as("orders_within_tol"),
          (abs(col("ap") - col("exact_parts")).cast("double") /
            col("exact_parts") <= 0.02).as("parts_within_tol"))
    }),

    // KMV distinct sketch (functions/KmvDistinctAgg — Bar-Yossef et
    // al. RANDOM'02): bottom-k of a 48-bit md5 prefix, estimate
    // (k-1)/U_k. Unlike the HLL row above (tolerance-gated), this
    // sketch is deterministic md5, so the DuckDB oracle rebuilds the
    // identical sketch with a window function and the gate pins the
    // ESTIMATE bit-for-bit — a mergeable sketch whose exactness of
    // replay is itself verified. State ≤ k longs per group, partials
    // combine map-side.
    "q_agg_kmv_distinct" -> ((s, dir) => {
      val kmv = udaf(new graft.functions.KmvDistinctAgg(32),
        org.apache.spark.sql.Encoders.scalaLong)
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("c_name"),
          expr("cast(conv(substring(md5(c_name), 1, 12), 16, 10) " +
            "as bigint)").as("h"))
        .groupBy(col("nation"))
        .agg(kmv(col("h")).as("kmv_est"),
          countDistinct(col("c_name")).as("n_exact"))
        .orderBy(col("nation"))
    }),

    // Theta-sketch set operations over KMV sketches
    // (functions/KmvSketchAgg): estimate |A∪B|, |A∩B|, |A\B| of the
    // URGENT- vs HIGH-priority customer sets from two k=64 sketches —
    // never rescanning either input — via codegen array algebra with
    // θ = min of the two sketches' 64th minima. Deterministic md5
    // hashing again lets DuckDB rebuild both sketches and the gate
    // pin every ESTIMATE bit-for-bit; exact counts ride along to show
    // the error. At 100 TB: per-partition sketches merge map-side,
    // the combination is O(k) on ≤512-byte arrays, and sketches of
    // disjoint corpora (days, shards) union losslessly first.
    "q_agg_kmv_set_ops" -> ((s, dir) => {
      val sk = udaf(new graft.functions.KmvSketchAgg(64),
        org.apache.spark.sql.Encoders.scalaLong)
      val orders = Tables.orders(s, dir)
      def sketchOf(prio: String, alias: String) = orders
        .filter(col("o_orderpriority") === prio)
        .select(expr("cast(conv(substring(md5(cast(o_custkey as " +
          "string)), 1, 12), 16, 10) as bigint)").as("h"))
        .agg(sk(col("h")).as(alias))
      // exact counterparts (one aggregation pass + a tiny self-join
      // on the per-customer flags) to expose the sketch error
      val exact = orders
        .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy(col("o_custkey"))
        .agg(
          max(when(col("o_orderpriority") === "1-URGENT", 1)
            .otherwise(0)).as("in_a"),
          max(when(col("o_orderpriority") === "2-HIGH", 1)
            .otherwise(0)).as("in_b"))
        .agg(count(lit(1)).as("exact_union"),
          sum(when(col("in_a") === 1 && col("in_b") === 1, 1L)
            .otherwise(0L)).as("exact_inter"))
      sketchOf("1-URGENT", "ska").crossJoin(sketchOf("2-HIGH", "skb"))
        .crossJoin(exact)
        .withColumn("theta",
          least(
            when(size(col("ska")) === 64, element_at(col("ska"), 64))
              .otherwise(lit(graft.functions.KmvDistinctAgg.HashSpaceLong)),
            when(size(col("skb")) === 64, element_at(col("skb"), 64))
              .otherwise(lit(graft.functions.KmvDistinctAgg.HashSpaceLong))))
        .withColumn("ra", expr("filter(ska, x -> x < theta)"))
        .withColumn("rb", expr("filter(skb, x -> x < theta)"))
        .select(
          (expr("size(array_distinct(concat(ra, rb)))").cast("double")
            * lit(graft.functions.KmvDistinctAgg.HashSpace)
            / col("theta").cast("double")).as("est_union"),
          (expr("size(array_intersect(ra, rb))").cast("double")
            * lit(graft.functions.KmvDistinctAgg.HashSpace)
            / col("theta").cast("double")).as("est_inter"),
          (expr("size(array_except(ra, rb))").cast("double")
            * lit(graft.functions.KmvDistinctAgg.HashSpace)
            / col("theta").cast("double")).as("est_diff_a"),
          col("exact_union"), col("exact_inter"))
    }),

    // A3: GROUP BY + HAVING — duplicate detection (etl-notes.md:488-497:
    // "group by pl_name, locality having count(*) > 1").
    "q_agg_having_dups" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          asMoney(sum(dec2(col("o_totalprice")))).as("total_spend"))
        .filter(col("n_orders") > 5)
        .orderBy(col("o_custkey"))
    }),

    // A4: counts over a categorical (parcel_status_code counts,
    // etl-notes.md:370-379).
    "q_agg_categorical" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }),

    // A5: SELECT DISTINCT projection (etl_qrt.py:261-267).
    "q_agg_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // A6: group-and-collect — ordered values per key rendered as a string
    // (bucket history rows per addr_id, cam/tables/lf_address_history.py:76-79).
    "q_agg_collect_sorted" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 1000 === 0)
        .groupBy(col("l_orderkey"))
        .agg(array_join(sort_array(collect_list(col("l_linenumber"))), ",")
          .as("linenumbers"))
        .orderBy(col("l_orderkey"))
    }),

    // Grouping sets via ROLLUP (SURVEY §2.4 note: exposed for parity).
    "q_agg_rollup" -> ((s, dir) => {
      Tables.orders(s, dir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          asMoney(sum(dec2(col("o_totalprice")))).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // CUBE: all 2^k grouping-set combinations (rollup's lattice sibling —
    // one shuffle, grouping-id expansion map-side).
    "q_agg_cube" -> ((s, dir) => {
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          asMoney(sum(dec2(col("o_totalprice")))).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }),

    // Exact interpolated percentiles per group (the distribution-profile
    // verb): Spark `percentile` and DuckDB `quantile_cont` share the
    // linear-interpolation definition; rounding to 4 decimals absorbs
    // last-ulp float differences between the two summation orders.
    "q_agg_percentiles" -> ((s, dir) => {
      val p = expr(
        "percentile(cast(o_totalprice as double), array(0.25D, 0.5D, 0.75D))")
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(round(element_at(p, 1), 4).as("p25"),
          round(element_at(p, 2), 4).as("p50"),
          round(element_at(p, 3), 4).as("p75"))
        .orderBy(col("o_orderstatus"))
    }),

    // approx percentiles — the 100 TB mode of q_agg_percentiles
    // (percentile_approx = one-pass mergeable sketch; exact percentile
    // buffers each group's values). Self-validating like
    // q_agg_approx_distinct: the exact values ride the hash gate and the
    // approx estimates assert into tolerance booleans — accuracy=10000
    // bounds rank error at n/10000, far inside the 2% value band here.
    "q_agg_approx_percentiles" -> ((s, dir) => {
      val exact = expr(
        "percentile(cast(o_totalprice as double), array(0.25D, 0.5D, 0.75D))")
      val approx = expr("percentile_approx(cast(o_totalprice as double), " +
        "array(0.25D, 0.5D, 0.75D), 10000)")
      def within(i: Int) =
        (abs(element_at(approx, i) - element_at(exact, i)) /
          element_at(exact, i) <= 0.02).as(s"p${Seq(25, 50, 75)(i - 1)}_tol")
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(round(element_at(exact, 1), 4).as("p25"),
          round(element_at(exact, 2), 4).as("p50"),
          round(element_at(exact, 3), 4).as("p75"),
          within(1), within(2), within(3))
        .orderBy(col("o_orderstatus"))
    }),

    // Pivot with an EXPLICIT value list (A-family widening): per-status
    // money columns by order year. Explicit values keep the plan a
    // single pass (no distinct-values pre-query) and the output schema
    // deterministic — the two things implicit pivot gets wrong at scale.
    "q_agg_pivot" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(year(col("o_orderdate")).as("yr"), col("o_orderstatus"),
          dec2(col("o_totalprice")).as("p"))
        .groupBy(col("yr"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(asMoney(sum(col("p"))))
        .select(col("yr"), col("F").as("f_total"), col("O").as("o_total"),
          col("P").as("p_total"))
        .orderBy(col("yr"))
    }),

    // Explicit GROUPING SETS (the general form under cube/rollup): the
    // exact subtotal combinations the report needs and nothing else — at
    // 100 TB a cube over k columns expands every row 2^k ways pre-shuffle,
    // grouping sets only |sets| ways. The grouping-id is computed as
    // explicit `grouping()` arithmetic so both engines agree on the
    // encoding by construction (bit order of native GROUPING_ID differs
    // across engines); it also disambiguates real NULLs from subtotals.
    "q_agg_grouping_sets" -> ((s, dir) => {
      val st = col("o_orderstatus")
      val pr = col("o_orderpriority")
      Tables.orders(s, dir)
        .groupingSets(Seq(Seq(st, pr), Seq(st), Seq()), st, pr)
        .agg((grouping(st).cast("int") * 2 + grouping(pr).cast("int"))
            .as("gid"),
          count(lit(1)).as("n"),
          asMoney(sum(dec2(col("o_totalprice")))).as("total"))
        .orderBy(col("gid"), st.asc_nulls_first, pr.asc_nulls_first)
    }),

    // Unpivot/melt — the inverse of q_agg_pivot (wide metric columns →
    // long (metric, value) rows). A Generate-shaped narrow transform:
    // no shuffle, each row expands to exactly |metrics| rows, so it
    // scales as a map over the scan.
    "q_agg_unpivot" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 50 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          asMoney(dec2(col("l_quantity"))).as("quantity"),
          asMoney(dec2(col("l_extendedprice"))).as("extendedprice"),
          asMoney(dec2(col("l_discount"))).as("discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"), col("discount")),
          "metric", "value")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))
    }),

    // Fixed-width histogram (the third distribution-profile verb next to
    // exact/approx percentiles): bucket = floor(value / width), one
    // map-side-combinable groupBy — the O(buckets) answer to "what does
    // this column look like" that percentile sketches can't give.
    "q_agg_histogram" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(floor(dec2(col("o_totalprice")) / 50000).cast("long")
          .as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    }),

    // Approximate heavy hitters — the sketch-mode top-k (one-pass,
    // mergeable, bounded memory; the exact groupBy-count is a full
    // shuffle of the key's cardinality). Self-validating like
    // q_agg_approx_distinct: the EXACT top-5 items + row mass ride the
    // hash gate, and the sketch's item set asserts into a boolean. The
    // skew column floor(sqrt(custkey)) has strictly separated counts, so
    // the true top-5 is unambiguous and the sketch (tracking 10k items,
    // far above the ~√N distinct values) must agree deterministically.
    "q_agg_heavy_hitters" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
        .select(floor(sqrt(col("o_custkey"))).cast("long").as("x"))
      val exact5 = base.groupBy(col("x")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("x")).limit(5)
      val exactAgg = exact5.agg(
        concat_ws(",", sort_array(collect_list(col("x").cast("string"))))
          .as("exact_items"),
        sum(col("n")).as("top5_rows"))
      val approx = base
        .agg(expr("approx_top_k(x, 5, 10000)").as("tk"))
        .select(concat_ws(",", sort_array(
          expr("transform(tk, e -> cast(e.item as string))")))
          .as("approx_items"))
      exactAgg.crossJoin(approx)
        .select(col("exact_items"), col("top5_rows"),
          (col("exact_items") === col("approx_items")).as("topk_match"))
    }),

    // A1 count + approx variant for the 100 TB mode (SURVEY §2.12) — the
    // approx column is engine-specific so the oracle only checks the exact
    // column... both engines implement HLL differently; exact only here.
    "q_agg_total_counts" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      li.agg(count(lit(1)).as("n_lineitem"))
        .crossJoin(o.agg(count(lit(1)).as("n_orders")))
    }),

    // Top-N per group with the tail collapsed to OTHER — the standard
    // reporting shape ("top 2 segments per region, everything else
    // lumped") that at 100 TB replaces shipping the full category tail
    // to the consumer. Scale shape: the raw rows collapse FIRST through
    // a partial-aggregable groupBy; the rank window then runs over the
    // tiny (region × segment) relation, and the OTHER re-aggregation is
    // again partial-aggregable. Dims ride in on broadcasts.
    "q_agg_topn_others" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val perSeg = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("r_name"))
        .orderBy(col("n").desc, col("c_mktsegment"))
      perSeg
        .withColumn("rn", row_number().over(w))
        .withColumn("seg_out",
          when(col("rn") <= 2, col("c_mktsegment")).otherwise("OTHER"))
        .groupBy(col("r_name"), col("seg_out"))
        .agg(sum(col("n")).as("n_customers"))
        .orderBy(col("r_name"), col("seg_out"))
    }),

    // Equi-DEPTH histogram (the q_agg_histogram sibling: equal COUNTS
    // per bucket instead of equal widths) — the profiling shape that
    // stays informative under heavy skew, and the binning behind
    // quantile-bucketed features. Quartile edges are ONE tiny percentile
    // aggregate broadcast back onto the scan; per-row bucketing is a
    // HOF fold over the 3-edge array (scan-side, codegen'd); the final
    // rollup is partial-aggregable. Edges rounded to 4 dp on both
    // engines before bucketing → integer bucket parity.
    "q_agg_equidepth" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_totalprice").cast("double").as("v"))
      val edges = o.agg(
        expr("transform(percentile(v, array(0.25D, 0.5D, 0.75D)), " +
          "e -> round(e, 4))").as("edges"))
      o.crossJoin(broadcast(edges))
        .withColumn("bucket",
          expr("aggregate(edges, 0, (acc, e) -> acc + IF(v > e, 1, 0))"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("v")), 2).as("lo"),
          round(max(col("v")), 2).as("hi"))
        .orderBy(col("bucket"))
    }),

    // Nested reshape + higher-order consumption: line items COLLECT into
    // an ordered array<struct> per order (the document shape a serving
    // layer or denormalized lake table stores), and every downstream
    // scalar is computed FROM the nested array with codegen'd HOFs —
    // no re-explode, no second shuffle after the one collect. Money and
    // quantity ride as exact integer cents; the argmax key packs
    // (price_cents, partkey) into one BIGINT so ties resolve identically
    // everywhere. The oracle computes the same scalars from the FLAT
    // relation with plain aggregates — nested path and flat path must
    // agree exactly.
    "q_nested_reshape" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_partkey"),
        (dec2(col("l_quantity")) * 100).cast("long").as("qty_c"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("price_c"))
      li.groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(
          col("l_linenumber").as("ln"), col("l_partkey").as("pk"),
          col("qty_c"), col("price_c")))).as("items"))
        .select(col("l_orderkey"),
          size(col("items")).as("n_items"),
          expr("aggregate(items, 0L, (acc, x) -> acc + x.qty_c)")
            .as("qty_total"),
          expr("aggregate(items, 0L, (acc, x) -> " +
            "IF(x.qty_c > acc, x.qty_c, acc))").as("qty_max"),
          expr("aggregate(items, -1L, (acc, x) -> " +
            "IF(x.price_c * 10000000 + x.pk > acc, " +
            "x.price_c * 10000000 + x.pk, acc))").as("k"))
        .select(col("l_orderkey"), col("n_items"),
          (col("k") % 10000000).as("top_part"),
          round(col("qty_max").cast("double") /
            col("qty_total").cast("double"), 6).as("qty_share"))
        .orderBy(col("l_orderkey"))
    }),

    // Deterministic ARG-MAX per group ("which user drove the most
    // value?"): the winner comes from max(struct(total, user_id)) — one
    // partial-aggregable struct-max, so at 100 TB this is two map-side-
    // combinable aggregations and NO rank window / join-back. The
    // user_id rides inside the comparison key, so ties resolve
    // identically in both engines (largest id wins). Value sums in
    // DECIMAL(18,6) (exact) before the struct compare.
    "q_agg_argmax" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(col("value").cast("decimal(18,6)")).as("s"))
        .groupBy(col("event_type"))
        .agg(max(struct(col("s"), col("user_id"))).as("m"),
          count(lit(1)).as("n_users"))
        .select(col("event_type"),
          col("m").getField("user_id").as("top_user"),
          col("m").getField("s").cast("double").as("top_value"),
          col("n_users"))
        .orderBy(col("event_type"))
    }),

    // WEIGHTED median — the robust center when rows carry unequal mass
    // (price per unit weighted by quantity): smallest value whose
    // cumulative weight reaches half the total. The stream collapses to
    // per-DISTINCT-VALUE weight sums first (the q_stats_ks domain trick),
    // so the cumulative window runs over the value domain, not the rows;
    // totals broadcast; `2·cum ≥ total` avoids any division. Exact
    // decimal weight math end to end — no float in the decision.
    "q_agg_weighted_median" -> ((s, dir) => {
      // operators/WeightedQuantile: the cumulative-weight window runs
      // range-partitioned over the FULL shuffle width with GlobalRank-
      // style offsets — a key-partitioned window would funnel each
      // return-flag's whole value domain through one task (parallelism
      // 3 at any cluster size).
      graft.operators.WeightedQuantile
        .weightedMedian(Tables.lineitem(s, dir), col("l_returnflag"),
          dec2(col("l_extendedprice")), dec2(col("l_quantity")))
        .select(col("k").as("l_returnflag"),
          col("quantile").cast("double").as("wmedian"))
        .orderBy(col("l_returnflag"))
    }),

    // Weighted QUARTILE band per key — p25/p50/p75 of price under
    // quantity mass from ONE cumulative pass
    // (WeightedQuantile.weightedQuantiles: the cumulative relation is
    // lineage-cut and each fraction reads it back), pivoted to columns.
    // The spread readout dashboards put next to the median, at the same
    // full-shuffle-width parallelism as q_agg_weighted_median.
    "q_agg_weighted_quartiles" -> ((s, dir) => {
      graft.operators.WeightedQuantile.weightedQuantiles(
          Tables.lineitem(s, dir), col("l_returnflag"),
          dec2(col("l_extendedprice")), dec2(col("l_quantity")),
          Seq((1, 4), (1, 2), (3, 4)))
        .groupBy(col("k").as("l_returnflag"))
        .agg(
          min(when(col("p") === 1 && col("q") === 4, col("quantile")))
            .cast("double").as("wp25"),
          min(when(col("p") === 1 && col("q") === 2, col("quantile")))
            .cast("double").as("wp50"),
          min(when(col("p") === 3 && col("q") === 4, col("quantile")))
            .cast("double").as("wp75"))
        .orderBy(col("l_returnflag"))
    }),

    // Skew diagnostics — the report you run BEFORE picking a join
    // strategy at 100 TB: per-key row-count distribution (p50/p90/p99/
    // max) plus the top hot keys. Feeds the operators/SkewJoin decision
    // (salt when p99 ≫ p50). One groupBy for the counts; the quantiles
    // aggregate over keys, not rows.
    "q_profile_skew" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.lineitem(s, dir)
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
      val ranked = counts.withColumn("rk", row_number().over(
        Window.orderBy(col("n").desc, col("l_suppkey"))))
      ranked.agg(
        count(lit(1)).as("n_keys"),
        expr("percentile(n, array(0.5D, 0.9D, 0.99D))").as("pct"),
        max(col("n")).as("max_rows"),
        min(when(col("rk") === 1, col("l_suppkey"))).as("top1_key"),
        min(when(col("rk") === 2, col("l_suppkey"))).as("top2_key"),
        min(when(col("rk") === 3, col("l_suppkey"))).as("top3_key"))
        .select(col("n_keys"),
          round(col("pct").getItem(0), 6).as("p50"),
          round(col("pct").getItem(1), 6).as("p90"),
          round(col("pct").getItem(2), 6).as("p99"),
          col("max_rows"), col("top1_key"), col("top2_key"),
          col("top3_key"))
    }),

    // Incremental aggregate maintenance: merge a history partial with a
    // new-batch partial instead of rescanning history — the mergeable-
    // partial-aggregate contract (count/sum/min/max) that makes 100 TB
    // rollups incremental. The GATE IS THE PROOF: the oracle aggregates
    // the full table directly, so the merged partials must equal a full
    // recompute bit-for-bit — value sums run in DECIMAL(18,6), which is
    // associative, unlike double addition.
    "q_incremental_agg_merge" -> ((s, dir) => {
      def partial(df: DataFrame) = df.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).as("s"),
          min(col("value")).as("mn"), max(col("value")).as("mx"))
      val ev = Tables.events(s, dir)
      val hist = partial(ev.filter(col("event_id") % 5 =!= 0))
      val batch = partial(ev.filter(col("event_id") % 5 === 0))
      hist.as("h").join(batch.as("b"), Seq("event_type"), "full_outer")
        .select(col("event_type"),
          (coalesce(col("h.n"), lit(0L)) + coalesce(col("b.n"), lit(0L)))
            .as("n"),
          (coalesce(col("h.s"), lit(0).cast("decimal(18,6)")) +
            coalesce(col("b.s"), lit(0).cast("decimal(18,6)")))
            .cast("double").as("sum_value"),
          least(col("h.mn"), col("b.mn")).as("min_value"),
          greatest(col("h.mx"), col("b.mx")).as("max_value"))
        .orderBy(col("event_type"))
    }),

    // Incremental JOIN-view maintenance: the enriched rollup
    // orders⋈customer is refreshed by aggregating ONLY the delta slice
    // and merging its partials into the stored history partials — the
    // join-shaped sibling of q_incremental_agg_merge (facts join a
    // slowly-changing dim, so the delta join touches delta×dim, never
    // history). The oracle recomputes the view from scratch: hash
    // equality IS the proof that increment-and-merge = full recompute.
    // Money partials stay DECIMAL until the final cast — associative,
    // so merge order cannot move a cent.
    "q_incremental_join_delta" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      def partial(df: DataFrame) =
        df.join(broadcast(c), df("o_custkey") === c("c_custkey"))
          .groupBy(col("c_mktsegment").as("seg"))
          .agg(count(lit(1)).as("n"),
            sum(dec2(col("o_totalprice"))).as("s"))
      val o = Tables.orders(s, dir)
      val watermark = lit("1999-01-01").cast("timestamp")
      val hist = partial(o.filter(col("o_orderdate") < watermark))
      val delta = partial(o.filter(col("o_orderdate") >= watermark))
      hist.as("h").join(delta.as("d"), Seq("seg"), "full_outer")
        .select(col("seg"),
          (coalesce(col("h.n"), lit(0L)) + coalesce(col("d.n"), lit(0L)))
            .as("n_orders"),
          asMoney(coalesce(col("h.s"), lit(0).cast("decimal(18,2)")) +
            coalesce(col("d.s"), lit(0).cast("decimal(18,2)")))
            .as("revenue"))
        .orderBy(col("seg"))
    }),

    // Count-Min frequency sketch (functions/CountMinAgg — the second
    // custom sketch Aggregator beside MinHashAgg): the key stream folds
    // into one 4×1024 counter matrix via map-side partials; point
    // estimates for the top keys read `min_r cms[r][h_r(k)]` off the
    // merged array with pure Column arithmetic (the hash twin of
    // CountMinAgg.bucket — no UDF, no second scan). Self-validating:
    // both CMS bounds (never undercounts; overcounts ≤ e·N/Width) ride
    // the gate as booleans beside the exact counts.
    "q_agg_countmin" -> ((s, dir) => {
      import graft.functions.CountMinAgg
      val cmsAgg = udaf(CountMinAgg,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
      val li = Tables.lineitem(s, dir)
        .select(col("l_suppkey").cast("long").as("k"))
      val sketch = li.agg(cmsAgg(col("k")).as("cms"),
        count(lit(1)).as("n"))
      val cand = li.groupBy(col("k")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("k")).limit(10)
      val est = (0 until CountMinAgg.Depth).map { r =>
        element_at(col("cms"),
          (lit(r * CountMinAgg.Width) + pmod(
            pmod(lit(CountMinAgg.A(r)) * col("k") + CountMinAgg.B(r),
              lit(CountMinAgg.P)),
            lit(CountMinAgg.Width.toLong))).cast("int") + 1)
      }.reduce(least(_, _))
      val tol = ceil(lit(math.E) * col("n") / CountMinAgg.Width)
      cand.crossJoin(broadcast(sketch))
        .select(col("k"), col("exact_cnt"),
          (est >= col("exact_cnt")).as("lower_ok"),
          (est <= col("exact_cnt") + tol).as("upper_ok"))
        .orderBy(col("exact_cnt").desc, col("k"))
    }),

    // JOIN-CARDINALITY estimation from Count-Min sketches (the AMS
    // inner-product estimator, Alon–Matias–Szegedy / Cormode–
    // Muthukrishnan): |A ⋈ₖ B| = Σ_k f_A(k)·f_B(k), and the sketch
    // estimate is min over rows r of Σ_i cmA[r][i]·cmB[r][i] — the
    // pre-flight a planner runs BEFORE submitting a join that might
    // blow up, from two one-pass 32 KB sketches instead of a key-level
    // frequency join. Collisions only ever ADD, so est ≥ exact; the
    // upper gate rides the standard e·Nₐ·N_b/Width slack. Both bounds
    // ride the gate as booleans beside the exact count (the
    // q_agg_countmin pattern); the oracle rebuilds both sketches
    // relationally from the same fixed universal-hash coefficients.
    "q_dq_join_estimate" -> ((s, dir) => {
      import graft.functions.CountMinAgg
      val cmsAgg = udaf(CountMinAgg,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
      val W = CountMinAgg.Width
      val a = Tables.orders(s, dir).select(col("o_orderkey").cast("long").as("k"))
      val b = Tables.lineitem(s, dir).select(col("l_orderkey").cast("long").as("k"))
      val sa = a.agg(cmsAgg(col("k")).as("ca"), count(lit(1)).as("na"))
      val sb = b.agg(cmsAgg(col("k")).as("cb"), count(lit(1)).as("nb"))
      val est = (0 until CountMinAgg.Depth).map { r =>
        expr(s"""aggregate(sequence(0, ${W - 1}), CAST(0 AS BIGINT),
                |(acc, i) -> acc + element_at(ca, ${r * W} + i + 1) *
                |  element_at(cb, ${r * W} + i + 1))""".stripMargin)
      }.reduce(least(_, _))
      a.join(b, Seq("k")).agg(count(lit(1)).as("exact_rows"))
        .crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
        .select(col("exact_rows"), est.as("cm_est"),
          (est >= col("exact_rows")).as("lower_ok"),
          (est <= col("exact_rows") +
            expr(s"(3 * na * nb) div $W")).as("upper_ok"))
    }),

    // Single-pass column profiler (operators/Profiler — the deequ-style
    // pre-ingest data-quality gate): per-column row/null/distinct counts
    // and typed min/max over the events stream, one scan, all metrics
    // partial-aggregable. Scale analysis on the operator.
    "q_profile_events" -> ((s, dir) => {
      val src = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), col("value"), epochMs(col("ts")).as("ts_ms"))
      graft.operators.Profiler.profile(src,
        numericCols = Seq("user_id", "value", "ts_ms"),
        stringCols = Seq("event_type"))
    }),

    // Per-group MODE with deterministic tie-break — two-level aggregate:
    // the fact table collapses to (group, value) counts first (partial-
    // aggregable, one shuffle), and only THAT tiny relation is windowed —
    // the window never touches fact-table cardinality. The literal
    // rn = 1 filter compiles to WindowGroupLimit.
    "q_agg_mode" -> ((s, dir) => {
      val counts = Tables.orders(s, dir)
        .groupBy(col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("status"))
        .orderBy(col("cnt").desc, col("priority"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("status"), col("priority").as("mode_priority"),
          col("cnt"))
        .orderBy(col("status"))
    }),

    // Several COUNT(DISTINCT) over DIFFERENT columns in ONE query — the
    // data-profiling shape. Catalyst plans it as a single scan + Expand
    // (each row replicated once per distinct-set, null-padded), so the
    // fact table is read ONCE however many distincts ride along
    // (PlanAuditSpec asserts Expand + one scan). The naive alternative —
    // one job per column — multiplies 100 TB of I/O by the column count.
    "q_agg_multi_distinct" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("l_suppkey")).as("d_supp"),
          countDistinct(col("l_partkey")).as("d_part"),
          countDistinct(col("l_orderkey")).as("d_ord"))
        .orderBy(col("l_returnflag"))),

    // Per-group Pearson correlation + sample covariance — single-pass
    // co-moment aggregation (Welford merge), partial-aggregable, one
    // shuffle of 3-group partials. Values rounded to 6 dp on both
    // engines: corr is scale-free in [-1,1] and covar's double error is
    // ~1e-9 at this magnitude, so engine-order summation cannot move the
    // rounded value.
    "q_agg_corr" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          col("l_quantity").cast("double").as("q"),
          col("l_extendedprice").cast("double").as("p"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(corr(col("q"), col("p")), 6).as("corr_qty_price"),
          round(covar_samp(col("q"), col("p")), 6).as("covar_qty_price"))
        .orderBy(col("l_returnflag"))),

    // Mergeable-sketch distinct counting (Apache DataSketches HLL via the
    // Spark 3.5+ built-ins): per-group sketches whose UNION answers the
    // global question WITHOUT rescanning — the re-aggregatable-datacube
    // property that lets a 100 TB pipeline maintain per-partition sketch
    // partials incrementally and serve any rollup by merging. Like
    // q_agg_approx_distinct, the estimate is self-validating: the gated
    // row carries the EXACT count plus a within-tolerance boolean, so
    // the oracle (which has no HLL) still hash-checks the whole row.
    "q_agg_sketch_hll" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val grp = ev.groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"),
          countDistinct(col("user_id")).as("exact_users"))
      val global = grp
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        .crossJoin(broadcast(
          ev.agg(countDistinct(col("user_id")).as("exact_users"))))
        .select(lit("ALL").as("event_type"), col("exact_users"),
          (abs(col("est") - col("exact_users")) <=
            col("exact_users") * 0.05).as("within_tol"))
      grp
        .select(col("event_type"), col("exact_users"),
          (abs(hll_sketch_estimate(col("sk")) - col("exact_users")) <=
            col("exact_users") * 0.05).as("within_tol"))
        .unionByName(global)
        .orderBy(col("event_type"))
    }),

    // Mergeable SUFFICIENT STATISTICS (n, Σx, Σx²) — the parallel-
    // variance pattern: each shard/epoch keeps three exact-decimal
    // partials that merge by ADDITION, and mean/variance fall out of
    // the merged triple at the end — how a 100 TB pipeline maintains
    // incremental distribution stats without Welford state or a second
    // pass. Demonstrated as the real two-stage plan: per-(type, half)
    // partials (split at the incremental cutoff), re-aggregated by
    // summation, finished with the closed-form
    // var = (n·Σx² − (Σx)²)/(n(n−1)). The oracle computes directly from
    // the full stream — the gate IS the merge-equals-recompute proof
    // (the q_incremental_agg_merge contract, extended to 2nd moments).
    "q_agg_sufficient_stats" -> ((s, dir) => {
      val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
      val partials = Tables.events(s, dir)
        .select(col("event_type"), (col("ts") < cutoff).as("h"),
          col("value").cast("decimal(18,6)").as("x"))
        .groupBy(col("event_type"), col("h"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("x") * col("x")).as("sxx"))
      partials
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n"),
          sum(col("sx")).as("sx"), sum(col("sxx")).as("sxx"))
        .select(col("event_type"), col("n"),
          round(col("sx").cast("double") / col("n"), 6).as("mean"),
          round(
            (col("n") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) /
              (col("n") * (col("n") - 1)), 6).as("variance"))
        .orderBy(col("event_type"))
    }),

    // Per-group OLS trend — regr_slope/intercept/r² of value over time,
    // the "is this metric drifting?" line fit. The regr_* family is
    // mergeable sufficient-statistics underneath (Σx, Σy, Σxy, Σx², n —
    // the same algebra as q_agg_sufficient_stats), so the fit is one
    // partial-aggregable pass in BOTH engines; x is days-since-epoch to
    // keep the slope in a human unit (value/day) and the float
    // conditioning sane. Outputs rounded to 6 dp.
    "q_agg_regression" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          (epochMs(col("ts")).cast("double") / 86400000.0).as("x"),
          col("value").cast("double").as("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(regr_slope(col("y"), col("x")), 6).as("slope_per_day"),
          round(regr_intercept(col("y"), col("x")), 6).as("intercept"),
          round(regr_r2(col("y"), col("x")), 6).as("r2"))
        .orderBy(col("event_type"))
    }),

    // Higher distribution moments — skewness and excess kurtosis from
    // MERGEABLE raw power sums (Σx…Σx⁴), the q_agg_sufficient_stats
    // pattern extended to 3rd/4th order: shards keep five additive
    // partials, the central-moment algebra runs once on the merged
    // totals. Built-in skewness()/kurtosis() are avoided on purpose —
    // engines disagree on estimator corrections; the raw-moment
    // formulas are engine-neutral. Σx/Σx² stay exact decimal; Σx³/Σx⁴
    // run in double (values ≤ 500 ⇒ relative error ~1e-15, far below
    // the 6 dp gate).
    "q_agg_higher_moments" -> ((s, dir) => {
      val x = col("value").cast("double")
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("double").as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("s1"),
          sum(col("value").cast("decimal(18,6)") *
            col("value").cast("decimal(18,6)")).cast("double").as("s2"),
          sum(x * x * x).as("s3"),
          sum(x * x * x * x).as("s4"))
        .withColumn("mu", col("s1") / col("n"))
        .withColumn("m2", col("s2") / col("n") - col("mu") * col("mu"))
        .withColumn("m3",
          col("s3") / col("n") - lit(3.0) * col("mu") * col("s2") / col("n")
            + lit(2.0) * col("mu") * col("mu") * col("mu"))
        .withColumn("m4",
          col("s4") / col("n") - lit(4.0) * col("mu") * col("s3") / col("n")
            + lit(6.0) * col("mu") * col("mu") * col("s2") / col("n")
            - lit(3.0) * col("mu") * col("mu") * col("mu") * col("mu"))
        .select(col("event_type"), col("n").cast("long").as("n_events"),
          round(col("mu"), 6).as("mean"),
          round(col("m3") / pow(col("m2"), 1.5), 6).as("skewness"),
          round(col("m4") / (col("m2") * col("m2")) - 3.0, 6)
            .as("kurtosis_excess"))
        .orderBy(col("event_type"))
    }),

    // Two-level EXACT distinct rollup via re-aggregable bitmap partials
    // (Spark's bitmap_construct_agg / bitmap_or_agg, see bitmapPartials):
    // per-(type, day, bucket) bitmaps materialize once, the period
    // answer is an OR-merge + popcount per bucket summed over buckets —
    // never a rescan of the stream. The naive `Σ daily distinct` rides
    // alongside to show WHY this exists (distinct doesn't sum: the
    // overcount is visible in the gated row), and the oracle checks the
    // merged count for strict EQUALITY against COUNT(DISTINCT) — no
    // tolerance, because bitmaps are exact. A day can span buckets, so
    // each bucket's day set is unioned per type before it is counted.
    // The HLL twin of this pattern is q_agg_hll_sliding; this is the
    // exact variant.
    "q_agg_bitmap_rollup" -> ((s, dir) => {
      bitmapPartials(Tables.events(s, dir),
        col("event_type"), to_date(col("ts")).as("day"))()
        .groupBy(col("event_type"), col("bucket"))
        .agg(bitmap_count(bitmap_or_agg(col("bm"))).as("n"),
          sum(bitmap_count(col("bm"))).as("d"),
          collect_set(col("day")).as("days"))
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("distinct_period"),
          sum(col("d")).as("sum_daily"),
          size(array_distinct(flatten(collect_list(col("days")))))
            .cast("long").as("n_days"))
        .orderBy(col("event_type"))
    }),

    // Exponentially time-decayed engagement score — Σ value·e^(−λ·age),
    // λ = ln2/7 (7-day half-life): the recency-weighted leaderboard
    // metric. Unlike a windowed sum, decay needs NO window at all —
    // the weight is a pure per-row function of age, so the whole score
    // is one partial-aggregable scan pass (and two scores with
    // different half-lives cost the same pass). Age is exact integer
    // days (div) before the float exp; rounded 6 dp.
    "q_agg_decay_score" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val gmax = ev.agg(max(epochMs(col("ts"))).as("gm"))
      ev.select(col("user_id"), col("value"),
          epochMs(col("ts")).as("ms"))
        .crossJoin(broadcast(gmax))
        .withColumn("age_d", expr("(gm - ms) div 86400000"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value") *
            exp(lit(-math.log(2.0) / 7.0) * col("age_d"))), 6)
            .as("decayed_score"))
        .filter(col("user_id") % 25 === 0)
        .orderBy(col("user_id"))
    }),

    // HLL PRECISION SIZING CURVE — the table an engineer reads before
    // picking lgK for a 100 TB distinct-count sketch: one single-pass
    // aggregate builds sketches at lgK = 4..14 side by side (sketch
    // memory 2^lgK registers each), stack() unpivots them, and each
    // row's estimate is gated against the theoretical relative-error
    // envelope 3·1.04/√2^lgK (+ a small-count floor). The exact count
    // rides along hash-checked; the booleans prove every precision
    // lands inside its own bound.
    "q_agg_hll_error_curve" -> ((s, dir) => {
      val ps = Seq(4, 6, 8, 10, 12, 14)
      val aggs = ps.map(p =>
        hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(p)))
          .as(s"est_$p")) :+ countDistinct(col("user_id")).as("exact_users")
      val row = Tables.events(s, dir).agg(aggs.head, aggs.tail: _*)
      val tol = ps.map(p => p -> 3.0 * 1.04 / math.sqrt((1 << p).toDouble))
        .foldLeft(lit(0.0).as("z")) { case (acc, (p, t)) =>
          when(col("lg_k") === p, t).otherwise(acc) }
      row
        .select(expr("stack(6, " +
          ps.map(p => s"$p, est_$p").mkString(", ") + ") as (lg_k, est)"),
          col("exact_users"))
        .select(col("lg_k"), col("exact_users"),
          (abs(col("est") - col("exact_users")) <=
            greatest(col("exact_users") * tol, lit(5.0)))
            .as("within_bound"))
        .orderBy(col("lg_k"))
    }),

    // EXACT trailing-7-day distinct users + DAU/WAU stickiness — the
    // bitmap twin of q_agg_hll_sliding: daily per-bucket bitmap partials
    // (see bitmapPartials) OR-merge across the ≤7-day window, so the
    // sliding exact-distinct never rescans events and the oracle checks
    // EQUALITY, not a tolerance. The day×day band join broadcasts the
    // daily relation (a calendar never outgrows a broadcast); the
    // stickiness ratio (DAU/WAU, Facebook's engagement metric) rides
    // out of the same row.
    "q_agg_bitmap_sliding" -> ((s, dir) => {
      val daily = bitmapPartials(Tables.events(s, dir),
        to_date(col("ts")).as("day"))()
      val anchors = daily.groupBy(col("day").as("anchor"))
        .agg(sum(bitmap_count(col("bm"))).as("dau_a"))
      anchors
        .join(broadcast(daily),
          datediff(col("anchor"), col("day")).between(0, 6))
        .groupBy(col("anchor"), col("dau_a"), col("bucket"))
        .agg(bitmap_count(bitmap_or_agg(col("bm"))).as("n"))
        .groupBy(col("anchor"), col("dau_a"))
        .agg(sum(col("n")).as("wau7"))
        .select(date_format(col("anchor"), "yyyy-MM-dd").as("day"),
          col("dau_a").as("dau"), col("wau7"),
          round(col("dau_a").cast("double") / col("wau7"), 6)
            .as("stickiness"))
        .orderBy(col("day"))
    }),

    // Sketch-estimated SET INTERSECTION via inclusion-exclusion:
    // |A∩B| ≈ est(A) + est(B) − est(A∪B), all three read off two HLL
    // sketches — the audience-overlap question ("how many users both
    // click AND view?") answered WITHOUT a key-level join. At 100 TB the
    // two sketches fold map-side and meet in one driver-sized row;
    // the exact pairwise-cohort join this replaces shuffles every user
    // id. Incl-excl compounds the per-sketch error, so the gated
    // tolerance is wider (±10% + absolute floor of 8) and the exact
    // intersection rides alongside as the hash-checked column — same
    // self-validating pattern as q_agg_sketch_hll.
    "q_agg_hll_intersect" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      def side(t: String, sk: String, n: String) =
        ev.filter(col("event_type") === t)
          .agg(hll_sketch_agg(col("user_id"), lit(12)).as(sk),
            countDistinct(col("user_id")).as(n))
      val exact = ev.filter(col("event_type").isin("click", "view"))
        .groupBy(col("user_id"))
        .agg(countDistinct(col("event_type")).as("nt"))
        .filter(col("nt") === 2)
        .agg(count(lit(1)).as("exact_overlap"))
      side("click", "ska", "na").crossJoin(side("view", "skb", "nb"))
        .crossJoin(exact)
        .select(col("exact_overlap"),
          (abs(hll_sketch_estimate(col("ska")) +
            hll_sketch_estimate(col("skb")) -
            hll_sketch_estimate(hll_union(col("ska"), col("skb"))) -
            col("exact_overlap")) <=
            greatest(col("exact_overlap") * 0.10, lit(8.0)))
            .as("within_tol"))
    }),

    // Trailing-7-day distinct users per day, answered from DAILY HLL
    // sketches — the query exact distinct counts cannot pre-aggregate
    // (distinct doesn't sum) and sketches can (union does): the events
    // stream folds once into day-cardinality sketch partials, and every
    // sliding window is a union of ≤7 of them. At 100 TB the raw-stream
    // rescan per window (which the self-check and oracle do here) is
    // exactly what this pattern deletes. Day×day and event×day range
    // joins broadcast the day-cardinality side — a calendar dim never
    // outgrows a broadcast.
    // EXACT mergeable distinct via bitmap partials (Spark's
    // bitmap_construct_agg, see bitmapPartials): a 4 KB bitmap per
    // (group, key bucket) replaces both the exact shuffle-every-key
    // countDistinct AND the approximate HLL — partials OR-merge map-side
    // like any sketch, but the answer is exact, so the oracle checks
    // EQUALITY against COUNT(DISTINCT), no tolerance booleans. The
    // per-bucket distinct-set sizes summed alongside are the in-query
    // self-check (and what the 100 TB plan deletes); a set, unlike
    // countDistinct, adds no shuffle to the bitmap aggregate's plan.
    "q_agg_bitmap_distinct" -> ((s, dir) => {
      bitmapPartials(Tables.events(s, dir), col("event_type"))(
        size(collect_set(col("user_id"))).as("d"))
        .groupBy(col("event_type"))
        .agg(sum(bitmap_count(col("bm"))).as("distinct_users"),
          sum(col("d")).as("check_exact"))
        .select(col("event_type"), col("distinct_users"),
          (col("distinct_users") === col("check_exact")).as("bitmap_exact"))
        .orderBy(col("event_type"))
    }),

    "q_agg_hll_sliding" -> ((s, dir) => {
      import graft.operators.Checkpoints.CutOps
      val ev = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val daily = ev.groupBy(col("day"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
        .cutLineage(eager = false)
      val winEst = daily.as("w")
        .join(daily.as("d"),
          col("d.day") >= date_sub(col("w.day"), 6) &&
            col("d.day") <= col("w.day"))
        .groupBy(col("w.day").as("day"))
        .agg(hll_sketch_estimate(hll_union_agg(col("d.sk"))).as("est"))
      val winExact = ev
        .join(broadcast(daily.select(col("day").as("wday"))),
          col("day") >= date_sub(col("wday"), 6) &&
            col("day") <= col("wday"))
        .groupBy(col("wday"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
        .select(col("wday").as("day"), col("exact_users"))
      winEst.join(winExact, Seq("day"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("exact_users"),
          (abs(col("est") - col("exact_users")) <=
            col("exact_users") * 0.05).as("within_tol"))
        .orderBy(col("day"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "q_agg_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_count_distinct" ->
      """SELECT COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT (l_suppkey, l_partkey)) AS n_supp_part
        |FROM lineitem
        |WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL""".stripMargin,
    "q_agg_approx_distinct" ->
      """SELECT COUNT(DISTINCT l_orderkey) AS exact_orders,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  true AS orders_within_tol, true AS parts_within_tol
        |FROM lineitem""".stripMargin,
    "q_agg_kmv_distinct" ->
      """WITH hs AS (
        |  SELECT DISTINCT n.n_name AS nation,
        |    ('0x' || substring(md5(c.c_name), 1, 12))::BIGINT AS h
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |ranked AS (
        |  SELECT nation, h,
        |    row_number() OVER (PARTITION BY nation ORDER BY h) AS rn,
        |    COUNT(*) OVER (PARTITION BY nation) AS cnt
        |  FROM hs),
        |est AS (
        |  SELECT nation,
        |    CASE WHEN cnt < 32 THEN CAST(cnt AS DOUBLE)
        |         ELSE 31 * 281474976710656.0 / h END AS kmv_est
        |  FROM ranked
        |  WHERE rn = CASE WHEN cnt < 32 THEN cnt ELSE 32 END),
        |ex AS (
        |  SELECT n.n_name AS nation,
        |    COUNT(DISTINCT c.c_name) AS n_exact
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY n.n_name)
        |SELECT nation, kmv_est, n_exact
        |FROM est JOIN ex USING (nation) ORDER BY nation""".stripMargin,

    "q_agg_kmv_set_ops" ->
      """WITH ha AS (
        |  SELECT DISTINCT ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT AS h
        |  FROM orders WHERE o_orderpriority = '1-URGENT'),
        |hb AS (
        |  SELECT DISTINCT ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT AS h
        |  FROM orders WHERE o_orderpriority = '2-HIGH'),
        |ra0 AS (SELECT h, row_number() OVER (ORDER BY h) AS rn, COUNT(*) OVER () AS cnt FROM ha),
        |rb0 AS (SELECT h, row_number() OVER (ORDER BY h) AS rn, COUNT(*) OVER () AS cnt FROM hb),
        |ska AS (SELECT h FROM ra0 WHERE rn <= 64),
        |skb AS (SELECT h FROM rb0 WHERE rn <= 64),
        |th AS (
        |  SELECT least(
        |    (SELECT CASE WHEN max(cnt) >= 64 THEN max(CASE WHEN rn = 64 THEN h END)
        |            ELSE 281474976710656 END FROM ra0),
        |    (SELECT CASE WHEN max(cnt) >= 64 THEN max(CASE WHEN rn = 64 THEN h END)
        |            ELSE 281474976710656 END FROM rb0)) AS theta),
        |ra AS (SELECT h FROM ska, th WHERE h < theta),
        |rb AS (SELECT h FROM skb, th WHERE h < theta),
        |u AS (SELECT COUNT(*) AS u_cnt FROM (SELECT h FROM ra UNION SELECT h FROM rb)),
        |i AS (SELECT COUNT(*) AS i_cnt FROM ra WHERE h IN (SELECT h FROM rb)),
        |d AS (SELECT COUNT(*) AS d_cnt FROM ra WHERE h NOT IN (SELECT h FROM rb)),
        |flags AS (
        |  SELECT o_custkey,
        |    max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS in_a,
        |    max(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS in_b
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |  GROUP BY o_custkey),
        |ex AS (SELECT COUNT(*) AS exact_union,
        |         CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_inter
        |       FROM flags)
        |SELECT
        |  CAST(u_cnt AS DOUBLE) * 281474976710656.0 / CAST(theta AS DOUBLE) AS est_union,
        |  CAST(i_cnt AS DOUBLE) * 281474976710656.0 / CAST(theta AS DOUBLE) AS est_inter,
        |  CAST(d_cnt AS DOUBLE) * 281474976710656.0 / CAST(theta AS DOUBLE) AS est_diff_a,
        |  exact_union, exact_inter
        |FROM u, i, d, th, ex""".stripMargin,

    "q_agg_having_dups" ->
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM orders GROUP BY o_custkey HAVING COUNT(*) > 5
        |ORDER BY o_custkey""".stripMargin,
    "q_agg_categorical" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q_agg_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_collect_sorted" ->
      """SELECT l_orderkey,
        |  string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS linenumbers
        |FROM lineitem WHERE l_orderkey % 1000 = 0
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "q_agg_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_agg_histogram" ->
      """SELECT CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) / 50000)
        |    AS BIGINT) AS bucket,
        |  COUNT(*) AS n
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_agg_heavy_hitters" ->
      """WITH x AS (
        |  SELECT CAST(floor(sqrt(o_custkey)) AS BIGINT) AS x FROM orders),
        |c AS (
        |  SELECT x, COUNT(*) AS n FROM x GROUP BY x
        |  ORDER BY n DESC, x LIMIT 5)
        |SELECT
        |  string_agg(CAST(x AS VARCHAR), ',' ORDER BY CAST(x AS VARCHAR))
        |    AS exact_items,
        |  CAST(SUM(n) AS BIGINT) AS top5_rows,
        |  TRUE AS topk_match
        |FROM c""".stripMargin,
    "q_agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS INT) AS gid,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_agg_unpivot" ->
      """WITH t AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS quantity,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS extendedprice,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) AS DOUBLE) AS discount
        |  FROM lineitem WHERE l_orderkey % 50 = 0)
        |SELECT l_orderkey, l_linenumber, 'quantity' AS metric, quantity AS value FROM t
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'extendedprice', extendedprice FROM t
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'discount', discount FROM t
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    "q_agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_agg_percentiles" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25), 4) AS p25,
        |  round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.50), 4) AS p50,
        |  round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75), 4) AS p75
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_agg_approx_percentiles" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.25), 4) AS p25,
        |  round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.50), 4) AS p50,
        |  round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.75), 4) AS p75,
        |  true AS p25_tol, true AS p50_tol, true AS p75_tol
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // conditional-aggregation replay of the pivot (engine-independent of
    // Spark's pivot operator)
    "q_agg_pivot" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS f_total,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS o_total,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p_total
        |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin,
    "q_agg_total_counts" ->
      """SELECT (SELECT COUNT(*) FROM lineitem) AS n_lineitem,
        |  (SELECT COUNT(*) FROM orders) AS n_orders""".stripMargin,
    "q_agg_topn_others" ->
      """WITH per_seg AS (
        |  SELECT r_name, c_mktsegment, COUNT(*) AS n
        |  FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name, c_mktsegment),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY r_name ORDER BY n DESC, c_mktsegment) AS rn
        |  FROM per_seg)
        |SELECT r_name,
        |  CASE WHEN rn <= 2 THEN c_mktsegment ELSE 'OTHER' END AS seg_out,
        |  CAST(SUM(n) AS BIGINT) AS n_customers
        |FROM ranked GROUP BY r_name, seg_out
        |ORDER BY r_name, seg_out""".stripMargin,
    "q_nested_reshape" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_partkey,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS qty_c,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS price_c
        |  FROM lineitem)
        |SELECT l_orderkey, CAST(COUNT(*) AS INT) AS n_items,
        |  MAX(price_c * 10000000 + l_partkey) % 10000000 AS top_part,
        |  round(CAST(MAX(qty_c) AS DOUBLE) / CAST(SUM(qty_c) AS DOUBLE), 6)
        |    AS qty_share
        |FROM li GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "q_agg_equidepth" ->
      """WITH v AS (
        |  SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders),
        |edges AS (
        |  SELECT [round(e, 4) for e in
        |    quantile_cont(v, [0.25, 0.5, 0.75])] AS edges
        |  FROM v)
        |SELECT len(list_filter(edges, x -> v > x)) AS bucket,
        |  COUNT(*) AS n, round(min(v), 2) AS lo, round(max(v), 2) AS hi
        |FROM v, edges GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_agg_argmax" ->
      """WITH per AS (
        |  SELECT event_type, user_id,
        |    SUM(CAST(value AS DECIMAL(18,6))) AS s
        |  FROM events GROUP BY event_type, user_id),
        |ranked AS (
        |  SELECT event_type, user_id, s,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY s DESC, user_id DESC) AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n_users
        |  FROM per)
        |SELECT event_type, user_id AS top_user,
        |  CAST(s AS DOUBLE) AS top_value, n_users
        |FROM ranked WHERE rk = 1 ORDER BY event_type""".stripMargin,

    "q_agg_weighted_median" ->
      """WITH rows_w AS (
        |  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS w
        |  FROM lineitem GROUP BY l_returnflag, v),
        |tot AS (
        |  SELECT l_returnflag, SUM(w) AS tw FROM rows_w
        |  GROUP BY l_returnflag),
        |cum AS (
        |  SELECT r.l_returnflag, v, tw,
        |    SUM(w) OVER (PARTITION BY r.l_returnflag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
        |  FROM rows_w r JOIN tot USING (l_returnflag)),
        |hit AS (
        |  SELECT l_returnflag, v, row_number() OVER (
        |    PARTITION BY l_returnflag ORDER BY v) AS rn
        |  FROM cum WHERE cw * 2 >= tw)
        |SELECT l_returnflag, CAST(v AS DOUBLE) AS wmedian
        |FROM hit WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,

    "q_profile_skew" ->
      """WITH counts AS (
        |  SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY n DESC, l_suppkey) AS rk
        |  FROM counts)
        |SELECT COUNT(*) AS n_keys,
        |  round(quantile_cont(n, 0.5), 6) AS p50,
        |  round(quantile_cont(n, 0.9), 6) AS p90,
        |  round(quantile_cont(n, 0.99), 6) AS p99,
        |  max(n) AS max_rows,
        |  min(CASE WHEN rk = 1 THEN l_suppkey END) AS top1_key,
        |  min(CASE WHEN rk = 2 THEN l_suppkey END) AS top2_key,
        |  min(CASE WHEN rk = 3 THEN l_suppkey END) AS top3_key
        |FROM ranked""".stripMargin,

    "q_incremental_agg_merge" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_profile_events" ->
      """WITH src AS (
        |  SELECT user_id, event_type, value, epoch_ms(ts) AS ts_ms
        |  FROM events)
        |SELECT 'user_id' AS col_name, COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(user_id) AS n_null,
        |  COUNT(DISTINCT user_id) AS n_distinct,
        |  min(user_id)::DOUBLE AS min_num, max(user_id)::DOUBLE AS max_num,
        |  NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str
        |FROM src
        |UNION ALL
        |SELECT 'value', COUNT(*), COUNT(*) - COUNT(value),
        |  COUNT(DISTINCT value), min(value)::DOUBLE, max(value)::DOUBLE,
        |  NULL, NULL
        |FROM src
        |UNION ALL
        |SELECT 'ts_ms', COUNT(*), COUNT(*) - COUNT(ts_ms),
        |  COUNT(DISTINCT ts_ms), min(ts_ms)::DOUBLE, max(ts_ms)::DOUBLE,
        |  NULL, NULL
        |FROM src
        |UNION ALL
        |SELECT 'event_type', COUNT(*), COUNT(*) - COUNT(event_type),
        |  COUNT(DISTINCT event_type), NULL::DOUBLE, NULL::DOUBLE,
        |  min(event_type), max(event_type)
        |FROM src
        |ORDER BY col_name""".stripMargin,

    "q_agg_mode" ->
      """WITH counts AS (
        |  SELECT o_orderstatus AS status, o_orderpriority AS priority,
        |    COUNT(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |r AS (
        |  SELECT status, priority, cnt, row_number() OVER (
        |    PARTITION BY status ORDER BY cnt DESC, priority) AS rn
        |  FROM counts)
        |SELECT status, priority AS mode_priority, cnt
        |FROM r WHERE rn = 1 ORDER BY status""".stripMargin,

    "q_agg_multi_distinct" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  COUNT(DISTINCT l_suppkey) AS d_supp,
        |  COUNT(DISTINCT l_partkey) AS d_part,
        |  COUNT(DISTINCT l_orderkey) AS d_ord
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_agg_corr" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  round(corr(CAST(l_quantity AS DOUBLE),
        |    CAST(l_extendedprice AS DOUBLE)), 6) AS corr_qty_price,
        |  round(covar_samp(CAST(l_quantity AS DOUBLE),
        |    CAST(l_extendedprice AS DOUBLE)), 6) AS covar_qty_price
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_incremental_join_delta" ->
      """SELECT c_mktsegment AS seg, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY seg""".stripMargin,

    "q_agg_countmin" ->
      """SELECT k, exact_cnt, TRUE AS lower_ok, TRUE AS upper_ok FROM (
        |  SELECT l_suppkey AS k, COUNT(*) AS exact_cnt
        |  FROM lineitem GROUP BY 1
        |  ORDER BY exact_cnt DESC, k LIMIT 10)
        |ORDER BY exact_cnt DESC, k""".stripMargin,

    "q_agg_weighted_quartiles" ->
      """WITH r AS (
        |  SELECT l_returnflag AS k,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT k, v,
        |    SUM(w) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    SUM(w) OVER (PARTITION BY k) AS tw
        |  FROM r)
        |SELECT k AS l_returnflag,
        |  CAST(MIN(CASE WHEN cw * 4 >= tw * 1 THEN v END) AS DOUBLE)
        |    AS wp25,
        |  CAST(MIN(CASE WHEN cw * 2 >= tw * 1 THEN v END) AS DOUBLE)
        |    AS wp50,
        |  CAST(MIN(CASE WHEN cw * 4 >= tw * 3 THEN v END) AS DOUBLE)
        |    AS wp75
        |FROM c GROUP BY k ORDER BY l_returnflag""".stripMargin,

    // Full relational replay of BOTH sketches: per-(row, bucket) counts
    // from the same fixed universal-hash coefficients, AMS inner product
    // per row, min over rows — cm_est itself is hash-gated, not just the
    // bound booleans.
    "q_dq_join_estimate" ->
      """WITH ka AS (SELECT o_orderkey AS k FROM orders),
        |kb AS (SELECT l_orderkey AS k FROM lineitem),
        |coef AS (
        |  SELECT r,
        |    CASE r WHEN 0 THEN 92821 WHEN 1 THEN 689287
        |           WHEN 2 THEN 200087 ELSE 145007 END AS a,
        |    CASE r WHEN 0 THEN 53987 WHEN 1 THEN 57163
        |           WHEN 2 THEN 92801 ELSE 121021 END AS b
        |  FROM (SELECT unnest([0, 1, 2, 3]) AS r)),
        |pa AS (
        |  SELECT r, ((a * k + b) % 2147483647) % 1024 AS bkt,
        |    COUNT(*) AS c
        |  FROM ka, coef GROUP BY 1, 2),
        |pb AS (
        |  SELECT r, ((a * k + b) % 2147483647) % 1024 AS bkt,
        |    COUNT(*) AS c
        |  FROM kb, coef GROUP BY 1, 2),
        |ip AS (
        |  SELECT pa.r, CAST(SUM(pa.c * pb.c) AS BIGINT) AS prod
        |  FROM pa JOIN pb ON pa.r = pb.r AND pa.bkt = pb.bkt
        |  GROUP BY 1),
        |est AS (SELECT MIN(prod) AS cm_est FROM ip),
        |ex AS (SELECT COUNT(*) AS exact_rows FROM ka JOIN kb USING (k)),
        |n AS (SELECT (SELECT COUNT(*) FROM ka) AS na,
        |             (SELECT COUNT(*) FROM kb) AS nb)
        |SELECT exact_rows, cm_est,
        |  cm_est >= exact_rows AS lower_ok,
        |  cm_est <= exact_rows + (3 * na * nb) // 1024 AS upper_ok
        |FROM ex, est, n""".stripMargin,

    "q_agg_sketch_hll" ->
      """SELECT event_type, exact_users, within_tol FROM (
        |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |         TRUE AS within_tol
        |  FROM events GROUP BY event_type
        |  UNION ALL
        |  SELECT 'ALL', COUNT(DISTINCT user_id), TRUE FROM events)
        |ORDER BY event_type""".stripMargin,

    "q_agg_regression" ->
      """WITH xy AS (
        |  SELECT event_type,
        |    CAST(epoch_ms(ts) AS DOUBLE) / 86400000.0 AS x,
        |    CAST(value AS DOUBLE) AS y
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  round(regr_slope(y, x), 6) AS slope_per_day,
        |  round(regr_intercept(y, x), 6) AS intercept,
        |  round(regr_r2(y, x), 6) AS r2
        |FROM xy GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_agg_higher_moments" ->
      """WITH s AS (
        |  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6)) *
        |      CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s2,
        |    SUM(value * value * value) AS s3,
        |    SUM(value * value * value * value) AS s4
        |  FROM events GROUP BY event_type),
        |m AS (
        |  SELECT event_type, n, s1 / n AS mu,
        |    s2 / n - (s1 / n) * (s1 / n) AS m2,
        |    s3 / n - 3.0 * (s1 / n) * s2 / n
        |      + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
        |    s4 / n - 4.0 * (s1 / n) * s3 / n
        |      + 6.0 * (s1 / n) * (s1 / n) * s2 / n
        |      - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        |  FROM s)
        |SELECT event_type, CAST(n AS BIGINT) AS n_events,
        |  round(mu, 6) AS mean,
        |  round(m3 / pow(m2, 1.5), 6) AS skewness,
        |  round(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
        |FROM m ORDER BY event_type""".stripMargin,

    "q_agg_sufficient_stats" ->
      """WITH x AS (
        |  SELECT event_type, CAST(value AS DECIMAL(18,6)) AS x
        |  FROM events)
        |SELECT event_type, COUNT(*) AS n,
        |  round(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS mean,
        |  round((COUNT(*) * CAST(SUM(x * x) AS DOUBLE) -
        |         CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)) /
        |        (COUNT(*) * (COUNT(*) - 1)), 6) AS variance
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_agg_decay_score" ->
      """WITH g AS (SELECT max(epoch_ms(ts)) AS gm FROM events),
        |x AS (
        |  SELECT user_id, value,
        |    (gm - epoch_ms(ts)) // 86400000 AS age_d
        |  FROM events, g)
        |SELECT user_id, COUNT(*) AS n,
        |  round(SUM(value * exp(-ln(2) / 7 * age_d)), 6)
        |    AS decayed_score
        |FROM x GROUP BY user_id HAVING user_id % 25 = 0
        |ORDER BY user_id""".stripMargin,

    "q_agg_hll_error_curve" ->
      """WITH e AS (SELECT COUNT(DISTINCT user_id) AS exact_users
        |           FROM events)
        |SELECT lg_k, exact_users, TRUE AS within_bound
        |FROM e, (SELECT unnest([4, 6, 8, 10, 12, 14]) AS lg_k)
        |ORDER BY lg_k""".stripMargin,

    "q_agg_bitmap_sliding" ->
      """WITH cal AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS anchor FROM events)
        |SELECT strftime(anchor, '%Y-%m-%d') AS day,
        |  (SELECT COUNT(DISTINCT user_id) FROM events
        |   WHERE CAST(ts AS DATE) = anchor) AS dau,
        |  (SELECT COUNT(DISTINCT user_id) FROM events
        |   WHERE CAST(ts AS DATE) BETWEEN anchor - 6 AND anchor) AS wau7,
        |  round(CAST((SELECT COUNT(DISTINCT user_id) FROM events
        |      WHERE CAST(ts AS DATE) = anchor) AS DOUBLE) /
        |    (SELECT COUNT(DISTINCT user_id) FROM events
        |     WHERE CAST(ts AS DATE) BETWEEN anchor - 6 AND anchor), 6)
        |    AS stickiness
        |FROM cal ORDER BY day""".stripMargin,

    "q_agg_bitmap_rollup" ->
      """WITH per_day AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    COUNT(DISTINCT user_id) AS d
        |  FROM events GROUP BY event_type, day)
        |SELECT e.event_type,
        |  (SELECT COUNT(DISTINCT user_id) FROM events x
        |   WHERE x.event_type = e.event_type) AS distinct_period,
        |  CAST(SUM(d) AS BIGINT) AS sum_daily,
        |  COUNT(*) AS n_days
        |FROM per_day e GROUP BY e.event_type
        |ORDER BY e.event_type""".stripMargin,

    "q_agg_hll_intersect" ->
      """WITH both_types AS (
        |  SELECT user_id FROM events WHERE event_type IN ('click', 'view')
        |  GROUP BY user_id HAVING COUNT(DISTINCT event_type) = 2)
        |SELECT COUNT(*) AS exact_overlap, TRUE AS within_tol
        |FROM both_types""".stripMargin,

    "q_agg_bitmap_distinct" ->
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS distinct_users,
        |  TRUE AS bitmap_exact
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_agg_hll_sliding" ->
      """WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day FROM ev),
        |wx AS (
        |  SELECT d.day, COUNT(DISTINCT e.user_id) AS exact_users
        |  FROM days d JOIN ev e ON e.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY d.day)
        |SELECT strftime(day, '%Y-%m-%d') AS day, exact_users,
        |       TRUE AS within_tol
        |FROM wx ORDER BY day""".stripMargin
  )
}
