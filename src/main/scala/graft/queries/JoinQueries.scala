package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions._

/** SURVEY §2.3 joins. Mirrors: the 5/9-way address assembly joins
  * (etl_lalf_address.py:728-735, cam/tables/lf_address.py:73-88), left joins
  * (J3), anti-join gap checks (J4, etl-queries.md:21-26), composite keys
  * (J5), broadcast vocab lookup with fallback (J10,
  * etl_lalf_address.py:576-583), theta/range joins (J6 relative).
  *
  * Scale notes: dimension tables (region/nation and derived vocab maps) are
  * explicitly `broadcast()` so the big fact side never shuffles for them;
  * fact-fact joins shuffle on their keys once and AQE handles skew.
  */
object JoinQueries extends QueryCatalog {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_rel_division" -> ((s, dir) => relDivision(s, dir)),
    // J1/J2: multi-way inner equi-join, the address-pipeline shape —
    // 6 tables, dims broadcast, group to revenue per nation (TPC-H Q5-ish).
    "q_join_multiway" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val ord = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      val sup = Tables.supplier(s, dir)
      val nat = Tables.nation(s, dir)
      val reg = Tables.region(s, dir)
      cust
        .join(ord, cust("c_custkey") === ord("o_custkey"))
        .join(li, ord("o_orderkey") === li("l_orderkey"))
        .join(sup, li("l_suppkey") === sup("s_suppkey") &&
          cust("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .filter(reg("r_name") === "ASIA" &&
          ord("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          ord("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(nat("n_name").as("n_name"))
        .agg(asMoney(sum(dec2(col("l_extendedprice")) *
          (lit(1).cast("decimal(18,2)") - dec2(col("l_discount")))))
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),

    // J3: left outer join — all nations, customer counts (zero-match rows
    // survive with NULL-ignoring counts), like LEFT JOIN lf_road (J3).
    "q_join_left" -> ((s, dir) => {
      val nat = Tables.nation(s, dir)
      val bigCust = Tables.customer(s, dir).filter(col("c_acctbal") > 9000)
      nat.join(bigCust, nat("n_nationkey") === bigCust("c_nationkey"), "left")
        .groupBy(col("n_nationkey"), col("n_name"))
        .agg(count(col("c_custkey")).as("n_rich"),
          asMoney(coalesce(sum(dec2(col("c_acctbal"))),
            lit(0).cast("decimal(18,2)"))).as("rich_bal"))
        .orderBy(col("n_nationkey"))
    }),

    // J4: anti join — customers with no orders (the reference's
    // "unjoined" gap checks, etl-queries.md:21-26).
    "q_join_anti" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val bigOrd = Tables.orders(s, dir).filter(col("o_totalprice") > 250000)
      cust.join(bigOrd, cust("c_custkey") === bigOrd("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
        .orderBy(col("c_custkey"))
    }),

    // Semi join — customers having at least one completed order (EXISTS).
    "q_join_semi" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val ord = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
      cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_nationkey"))
        .orderBy(col("c_custkey"))
    }),

    // J5: composite-key equi-join — lineitem joined back to its
    // (partkey, suppkey) aggregate, like the lot+plan joins.
    "q_join_composite_key" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val agg = li.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("n_ships"),
          asMoney(sum(dec2(col("l_quantity")))).as("ps_qty"))
      li.join(agg, Seq("l_partkey", "l_suppkey"))
        .filter(col("n_ships") > 3)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"), col("n_ships"), col("ps_qty"))
        .orderBy(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_linenumber"))
    }),

    // Explicit salted skew join (operators/SkewJoin): the planned rewrite
    // for known-pathological probe keys — each probe key spreads over 16
    // salted shuffle partitions, the slim build side replicates 16×, and
    // the result is provably the plain inner join (the oracle replays it
    // unsalted). AQE skew-split is the runtime fallback; this is the
    // up-front shape for celebrity keys.
    "q_join_skew_salted" -> ((s, dir) => {
      val probe = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          dec2(col("l_quantity")).as("qty"))
      val build = Tables.orders(s, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.SkewJoin.salted(probe, build, "l_orderkey",
          struct(col("l_orderkey"), col("l_linenumber")), r = 16)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), asMoney(sum(col("qty"))).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    }),

    // 1-D interval OVERLAP join (operators/IntervalJoin): supplier 1's
    // shipment windows × supplier 2's, every overlapping pair. The
    // inequality θ-join becomes a bucket-keyed equi-join by exploding
    // each interval to the ~(len/bucket + 1) time buckets it touches;
    // the oracle replays the plain θ-join. Intervals are [ship_day,
    // ship_day + qty % 30] — deterministic from the data.
    "q_join_interval_overlap" -> ((s, dir) => {
      def itv(supp: Int, p: String) = Tables.lineitem(s, dir)
        .filter(col("l_suppkey") === supp)
        .select(col("l_orderkey").as(s"${p}_order"),
          col("l_linenumber").as(s"${p}_line"),
          datediff(col("l_shipdate").cast("date"),
            lit("1990-01-01").cast("date")).cast("long").as(s"${p}_d"),
          (col("l_quantity").cast("long") % 30).as(s"${p}_len"))
      graft.operators.IntervalJoin.overlaps(
          itv(1, "a"), col("a_d"), col("a_d") + col("a_len"),
          itv(2, "b"), col("b_d"), col("b_d") + col("b_len"),
          bucketDays = 30)
        .select(col("a_order"), col("a_line"),
          col("a_start"), col("a_end"),
          col("b_order"), col("b_line"),
          col("b_start"), col("b_end"))
        .orderBy(col("a_order"), col("a_line"), col("b_order"), col("b_line"))
    }),

    // J10: broadcast vocab lookup with fallback chain —
    // coalesce(vocabValue, staticMapValue, sentinel); the reference errors
    // on a miss (etl_lalf_address.py:576-583); here the miss routes to a
    // sentinel so the fallback arm is exercised deterministically.
    "q_join_vocab_fallback" -> ((s, dir) => {
      val nat = Tables.nation(s, dir)
      // vocab: only even-numbered nations get a "pref label"
      val vocab = nat.filter(col("n_nationkey") % 2 === 0)
        .select(col("n_nationkey").as("v_key"),
          concat(lit("pref:"), lower(col("n_name"))).as("pref_label"))
      val cust = Tables.customer(s, dir)
      cust.join(broadcast(vocab), cust("c_nationkey") === vocab("v_key"), "left")
        .groupBy(coalesce(col("pref_label"),
          concat(lit("static:"), col("c_nationkey").cast("string")))
          .as("label"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label"))
    }),

    // J6-shaped theta/range join: orders matched to price bands
    // (small broadcast dim, non-equi condition → BroadcastNestedLoopJoin).
    "q_join_range_band" -> ((s, dir) => {
      val reg = Tables.region(s, dir)
      val bands = broadcast(reg.select(
        col("r_regionkey").cast("long").as("band_id"),
        (col("r_regionkey").cast("double") * 100000.0).as("lo"),
        ((col("r_regionkey").cast("double") + 1) * 100000.0).as("hi")))
      val ord = Tables.orders(s, dir)
      ord.join(bands, ord("o_totalprice") >= bands("lo") &&
          ord("o_totalprice") < bands("hi"))
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n_orders"),
          asMoney(sum(dec2(col("o_totalprice")))).as("band_total"))
        .orderBy(col("band_id"))
    }),

    // AS-OF join (operators/AsOfJoin — the merge formulation, one
    // key shuffle, no inequality θ-join): clickstream attribution —
    // every click matched to the user's latest view at-or-before it,
    // clicks with no prior view kept with null attribution. The oracle
    // is DuckDB's NATIVE `ASOF LEFT JOIN` — a fully independent
    // implementation of the semantics, not a SQL replay of this plan.
    "q_join_asof" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_event_id"),
          epochMs(col("ts")).as("view_ms"))
      graft.operators.AsOfJoin.asOf(clicks, views, "user_id", "ts")
        .select(col("event_id"), col("user_id"),
          epochMs(col("ts")).as("click_ms"),
          col("view_event_id"), col("view_ms"))
        .orderBy(col("event_id"))
    }),

    // FORWARD as-of (operators/AsOfJoin.asOfForward): each purchase
    // matched to the user's NEXT view at-or-after it — the
    // "next-touch" temporal lookup (next maintenance after a failure,
    // next quote after an order). Same single-shuffle merge plan as
    // the backward form, frame mirrored; DuckDB replays it as
    // ASOF JOIN with v.ts >= p.ts.
    "q_join_asof_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"),
          col("event_id").as("view_event_id"),
          epochMs(col("ts")).as("view_ms"))
      graft.operators.AsOfJoin
        .asOfForward(purchases, views, "user_id", "ts")
        .select(col("event_id"), col("user_id"),
          epochMs(col("ts")).as("purchase_ms"),
          col("view_event_id"), col("view_ms"))
        .orderBy(col("event_id"))
    }),

    // Null-safe equi-join (<=>): NULL keys MATCH each other — the
    // semantics a sentinel-to-NULL normalization pipeline needs when the
    // normalized key joins downstream (the reference's 'XXX' road-type /
    // '9999' lot sentinels become NULLs, then must still join their dim
    // row). The part that matters at scale: Spark keeps EqualNullSafe as
    // a HASH join key (coalesce-struct trick internally), so the plan is
    // the same shuffled/broadcast hash join as = — never a nested loop.
    "q_join_null_safe" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(nullif(col("o_orderpriority"), lit("1-URGENT")).as("ok"),
          col("o_totalprice").cast("decimal(18,2)").as("tp"))
      val dim = o.select(col("ok")).distinct()
      o.as("l").join(dim.as("d"), col("l.ok") <=> col("d.ok"))
        .groupBy(col("d.ok").as("priority_key"))
        .agg(count(lit(1)).as("n"),
          sum(col("tp")).cast("double").as("sum_price"))
        .orderBy(col("priority_key").asc_nulls_first)
    }),

    // Bloom-pruned semi join — the runtime-filter pattern as an explicit
    // operator ([[graft.operators.BloomJoin]]): the NATION_7 suppliers'
    // key set collapses to a 1 KB Spark bloom filter (1,024 expected
    // keys), computed once as a scalar subquery, whose `might_contain`
    // test runs in the lineitem scan's Filter — so non-joining fact rows
    // never reach the verify join's shuffle; the exact semi join then
    // removes bloom false positives, making the result bit-identical to
    // the plain semi join the oracle runs.
    "q_join_bloom_prune" -> ((s, dir) => {
      val dim = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      graft.operators.BloomJoin
        .prunedSemiJoin(Tables.lineitem(s, dir), col("l_suppkey"),
          dim, col("s_suppkey"), expectedItems = 1024)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy(col("l_returnflag"))
    }),

    // The AUTOMATIC form of q_join_bloom_prune: no operator call — the
    // query is the plain filtered-dim join, and the runtime bloom filter
    // is injected by [[graft.plans.BloomJoinInject]], the optimizer rule
    // that spots the selective small build side and rewrites the probe
    // scan to pre-filter on a scalar-subquery bloom of the build keys.
    // Runs in a child session (`newSession` shares the SparkContext and
    // extensions but isolates SQL conf) so the conf that enables the
    // rule — and thresholds low enough to fire at test SF; the defaults
    // are sized for the 100 TB regime — cannot leak into sibling
    // queries. Spark's own runtime filter is disabled in that session so
    // the asserted bloom is provably this rule's. The oracle is the
    // UNREWRITTEN join: result identity is the rule's exactness contract.
    "q_join_bloom_auto" -> ((s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.graft.runtimeBloom.enabled", "true")
      s2.conf.set("spark.graft.runtimeBloom.maxCreationSideBytes",
        (64L * 1024 * 1024).toString)
      s2.conf.set("spark.graft.runtimeBloom.minSizeRatio", "1")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      // Keep the verify join a SHUFFLE join — the regime the bloom is
      // for; with broadcast enabled the planner would hide the win.
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val dim = Tables.supplier(s2, dir)
        .filter(col("s_nationkey") === 7)
        .select(col("s_suppkey"))
      Tables.lineitem(s2, dir)
        .join(dim, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
        .orderBy(col("l_returnflag"))
    })
  )

  /** Relational DIVISION — "suppliers who shipped EVERY part in the
    * requirement set" (the universal-quantifier join, Codd's ÷; the
    * for-all shape behind compliance/coverage checks). No NOT EXISTS
    * double negation: the scalable form is candidate pairs → distinct →
    * per-candidate match count == divisor size, which is two
    * partial-aggregable aggregations and one broadcast of the (by
    * definition small) divisor — the anti-join formulation would probe
    * the full cross space instead. */
  private def relDivision(s: SparkSession, dir: String): DataFrame = {
    val divisor = Tables.part(s, dir)
      .filter(col("p_partkey").isin(20L, 40L))
      .select(col("p_partkey"))
    val dn = divisor.agg(count(lit(1)).as("nd"))
    Tables.lineitem(s, dir)
      .join(broadcast(divisor), col("l_partkey") === col("p_partkey"))
      .select(col("l_suppkey"), col("p_partkey")).distinct()
      .groupBy(col("l_suppkey"))
      .agg(countDistinct(col("p_partkey")).as("nc"))
      .crossJoin(broadcast(dn))
      .filter(col("nc") === col("nd"))
      .select(col("l_suppkey").as("s_suppkey"), col("nc").as("n_parts"))
      .orderBy(col("s_suppkey"))
  }

  override def oracleSql: Map[String, String] = Map(
    "q_join_bloom_auto" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_nationkey = 7
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_join_rel_division" ->
      """WITH divisor AS (
        |  SELECT p_partkey FROM part WHERE p_partkey IN (20, 40)),
        |pairs AS (
        |  SELECT DISTINCT l_suppkey, p_partkey
        |  FROM lineitem JOIN divisor ON l_partkey = p_partkey)
        |SELECT l_suppkey AS s_suppkey, COUNT(*) AS n_parts
        |FROM pairs GROUP BY l_suppkey
        |HAVING COUNT(*) = (SELECT COUNT(*) FROM divisor)
        |ORDER BY s_suppkey""".stripMargin,
    "q_join_multiway" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_join_left" ->
      """SELECT n_nationkey, n_name, COUNT(c_custkey) AS n_rich,
        |  CAST(COALESCE(SUM(CAST(c_acctbal AS DECIMAL(18,2))), CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS rich_bal
        |FROM nation LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 9000) c
        |  ON n_nationkey = c.c_nationkey
        |GROUP BY n_nationkey, n_name ORDER BY n_nationkey""".stripMargin,
    "q_join_interval_overlap" ->
      """WITH a AS (
        |  SELECT l_orderkey AS a_order, l_linenumber AS a_line,
        |    date_diff('day', DATE '1990-01-01', CAST(l_shipdate AS DATE)) AS s,
        |    CAST(l_quantity AS BIGINT) % 30 AS len
        |  FROM lineitem WHERE l_suppkey = 1),
        |b AS (
        |  SELECT l_orderkey AS b_order, l_linenumber AS b_line,
        |    date_diff('day', DATE '1990-01-01', CAST(l_shipdate AS DATE)) AS s,
        |    CAST(l_quantity AS BIGINT) % 30 AS len
        |  FROM lineitem WHERE l_suppkey = 2)
        |SELECT a_order, a_line,
        |  CAST(a.s AS BIGINT) AS a_start, CAST(a.s + a.len AS BIGINT) AS a_end,
        |  b_order, b_line,
        |  CAST(b.s AS BIGINT) AS b_start, CAST(b.s + b.len AS BIGINT) AS b_end
        |FROM a JOIN b ON a.s <= b.s + b.len AND b.s <= a.s + a.len
        |ORDER BY a_order, a_line, b_order, b_line""".stripMargin,
    "q_join_skew_salted" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_nationkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q_join_composite_key" ->
      """WITH agg AS (
        |  SELECT l_partkey, l_suppkey, COUNT(*) AS n_ships,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS ps_qty
        |  FROM lineitem GROUP BY l_partkey, l_suppkey)
        |SELECT l.l_orderkey, l.l_partkey, l.l_suppkey, l.l_linenumber,
        |  a.n_ships, a.ps_qty
        |FROM lineitem l JOIN agg a
        |  ON l.l_partkey = a.l_partkey AND l.l_suppkey = a.l_suppkey
        |WHERE a.n_ships > 3
        |ORDER BY l.l_orderkey, l.l_partkey, l.l_suppkey, l.l_linenumber""".stripMargin,
    "q_join_vocab_fallback" ->
      """WITH vocab AS (
        |  SELECT n_nationkey AS v_key, 'pref:' || lower(n_name) AS pref_label
        |  FROM nation WHERE n_nationkey % 2 = 0)
        |SELECT COALESCE(pref_label, 'static:' || CAST(c_nationkey AS VARCHAR)) AS label,
        |  COUNT(*) AS n
        |FROM customer LEFT JOIN vocab ON c_nationkey = v_key
        |GROUP BY 1 ORDER BY label""".stripMargin,
    "q_join_range_band" ->
      """WITH bands AS (
        |  SELECT CAST(r_regionkey AS BIGINT) AS band_id,
        |    CAST(r_regionkey AS DOUBLE) * 100000.0 AS lo,
        |    (CAST(r_regionkey AS DOUBLE) + 1) * 100000.0 AS hi
        |  FROM region)
        |SELECT band_id, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS band_total
        |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin,
    "q_join_asof" ->
      """SELECT c.event_id, c.user_id, epoch_ms(c.ts) AS click_ms,
        |  v.event_id AS view_event_id, epoch_ms(v.ts) AS view_ms
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id AND v.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,

    "q_join_asof_forward" ->
      """SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS purchase_ms,
        |  v.event_id AS view_event_id, epoch_ms(v.ts) AS view_ms
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id AND v.ts >= p.ts
        |ORDER BY p.event_id""".stripMargin,

    "q_join_null_safe" ->
      """WITH o AS (
        |  SELECT NULLIF(o_orderpriority, '1-URGENT') AS ok,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS tp
        |  FROM orders),
        |dim AS (SELECT DISTINCT ok FROM o)
        |SELECT d.ok AS priority_key, COUNT(*) AS n,
        |  CAST(SUM(o.tp) AS DOUBLE) AS sum_price
        |FROM o JOIN dim d ON o.ok IS NOT DISTINCT FROM d.ok
        |GROUP BY d.ok
        |ORDER BY priority_key NULLS FIRST""".stripMargin,

    "q_join_bloom_prune" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_suppkey IN (
        |  SELECT s_suppkey FROM supplier s
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  WHERE n.n_name = 'NATION_7')
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
  )
}
