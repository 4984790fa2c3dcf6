package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** `catalog_loops`: the most job-heavy iterative catalog queries, run
  * one at a time in a closed loop through the catalog bench's timed action,
  * `SparkEntry.queries(name)(spark, dir).count()`. Hundreds of short
  * jobs per pass, so scheduling and the driver-side loop tax dominate.
  *
  * Set-up generates the customer table (fixed content, so the recorded
  * result hashes hold for every seed); the seed orders the queries in
  * each pass. The warm-up pass collects every query once and compares
  * the sorted-row hash and row count with the ones recorded for the
  * program at the commit that introduced this benchmark. */
object CatalogLoops {

  /** Two of the most job-heavy catalog queries (about 140 jobs a pass on
    * this input): grid-cell clustering and incremental connected
    * components. Both read only `customer`. Each further query would add
    * its warm-up run and its pass time to every run of the benchmark. */
  val Queries: Seq[String] = Seq("q_spatial_cluster_cells",
    "q_graph_cc_incremental")

  /** Input size (that of the catalog's sf0.1 customer table; the rows
    * are synthetic) and the fixed data seed. */
  val Customers = 15000L
  val DataSeed = 42L
  private val SetupReps = 3

  private val ExpectedResource = "/catalog_loops_expected.tsv"

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val dir = s"${ctx.work}/data"
    val gens = (1 to SetupReps).map { _ =>
      val t = System.nanoTime()
      val rows = Customers
      DataGen.customer(spark, DataSeed, rows).coalesce(1).write
        .mode("overwrite").parquet(s"$dir/customer.parquet")
      val bytes = Files.bytesUnder(dir)
      (rows, bytes, (System.nanoTime() - t) / 1e9)
    }
    val genS = Stats.median(gens.map(_._3))
    val (rows, bytes, _) = gens.head

    val expected = loadExpected()
    val expectedRows = scala.collection.mutable.Map[String, Long]()
    val warmT0 = System.nanoTime()
    Queries.foreach { q =>
      r.attempt(s"$q warm-up") {
        val out = SparkEntry.query(spark, dir, q).collect()
        val h = hash(out)
        expectedRows(q) = out.length
        // the reason is the observed line of the expected-results file
        r.check(s"$q\t${out.length}\t$h")(
          expected.get(q).contains((out.length.toLong, h)))
      }
    }
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val setupS = ctx.sessionStartS + genS + warmS

    // timed passes, each in a seeded order; another pass starts while
    // it would end nearer the window's end than stopping now would
    val rng = new scala.util.Random(ctx.seed)
    val walls = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val passes = scala.collection.mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.isEmpty || elapsed + passes.last / 2 <= ctx.seconds) {
      val p0 = System.nanoTime()
      rng.shuffle(Queries).foreach { q =>
        ctx.trace.span(s"loops.$q", s"pass${passes.size}") {
          val q0 = System.nanoTime()
          r.attempt(s"$q timed") {
            val n = SparkEntry.query(spark, dir, q).count()
            walls += q -> (System.nanoTime() - q0) / 1e9
            r.check(s"$q: count $n, warm-up had ${expectedRows.get(q)}")(
              expectedRows.get(q).contains(n))
          }
        }
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    val windowS = elapsed
    val resultRows = expectedRows.values.sum
    ctx.heap.sample()

    if (ctx.traced) {
      Layers.catalogLoops(ctx, dir, walls.toSeq)
      SparqlServe.probe(ctx)
    } else {
      // single query runs vary more than whole passes, so the per-run
      // counterparts are taken per pass: the mean query wall of each pass
      val perQueryMs = passes.map(_ / Queries.size * 1000).toSeq
      val ms = walls.map(_._2 * 1000).toSeq
      r.metric("setup_s", setupS, "s")
      r.metric("etl_quads_per_s", resultRows * passes.size / passes.sum,
        "1/s")
      r.metric("store_bytes_per_quad", bytes.toDouble / rows, "B")
      r.metric("sync_batch_s", Stats.median(perQueryMs) / 1000, "s")
      r.metric("serve_p50_ms", Stats.percentile(perQueryMs, 0.5).value, "ms")
      r.metric("serve_p90_ms", Stats.percentile(perQueryMs, 0.9).value, "ms")
      r.metric("serve_p50_ms_hi", Stats.percentile(ms, 0.75).value, "ms")
      r.metric("serve_max_rps", walls.size / windowS, "1/s")
      r.metric("loops_wall_s", Stats.median(passes.toSeq), "s")
    }
    r.detail("catalog_loops", Json.obj(Seq(
      "queries" -> Json.num(Queries.size),
      "session_s" -> Json.num(ctx.sessionStartS),
      "generate_s" -> gens.map(g => Json.num(g._3)).mkString("[", ",", "]"),
      "warm_s" -> Json.num(warmS),
      "passes" -> Json.num(passes.size),
      "pass_walls_s" -> passes.map(Json.num).mkString("[", ",", "]"),
      "generated_rows" -> Json.num(rows.toDouble),
      "query_runs" -> Json.num(walls.size),
      "walls" -> Json.obj(walls.toSeq.map { case (q, w) => q -> Json.num(w) }))))
  }

  /** Each query once, traced, inside another workload's traced run, so
    * the operator layer is measured there too. */
  def probe(ctx: Ctx, dir: String): Unit = {
    Queries.foreach(q => ctx.trace.span(s"loops.$q", "probe")(
      SparkEntry.query(ctx.spark, dir, q).count()))
    Layers.loops(ctx)
  }

  /** query → (rows, hash) recorded at the commit that added the
    * benchmark. */
  private def loadExpected(): Map[String, (Long, String)] = {
    val in = getClass.getResourceAsStream(ExpectedResource)
    if (in == null) Map.empty
    else try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.split('\t')).collect { case Array(q, n, h) =>
        q -> (n.toLong, h) }.toMap
    finally in.close()
  }

  /** SHA-256 over the sorted rendered rows; doubles render with nine
    * significant digits so summation order cannot change the hash. */
  def hash(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "null"
      case d: Double => String.format("%.9g", Double.box(d))
      case f: Float => String.format("%.6g", Double.box(f.toDouble))
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
          .sorted.mkString("{", ",", "}")
      case a: Array[_] => a.map(render).mkString("[", ",", "]")
      case o => o.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(render).sorted.foreach { line =>
      md.update(line.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** The catalog bench's timed action, exactly as `graft.Bench` builds it. */
object SparkEntry {
  def query(spark: org.apache.spark.sql.SparkSession, dir: String,
      name: String): DataFrame = graft.SparkEntry.queries(name)(spark, dir)
}
