package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs for one run. `work` is the run's own
  * scratch directory inside the checkout. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long,
    seconds: Double, trace: Trace, work: String, report: Report,
    sessionStartS: Double, heap: HeapWatch) {
  def traced: Boolean = trace.enabled
}

/** Benchmark entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints detail lines, then ONE result line as the last line of
  * stdout; exits 1 if any correctness gate failed. */
object Main {

  /** End-to-end metrics, printed by every untraced run. */
  val EndToEnd: Seq[String] = Seq("setup_s", "etl_quads_per_s",
    "sync_batch_s", "store_bytes_per_quad", "serve_p50_ms", "serve_p90_ms",
    "serve_p50_ms_hi", "serve_max_rps", "loops_wall_s", "peak_heap_mb")

  val Workloads: Map[String, Ctx => Unit] = Map(
    "sparql_serve" -> SparqlServe.run,
    "catalog_loops" -> CatalogLoops.run)

  def session(work: String): SparkSession = {
    val cpus = 4
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the catalog bench's session settings, so catalog_loops times the
      // same plans graft.Bench does
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "65536")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = opt("--workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val work = new java.io.File(opt("--work")).getAbsolutePath
    Files.delete(work)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(work))

    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val report = new Report
    val traced = opt("--trace") == "1"
    val trace = new Trace(spark, traced)
    val heap = new HeapWatch
    val ctx = Ctx(spark, workload, opt("--seed").toLong,
      opt("--seconds").toDouble, trace, work, report, sessionS, heap)
    val w0 = System.nanoTime()
    var workloadS = 0.0
    var stopS = 0.0
    try {
      run(ctx)
      workloadS = (System.nanoTime() - w0) / 1e9
      if (traced) {
        trace.drain()
        trace.writeJson(s"$work/../trace-$workload.json")
      } else report.metric("peak_heap_mb", heap.peakMb, "MB")
    } catch { case e: Throwable =>
      report.check(s"run aborted: $e")(false)
      e.printStackTrace()
    } finally {
      val s0 = System.nanoTime()
      trace.stop()
      spark.stop()
      stopS = (System.nanoTime() - s0) / 1e9
    }
    // a metric nothing produced is a failed check, in both modes
    val declared =
      if (traced) Layers.All.map(_._1).filterNot(_ == Layers.FailedRatio)
      else EndToEnd
    declared.filterNot(report.metricNames.contains).foreach { m =>
      report.check(s"metric $m not measured")(false)
    }
    if (traced) Layers.failedRatio(report)
    Files.delete(work)
    val upS = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getUptime / 1000.0
    report.detail("jvm", Json.obj(Seq("uptime_s" -> Json.num(upS),
      "workload_s" -> Json.num(workloadS), "stop_s" -> Json.num(stopS))))
    println(report.detailLine)
    println(report.resultLine)
    sys.exit(if (report.failed == 0) 0 else 1)
  }
}

/** Largest heap in use after full collections, sampled at fixed points
  * of the run: the live set, which does not depend on when the collector
  * happened to run. */
final class HeapWatch {
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  @volatile private var peak = 0L

  /** Collects until the heap in use stops shrinking (at most six times):
    * Spark's cleaner frees broadcast and checkpointed blocks only after a
    * collection has found their handles unreachable, so a fixed number
    * of collections leaves a remainder that depends on timing. */
  def sample(): Unit = {
    var used = Long.MaxValue
    var shrinking = true
    var i = 0
    while (shrinking && i < 6) {
      System.gc()
      val now = mem.getHeapMemoryUsage.getUsed
      shrinking = now < used - (1L << 20)
      used = math.min(used, now)
      i += 1
      if (shrinking) Thread.sleep(200)
    }
    peak = math.max(peak, used)
  }

  def peakMb: Double = peak / 1048576.0
}
