package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.rdf.{QuadEmitter, SparqlParser}

/** Per-layer numbers from the traced run (`--trace 1`). Each workload
  * replays its operations with spans around every layer call; the
  * listener counters of the spans roll up into the metrics below.
  * Catalyst, scheduling and execution counters are per operation: per
  * served request on `sparql_serve`, per query run on `catalog_loops`.
  * The `etl.*`, `emit.*` and `store.*` write and sync numbers come from
  * the serving store's ETL. Layers a workload does not exercise are
  * measured by a small traced probe of the other workload in the same
  * run (see `SparqlServe.probe`, `CatalogLoops.probe`). */
object Layers {

  val LoopQueries: Seq[String] = CatalogLoops.Queries
  val FailedRatio = "ops_failed_ratio"

  /** Every per-layer metric with its unit, in report order. */
  val All: Seq[(String, String)] = Seq(
    "sparql.parse_ms" -> "ms", "sparql.construct_ms" -> "ms",
    "sparql.construct_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "catalyst.aqe_replans" -> "count",
    "sched.jobs" -> "count", "sched.stages" -> "count",
    "sched.tasks" -> "count", "sched.job_busy_s" -> "s",
    "sched.driver_gap_s" -> "s",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.shuffle_read_bytes" -> "B", "exec.shuffle_write_bytes" -> "B",
    "exec.spill_bytes" -> "B", "exec.broadcast_bytes" -> "B",
    "emit.explode_s" -> "s", "emit.render_s" -> "s",
    "store.write_s" -> "s", "store.nquads_write_s" -> "s",
    "store.bytes_written" -> "B", "store.files_written" -> "count",
    "store.upsert_s" -> "s", "store.write_amp" -> "ratio",
    "store.open_ms" -> "ms", "store.rows_scanned_per_result" -> "ratio",
    "store.files_read" -> "count",
    "etl.load_jobs" -> "count", "etl.load_task_run_s" -> "s",
    "etl.load_shuffle_write_bytes" -> "B", "etl.sync_jobs" -> "count",
    "http.overhead_ms" -> "ms", "http.gen_late_ms_p99" -> "ms",
    "http.backlog_end" -> "count") ++
    Flagship.Kinds.map(k => s"http.p50_ms.$k" -> "ms") ++
    LoopQueries.flatMap(q => Seq(s"loops.$q.wall_s" -> "s",
      s"loops.$q.jobs" -> "count", s"loops.$q.driver_gap_s" -> "s")) ++
    Seq("trace.overhead_pct" -> "%", FailedRatio -> "ratio")

  private val units: Map[String, String] = All.toMap

  private def put(r: Report, name: String, v: Double): Unit =
    r.metric(name, v, units(name))

  /** The run's own failure ratio, put after every check has counted. */
  def failedRatio(r: Report): Unit =
    put(r, FailedRatio,
      if (r.attempted == 0) 0.0 else r.failed.toDouble / r.attempted)

  /** Catalyst, scheduling and execution counters of `roll`, per
    * operation. */
  private def engine(r: Report, roll: Trace#Roll, ops: Int)
      : Unit = {
    val a = roll.agg
    val n = math.max(1, ops).toDouble
    put(r, "catalyst.analysis_ms", a.analysisMs / n)
    put(r, "catalyst.optimization_ms", a.optimizationMs / n)
    put(r, "catalyst.planning_ms", a.planningMs / n)
    put(r, "catalyst.aqe_replans", a.aqeReplans / n)
    put(r, "sched.jobs", a.jobs / n)
    put(r, "sched.stages", a.stages / n)
    put(r, "sched.tasks", a.tasks / n)
    put(r, "sched.job_busy_s", roll.busyMs / 1000 / n)
    put(r, "sched.driver_gap_s", roll.gapMs / 1000 / n)
    put(r, "exec.task_run_s", a.taskRunMs / 1000.0 / n)
    put(r, "exec.task_cpu_s", a.taskCpuNs / 1e9 / n)
    put(r, "exec.gc_s", a.gcMs / 1000.0 / n)
    put(r, "exec.shuffle_read_bytes", a.shuffleRead / n)
    put(r, "exec.shuffle_write_bytes", a.shuffleWrite / n)
    put(r, "exec.spill_bytes", a.spill / n)
    put(r, "exec.broadcast_bytes", a.broadcastBytes / n)
  }

  private def overhead(r: Report, untracedS: Double, tracedS: Double): Unit =
    put(r, "trace.overhead_pct", (tracedS - untracedS) / untracedS * 100)

  private def timed(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  // ---- catalog_loops ---------------------------------------------------

  /** The timed passes ran traced; one more run of the shorter query
    * with the recorder paused gives the overhead. */
  def catalogLoops(ctx: Ctx, dir: String, walls: Seq[(String, Double)])
      : Unit = {
    val r = ctx.report
    val t = ctx.trace
    t.drain()
    engine(r, t.rollupWhere(_.name.startsWith("loops.")), walls.size)
    loops(ctx)
    val q = "q_graph_cc_incremental"
    val untraced = t.paused(timed(SparkEntry.query(ctx.spark, dir, q).count()))
    overhead(r, untraced, Stats.median(walls.collect { case (`q`, w) => w }))
  }

  /** Wall time, jobs and driver gap per run of each loop query. */
  def loops(ctx: Ctx): Unit = {
    ctx.trace.drain()
    LoopQueries.foreach { q =>
      val roll = ctx.trace.rollup(s"loops.$q")
      val n = math.max(1, roll.count).toDouble
      put(ctx.report, s"loops.$q.wall_s", roll.wallMs / 1000 / n)
      put(ctx.report, s"loops.$q.jobs", roll.agg.jobs / n)
      put(ctx.report, s"loops.$q.driver_gap_s", roll.gapMs / 1000 / n)
    }
  }

  // ---- the serving store's ETL -----------------------------------------

  def etl(ctx: Ctx, in: Etl.Input, store: String, nq: String,
      loads: Seq[Etl.Load], syncs: Seq[Etl.Sync]): Unit = {
    val r = ctx.report
    val t = ctx.trace
    val quads = Etl.quadsOf(ctx.spark, in, Etl.customers(ctx.spark, in.dir))
    put(r, "emit.explode_s", timed(t.span("emit.explode")(
      quads.write.format("noop").mode("overwrite").save())))
    put(r, "emit.render_s", timed(t.span("emit.render")(
      QuadEmitter.renderNQuads(quads).write.format("noop")
        .mode("overwrite").save())))
    t.drain()
    val load = t.rollup("etl.load")
    val n = math.max(1, load.count).toDouble
    put(r, "etl.load_jobs", load.agg.jobs / n)
    put(r, "etl.load_task_run_s", load.agg.taskRunMs / 1000.0 / n)
    put(r, "etl.load_shuffle_write_bytes", load.agg.shuffleWrite / n)
    val sync = t.rollup("etl.sync")
    put(r, "etl.sync_jobs", sync.agg.jobs.toDouble / math.max(1, sync.count))
    put(r, "store.write_s", Stats.median(loads.map(_.writeS)))
    put(r, "store.nquads_write_s", Stats.median(loads.map(_.nquadsS)))
    put(r, "store.bytes_written",
      (Files.bytesUnder(store) + Files.bytesUnder(nq)).toDouble)
    put(r, "store.files_written", (Files.filesUnder(store,
      _.endsWith(".parquet")) + Files.filesUnder(nq,
      _.startsWith("part-"))).toDouble)
    put(r, "store.upsert_s", Stats.median(syncs.map(_.upsertS)))
    put(r, "store.write_amp", Stats.median(syncs.map(u =>
      u.rewrittenBytes.toDouble / math.max(1L, u.deltaBytes))))
    put(r, "store.open_ms", Stats.median(syncs.map(_.openS * 1000)))
  }

  // ---- sparql_serve ----------------------------------------------------

  /** In-process closed-loop replay of the seeded mix with spans around
    * parse, construct and execute; then the same requests over HTTP,
    * serially, for the HTTP overhead; then a short open loop for the
    * generator and per-kind HTTP numbers. */
  def sparqlServe(ctx: Ctx, quads: DataFrame, client: SparqlServe.Client,
      reqs: Seq[SparqlServe.Req], own: Boolean): Unit = {
    val r = ctx.report
    val t = ctx.trace
    // each kind twice; once in another workload's probe, to keep its
    // traced run within the time limit
    val replay = reqs.take((if (own) 2 else 1) * Flagship.Kinds.size)
    val inProc = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    val parseMs = scala.collection.mutable.ArrayBuffer[Double]()
    val constructMs = scala.collection.mutable.ArrayBuffer[Double]()
    var resultRows = 0L
    replay.zipWithIndex.foreach { case (q, i) =>
      val text = q.text
      val t0 = System.nanoTime()
      t.span("sparql.request", s"${q.kind}#$i") {
        parseMs += timed(t.span("sparql.parse")(SparqlParser.parse(text))) *
          1000
        val c0 = System.nanoTime()
        val df = t.span("sparql.construct")(SparqlParser.execute(quads, text,
          functions = Flagship.functions))
        constructMs += (System.nanoTime() - c0) / 1e6
        resultRows += t.span("sparql.execute")(df.collect().length)
      }
      inProc += q.kind -> (System.nanoTime() - t0) / 1e6
    }
    val http = replay.map { q =>
      val t0 = System.nanoTime()
      val (code, _) = client.call(q)
      r.check(s"${q.kind} ${q.key}: HTTP $code")(code == 200)
      q.kind -> (System.nanoTime() - t0) / 1e6
    }
    t.drain()
    put(r, "sparql.parse_ms", Stats.median(parseMs.toSeq))
    put(r, "sparql.construct_ms", Stats.median(constructMs.toSeq))
    val construct = t.rollup("sparql.construct")
    put(r, "sparql.construct_jobs", construct.agg.jobs.toDouble /
      math.max(1, construct.count))
    val requests = t.rollup("sparql.request")
    if (own) engine(r, requests, requests.count)
    put(r, "store.files_read", requests.agg.filesRead.toDouble /
      math.max(1, requests.count))
    put(r, "store.rows_scanned_per_result",
      requests.agg.rowsScanned.toDouble / math.max(1L, resultRows))
    def byKind(xs: Seq[(String, Double)]): Map[String, Double] =
      xs.groupBy(_._1).map { case (k, v) => k -> Stats.median(v.map(_._2)) }
    val inK = byKind(inProc.toSeq)
    val httpK = byKind(http)
    put(r, "http.overhead_ms", Stats.median(
      Flagship.Kinds.filter(inK.contains).map(k => httpK(k) - inK(k))))
    if (own) {
      val untraced = t.paused(timed(replay.foreach(q =>
        SparqlParser.execute(quads, q.text, functions = Flagship.functions)
          .collect())))
      overhead(r, untraced, inProc.map(_._2).sum / 1000)
    }
    // open loop at the middle rate for the generator's numbers
    val rate = SparqlServe.OpenLoopRate
    val (done, end) = client.openLoop(reqs.take(12), rate)
    val late = Stats.lateness(done.map(_.sent), end)
    put(r, "http.gen_late_ms_p99", late.lateP99Ms)
    put(r, "http.backlog_end", late.backlog.toDouble)
    done.groupBy(_.req.kind).foreach { case (k, ds) =>
      put(r, s"http.p50_ms.$k", Stats.median(ds.map(_.sent.latencyNs / 1e6)))
    }
    done.foreach(d => r.check(s"${d.req.kind}: HTTP ${d.status}")(
      d.status == 200))
  }
}
