package graft

/** Benchmark main: a warm-up pass over EVERY query (JIT/codegen/scan
  * caches; itself timed as the fallback estimate), then whole timed
  * PASSES over the full query list while the wall-clock budget lasts —
  * each query's reported time is the min over all its successful runs.
  *
  * Pass-based scheduling (round 6; replaces per-query min-of-3 in
  * alphabetical order): the budget now degrades SAMPLES PER QUERY
  * uniformly instead of leaving whichever queries sort last with a single
  * sample. That matters on this steal-prone harness VM (PERF.md
  * "Measurement noise": identical warm iterations measured at 3 s / 19 s /
  * 83 s): BENCH_r05 charged 158 s to a 10-row query because its only
  * sample was a warm-up-only run inside a steal spike. Min-of-samples
  * separated by a full pass (~minutes) also decorrelates the estimator
  * from steal bursts, which are contiguous in time — consecutive
  * back-to-back runs share the burst, pass-separated runs don't.
  *
  * Timeout-proofing (VERDICT r4 "What's wrong" #1): `bench_out.json` is
  * rewritten after EVERY run, so a run killed at any point still yields a
  * parseable artifact with a `"value"` total; after the warm-up pass the
  * artifact already covers every query.
  *
  * Error semantics (VERDICT r1 #2/#3, ADVICE r5 #3): a query's timing is
  * the min over its SUCCESSFUL runs and its mode records the achieved
  * sample count (`"warmup+2"` = warm-up plus two timed passes succeeded),
  * never the attempted effort. A transient single-run failure is kept in
  * `"warnings"` without discarding good timings; a query whose every run
  * failed reports -1, lands in `"errors"`, and flips the exit code — a
  * regression can never read as a speedup.
  */
object Bench {
  private def envInt(name: String, default: Int): Int =
    sys.env.get(name).flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .getOrElse(default)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(envInt("SPARK_GRAFT_CPUS", 32))
    // Dev-loop filter: SPARK_GRAFT_BENCH_ONLY=<regex> times just the
    // matching queries (the driver never sets it, so round benches are
    // always the full catalog).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.r)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.findFirstIn(n).isDefined))
    val maxPasses = math.max(1, envInt("SPARK_GRAFT_BENCH_RUNS", 3))
    // Default budget SCALES WITH THE CATALOG (VERDICT r12 #1) but is
    // CAPPED BELOW THE EXTERNAL KILL ENVELOPE (VERDICT r13 #1): the r13
    // catalog-scaled budget (8·452 = 3 616 s) overshot the driver's
    // ~3 600 s kill line, so instead of stopping cleanly and printing
    // the final line (as r12 did), the run was killed mid-pass-1 →
    // rc 124, parsed=null. The envelope is env-overridable
    // (SPARK_GRAFT_BENCH_ENVELOPE_S, default 3 600); the internal
    // budget reserves 300 s of headroom for the in-flight query, the
    // final render and JVM/sbt shutdown. 8 s/query still keeps the old
    // floor at small catalogs; the artifact flushes after every run
    // AND the parseable line now prints after every pass, so even a
    // kill leaves complete totals in the stdout tail.
    val envelopeS = envInt("SPARK_GRAFT_BENCH_ENVELOPE_S", 3600)
    val budgetS = math.max(1, envInt("SPARK_GRAFT_BENCH_BUDGET_S",
      math.min(math.max(2400, 8 * names.size),
        math.max(600, envelopeS - 300))))
    val bench0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - bench0) / 1e9

    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val warnings = scala.collection.mutable.LinkedHashMap[String, String]()
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val samples = scala.collection.mutable.LinkedHashMap[String, Int]()
      .withDefaultValue(0)
    var passesDone = 0
    // Per-pass wall-clock at completion (VERDICT r13 next-#5): the only
    // way to tell a steal burst (one pass crawls, its neighbors don't)
    // from a real regression (every pass slow) in a single artifact.
    val passWalls = scala.collection.mutable.LinkedHashMap[String, Double]()

    import graft.JsonUtil.jstr
    def f3(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // Artifact robustness (VERDICT r2 "What's wrong" #4): the driver's tail
    // capture keeps the LAST ~3 KB of stdout, so (a) values are rounded to 3
    // decimals, (b) the headline total/metric fields come AFTER the queries
    // map so truncation can only eat per-query detail, never the totals, and
    // (c) the same line lands in bench_out.json — rewritten after every
    // run — so the file is parseable even if the process is killed.
    def renderLine(): String = {
      def m(kv: Iterable[(String, String)]) =
        kv.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
      val qs = m(timings.map { case (k, v) => k -> f3(v) })
      val modeJson = m(names.filter(timings.contains).map(n =>
        n -> jstr(if (samples(n) > 0) s"warmup+${samples(n)}"
                  else if (timings(n) >= 0) "warmup-only"
                  else "error")))
      val errJson = m(errors.map { case (k, v) => k -> jstr(v) })
      val warnJson = m(warnings.map { case (k, v) => k -> jstr(v) })
      val wallsJson = m(passWalls.map { case (k, v) => k -> f3(v) })
      val total = timings.valuesIterator.filter(_ >= 0).sum
      s"""{"modes":$modeJson,"warnings":$warnJson,"queries":$qs,"errors":$errJson,"pass_walls":$wallsJson,"sf":"$sfDir","passes":${passesDone},"completed":${timings.size},"planned":${names.size},"metric":"total","unit":"sec","value":${f3(total)}}"""
    }
    def flush(): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
        (renderLine() + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    def runOnce(name: String, warm: Boolean): Unit = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        val prev = timings.getOrElse(name, Double.MaxValue)
        timings(name) = if (prev < 0) t else math.min(prev, t)
        if (!warm) samples(name) = samples(name) + 1
        errors.remove(name)
      } catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        if (timings.get(name).exists(_ >= 0)) warnings(name) = msg
        else { timings(name) = -1.0; errors(name) = msg }
      }
      flush()
    }

    // Pass 0: warm-up, unconditionally over every query — the artifact
    // must cover the full catalog before any budget decision.
    names.foreach { n =>
      System.err.println(s"[bench] warmup $n (t=${f3(elapsedS)}s)")
      runOnce(n, warm = true)
    }
    passWalls("warmup") = elapsedS
    // Print the parseable line after EVERY pass, not only at clean exit
    // (VERDICT r13 #1b): the driver's tail capture keeps the last lines
    // of stdout, so a kill at any later point still finds a complete
    // artifact line covering everything finished so far.
    println(renderLine())
    // Timed passes: stop STARTING a new pass when over budget; stop
    // mid-pass too (every query already has its warm-up estimate, and
    // a partial pass still improved the prefix's mins). Alternating
    // direction means a budget/kill cutoff mid-pass leaves the extra
    // samples spread across both ends of the list, not always the front.
    var p = 0
    while (p < maxPasses && elapsedS < budgetS) {
      p += 1
      val order = if (p % 2 == 1) names else names.reverse
      order.foreach { n =>
        if (elapsedS < budgetS) {
          System.err.println(s"[bench] pass $p $n (t=${f3(elapsedS)}s)")
          runOnce(n, warm = false)
        }
      }
      passesDone = p
      passWalls(s"pass$p") = elapsedS
      flush()
      println(renderLine())
    }
    println(renderLine())
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
