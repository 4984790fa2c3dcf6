package graft

/** Dev tool: run one named query from SparkEntry.queries with timing —
  * `sbt "runMain graft.RunOne q_dedup_minhash /root/testdata/sf0.1 3"`.
  * Prints per-iteration wall time and (with EXPLAIN=1) the formatted plan.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 2
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // JOBLOG=1: per-job wall times (guide §1.1 empirical loop without a
    // UI — tells you whether a query's seconds sit in one big job or in
    // many scheduled little ones).
    if (sys.env.contains("JOBLOG")) {
      import org.apache.spark.scheduler.{SparkListener,
        SparkListenerJobStart, SparkListenerJobEnd}
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val descs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          starts.put(j.jobId, System.nanoTime())
          descs.put(j.jobId, Option(
            j.properties.getProperty("spark.job.description"))
            .getOrElse(""))
        }
        override def onJobEnd(j: SparkListenerJobEnd): Unit = {
          val t0 = starts.getOrDefault(j.jobId, System.nanoTime())
          println(f"[job] id=${j.jobId}%-4d ${
            (System.nanoTime() - t0) / 1e9}%6.3f s  ${
            descs.getOrDefault(j.jobId, "")}")
        }
      })
    }
    if (sys.env.contains("EXPLAIN"))
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    (1 to iters).foreach { i =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, sfDir).count()
      println(f"[runone] $name iter $i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    spark.stop()
  }
}
