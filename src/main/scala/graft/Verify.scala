package graft

import java.nio.file.{Files, Paths}

import graft.JsonUtil.jstr

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Also writes
  * queries.json — the FULL declared query-name manifest — so a checker
  * can flag a query that crashed before producing output even when it
  * has no oracle entry (rows-only queries). */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // Optional dev-only 3rd arg: comma-separated query-name subset for a
    // fast targeted gate (the driver always calls with 2 args → full run).
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet else Set.empty
    def selected(name: String): Boolean = only.isEmpty || only(name)
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
        try fn(spark, sfDir).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val manifest = SparkEntry.queries.keys.toSeq.filter(selected).sorted
      .map(jstr).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/queries.json"), manifest)
    spark.stop()
  }
}
