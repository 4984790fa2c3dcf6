package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic input tables with the column names, types and
  * value ranges of the catalog's test data (the region, nation, customer
  * and orders tables of its TPC-H-like schema). Every value is a hash of
  * (seed, row id, column salt), so the same seed always gives the same
  * rows. */
object DataGen {

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
    "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  /** Uniform double in [0, 1) from (seed, id, salt). */
  private def u(seed: Long, salt: Int): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(1000000L))
      .cast("double") / 1e6

  private def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (floor(u(seed, salt) * values.size) + 1).cast("int"))

  private def int(seed: Long, salt: Int, lo: Long, hiExcl: Long): Column =
    (floor(u(seed, salt) * (hiExcl - lo)) + lo).cast("long")

  private def money(seed: Long, salt: Int, lo: Double, hi: Double): Column =
    round(u(seed, salt) * (hi - lo) + lo, 2)

  def region(s: SparkSession): DataFrame =
    s.range(Regions.size).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Regions.map(lit): _*), (col("id") + 1).cast("int"))
        .as("r_name"))

  def nation(s: SparkSession): DataFrame =
    s.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  def customer(s: SparkSession, seed: Long, n: Long): DataFrame =
    s.range(n).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      int(seed, 1, 0, 25).cast("int").as("c_nationkey"),
      money(seed, 2, -999.99, 9999.99).as("c_acctbal"),
      pick(seed, 3, Segments).as("c_mktsegment"))

  /** Ten orders per customer on average, dated 1995-01-01 .. 2001-08-01;
    * some customers get none, as in the catalog's test data. */
  def orders(s: SparkSession, seed: Long, n: Long, customers: Long)
      : DataFrame =
    s.range(n).select(col("id").as("o_orderkey"),
      int(seed, 31, 0, customers).as("o_custkey"),
      pick(seed, 32, Seq("O", "F", "P")).as("o_orderstatus"),
      money(seed, 33, 1000.0, 450000.0).as("o_totalprice"),
      date_add(to_date(lit("1995-01-01")), int(seed, 34, 0, 2404).cast("int"))
        .cast("timestamp").as("o_orderdate"),
      pick(seed, 35, Priorities).as("o_orderpriority"))
}

/** Local-filesystem helpers for the benchmark's own work directory. */
object Files {
  def bytesUnder(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val st = java.nio.file.Files.walk(root)
      try st.filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally st.close()
    }
  }

  def filesUnder(path: String, pred: String => Boolean): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val st = java.nio.file.Files.walk(root)
      try st.filter(p => java.nio.file.Files.isRegularFile(p) &&
        pred(p.getFileName.toString)).count()
      finally st.close()
    }
  }

  /** Bytes of the regular files under `path` written at or after
    * `sinceMs` (epoch ms). */
  def bytesModifiedSince(path: String, sinceMs: Long): Long = {
    val root = java.nio.file.Paths.get(path)
    val st = java.nio.file.Files.walk(root)
    try st.filter(p => java.nio.file.Files.isRegularFile(p) &&
      java.nio.file.Files.getLastModifiedTime(p).toMillis >= sinceMs)
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally st.close()
  }

  def delete(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val st = java.nio.file.Files.walk(root)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally st.close()
    }
  }
}
