package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog object per SURVEY §2 operator family. Each named query has
  * a Spark implementation and, where ANSI-SQL-expressible, a DuckDB oracle
  * over the same parquet tables (driver correctness gate).
  *
  * Cross-engine parity conventions (applied in BOTH the Spark code and the
  * oracle SQL):
  *  - every aggregate/computed column is aliased identically on both sides
  *    (the driver sorts columns by name before hashing);
  *  - money math runs in DECIMAL(18,2) and the final aggregate is cast to
  *    DOUBLE — exact in both engines, so hashes match bit-for-bit;
  *  - output timestamps are converted to epoch milliseconds (BIGINT), which
  *    sidesteps ns/us parquet precision differences between engines;
  *  - every result is totally ordered by a deterministic key set (ties
  *    broken by a unique column) so row order can never diverge;
  *  - window `ORDER BY`s always include a unique tiebreaker.
  */
trait QueryCatalog {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]

  /** Per-session scratch path for `name`: the Spark applicationId scopes
    * it, so two concurrent runs on one machine can't clobber each other's
    * files between a query's write and its read-back. */
  protected def tmp(s: SparkSession, name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_io/" +
      s"${s.sparkContext.applicationId}/$name"
}
