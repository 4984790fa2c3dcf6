package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per suite via lazy val). */
trait SparkTestBase { self: AnyFunSuite =>
  lazy val spark: SparkSession = LocalSession(4)
  val sf: String = "/root/testdata/sf0.001"
}
