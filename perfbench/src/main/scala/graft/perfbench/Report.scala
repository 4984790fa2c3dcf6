package graft.perfbench

import scala.collection.mutable

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = graft.JsonUtil.jstr(s)

  /** Numbers keep all their digits; non-finite values become null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def num(i: Int): String = i.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** What one run found: operations attempted and failed (each failed
  * correctness gate counts), metrics with their units, and free-form
  * detail printed before the result line. */
final class Report {
  private var attemptedN = 0L
  private var failedN = 0L
  private val failures = mutable.ArrayBuffer[String]()
  private val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val details = mutable.LinkedHashMap[String, String]()

  def attempted: Long = attemptedN
  def failed: Long = failedN

  /** Count one operation; a false `ok` is a failure with a reason. */
  def check(what: => String)(ok: Boolean): Boolean = synchronized {
    attemptedN += 1
    if (!ok) {
      failedN += 1
      if (failures.size < 20) failures += what
    }
    ok
  }

  /** Run `op`, counting it; an exception is a failure. */
  def attempt[T](what: String)(op: => T): Option[T] =
    try { val r = op; check(what)(true); Some(r) }
    catch { case e: Exception =>
      check(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")(false)
      None
    }

  def metric(name: String, value: Double, unit: String): Unit =
    synchronized { metrics(name) = (value, unit) }

  def detail(name: String, json: String): Unit =
    synchronized { details(name) = json }

  def metricNames: Seq[String] = synchronized(metrics.keys.toList)

  def detailLine: String = synchronized(Json.obj(details.toSeq ++
    Seq("failures" -> failures.map(Json.str).mkString("[", ",", "]"))))

  def resultLine: String = synchronized {
    val m = metrics.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }
    Json.obj(Seq(
      "correct" -> (if (failedN == 0 && attemptedN > 0) "true" else "false"),
      "attempted" -> attemptedN.toString,
      "failed" -> failedN.toString,
      "metrics" -> Json.obj(m)))
  }
}
