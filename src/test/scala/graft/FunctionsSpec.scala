package graft

import java.util.UUID

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions._

class FunctionsSpec extends AnyFunSuite with SparkTestBase {
  import org.apache.spark.sql.Row

  private val NsDns = UUID.fromString("6ba7b810-9dad-11d1-80b4-00c04fd430c8")

  test("uuid5 column expression matches RFC 4122 / python uuid.uuid5 vectors") {
    import spark.implicits._
    val df = Seq("example.org").toDF("name")
      .select(uuid5(NsDns, col("name")).as("u"))
    assert(df.head().getString(0) === "aad03681-8b63-5304-89e0-8ca8f49461b5")

    val df2 = Seq("42", "", "héllo wörld").toDF("name")
      .select(uuid5(GraftNamespace, col("name")).as("u"))
    assert(df2.collect().map(_.getString(0)).toSeq === Seq(
      "d25ac4b6-cc0a-5487-a654-3040219097e2",
      "2d81fe7a-53b5-5bda-99ea-a57abb2a280b",
      "78653f96-02b2-5ef1-b498-411814dc14d6"))
  }

  test("uuid5Jvm twin agrees with the column expression namespace constant") {
    assert(GraftNamespace.toString === "7b0657bc-8ae9-5a82-98b2-784aa8a2f72a")
    assert(uuid5Jvm(GraftNamespace, "42").toString ===
      "d25ac4b6-cc0a-5487-a654-3040219097e2")
  }

  test("slugify / normalizeWs / blankAsNull") {
    import spark.implicits._
    val r = Seq(("  Mount   ISA  ", "  ", "a\t b\n c")).toDF("a", "b", "c")
      .select(slugify(col("a")), blankAsNull(col("b")), normalizeWs(col("c")))
      .head()
    assert(r.getString(0) === "mount-isa")
    assert(r.isNullAt(1))
    assert(r.getString(2) === "a b c")
  }

  test("wkt render + parse round-trip") {
    import spark.implicits._
    val r = Seq((153.02, -27.47)).toDF("lon", "lat")
      .select(wktPointParse(wktPoint(col("lon"), col("lat"))).as("p"))
      .head().getStruct(0)
    assert(r.getDouble(0) === 153.02)
    assert(r.getDouble(1) === -27.47)
  }

  test("haversine: Brisbane→Sydney ~733 km") {
    import spark.implicits._
    val km = Seq((153.0251, -27.4698, 151.2093, -33.8688))
      .toDF("lon1", "lat1", "lon2", "lat2")
      .select(haversineKm(col("lon1"), col("lat1"), col("lon2"), col("lat2")))
      .head().getDouble(0)
    assert(km > 720 && km < 745)
  }

  test("packedTimestamp parses YYYYMMDDHHMMSS") {
    import spark.implicits._
    val ts = Seq("20240102030405").toDF("p")
      .select(packedTimestamp(col("p")).cast("string")).head().getString(0)
    assert(ts === "2024-01-02 03:04:05")
  }

  test("renderLabel drops blank components without doubled spaces") {
    import spark.implicits._
    val s = Seq(("12", "", "Main", null.asInstanceOf[String], "St"))
      .toDF("a", "b", "c", "d", "e")
      .select(renderLabel(col("a"), col("b"), col("c"), col("d"), col("e")))
      .head().getString(0)
    assert(s === "12 Main St")
  }

  test("roadNameBasic normalizes like etl-notes.md:74-110") {
    import spark.implicits._
    val s = Seq(("Logan ", "rd", null.asInstanceOf[String])).toDF("n", "t", "x")
      .select(roadNameBasic(col("n"), col("t"), col("x"))).head().getString(0)
    assert(s === "LOGAN RD")
  }

  test("CountMinAgg: partial-merge equals single-buffer fold; never undercounts") {
    import graft.functions.CountMinAgg
    val keys = Seq.tabulate(5000)(i => (i % 137).toLong)
    // one buffer, sequential fold
    val whole = keys.foldLeft(CountMinAgg.zero)(CountMinAgg.reduce)
    // two partials merged — the map-side/shuffle contract
    val (ka, kb) = keys.splitAt(1900)
    val merged = CountMinAgg.merge(
      ka.foldLeft(CountMinAgg.zero)(CountMinAgg.reduce),
      kb.foldLeft(CountMinAgg.zero)(CountMinAgg.reduce))
    assert(whole.toSeq == merged.toSeq, "merge is not associative-equivalent")
    // point estimates: min over rows, >= exact for every key
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong)
    for ((k, n) <- exact) {
      val est = (0 until CountMinAgg.Depth)
        .map(r => whole(r * CountMinAgg.Width + CountMinAgg.bucket(r, k))).min
      assert(est >= n, s"CMS undercounted key $k: est $est < exact $n")
    }
    // buckets are stable and in range
    for (r <- 0 until CountMinAgg.Depth; k <- Seq(0L, 1L, 999999L)) {
      val b = CountMinAgg.bucket(r, k)
      assert(b >= 0 && b < CountMinAgg.Width)
      assert(b == CountMinAgg.bucket(r, k))
    }
  }

  test("bitmap_* built-ins: bucketed counts equal countDistinct, any key") {
    import spark.implicits._
    // Keys in many 32,768-id buckets: zero, negatives, ids >= 2^16, a
    // huge one, and duplicates (key 0 in two groups); three groups stand
    // in for the days of a rollup.
    val rnd = new scala.util.Random(7)
    val keys = Seq(0L, 0L, -1L, -32767L, -32768L, -32769L, 32767L, 32768L,
      32769L, 65535L, 65536L, 1L << 40) ++
      Seq.fill(3000)(rnd.nextInt(1 << 18).toLong - (1L << 17))
    val df = keys.zipWithIndex.map { case (k, i) => (i % 3, k) }.toDF("g", "k")
    val parts = df
      .groupBy(col("g"), bitmap_bucket_number(col("k")).as("b"))
      .agg(bitmap_construct_agg(bitmap_bit_position(col("k"))).as("bm"))
    assert(parts.select(col("b")).distinct().count() > 8)
    val perGroup = parts
      .groupBy(col("g")).agg(sum(bitmap_count(col("bm"))).as("n"))
      .orderBy(col("g")).collect().toSeq
    val exact = df.groupBy(col("g")).agg(countDistinct(col("k")).as("n"))
      .orderBy(col("g")).collect().toSeq
    assert(perGroup == exact)
    // the rollup: OR-merge the group bitmaps per bucket, then sum
    val rolled = parts.groupBy(col("b"))
      .agg(bitmap_count(bitmap_or_agg(col("bm"))).as("n"))
      .agg(sum(col("n"))).head().getLong(0)
    assert(rolled == keys.distinct.size.toLong)
    assert(rolled < perGroup.map(_.getLong(1)).sum) // distinct doesn't sum
  }
}
