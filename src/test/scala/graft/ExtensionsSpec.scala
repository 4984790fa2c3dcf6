package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftExtensions

/** GraftExtensions: injected SQL functions + the join rewrite rules,
  * which every session loads from the classpath service file. */
class ExtensionsSpec extends AnyFunSuite with SparkTestBase {

  /** Two small point sets built in `s` and their radius θ-join
    * (squared distance <= 0.25). */
  private def radiusJoin(s: SparkSession): (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val a = (1 to 200).map(i => (i.toLong, (i % 20) / 2.0, (i % 10) / 2.0))
      .toDF("aid", "ax", "ay")
    val b = (1 to 50).map(i => (i.toLong, (i % 15) / 2.0, (i % 7) / 2.0))
      .toDF("bid", "bx", "by")
    val d2 = (col("ax") - col("bx")) * (col("ax") - col("bx")) +
      (col("ay") - col("by")) * (col("ay") - col("by"))
    (a, b, a.join(b, d2 <= lit(0.25)))
  }

  private def assertNoNestedLoop(joined: DataFrame): Unit = {
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "radius join was not rewritten:\n" + plan)
  }

  /** Runs `body` compiled (whole-stage codegen, no interpreted
    * fallback) and interpreted, passing the mode's name. Neither mode
    * folds a projection of a local relation on the driver, so the
    * functions run on the executors in the mode named. */
  private def inEachMode(body: String => Unit): Unit = Seq(
    "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  ).foreach { case (mode, confs) =>
    val all = confs :+ ("spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    all.foreach { case (k, v) => spark.conf.set(k, v) }
    try body(mode) finally all.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("a newSession() child gets every function and rule with no " +
      "registration call") {
    val child = spark.newSession()
    val registry = child.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (id, _, _) =>
      assert(registry.functionExists(id), s"$id missing in the child session")
    }
    assertNoNestedLoop(radiusJoin(child)._3)
  }

  test("every kernel function keeps its SQL name, rejects a wrong arity " +
      "or argument type, and returns the same rows compiled and " +
      "interpreted") {
    import spark.implicits._
    val in = Seq(
      (Some("tab\there \"q\" back\\slash"), Some("cafe\u0301"),
        Some("<urn:s> <urn:p> \"v\\n\"@en <urn:g> ."),
        Some("POLYGON((0 0, 2 0, 2 1, 0 0))"), Some(151.2), Some(-33.9),
        Array(1.0f, 2.5f), Array(0.5, -1.0)),
      (Some(""), Some("martha"), Some("_:b <urn:p> \"x\"^^<> ."),
        Some("not wkt"), Some(0.0), Some(0.0),
        Array(1.0f), Array(1.0, 2.0)), // unequal lengths: null dot
      (None, None, None, None, None, None, null, null))
      .toDF("s", "t", "line", "wkt", "x", "y", "f", "d")
    // (call, wrong arity, wrong argument type)
    val cases = Seq(
      ("graft_nt_escape(s)", "graft_nt_escape(s, s)", "graft_nt_escape(x)"),
      ("graft_nt_unescape(s)", "graft_nt_unescape()", "graft_nt_unescape(f)"),
      ("graft_nfc(t)", "graft_nfc(t, t)", "graft_nfc(x)"),
      ("graft_jaro_winkler(s, t)", "graft_jaro_winkler(s)",
        "graft_jaro_winkler(s, x)"),
      ("graft_dot(f, d)", "graft_dot(f)", "graft_dot(f, s)"),
      ("graft_nq_quad(line)", "graft_nq_quad(line, line)",
        "graft_nq_quad(x)"),
      ("graft_wkt_bbox(wkt)", "graft_wkt_bbox()", "graft_wkt_bbox(y)"))
    cases.foreach { case (call, arity, argType) =>
      assert(in.selectExpr(call).columns.toSeq == Seq(call))
      Seq(arity, argType).foreach { bad =>
        intercept[Exception](in.selectExpr(bad))
      }
    }
    val calls = cases.map(_._1)
    val byMode = scala.collection.mutable.Map.empty[String, Seq[Seq[Any]]]
    inEachMode { mode =>
      byMode(mode) = in.selectExpr(calls: _*).collect().toSeq.map(_.toSeq)
    }
    assert(byMode("codegen") == byMode("interpreted"))
    val Seq(full, edge, nulls) = byMode("codegen")
    assert(full.forall(_ != null), full)
    assert(nulls.forall(_ == null), "null in must give null out: " + nulls)
    // graft_dot of unequal lengths and the bbox of unparseable WKT are
    // null; the line's one quad keeps the empty datatype
    assert(edge(4) == null && edge(6) == null, edge)
    assert(edge(5).asInstanceOf[collection.Seq[org.apache.spark.sql.Row]].head
      .getString(5) == "")
  }

  test("graft_dot matches the HOF zip_with/aggregate chain bit-for-bit") {
    import spark.implicits._
    val rows = Seq(
      (Array(1.0f, 2.5f, -3.25f), Array(0.5f, -1.0f, 2.0f)),
      (Array(0.1f, 0.2f, 0.3f), Array(0.0f, 0.0f, 0.0f)))
      .toDF("a", "b")
    val hof =
      """aggregate(zip_with(a, b, (x, y) ->
        |  cast(x as double) * cast(y as double)),
        |cast(0 as double), (acc, v) -> acc + v)""".stripMargin
    inEachMode { mode =>
      val both = rows
        .select(expr("graft_dot(a, b)").as("native"), expr(hof).as("hof"))
        .collect()
      both.foreach(r => assert(r.getDouble(0) == r.getDouble(1), mode))
      // unequal lengths: both formulations yield null
      val odd = Seq((Array(1.0f, 2.0f), Array(1.0f))).toDF("a", "b")
      val r = odd.select(expr("graft_dot(a, b)").as("native"),
        expr(hof).as("hof")).collect()(0)
      assert(r.isNullAt(0) && r.isNullAt(1), mode)
      // null ELEMENT (parquet embeddings read as array<float> with
      // containsNull=true): null * y poisons the HOF sum → NULL, and the
      // native function must agree rather than reading the slot as 0.0
      // (ADVICE r4).
      val withNullElem = spark.sql(
        """SELECT array(cast(1.0 as float), cast(null as float)) AS a,
          |       array(cast(2.0 as float), cast(3.0 as float)) AS b""".stripMargin)
      val nr = withNullElem
        .select(expr("graft_dot(a, b)").as("native"), expr(hof).as("hof"))
        .collect()(0)
      assert(nr.isNullAt(0) && nr.isNullAt(1),
        s"null element must yield NULL on both paths ($mode), got $nr")
    }
    val nrInterp = graft.plans.DotProduct.compute(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array[Any](1.0f, null)),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        Array[Any](2.0f, 3.0f)),
      aFloat = true, bFloat = true)
    assert(nrInterp == null)
  }

  test("graft_nt_escape matches the regexp_replace chain byte-for-byte") {
    import spark.implicits._
    val bs = "\\"
    val rows = (Seq(
      "plain text",
      "quote \" here",
      s"back${bs}slash and ${bs}n literal",
      "tab\there\nnewline\rcr",
      s"""mixed $bs"$bs$bs "" ${bs}t""",
      "", "😀 astral") ++
      // deterministic fuzz over the escapable alphabet
      (1 to 100).map { i =>
        val rnd = new scala.util.Random(i)
        (1 to 20).map(_ => "\\\"\n\r\tax".charAt(rnd.nextInt(7))).mkString
      }).toDF("v")
    val chain = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(col("v"), "\\\\", "\\\\\\\\"),
      "\"", "\\\\\""), "\n", "\\\\n"), "\r", "\\\\r"), "\t", "\\\\t")
    inEachMode { mode =>
      val got = rows.select(expr("graft_nt_escape(v)").as("native"),
        chain.as("chain"),
        expr("graft_nt_unescape(graft_nt_escape(v))").as("rt"),
        col("v")).collect()
      got.foreach { r =>
        assert(r.getString(0) == r.getString(1),
          s"escape diverged ($mode) on ${r.getString(3)}")
        assert(r.getString(2) == r.getString(3),
          s"unescape ∘ escape ≠ identity ($mode)")
      }
    }
  }

  test("graft_jaro_winkler matches DuckDB jaro_winkler_similarity goldens") {
    import spark.implicits._
    // Golden values fetched from DuckDB 1.0 jaro_winkler_similarity (the
    // oracle engine for q_join_jaro_winkler) — covers the Winkler boost
    // (martha), boost-suppressed below 0.7 despite a shared prefix
    // (abcvwxyz), the >0.7-without-prefix case (CRATE), window-excluded
    // transposition (ab/ba → 0), empties (DuckDB convention: 0), and an
    // odd transposition-count pair exercising the integer-floored t/2.
    val golden = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("CRATE", "TRACE", 0.7333333333333334),
      ("aluminium", "aluminum", 0.9777777777777777),
      ("abcvwxyz", "abcdefgh", 0.5833333333333334),
      ("ab", "ba", 0.0),
      ("a", "", 0.0),
      ("", "", 0.0),
      ("same", "same", 1.0),
      ("goldenrod lavender spring", "goldenrod lavander spring",
        0.9756666666666667))
    golden.foreach { case (a, b, w) =>
      assert(graft.plans.JaroWinkler.compute(a, b) === w,
        s"JW('$a','$b')")
      // symmetric by definition
      assert(graft.plans.JaroWinkler.compute(b, a) === w)
    }
    // the SQL surface must agree with the static call
    inEachMode { mode =>
      val viaSql = golden.toDF("a", "b", "w")
        .withColumn("jw", expr("graft_jaro_winkler(a, b)"))
        .collect()
      viaSql.foreach(r => assert(r.getDouble(3) === r.getDouble(2), mode))
    }
  }

  test("graft_nfc composes decomposed input and is identity on NFC text") {
    import spark.implicits._
    val rows = Seq(
      ("cafe\u0301", "caf\u00e9"), // combining acute -> precomposed
      ("caf\u00e9", "caf\u00e9"), // already NFC: untouched
      ("A\u030a n\u0303", "\u00c5 \u00f1"), // ring + tilde compose
      ("plain ascii 123", "plain ascii 123"),
      ("", "")).toDF("v", "expected")
    inEachMode { mode =>
      val got = rows.select(expr("graft_nfc(v)").as("n"), col("expected"))
        .collect()
      got.foreach(r => assert(r.getString(0) == r.getString(1), mode))
    }
    // raw forms really were byte-different before normalization
    assert("cafe\u0301" != "caf\u00e9")
  }

  test("jaro-winkler / nfc properties on deterministic random inputs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val sGen = Gen.chooseNum(0, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'x')).map(_.mkString))
    val params = Gen.Parameters.default
    val cases = (1 to 400).flatMap { i =>
      for (a <- sGen(params, Seed(i.toLong));
           b <- sGen(params, Seed(i.toLong + 100000))) yield (a, b)
    }
    cases.foreach { case (a, b) =>
      val w = graft.plans.JaroWinkler.compute(a, b)
      assert(w >= 0.0 && w <= 1.0, s"JW out of range for '$a','$b': $w")
      assert(w == graft.plans.JaroWinkler.compute(b, a),
        s"asymmetric on '$a','$b'")
      if (a.nonEmpty && a == b)
        assert(w == 1.0, s"identity must score 1 for '$a'")
    }
    // NFC: idempotent, and NFD re-composes to the same NFC form
    import java.text.Normalizer
    import org.apache.spark.unsafe.types.UTF8String
    val marks = Gen.oneOf("\u00e9", "e\u0301", "A\u030a",
      "n\u0303", "plain", " ", "\u00c5")
    val tGen = Gen.chooseNum(0, 6).flatMap(n =>
      Gen.listOfN(n, marks).map(_.mkString))
    (1 to 300).flatMap(i => tGen(params, Seed(i.toLong))).foreach { s =>
      def nfc(x: String): String =
        graft.plans.NfcNormalize.compute(UTF8String.fromString(x)).toString
      val once = nfc(s)
      assert(nfc(once) == once, s"not idempotent on ${s.codePoints.toArray.toSeq}")
      val nfd = Normalizer.normalize(s, Normalizer.Form.NFD)
      assert(nfc(nfd) == once,
        s"NFD re-composition diverged on ${s.codePoints.toArray.toSeq}")
    }
  }

  test("BloomJoinInject adds one runtime bloom filter and preserves results") {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    // range-backed inputs: a local Seq would be folded to a LocalRelation
    // (filter and all), erasing the selective-Filter node the rule keys on
    val probe = spark.range(10000)
      .select((col("id") % 500).as("k"), col("id").as("v"))
    val build = spark.range(1, 501).select(col("id").as("bk"))
      .filter(col("bk") % 50 === 0) // the selective-build heuristic trigger
    def run() = probe.join(build, col("k") === col("bk"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .orderBy(col("k"))
    val baseline = run().collect().toSeq // conf off: rule must not fire
    assert(!run().queryExecution.optimizedPlan.exists(
      _.expressions.exists(_.exists(_.isInstanceOf[BloomFilterMightContain]))))
    spark.conf.set("spark.graft.runtimeBloom.enabled", "true")
    spark.conf.set("spark.graft.runtimeBloom.minSizeRatio", "1")
    try {
      val df = run()
      // fires exactly once — the fixed-point batch re-runs the rule, so
      // a non-idempotent version would stack a filter per pass
      val n = df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) => f
      }.size
      assert(n == 1, s"expected exactly one injected bloom filter, got $n:\n" +
        df.queryExecution.optimizedPlan)
      assert(df.collect().toSeq == baseline, "rewrite changed the result")
    } finally {
      spark.conf.unset("spark.graft.runtimeBloom.enabled")
      spark.conf.unset("spark.graft.runtimeBloom.minSizeRatio")
    }
  }

  test("BloomJoinInject stays out of non-qualifying joins") {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    def bloomCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) => f
      }.size
    val probe = spark.range(10000)
      .select((col("id") % 500).as("k"), col("id").as("v"))
    spark.conf.set("spark.graft.runtimeBloom.enabled", "true")
    spark.conf.set("spark.graft.runtimeBloom.minSizeRatio", "1")
    try {
      // no selective filter on the build side → nothing made it small →
      // a bloom would just re-hash the whole key domain; must not fire
      val unfiltered = spark.range(1, 501).select(col("id").as("bk"))
      assert(bloomCount(probe.join(unfiltered, col("k") === col("bk"))) == 0)
      // build side over the creation-size cap → broadcast-scale economics
      // don't hold; must not fire
      spark.conf.set("spark.graft.runtimeBloom.maxCreationSideBytes", "1")
      val filtered = spark.range(1, 501).select(col("id").as("bk"))
        .filter(col("bk") % 50 === 0)
      assert(bloomCount(probe.join(filtered, col("k") === col("bk"))) == 0)
      // left outer joins keep every probe row — a probe filter would be
      // wrong; must not fire whatever the sizes say
      spark.conf.unset("spark.graft.runtimeBloom.maxCreationSideBytes")
      assert(bloomCount(
        probe.join(filtered, col("k") === col("bk"), "left_outer")) == 0)
    } finally {
      spark.conf.unset("spark.graft.runtimeBloom.enabled")
      spark.conf.unset("spark.graft.runtimeBloom.minSizeRatio")
      spark.conf.unset("spark.graft.runtimeBloom.maxCreationSideBytes")
    }
  }

  test("radius theta-join is rewritten to a grid-bucketed equi-join") {
    val (a, b, joined) = radiusJoin(spark)
    assertNoNestedLoop(joined)

    // Ground truth from a driver-side nested loop.
    val av = a.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val bv = b.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val expected = (for {
      (ai, ax, ay) <- av; (bi, bx, by) <- bv
      if (ax - bx) * (ax - bx) + (ay - by) * (ay - by) <= 0.25
    } yield (ai, bi)).toSet
    val got = joined.select("aid", "bid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == expected.size, "duplicate or missing pairs")
    assert(got.toSet == expected)
  }

  test("relate theta-join is rewritten to a grid-cover equi-join, " +
      "exactly once per pair") {
    import spark.implicits._
    import graft.rdf.GeoFunctions
    def rect(id: Long, x: Double, y: Double, w: Double, h: Double) =
      (id, s"POLYGON(($x $y, ${x + w} $y, ${x + w} ${y + h}, " +
        s"$x ${y + h}, $x $y))", x, y, x + w, y + h)
    // rectangles spanning several 1.0-degree grid cells so the cover
    // join would duplicate pairs without the canonical-cell conjunct
    val a = (1 to 120).map(i =>
      rect(i.toLong, (i % 12) * 0.7, (i % 8) * 0.9, 2.3, 1.7))
      .toDF("aid", "awkt", "ax1", "ay1", "ax2", "ay2")
    val b = (1 to 40).map(i =>
      rect(i.toLong, (i % 9) * 1.1, (i % 5) * 1.3, 3.1, 2.4))
      .toDF("bid", "bwkt", "bx1", "by1", "bx2", "by2")
    val joined = a.join(b,
      GeoFunctions.intersects(col("awkt"), col("bwkt")))

    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "relate join was not rewritten:\n" + plan)
    assert(plan.contains("__graft_cellx_l"),
      "expected the grid-cover keys in the plan:\n" + plan)

    // Ground truth: interval arithmetic on the driver (closed-rectangle
    // intersection, matching sfIntersects' boundary-inclusive contract).
    val av = a.select("aid", "ax1", "ay1", "ax2", "ay2").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val bv = b.select("bid", "bx1", "by1", "bx2", "by2").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val expected = (for {
      (ai, x1, y1, x2, y2) <- av; (bi, u1, v1, u2, v2) <- bv
      if x1 <= u2 && x2 >= u1 && y1 <= v2 && y2 >= v1
    } yield (ai, bi)).toSet
    val got = joined.select("aid", "bid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == expected.size,
      s"duplicate or missing pairs: got ${got.length}, want ${expected.size}")
    assert(got.toSet == expected)

    // idempotence: the rewritten plan has equi keys, so a second pass
    // through the rule leaves it unchanged
    val once = graft.plans.SpatialRelateJoinRewrite(
      joined.queryExecution.optimizedPlan)
    assert(once.fastEquals(joined.queryExecution.optimizedPlan))
  }
}
