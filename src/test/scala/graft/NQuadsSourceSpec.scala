package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.rdf.QuadParser

/** The DSv2 `nquads` connector (graft.sources.nquads) must be a drop-in
  * for the expression-tier parser: same rows, same tolerance, plus the
  * connector behaviors — split planning, filter pushdown, column
  * pruning — asserted on the plan and on partition counts. */
class NQuadsSourceSpec extends AnyFunSuite with SparkTestBase {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("nquads_src").toString
    val lines = Seq(
      "<urn:s1> <urn:p> \"plain\" <urn:g1> .",
      "<urn:s1> <urn:p> \"esc \\\"q\\\" \\n nl\"@en-AU <urn:g1> .",
      "<urn:s2> <urn:p> \"42\"^^<http://www.w3.org/2001/XMLSchema#int> <urn:g2> .",
      "_:b1 <urn:p> _:b2 <urn:g2> .",
      "<urn:s3> <urn:p> <urn:o3> .", // N-Triples line: null graph
      "# a comment",
      "",
      "not a statement at all",
      "<urn:s4> <urn:p> \"last\" <urn:g1> .",
      // an empty datatype IRI stays "", and an IRI object carries no
      // datatype even when its text ends like one
      "<urn:s5> <urn:p> \"x\"^^<> <urn:g2> .",
      "<urn:s6> <urn:p> <urn:o\"^^<x> <urn:g2> .")
    Files.writeString(Paths.get(d, "part-0.nq"), lines.mkString("\n"))
    d
  }

  test("nquads DSv2 read == QuadParser.parse on the same files") {
    val dsv2 = spark.read.format("nquads").load(dir).collect().toSet
    val expr = QuadParser.readNQuads(spark, dir).collect().toSet
    assert(dsv2 == expr)
    assert(dsv2.size == 8, "7 statements + 1 NT line; junk dropped")
  }

  test("graph equality pushes to the scan and prunes foreign-graph rows") {
    val df = spark.read.format("nquads").load(dir)
      .filter(col("graph") === "urn:g1")
      .select("subject", "objectValue")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushed=(graph,urn:g1)"),
      s"pushed filter missing from scan description:\n$plan")
    assert(df.collect().length == 3)
    // a null-graph NT line must never match a graph equality
    assert(spark.read.format("nquads").load(dir)
      .filter(col("graph") === "urn:none").isEmpty)
  }

  test("column pruning reaches readSchema") {
    val df = spark.read.format("nquads").load(dir).select("predicate")
    assert(df.queryExecution.executedPlan.schema.fieldNames
      .sameElements(Array("predicate")))
    assert(df.collect().forall(_.getString(0) == "urn:p"))
  }

  test("split planning: tiny maxPartitionBytes yields >1 split, same rows") {
    val k = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.get(k)
    try {
      spark.conf.set(k, "64")
      val df = spark.read.format("nquads").load(dir)
      assert(df.rdd.getNumPartitions > 1, "expected multiple splits")
      assert(df.collect().toSet ==
        QuadParser.readNQuads(spark, dir).collect().toSet)
    } finally spark.conf.set(k, old)
  }

  test("DSv2 write: roundtrip identity, overwrite truncates, term rules") {
    val out = Files.createTempDirectory("nquads_w").toString + "/sink"
    val quads = spark.read.format("nquads").load(dir)
    quads.write.format("nquads").mode("overwrite").save(out)
    // bnodes, lang tags, typed literals, escapes, null graph all survive
    assert(spark.read.format("nquads").load(out).collect().toSet ==
      quads.collect().toSet)
    // overwrite truncates the previous parts rather than appending
    quads.filter(col("graph") === "urn:g1")
      .write.format("nquads").mode("overwrite").save(out)
    assert(spark.read.format("nquads").load(out).count() == 3)
    // wrong shape fails loud, not with a garbage file
    intercept[Exception] {
      spark.range(3).toDF("subject")
        .write.format("nquads").mode("overwrite").save(out)
    }
  }

  test("fuzz: DSv2 and expression parse agree on adversarial lines") {
    val rnd = new scala.util.Random(42)
    val graphs = Seq("urn:ga", "urn:gb", null)
    def lit(): String = {
      val bodies = Seq("plain", "t\\tab", "q\\\"quote", "nl\\nline",
        "bs\\\\slash", "uni\\u0041B", "", "dot . dot")
      val b = bodies(rnd.nextInt(bodies.length))
      val tail = rnd.nextInt(3) match {
        case 0 => ""
        case 1 => "@en-AU"
        case 2 => "^^<urn:dt>"
      }
      "\"" + b + "\"" + tail
    }
    def term(): String = rnd.nextInt(3) match {
      case 0 => s"<urn:s${rnd.nextInt(5)}>"
      case 1 => s"_:b${rnd.nextInt(5)}"
      case _ => lit()
    }
    val lines = (1 to 200).map { _ =>
      rnd.nextInt(10) match {
        case 0 => "# comment " + term()
        case 1 => ""
        case 2 => "garbage line without terms"
        case 3 => s"<urn:s> <urn:p> ${lit()}" // missing dot — malformed
        case _ =>
          val subj = if (rnd.nextBoolean()) s"<urn:s${rnd.nextInt(5)}>"
            else s"_:b${rnd.nextInt(5)}"
          val g = graphs(rnd.nextInt(graphs.length))
          val gterm = if (g == null) "" else s" <$g>"
          s"$subj <urn:p${rnd.nextInt(3)}> ${term()}$gterm ."
      }
    }
    val d = Files.createTempDirectory("nquads_fuzz").toString
    Files.writeString(Paths.get(d, "fuzz.nq"), lines.mkString("\n"))
    val dsv2 = spark.read.format("nquads").load(d).collect().toSet
    val expr = QuadParser.readNQuads(spark, d).collect().toSet
    assert(dsv2 == expr, "connector and expression parse diverged")
    assert(dsv2.nonEmpty)
    // pushdown path agrees with post-filtering on every graph value
    for (g <- graphs.filter(_ != null)) {
      val pushed = spark.read.format("nquads").load(d)
        .filter(col("graph") === g).collect().toSet
      assert(pushed == expr.filter(r => r.getAs[String]("graph") == g),
        s"pushdown diverged for graph $g")
    }
  }

  test("DSv2 parity on a real emitted dump (sf0.001 full profile)") {
    val out = Files.createTempDirectory("nquads_dump").toString + "/dump"
    graft.rdf.QuadEmitter.writeNQuads(
      SparkEntry.entry(spark).limit(500), out)
    val dsv2 = spark.read.format("nquads").load(out).collect().toSet
    val expr = QuadParser.readNQuads(spark, out).collect().toSet
    assert(dsv2.nonEmpty && dsv2 == expr)
  }
}
