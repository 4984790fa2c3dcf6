package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions._

/** §5.2 inline invariants: the fail-fast vocab fallback chain. */
class InvariantsSpec extends AnyFunSuite with SparkTestBase {

  test("Tables schema memo: a session reading binary as string gets its " +
      "own entry") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types.{BinaryType, StringType}
    // inference consults binaryAsString only for a footer WITHOUT a Spark
    // schema in its key-value metadata (what non-Spark writers produce),
    // so the file is written with parquet-mr directly
    val dir = java.nio.file.Files.createTempDirectory("tables-memo")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required binary b; }")
    val w = ExampleParquetWriter
      .builder(new Path(s"$dir/bin.parquet")).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi"))
    finally w.close()
    try {
      assert(Tables.table(spark, dir.toString, "bin").schema("b").dataType ==
        BinaryType)
      val child = spark.newSession()
      child.conf.set("spark.sql.parquet.binaryAsString", "true")
      val t = Tables.table(child, dir.toString, "bin")
      assert(t.schema("b").dataType == StringType)
      assert(t.collect().map(_.getString(0)).toSeq == Seq("hi"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("vocabLookupOrFail resolves through the fallback chain") {
    import spark.implicits._
    val df = Seq(("A", Some("vocab-a"), None: Option[String]),
        ("B", None, Some("static-b")))
      .toDF("code", "vocab", "static")
    val got = df.select(
        vocabLookupOrFail(col("code"), col("vocab"), col("static")).as("v"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("vocab-a", "static-b"))
  }

  test("stableId separator prevents boundary-shift collisions") {
    import spark.implicits._
    val df = Seq(("ab", "c", "a", "bc")).toDF("a1", "a2", "b1", "b2")
    val row = df.select(
        stableId(col("a1"), col("a2")).as("h1"),
        stableId(col("b1"), col("b2")).as("h2"),
        stableId(col("a1"), col("a2")).as("h1b"))
      .collect()(0)
    assert(row.getString(0) != row.getString(1),
      "NUL separator must distinguish (ab,c) from (a,bc)")
    assert(row.getString(0) == row.getString(2), "stableId must be pure")
  }

  test("vocabLookupOrFail aborts the job on an unmappable code") {
    import spark.implicits._
    val df = Seq(("Z", None: Option[String], None: Option[String]))
      .toDF("code", "vocab", "static")
    val e = intercept[Exception] {
      df.select(vocabLookupOrFail(col("code"), col("vocab"), col("static")))
        .collect()
    }
    assert(e.getMessage.contains("unmappable vocab code: Z"))
  }

  test("ShapeValidator.validateOrAbort: clean shapes pass, violations abort") {
    import spark.implicits._
    import graft.rdf.{NodeShape, PropertyShape, ShapeValidator}
    val rdfType = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    def quad(s: String, p: String, o: String, kind: String,
        dt: String = null, lang: String = null) =
      (s, "iri", p, o, kind, Option(dt), Option(lang), "urn:g")
    val quads = Seq(
      quad("urn:a", rdfType, "urn:T", "iri"),
      quad("urn:a", "urn:label", "Alpha", "literal"),
      quad("urn:b", rdfType, "urn:T", "iri"),
      // urn:b has NO label (minCount violation) and a lang-less desc
      quad("urn:b", "urn:desc", "x", "literal"))
      .toDF("subject", "subjectKind", "predicate", "objectValue",
        "objectKind", "datatype", "lang", "graph")

    val clean = NodeShape("urn:shape:ok", "urn:T",
      Seq(PropertyShape("urn:label", maxCount = Some(2))))
    ShapeValidator.validateOrAbort(quads, Seq(clean)) // must not throw

    val strict = NodeShape("urn:shape:strict", "urn:T",
      Seq(PropertyShape("urn:label", minCount = 1,
        nodeKind = Some("literal"))))
    val e = intercept[IllegalStateException] {
      ShapeValidator.validateOrAbort(quads, Seq(strict))
    }
    assert(e.getMessage.contains("Failed shape validation"))
    assert(e.getMessage.contains("urn:b") &&
      e.getMessage.contains("minCount"))

    // full violations relation: exactly the one minCount row
    val v = ShapeValidator.violations(quads, Seq(strict)).collect()
    assert(v.length == 1)
    assert(v(0).getAs[String]("focus") == "urn:b" &&
      v(0).getAs[String]("constraint") == "minCount" &&
      v(0).getAs[String]("expected") == "1" &&
      v(0).getAs[String]("actual") == "0")
  }

  test("N-Quads ingest gate: rejects-empty is the §5.2 fail-fast invariant") {
    import spark.implicits._
    // the pre-validation shape for a text ingest: gate on rejects()
    // BEFORE consuming parse() — a malformed feed aborts, a clean feed
    // (comments/blanks allowed) flows through losslessly
    val clean = Seq("# header", "",
      "<urn:s> <urn:p> \"v\" <urn:g> .").toDF("value")
    val dirty = Seq("<urn:s> <urn:p> \"v\" <urn:g> .",
      "corrupt line").toDF("value")
    assert(graft.rdf.QuadParser.rejects(clean).isEmpty)
    assert(graft.rdf.QuadParser.parse(clean).count() == 1)
    val bad = graft.rdf.QuadParser.rejects(dirty)
    assert(!bad.isEmpty) // pipelines assert this and abort with the lines
    assert(bad.as[String].collect().toSeq == Seq("corrupt line"))
  }
}
