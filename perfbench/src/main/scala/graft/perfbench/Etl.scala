package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.rdf.{QuadEmitter, QuadStore, SparqlParser}

/** The ETL half of the serving store's life: generate the source rows,
  * bulk-load their quads into the store and N-Quads, then sync
  * subject-level batches into the store.
  *
  * The quads of a customer are the flagship 25-emit profile plus its
  * 3-quad geocode chain (address → geocode → geometry → WKT). A bulk load
  * explodes once and writes through `QuadStore.write` and
  * `QuadEmitter.writeNQuads`. A sync batch renames and deletes 1 % of the
  * customers through `QuadStore.upsert` (renames as the full new state of
  * every subject of the customer), then `QuadStore.open` and a
  * read-after-write SPARQL check. */
object Etl {
  val BatchShare = 0.01
  val ChainQuads = 3

  final case class Input(dir: String, rows: Long, quads: Long)

  /** Generate and write the input; its expected quad count is 22 + 3 per
    * customer, plus 3 per customer with an order. */
  def generate(spark: SparkSession, dir: String, seed: Long, customers: Long)
      : Input = {
    DataGen.customer(spark, seed, customers).write.mode("overwrite")
      .parquet(s"$dir/customer.parquet")
    DataGen.orders(spark, seed, customers * 10, customers).write
      .mode("overwrite").parquet(s"$dir/orders.parquet")
    DataGen.nation(spark).write.mode("overwrite")
      .parquet(s"$dir/nation.parquet")
    DataGen.region(spark).write.mode("overwrite")
      .parquet(s"$dir/region.parquet")
    val withOrders = spark.read.parquet(s"$dir/orders.parquet")
      .select("o_custkey").distinct().count()
    Input(dir, customers, customers * (Flagship.QuadsAlways + ChainQuads) +
      withOrders * Flagship.QuadsLifecycle)
  }

  def customers(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/customer.parquet")

  /** All quads of the customers in `cust`. */
  def quadsOf(spark: SparkSession, in: Input, cust: DataFrame): DataFrame = {
    val profile = QuadEmitter.explodeQuadsFull(
      Flagship.joined(cust, spark.read.parquet(s"${in.dir}/nation.parquet"),
        spark.read.parquet(s"${in.dir}/region.parquet"),
        spark.read.parquet(s"${in.dir}/orders.parquet")),
      Flagship.emits)
    val wkt = "http://www.opengis.net/ont/geosparql#asWKT"
    val chain = graft.queries.QuadQueries.geocodeChain(cust)
      .select(col("subject"),
        lit(graft.model.TermKind.Iri).as("subjectKind"),
        col("predicate"), col("objectValue"),
        when(col("predicate") === wkt, lit(graft.model.TermKind.Literal))
          .otherwise(lit(graft.model.TermKind.Iri)).as("objectKind"),
        lit(null).cast("string").as("datatype"),
        lit(null).cast("string").as("lang"),
        lit(Flagship.GraphA).as("graph"))
    profile.unionByName(chain)
  }

  final case class Load(wallS: Double, writeS: Double, nquadsS: Double)

  /** The bulk load: explode once into both sinks. */
  def load(ctx: Ctx, in: Input, store: String, nq: String): Load = {
    val quads = quadsOf(ctx.spark, in, customers(ctx.spark, in.dir))
    val t0 = System.nanoTime()
    ctx.trace.span("store.write")(QuadStore.write(quads, store))
    val t1 = System.nanoTime()
    ctx.trace.span("store.nquads_write")(QuadEmitter.writeNQuads(quads, nq))
    val t2 = System.nanoTime()
    Load((t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** Correctness of a bulk load: the store count, the sidecar's
    * per-predicate counts and the N-Quads read-back all match. */
  def checkLoad(ctx: Ctx, in: Input, store: String, nq: String): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val back = spark.read.parquet(store)
    val n = back.count()
    r.check(s"store holds $n quads, expected ${in.quads}")(n == in.quads)
    val recount = back.groupBy("predicate").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val src = scala.io.Source.fromFile(s"$store/_quadstats.tsv", "UTF-8")
    val sidecar = try src.getLines().map(_.split('\t'))
      .collect { case Array(c, _, p) => p -> c.toLong }.toMap
    finally src.close()
    r.check("sidecar counts differ from a per-predicate recount")(
      sidecar == recount)
    val nqn = spark.read.format("nquads").load(nq).count()
    r.check(s"N-Quads read-back has $nqn quads, expected ${in.quads}")(
      nqn == in.quads)
  }

  final case class Batch(renamed: Seq[Long], deleted: Seq[Long])

  /** Seeded batch of distinct customer keys: half renamed, half deleted. */
  def pickBatch(rng: scala.util.Random, keys: IndexedSeq[Long]): Batch = {
    val n = math.max(2, math.round(keys.size * BatchShare).toInt)
    val chosen = rng.shuffle(keys).take(n)
    Batch(chosen.take(n / 2), chosen.drop(n / 2))
  }

  /** Timings of one sync batch, and the bytes it rewrote in the store
    * against the N-Quads size of its delta. */
  final case class Sync(upsertS: Double, openS: Double, checkS: Double,
      rewrittenBytes: Long, deltaBytes: Long) {
    def wallS: Double = upsertS + openS + checkS
  }

  def sync(ctx: Ctx, in: Input, store: String, b: Batch, tag: String)
      : Sync = {
    val spark = ctx.spark
    import spark.implicits._
    val cust = customers(spark, in.dir)
    val renamed = cust.join(b.renamed.toDF("c_custkey"), "c_custkey")
      .withColumn("c_name",
        concat(lit(s"Renamed-$tag-"), col("c_custkey").cast("string")))
    // the batch's input is materialized first: the sync step measures
    // the store, not the derivation of its delta
    val delta = quadsOf(spark, in, renamed).localCheckpoint()
    val deletes = quadsOf(spark, in,
        cust.join(b.deleted.toDF("c_custkey"), "c_custkey"))
      .select("graph", "subject").distinct().localCheckpoint()
    val deltaBytes =
      if (!ctx.traced) 0L
      else QuadEmitter.renderNQuads(delta)
        .agg(sum(length(col("value")) + 1)).head().getLong(0)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    ctx.trace.span("store.upsert")(
      QuadStore.upsert(spark, store, delta, Some(deletes)))
    val t1 = System.nanoTime()
    val opened = ctx.trace.span("store.open")(QuadStore.open(spark, store))
    val t2 = System.nanoTime()
    val probe = b.renamed.take(10) ++ b.deleted.take(10)
    val q =
      s"""SELECT ?s ?name WHERE {
         |  VALUES ?s { ${probe.map(k => s"<${Flagship.CustomerIri}$k>")
          .mkString(" ")} }
         |  ?s <${Flagship.NameP}> ?name .
         |}""".stripMargin
    val got = ctx.trace.span("sparql.read_after_write") {
      SparqlParser.execute(opened, q).collect()
        .map(x => x.getString(0) -> x.getString(1)).toMap
    }
    val t3 = System.nanoTime()
    val want = b.renamed.take(10).map(k =>
      s"${Flagship.CustomerIri}$k" -> s"Renamed-$tag-$k").toMap
    ctx.report.check(s"read-after-write $tag: got $got, want $want")(
      got == want)
    Sync((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
      Files.bytesModifiedSince(store, startMs), deltaBytes)
  }
}
