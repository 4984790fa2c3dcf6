package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.rdf.{QuadEmitter, QuadStore, SparqlParser, SparqlResults,
  SparqlServer}

/** `sparql_serve`: `SparqlServer.serve` over a persisted store, and the
  * store's own ETL.
  *
  * Set-up generates the customers and bulk-loads their quads (the
  * flagship profile plus the geocode chain) into the store and N-Quads;
  * the fresh store is served. The request sequence is fixed in advance
  * from the seed: every block of six requests holds each request kind
  * once in a seeded order, and the customer key of each request is
  * Zipf-distributed over a seeded permutation of the customers. The
  * equal kind shares and the Zipf exponent are assumptions: nothing in
  * the reference application gives its real mix. The timed window sends
  * the sequence in closed loops, first from one client, then from four.
  * The open-loop generator (due times, lateness, backlog) runs in the
  * traced run. After the window the ETL runs again: a sync batch, a warm
  * bulk load and a warm sync batch. */
object SparqlServe {
  val Customers = 300L
  val ZipfS = 1.1
  val Connections = 4
  /** Blocks of six requests (one of each kind) sent by one client, then by
    * four: about 22 s on four cores. */
  val SerialBlocks = 4
  val ConcurrentBlocks = 3
  /** The traced run's open loop: 12 requests at 3 req/s. */
  val OpenLoopRate = 3.0
  /** Distinct (kind, key) pairs whose served bodies are compared with an
    * in-process execution. */
  val CheckedPairs = 6
  /** Sync batches after the window, with a warm bulk load between them.
    * The first runs the sync path cold and is left out of
    * `sync_batch_s`: cold and warm batches differ by up to 2x. */
  private val SyncBatches = 2

  final case class Req(kind: String, key: Long) {
    def text: String = Flagship.query(kind, key)
  }

  final case class Done(req: Req, sent: Stats.Sent, status: Int,
      body: String)

  /** The seeded request sequence: stratified kinds, Zipf keys. */
  def schedule(seed: Long, n: Int, keys: IndexedSeq[Long]): IndexedSeq[Req] = {
    val rng = new scala.util.Random(seed)
    val perm = rng.shuffle(keys)
    val zipf = new Stats.Zipf(keys.size, ZipfS, seed * 31 + 7)
    Iterator.continually(rng.shuffle(Flagship.Kinds)).flatten.take(n)
      .map(k => Req(k, perm(zipf.next() - 1))).toIndexedSeq
  }

  /** The body the server would send for `text`, computed in-process. */
  def inProcessBody(quads: DataFrame, text: String): String = {
    val result = SparqlParser.execute(quads, text,
      functions = Flagship.functions)
    val cols = result.columns.toSeq
    if (cols.contains("subject") && cols.contains("predicate") &&
        cols.contains("objectValue")) {
      val quaded =
        if (cols.contains("graph")) result
        else result.withColumn("graph", lit(null).cast("string"))
      QuadEmitter.renderNQuads(quaded).collect().map(_.getString(0))
        .sorted.mkString("", "\n", "\n")
    } else SparqlResults.json(result).collect().head.getString(0)
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Order-free form of a response body: sorted solution bindings for a
    * SPARQL JSON document, sorted lines otherwise. */
  def canonical(body: String): Seq[String] =
    if (body.startsWith("{")) {
      val tree = mapper.readTree(body)
      val it = tree.path("results").path("bindings").elements()
      val out = mutable.ArrayBuffer[String]()
      while (it.hasNext) {
        val b = it.next()
        val names = mutable.ArrayBuffer[String]()
        b.fieldNames().forEachRemaining(n => names += n)
        out += names.sorted.map(n => n + "=" + b.get(n).toString).mkString(";")
      }
      out.sorted.toSeq
    } else body.split('\n').toSeq.sorted

  final class Client(endpoint: String) {
    private val http = HttpClient.newBuilder()
      .executor(Executors.newFixedThreadPool(Connections))
      .version(HttpClient.Version.HTTP_1_1).build()
    private val senders = Executors.newFixedThreadPool(Connections)

    def call(r: Req): (Int, String) = {
      val form = "query=" + java.net.URLEncoder.encode(r.text, "UTF-8")
      val req = HttpRequest.newBuilder(URI.create(endpoint))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .header("Accept", "application/sparql-results+json")
        .timeout(java.time.Duration.ofSeconds(60))
        .POST(HttpRequest.BodyPublishers.ofString(form)).build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }

    /** Open loop: send `reqs` at `rate` from `startNs`; blocks until every
      * response is in. */
    def openLoop(reqs: Seq[Req], rate: Double): (Seq[Done], Long) = {
      val due = Stats.dueTimes(rate, reqs.size / rate)
      val out = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
      val start = System.nanoTime() + 20000000L
      val futures = reqs.zip(due).map { case (r, off) =>
        val dueNs = start + off
        var now = System.nanoTime()
        while (now < dueNs) {
          val wait = dueNs - now
          if (wait > 2000000L) Thread.sleep((wait - 1000000L) / 1000000L)
          else Thread.onSpinWait()
          now = System.nanoTime()
        }
        val enq = System.nanoTime()
        senders.submit(new Runnable {
          def run(): Unit = {
            val (code, body) =
              try call(r) catch { case e: Exception => (-1, e.toString) }
            out.add(Done(r, Stats.Sent(dueNs, enq, System.nanoTime()), code,
              body))
          }
        })
      }
      futures.foreach(_.get(120, TimeUnit.SECONDS))
      val end = start + due.last + math.round(1e9 / rate)
      (out.toArray(Array.empty[Done]).toSeq, end)
    }

    /** Closed loop: `clients` senders, each sending its next request when
      * the previous one has answered, until `reqs` is used up. Returns
      * the responses and the loop's wall time in seconds. */
    def closedLoop(reqs: Seq[Req], clients: Int): (Seq[Done], Double) = {
      val queue = new java.util.concurrent.ConcurrentLinkedQueue[Req]()
      reqs.foreach(queue.add)
      val out = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
      val t0 = System.nanoTime()
      val futures = (1 to clients).map(_ => senders.submit(new Runnable {
        def run(): Unit = {
          var q = queue.poll()
          while (q != null) {
            val s = System.nanoTime()
            val (code, body) =
              try call(q) catch { case e: Exception => (-1, e.toString) }
            out.add(Done(q, Stats.Sent(s, s, System.nanoTime()), code, body))
            q = queue.poll()
          }
        }
      }))
      futures.foreach(_.get(120, TimeUnit.SECONDS))
      (out.toArray(Array.empty[Done]).toSeq, (System.nanoTime() - t0) / 1e9)
    }

    def close(): Unit = {
      senders.shutdownNow(); senders.awaitTermination(10, TimeUnit.SECONDS)
    }
  }

  def run(ctx: Ctx): Unit = serve(ctx, Customers, own = true)

  /** The serving and ETL layers, traced at a small size inside another
    * workload's traced run, so every per-layer metric is measured there
    * too. */
  def probe(ctx: Ctx): Unit =
    serve(ctx.copy(work = s"${ctx.work}/serve-probe"), 200L, own = false)

  private def serve(ctx: Ctx, customers: Long, own: Boolean): Unit = {
    val spark = ctx.spark
    val r = ctx.report
    val dir = s"${ctx.work}/input"
    val store = s"${ctx.work}/store"
    val nq = s"${ctx.work}/nquads"

    // set-up: generate, bulk-load (checked), serve; after the window the
    // store's ETL runs again — sync batch, warm bulk load, warm sync
    // batch — and gives the load and sync numbers
    val g0 = System.nanoTime()
    val in = Etl.generate(spark, dir, ctx.seed, customers)
    val genS = (System.nanoTime() - g0) / 1e9
    val keys = (0L until customers).toIndexedSeq
    def load(tag: String): Etl.Load =
      ctx.trace.span("etl.load", tag)(Etl.load(ctx, in, store, nq))
    val loads = scala.collection.mutable.ArrayBuffer(load("served"))
    Etl.checkLoad(ctx, in, store, nq)
    val storeBytes = Files.bytesUnder(store)
    val rng = new scala.util.Random(ctx.seed)
    def etlReps(): Seq[Etl.Sync] = (1 to SyncBatches).map { i =>
      if (i > 1) loads += load(s"rep$i")
      ctx.trace.span("etl.sync", s"rep$i")(
        Etl.sync(ctx, in, store, Etl.pickBatch(rng, keys), s"rep$i"))
    }

    val w0 = System.nanoTime()
    val quads = QuadStore.open(spark, store)
    val server = SparqlServer.serve(quads, functions = Flagship.functions,
      poolSize = Connections)
    val client = new Client(server.endpoint)
    try {
      val reqs = schedule(ctx.seed, (SerialBlocks + ConcurrentBlocks) * 6,
        keys)

      // seeded sample of distinct (kind, key) pairs: expected bodies
      // computed in-process, which also warms every kind's code path
      val pairs = new scala.util.Random(ctx.seed ^ 0x5eed).shuffle(
        reqs.distinct).take(CheckedPairs)
      val expected = pairs.map(q => q -> inProcessBody(quads, q.text)).toMap
      schedule(~ctx.seed, Flagship.Kinds.size, keys).foreach(client.call)
      val warmS = (System.nanoTime() - w0) / 1e9

      if (ctx.traced) {
        Layers.sparqlServe(ctx, quads, client, reqs, own)
        val syncs = etlReps()
        Layers.etl(ctx, in, store, nq, loads.toSeq, syncs)
        if (own) CatalogLoops.probe(ctx, dir)
      } else {
        // closed loops: one client (the service time, no queueing), then
        // four clients (the server saturated: its throughput and latency)
        val one = reqs.take(SerialBlocks * 6)
        val (oneDone, oneWallS) = client.closedLoop(one, 1)
        val (fourDone, fourWallS) = client.closedLoop(
          reqs.slice(one.size, one.size + ConcurrentBlocks * 6), Connections)
        var compared = 0
        (oneDone ++ fourDone).foreach { d =>
          r.check(s"${d.req.kind} ${d.req.key}: HTTP ${d.status}")(
            d.status == 200)
          expected.get(d.req).foreach { want =>
            compared += 1
            r.check(s"${d.req.kind} ${d.req.key}: body differs from " +
              "in-process result")(canonical(d.body) == canonical(want))
          }
        }
        val lo = oneDone.map(_.sent.latencyNs / 1e6)
        val hi = fourDone.map(_.sent.latencyNs / 1e6)
        ctx.heap.sample()
        val syncs = etlReps()
        // the set-up's bulk load is repeated after the window, so its
        // share of set-up time is the median of the run's loads
        r.metric("setup_s", ctx.sessionStartS + genS +
          Stats.median(loads.map(_.wallS).toSeq) + warmS, "s")
        r.metric("etl_quads_per_s",
          in.quads / Stats.median(loads.tail.map(_.wallS).toSeq), "1/s")
        r.metric("sync_batch_s", syncs.last.wallS, "s")
        r.metric("store_bytes_per_quad", storeBytes.toDouble / in.quads, "B")
        r.metric("serve_p50_ms", Stats.percentile(lo, 0.5).value, "ms")
        r.metric("serve_p90_ms", Stats.percentile(lo, 0.9).value, "ms")
        r.metric("serve_p50_ms_hi", Stats.percentile(hi, 0.5).value, "ms")
        r.metric("serve_max_rps", fourDone.size / fourWallS, "1/s")
        r.metric("loops_wall_s", oneWallS, "s")
        val zipf = new Stats.Zipf(keys.size, ZipfS, 0)
        r.detail("sparql_serve", Json.obj(Seq(
          "store_quads" -> Json.num(in.quads.toDouble),
          "session_s" -> Json.num(ctx.sessionStartS),
          "generate_s" -> Json.num(genS),
          "loads_s" -> loads.map(l => Json.num(l.wallS)).mkString("[", ",", "]"),
          "syncs_s" -> syncs.map(x => Json.num(x.wallS)).mkString("[", ",", "]"),
          "warm_s" -> Json.num(warmS),
          "zipf_s" -> Json.num(ZipfS),
          "zipf_top1_share" -> Json.num(zipf.topShare(1)),
          "zipf_top100_share" -> Json.num(zipf.topShare(100)),
          "distinct_keys" -> Json.num(reqs.map(_.key).distinct.size),
          "bodies_compared" -> Json.num(compared),
          "one_client" -> Json.obj(Seq("n" -> Json.num(lo.size),
            "wall_s" -> Json.num(oneWallS))),
          "four_clients" -> Json.obj(Seq("n" -> Json.num(hi.size),
            "wall_s" -> Json.num(fourWallS),
            "p90_ms" -> Json.num(Stats.percentile(hi, 0.9).value))))))
      }
    } finally {
      client.close()
      server.stop()
    }
  }
}
