package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Clustering, Sampling, TextDedup, VectorSearch}

/** Property-style checks for the parameterized operator surface —
  * invariants that must hold for ANY parameter choice, complementing the
  * oracle-gated catalog queries that pin one corpus configuration. */
class OperatorsSpec extends AnyFunSuite with SparkTestBase {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (3L, "an entirely different text about spark plans and shuffles"),
      (4L, "the quick brown fox jumps over a lazy dog today"))
      .toDF("doc_id", "text")
  }

  test("wordShingles: count = distinct windows, width parameter respected") {
    for (n <- Seq(2, 3, 4)) {
      val sh = TextDedup.wordShingles(docs, col("doc_id"), col("text"), n)
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      // doc 1 has 9 words → 9-n+1 windows, all distinct in this sentence
      assert(sh(1L).length == 9 - n + 1)
      assert(sh(1L).forall(_.split(" ").length == n))
      assert(sh(1L).distinct.length == sh(1L).length)
    }
  }

  test("minhashSignature: width = 4×seeds, 8-hex components, dup-invariant") {
    for (seeds <- 1 to 4) {
      val sig = TextDedup
        .wordShingles(docs, col("doc_id"), col("text"), 3)
        .withColumn("sig", TextDedup.minhashSignature(col("shingles"), seeds))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](2)).toMap
      assert(sig.values.forall(_.length == 4 * seeds))
      assert(sig.values.flatten.forall(_.matches("[0-9a-f]{8}")))
      // identical documents ⇒ identical signatures, every seed count
      assert(sig(1L) == sig(2L))
    }
  }

  test("lshBands: identical signatures collide on EVERY band") {
    val bands = TextDedup.lshBands(
      TextDedup.wordShingles(docs, col("doc_id"), col("text"), 3)
        .withColumn("sig", TextDedup.minhashSignature(col("shingles"), 2)),
      bands = 4, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val byDoc = bands.groupBy(_._1)
    assert(byDoc(1L).map(b => (b._2, b._3)).toSet ==
      byDoc(2L).map(b => (b._2, b._3)).toSet)
    assert(byDoc(1L).length == 4)
  }

  test("jaccard: bounds, self-similarity, symmetry") {
    import spark.implicits._
    val pairs = Seq(
      (Seq("a", "b", "c"), Seq("a", "b", "c")),
      (Seq("a", "b"), Seq("c", "d")),
      (Seq("a", "b", "c"), Seq("b", "c", "d")))
      .toDF("x", "y")
    val rows = pairs.select(
      TextDedup.jaccard(col("x"), col("y")).as("j1"),
      TextDedup.jaccard(col("y"), col("x")).as("j2")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
      assert(r.getDouble(0) == r.getDouble(1)) // symmetric
    }
    assert(rows(0).getDouble(0) == 1.0)
    assert(rows(1).getDouble(0) == 0.0)
  }

  test("DotProduct.compute matches a reference loop on arbitrary vectors") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val rnd = new scala.util.Random(42) // seeded: reproducible failures
    (1 to 200).foreach { _ =>
      val n = 1 + rnd.nextInt(64)
      val a = Array.fill(n)(rnd.nextFloat() * 200f - 100f)
      val b = Array.fill(n)(rnd.nextFloat() * 200f - 100f)
      val got = graft.plans.DotProduct.compute(
        ArrayData.toArrayData(a), ArrayData.toArrayData(b),
        aFloat = true, bFloat = true)
      var want = 0.0
      a.zip(b).foreach { case (x, y) => want += x.toDouble * y.toDouble }
      assert(got == want) // same order ⇒ bit-identical, not approx
    }
  }

  test("signLshBucketSql stays within [0, 2^bits) and is deterministic") {
    for (bits <- Seq(2, 4, 6)) {
      val b = Tables.embeddings(spark, sf)
        .select(expr(VectorSearch.signLshBucketSql("embedding", bits))
          .as("bucket"))
        .agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
        .collect()(0)
      assert(b.getInt(0) >= 0 && b.getInt(1) < (1 << bits))
    }
  }

  test("ivfAssignPartitioned == ivfAssign (broadcast vs two-stage argmin)") {
    val v = VectorSearch.withNorm(spark, Tables.embeddings(spark, sf),
      col("vec_id"), col("embedding"))
    val cents = VectorSearch.ivfCentroids(v, centroidModulus = 7)
    for (keep <- Seq(1, 2)) {
      val bc = VectorSearch.ivfAssign(v, cents, keep)
        .select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
      val pt = VectorSearch.ivfAssignPartitioned(v, cents, keep, parts = 3)
        .select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(bc.toSet == pt.toSet, s"assignment diverged at keep=$keep")
      assert(bc.length == pt.length)
    }
  }

  test("ivfCentroids: modulus 1 selects the whole relation (ADVICE r5 #1)") {
    val v = VectorSearch.withNorm(spark, Tables.embeddings(spark, sf),
      col("vec_id"), col("embedding"))
    val n = v.count()
    assert(VectorSearch.ivfCentroids(v, 1L).count() == n)
    // and a larger modulus selects roughly n/CM, never zero
    val c7 = VectorSearch.ivfCentroids(v, 7L).count()
    assert(c7 > 0 && c7 <= n / 7 + 1)
  }

  test("Sampling: partition-invariant, reproducible, quota-exact") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sf)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // identical sample regardless of physical layout — the property
    // rand() cannot give
    val s1 = ids(Sampling.hashSample(docs, col("doc_id"), "4000"))
    val s2 = ids(Sampling.hashSample(docs.repartition(7), col("doc_id"), "4000"))
    assert(s1 == s2 && s1.nonEmpty && s1.length < docs.count())
    // monotone in the threshold: a wider gate strictly contains a narrower
    val s3 = ids(Sampling.hashSample(docs, col("doc_id"), "8000"))
    assert(s1.toSet.subsetOf(s3.toSet) && s3.length > s1.length)
    // quota: exactly min(quota, group size) rows per group, stable set
    val q = Sampling.quotaPerGroup(docs, col("source"), col("doc_id"), 3)
      .groupBy(col("source")).count().collect()
    assert(q.forall(_.getLong(1) <= 3) && q.nonEmpty)
    val q1 = ids(Sampling.quotaPerGroup(docs, col("source"), col("doc_id"), 3))
    val q2 = ids(Sampling.quotaPerGroup(docs.repartition(5), col("source"),
      col("doc_id"), 3))
    assert(q1 == q2)
  }

  test("AsOfJoin: latest-at-or-before semantics, null when no prior row") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    val left = Seq((1L, 10L, "e1"), (1L, 20L, "e2"), (2L, 5L, "e3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, "r@10"), (1L, 15L, "r@15"), (1L, 30L, "r@30"),
      (2L, 50L, "r@50"))
      .toDF("k", "t", "pay")
    val got = AsOfJoin.asOf(left, right, "k", "t")
      .collect().map(r => r.getString(2) -> Option(r.getString(3))).toMap
    assert(got == Map(
      "e1" -> Some("r@10"), // equal timestamp matches (≤ semantics)
      "e2" -> Some("r@15"), // LATEST at-or-before, not first
      "e3" -> None))        // right row exists only in the future → null
    // and the plan is a key-shuffle window, never a nested-loop θ-join
    val plan = AsOfJoin.asOf(left, right, "k", "t")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("contaminationHits: verbatim benchmark text flags, disjoint text doesn't") {
    import spark.implicits._
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val train = Seq(
      // contains the benchmark 8-gram verbatim (prefix + suffix noise)
      (1L, "noise alpha beta gamma delta epsilon zeta eta theta more"),
      // shares 7 of 8 words in order — NOT an 8-gram match
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "completely unrelated text about spark physical plans today ok"))
      .toDF("doc_id", "text")
    val hits = TextDedup.contaminationHits(train, col("doc_id"), col("text"),
        bench, col("doc_id"), col("text"), n = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 1L))
  }

  test("Sampling.packShards matches a reference sequential packer") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, sf).select(col("doc_id"),
      col("source"), size(split(trim(col("text")), "\\s+")).cast("long")
        .as("tok"))
    val got = Sampling.packShards(docs, col("source"), col("doc_id"),
        col("tok"), budget = 200L)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2),
        r.getLong(3)))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    got.groupBy(_._1).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(r => (md5hex(r._2.toString), r._2)).foreach { r =>
        assert(r._4 == cum / 200L, s"doc ${r._2}: shard ${r._4} != ${cum / 200L}")
        cum += r._3
      }
      // note: ids need NOT be dense — a document wider than the budget
      // legitimately skips shard ids; the packer equivalence above is
      // the full semantic pin
      assert(rows.exists(_._4 == 0L)) // but shard 0 always exists
    }
  }

  test("ConnectedComponents: transitive chains merge, components stay apart") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    // chain 1-2-3-4 (diameter 3), separate pair (10,11), triangle (20,21,22)
    val edges = Seq((1L, 2L), (3L, 2L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    val got = ConnectedComponents.label(edges, col("a"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // a bound too tight for the diameter fails LOUD, never partial —
    // only the distributed rounds have a bound to hit (below the size
    // cap `label` finishes on the driver), so call them directly
    assertThrows[IllegalStateException] {
      ConnectedComponents.rounds(edges, col("a"), col("b"), maxRounds = 1)
    }
  }

  test("ConnectedComponents: pointer jumping converges a long chain in " +
      "O(log diameter) rounds") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    // a 200-node path (diameter 199): plain hash-min propagation would
    // need 199 rounds — far past the default bound; path halving
    // reaches fixpoint within the default 20 (the rounds are called
    // directly: below the size cap `label` never runs them)
    val edges = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val got = ConnectedComponents.rounds(edges, col("a"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 200 && got.forall(_._2 == 0L))
  }

  test("ConnectedComponents == union-find on random graphs") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0), r.get(1))).toSeq.sortBy(_.toString)
    for (seed <- 1 to 20) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      // nodes 0 and 1 always share a component
      val edges = (0L, 1L) +: (1 to 50).map(_ => (rnd.nextInt(n).toLong,
        rnd.nextInt(n).toLong))
      // reference: textbook union-find with path compression
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        if (parent(x) != x) parent(x) = find(parent(x)); parent(x)
      }
      edges.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
      val want = (0 until n).map(i => i.toLong -> {
        // component label = min member id, matching the operator contract
        (0 until n).filter(j => find(j) == find(i)).min.toLong
      }).toMap
      val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val longs = edges.toDF("a", "b")
      val got = ConnectedComponents.label(longs, col("a"), col("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.keySet == touched, s"seed $seed: node set diverged")
      got.foreach { case (node, comp) =>
        assert(comp == want(node), s"seed $seed: node $node → $comp, " +
          s"union-find says ${want(node)}")
      }
      // the driver-side finish must equal the distributed rounds row for
      // row, for every id type. String ids start with "｡" (U+FF61) or
      // "😀" (U+1F600): Spark's UTF-8 byte order puts "｡" first, Java's
      // UTF-16 String.compareTo puts "😀" first, so in every component
      // holding both kinds a minimum taken in Java order picks the wrong
      // label.
      val names = Array("｡", "😀") ++
        (2 until n).map(i => (if (i % 2 == 0) "｡" else "😀") + i)
      val graphs = Seq(
        longs,
        edges.map { case (a, b) => (a.toInt, b.toInt) }.toDF("a", "b"),
        edges.map { case (a, b) => (names(a.toInt), names(b.toInt)) }
          .toDF("a", "b"))
      for (g <- graphs) {
        val inMemory = ConnectedComponents.label(g, col("a"), col("b"))
        val distributed = ConnectedComponents.rounds(g, col("a"), col("b"))
        assert(inMemory.schema.map(_.dataType) ==
          distributed.schema.map(_.dataType))
        assert(rowsOf(inMemory) == rowsOf(distributed),
          s"seed $seed, ${g.schema("a").dataType}: the two paths diverged")
      }
    }
  }

  test("AsOfJoin == brute-force latest-at-or-before on random data") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    val rnd = new scala.util.Random(7)
    val left = (1 to 60).map(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(100).toLong, i.toLong))
    val right = (1 to 40).map(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(100) * 2L, 1000L + i))
      // ts × 2 keeps (key, ts) unique-ish; dedup exact collisions to
      // honor the operator's right-side uniqueness contract
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val got = AsOfJoin.asOf(left.toDF("k", "t", "lid"),
        right.toDF("k", "t", "rid"), "k", "t")
      .collect().map(r => r.getLong(2) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    left.foreach { case (k, t, lid) =>
      val want = right.filter(r => r._1 == k && r._2 <= t)
        .sortBy(r => (r._2, r._3)).lastOption.map(_._3)
      assert(got(lid) == want, s"left $lid (k=$k, t=$t): ${got(lid)} vs $want")
    }
  }

  test("iterative loops: identical results under local and reliable checkpoint") {
    // Checkpoints.cut switches on the session's checkpoint dir — the
    // cluster-hardened mode (VERDICT r4 Missing #4) must be a pure
    // physical choice, invisible in the results.
    val loops = Seq("q_recursive_hierarchy", "q_join_knn_full",
      "q_incremental_resume")
    val base = loops.map(n =>
      n -> SparkEntry.queries(n)(spark, sf).collect().map(_.toString).sorted)
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      base.foreach { case (n, want) =>
        val got = SparkEntry.queries(n)(spark, sf).collect().map(_.toString).sorted
        assert(got.sameElements(want), s"$n diverged under reliable checkpoint")
      }
      // and the reliable path really wrote checkpoint state to the dir
      assert(new java.io.File(dir).listFiles().nonEmpty)
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      // per-run checkpoint dirs are the caller's to reclaim (the cleaner
      // flag is session-build-only — Checkpoints scaladoc, ADVICE r5 #2)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("Merge.upsert: source NULL wins on match; delete flag drops the row") {
    import spark.implicits._
    import graft.operators.Merge
    val target = Seq((1L, "a", "t1"), (2L, "b", "t2"), (3L, "c", "t3"))
      .toDF("key", "v", "w")
    val source = Seq(
      (1L, Option.empty[String], "s1", false), // update with NULL v
      (3L, Option("z"), "s3", true),           // matched delete
      (4L, Option("d"), "s4", false))          // insert
      .toDF("key", "v", "w", "del")
    val out = Merge.upsert(target, source, "key", deleteFlag = Some("del"))
      .orderBy("key")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        r.getString(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, None, "s1", "update"), // source's NULL v REPLACED target's "a"
      (2L, Some("b"), "t2", "keep"),
      (4L, Some("d"), "s4", "insert")))
  }

  test("SkewJoin.salted equals the plain inner join for any fan-out") {
    import org.apache.spark.sql.functions.struct
    import graft.operators.SkewJoin
    val probe = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val build = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val plain = probe.join(build, Seq("l_orderkey"))
    for (r <- Seq(1, 4, 32)) {
      val salted = SkewJoin.salted(probe, build, "l_orderkey",
        struct(col("l_orderkey"), col("l_linenumber")), r)
      assert(salted.count() == plain.count(), s"row count drift at r=$r")
      assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty,
        s"multiset drift at r=$r")
    }
  }

  test("IntervalJoin.overlaps is bucket-size-invariant and matches the θ-join") {
    import spark.implicits._
    import graft.operators.IntervalJoin
    val a = Seq((1L, 0L, 10L), (2L, 50L, 55L), (3L, 100L, 100L))
      .toDF("a_id", "a_s", "a_e")
    val b = Seq((10L, 5L, 7L), (11L, 10L, 20L), (12L, 56L, 60L),
      (13L, 100L, 130L), (14L, 99L, 99L))
      .toDF("b_id", "b_s", "b_e")
    val expected = a.join(b,
        col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(expected == Set((1L, 10L), (1L, 11L), (3L, 13L)))
    for (bucket <- Seq(1, 7, 30, 1000)) {
      val got = IntervalJoin.overlaps(a, col("a_s"), col("a_e"),
          b, col("b_s"), col("b_e"), bucket)
        .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      assert(got == expected, s"drift at bucket=$bucket")
    }
  }

  test("Multimodal.decodeBatched indexes by code points, not UTF-16 units") {
    import spark.implicits._
    import graft.operators.{MediaRecord, Multimodal}
    // "😀" is U+1F600 — ONE code point, TWO UTF-16 units. Character-based
    // engines (the DuckDB oracle) see length 3 here; charAt-indexing
    // would see 4 and skew every strided offset (ADVICE r4).
    val text = "a😀b"
    val ds = Seq(MediaRecord(1L, text, text.getBytes("UTF-8"), 64, 64)).toDS()
    val d = Multimodal.decodeBatched(ds, batchSize = 2).collect()(0)
    val cps = text.codePoints().toArray
    assert(d.features == (0 until Multimodal.FeatureWidth)
      .map(i => cps((i * 37) % cps.length)))
    assert(d.features.contains(0x1F600)) // the astral code point, intact
    // frame 0 covers the first 100 CODE POINTS = the whole 3-char text
    val md = java.security.MessageDigest.getInstance("MD5")
    val full = md.digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(d.frames.head == full)
  }

  test("lloyd: modulus 1 + one iteration assigns every vector to itself") {
    import spark.implicits._
    val v = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(-1f, 0f)), (3L, Array(0f, -1f)))
      .toDF("vec_id", "embedding")
    val out = Clustering.lloyd(v, initModulus = 1L, iters = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L))
    out.foreach { case (id, (cid, d2)) =>
      assert(cid == id, s"vector $id assigned to foreign centroid $cid")
      assert(math.abs(d2) < 1e-12)
    }
  }

  test("lloyd: planted clusters recovered, exactly one assignment per vector") {
    import spark.implicits._
    // ids ≡ 0 (mod 3) seed the two centroids: id 0 in cluster A (near the
    // origin), id 3 in cluster B (near (10, 10)); evens are A, odds B.
    val v = Seq(
      (0L, Array(0.1f, 0.0f)), (2L, Array(0.0f, 0.2f)),
      (4L, Array(-0.1f, 0.1f)), (3L, Array(10.1f, 9.9f)),
      (1L, Array(9.9f, 10.0f)), (5L, Array(10.0f, 10.2f)))
      .toDF("vec_id", "embedding")
    for (iters <- Seq(1, 2, 3)) {
      val rows = Clustering.lloyd(v, initModulus = 3L, iters = iters).collect()
      assert(rows.map(_.getLong(0)).sorted.toSeq == (0L to 5L),
        "each vector assigned exactly once")
      val byCid = rows.groupBy(_.getLong(1))
        .map { case (c, rs) => c -> rs.map(_.getLong(0)).toSet }
      assert(byCid(0L) == Set(0L, 2L, 4L) && byCid(1L) == Set(1L, 3L, 5L),
        s"iters=$iters: planted clusters not recovered: $byCid")
    }
  }

  test("Scd2: run compression, interval chaining, exactly one current version") {
    import spark.implicits._
    import graft.operators.Scd2
    // key 1: A,A,B,B,A → 3 versions (re-reverting values reopen);
    // key 2: same-ts tie broken by id; key 3: single row
    val ch = Seq(
      (1L, 1L, 10L, "A"), (1L, 2L, 20L, "A"), (1L, 3L, 30L, "B"),
      (1L, 4L, 40L, "B"), (1L, 5L, 50L, "A"),
      (2L, 6L, 10L, "X"), (2L, 7L, 10L, "Y"),
      (3L, 8L, 99L, "Z"))
      .toDF("k", "id", "ts", "status")
    val h = Scd2.buildHistory(ch, col("k"), col("ts"), col("id"),
        col("status"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]),
        r.getBoolean(5)))
      .sortBy(t => (t._1, t._2))
    assert(h.filter(_._1 == 1L).toSeq == Seq(
      (1L, 1, "A", 10L, Some(30L), false),
      (1L, 2, "B", 30L, Some(50L), false),
      (1L, 3, "A", 50L, None, true)))
    // same-ts tie: id 6 (X) precedes id 7 (Y)
    assert(h.filter(_._1 == 2L).toSeq == Seq(
      (2L, 1, "X", 10L, Some(10L), false),
      (2L, 2, "Y", 10L, None, true)))
    assert(h.filter(_._1 == 3L).toSeq == Seq((3L, 1, "Z", 99L, None, true)))
    // invariants: intervals chain, exactly one open version per key
    h.groupBy(_._1).foreach { case (_, vs) =>
      assert(vs.count(_._5.isEmpty) == 1)
      vs.sliding(2).foreach {
        case Array(a, b) => assert(a._5.contains(b._4), s"gap: $a -> $b")
        case _ =>
      }
    }
  }

  test("lloyd silhouette: bounded in [-1,1], near 1 on well-separated clusters") {
    import spark.implicits._
    val v = Seq(
      (0L, Array(0.1f, 0.0f)), (2L, Array(0.0f, 0.2f)),
      (4L, Array(-0.1f, 0.1f)), (3L, Array(10.1f, 9.9f)),
      (1L, Array(9.9f, 10.0f)), (5L, Array(10.0f, 10.2f)))
      .toDF("vec_id", "embedding")
    val s = Clustering.silhouette(v, initModulus = 3L, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(s.map(_._2).sum == 6, "every vector scored once")
    s.foreach { case (cid, _, ms) =>
      assert(ms >= -1.0 && ms <= 1.0, s"silhouette out of range for $cid")
      assert(ms > 0.9, s"well-separated clusters should score ~1, got $ms")
    }
  }

  test("multi-probe LSH dominates single-probe: rank-1 neighbor at least as close") {
    def rank1(q: String) = SparkEntry.queries(q)(spark, sf)
      .filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val single = rank1("q_ann_lsh_topk")
    val multi = rank1("q_ann_lsh_multiprobe")
    assert(single.keySet.subsetOf(multi.keySet),
      "multi-probe lost a query that single-probe answered")
    single.foreach { case (qid, cos) =>
      assert(multi(qid) >= cos - 1e-12,
        s"qid $qid: multi-probe rank-1 $cos worse than single-probe")
    }
  }

  test("Diff.snapshotDiff: insert/delete/update/same with null-safe compare") {
    import spark.implicits._
    import graft.operators.Diff
    val old = Seq((1L, Some("a")), (2L, Some("b")), (3L, None),
      (4L, Some("d"))).toDF("k", "v")
    val nw = Seq((1L, Some("a")), (3L, Some("c")), (4L, None),
      (5L, Some("e"))).toDF("k", "v")
    val d = Diff.snapshotDiff(old, nw, "k", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d == Map(1L -> "same", 2L -> "delete", 3L -> "update",
      4L -> "update", 5L -> "insert"))
  }

  test("Sampling.mixture: quotas honored exactly, off-mix groups dropped") {
    import spark.implicits._
    val docs = (0L until 400L).map(i =>
      (i, Seq("en", "de", "fr", "zh")(i.toInt % 4))).toDF("doc_id", "lang")
    val m = Sampling.mixture(docs, col("lang"), col("doc_id"),
        Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2), budget = 100L)
      .collect().map(r => r.getString(1))
    val counts = m.groupBy(identity).view.mapValues(_.length).toMap
    assert(counts == Map("en" -> 50, "de" -> 30, "fr" -> 20),
      s"mixture off-spec: $counts")
  }

  test("Sampling.weighted: deterministic, scale-invariant in the weights") {
    import spark.implicits._
    val docs = (1L to 300L).map(i => (i, i % 17 + 1)).toDF("id", "w")
    def draw(wCol: org.apache.spark.sql.Column) =
      Sampling.weighted(docs, col("id"), wCol, k = 40)
        .collect().map(_.getLong(0)).toSeq
    val a = draw(col("w"))
    assert(a == draw(col("w")), "re-run changed the sample")
    // scaling every weight by a constant scales every race key by its
    // inverse — the selected set and order must not move
    assert(a == draw(col("w") * 1000), "weight scaling changed the sample")
  }

  test("Profiler: exact per-column metrics including nulls and typed min/max") {
    import spark.implicits._
    import graft.operators.Profiler
    val df = Seq(
      (Some(3.5), Some("b")), (None, Some("a")), (Some(-1.0), None),
      (Some(3.5), Some("c")))
      .toDF("v", "s")
    val p = Profiler.profile(df, numericCols = Seq("v"), stringCols = Seq("s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val v = p("v"); val st = p("s")
    assert(v.getLong(1) == 4 && v.getLong(2) == 1 && v.getLong(3) == 2)
    assert(v.getDouble(4) == -1.0 && v.getDouble(5) == 3.5)
    assert(v.isNullAt(6) && v.isNullAt(7))
    assert(st.getLong(1) == 4 && st.getLong(2) == 1 && st.getLong(3) == 3)
    assert(st.isNullAt(4) && st.isNullAt(5))
    assert(st.getString(6) == "a" && st.getString(7) == "c")
  }

  test("containment prefix filter loses NO pair vs brute force (pigeonhole)") {
    // q_dedup_containment's recall rests on the pigeonhole bound: with
    // containment >= 0.8, at least one of A's floor(0.2*|A|)+1 smallest
    // shingle-hashes is in B. Verify the BLOCKED query equals a
    // brute-force all-pairs scan on the sf0.001 corpus.
    import org.apache.spark.sql.functions._
    val blocked = SparkEntry.queries("q_dedup_containment")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = graft.operators.TextDedup.wordShingles(
      Tables.documents(spark, sf), col("doc_id"), col("text"), n = 3)
      .withColumn("sz", size(col("shingles")))
    val brute = sh.as("a").join(sh.as("b"),
        col("a.sz") < col("b.sz") ||
          (col("a.sz") === col("b.sz") && col("a.doc_id") < col("b.doc_id")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (size(array_intersect(col("a.shingles"), col("b.shingles")))
          .cast("double") / col("a.sz")).as("c"))
      .filter(col("c") >= 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute,
      s"missed: ${brute -- blocked}; extra: ${blocked -- brute}")
  }

  test("DataQuality: NULL predicate results count as violations (3VL guard)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.DataQuality
    // value > 0 is NULL for the null row — it must count as a violation,
    // not slip through three-valued logic.
    val df = Seq(Some(5), None, Some(-3)).toDF("v")
    val out = DataQuality.checkViolations(df,
        Seq(DataQuality.Check("v_pos", col("v") > 0)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("v_pos") == 2, s"expected null+negative = 2, got $out")
  }

  test("DataQuality: unique and FK rules report zero on clean data, not null") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.DataQuality
    val fact = Seq((1, "a"), (2, "b")).toDF("k", "x")
    val dim = Seq(1, 2, 3).toDF("k")
    val rep = DataQuality.report(Seq(
      DataQuality.uniqueViolations("u", fact, Seq(col("k"))),
      DataQuality.fkViolations("f", fact, col("k"), dim, col("k"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep == Map("u" -> 0L, "f" -> 0L), rep.toString)
    // and a dirty fact: one dup pair (2 rows) + one orphan
    val dirty = Seq((1, "a"), (1, "b"), (9, "c")).toDF("k", "x")
    val rep2 = DataQuality.report(Seq(
      DataQuality.uniqueViolations("u", dirty, Seq(col("k"))),
      DataQuality.fkViolations("f", dirty, col("k"), dim, col("k"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep2 == Map("u" -> 2L, "f" -> 1L), rep2.toString)
  }

  test("Compaction writes the exact file count, range-disjoint and sorted") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val ev = Tables.events(spark, sf).select(col("event_id"), col("ts"))
    ev.repartition(16).write.mode("overwrite").parquet(s"$dir/frag")
    graft.operators.Compaction.compactToSortedFiles(
      spark.read.parquet(s"$dir/frag"), s"$dir/out", nFiles = 3,
      Seq(col("ts"), col("event_id")))
    assert(graft.operators.Compaction.fileCount(spark, s"$dir/out") == 3)
    // range-disjoint: each file's [min,max] ts must not overlap another's
    val ranges = spark.read.parquet(s"$dir/out")
      .select(input_file_name().as("f"), unix_millis(col("ts")).as("ms"))
      .groupBy(col("f")).agg(min(col("ms")).as("lo"), max(col("ms")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file ranges overlap: $hi1 > $lo2")
      case _ =>
    }
    // content identical to the input
    assert(spark.read.parquet(s"$dir/out").except(ev).count() == 0 &&
      ev.except(spark.read.parquet(s"$dir/out")).count() == 0)
  }

  test("winnowing guarantee: a shared run of w+k-1 chars shares a fingerprint") {
    // Schleimer et al. §2: with k-gram hashes and window w, ANY common
    // substring of length >= w + k - 1 contributes at least one common
    // selected fingerprint. Embed the same 11-char run (k=8, w=4) in
    // otherwise-different documents at different offsets and check the
    // fingerprint sets intersect; two disjoint strings must not.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val shared = "abcdefghijk" // w + k - 1 = 11 chars
    val docs = Seq(
      (1L, "xxxx" + shared + "yyyyyy"),
      (2L, "qqqqqqqqq" + shared + "zz"),
      (3L, "0123456789012345678901234")).toDF("id", "t")
    val fps = docs
      .withColumn("fps", expr(graft.operators.TextDedup.winnowSql("t")))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Long](2).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty,
      "shared 11-char run produced no common fingerprint")
    assert((fps(1L) & fps(3L)).isEmpty,
      "disjoint strings should not share fingerprints")
  }

  test("PlanLint flags cross joins and global windows, passes clean plans") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.{Window => W}
    import graft.operators.PlanLint
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(4, 5).toDF("y")
    assert(PlanLint.lint(a.crossJoin(b)).exists(_.rule == "cross-join"))
    assert(PlanLint.lint(
      a.withColumn("r", row_number().over(W.orderBy(col("x")))))
      .exists(_.rule == "global-window"))
    // orderBy+limit compiles to TakeOrdered — must NOT flag global-sort
    assert(PlanLint.lint(a.orderBy(col("x")).limit(2)).isEmpty)
    // broadcast-joined aggregate: clean
    val clean = a.join(broadcast(b), col("x") === col("y"))
      .groupBy(col("x")).count()
    assert(PlanLint.lint(clean).isEmpty)
    assertThrows[IllegalArgumentException](
      PlanLint.assertScaleSafe(a.crossJoin(b)))
    PlanLint.assertScaleSafe(clean) // no throw
    // the engine's own distributed-rank operator must lint clean
    PlanLint.assertScaleSafe(graft.operators.GlobalRank
      .withGlobalRowNumber(a, Seq(col("x")), "r", cutLineage = false))
  }

  test("asOfForward equals the brute-force next-at-or-after lookup") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val left = Seq((1, 10L, "a"), (1, 25L, "b"), (2, 5L, "c"), (3, 9L, "d"))
      .toDF("k", "t", "tag")
    val right = Seq((1, 10L, "r10"), (1, 20L, "r20"), (1, 30L, "r30"),
      (2, 4L, "r4")).toDF("k", "t", "p")
    val got = graft.operators.AsOfJoin
      .asOfForward(left, right.select(col("k"), col("t"),
        col("p").as("pay")), "k", "t")
      .select(col("tag"), col("pay"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    // ties match (>= semantics): left (1,10) takes right (1,10);
    // (2,5) has no right at-or-after → null; k=3 has no right side.
    assert(got == Map("a" -> Some("r10"), "b" -> Some("r30"),
      "c" -> None, "d" -> None), got.toString)
  }

  test("GlobalRank equals the single-partition window row_number") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val df = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"))
    val sortCols = Seq(col("o_totalprice"), col("o_orderkey"))
    // numPartitions=7 forces multiple range partitions even on the tiny
    // sf0.001 relation, so the offset arithmetic is actually exercised.
    val got = graft.operators.GlobalRank
      .withGlobalRowNumber(df, sortCols, "r", numPartitions = 7)
      .select(col("o_orderkey"), col("r"))
    val exp = df
      .withColumn("r", row_number().over(Window.orderBy(sortCols: _*)))
      .select(col("o_orderkey"), col("r"))
    assert(got.count() == exp.count())
    assert(got.except(exp).count() == 0 && exp.except(got).count() == 0,
      "distributed rank diverged from the single-partition window rank")
  }

  test("ImageCodec: PPM round-trip, comment-tolerant header, loud failures") {
    import graft.operators.ImageCodec
    import graft.operators.ImageCodec.RawImage
    val rnd = new scala.util.Random(7)
    val img = RawImage(5, 3, Array.fill(45)(rnd.nextInt(256).toByte))
    val rt = ImageCodec.decodePpm(ImageCodec.encodePpm(img))
    assert(rt.width == 5 && rt.height == 3)
    assert(rt.pixels.toSeq == img.pixels.toSeq, "raster changed in transit")
    // header comments are legal Netpbm grammar
    val withComment =
      ("P6\n# a comment\n5 3\n# more\n255\n").getBytes("US-ASCII") ++ img.pixels
    assert(ImageCodec.decodePpm(withComment).pixels.toSeq == img.pixels.toSeq)
    // nearest-neighbor downsample picks the even rows/cols
    val up = ImageCodec.resizeNearest(RawImage(2, 2,
      Array[Byte](1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 4, 4)), 1, 1)
    assert(up.pixels.toSeq == Seq[Byte](1, 1, 1))
    intercept[IllegalArgumentException] {
      ImageCodec.decodePpm("P5\n1 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](0))
    }
    intercept[IllegalArgumentException] { // truncated raster must not parse
      ImageCodec.decodePpm(ImageCodec.encodePpm(img).dropRight(1))
    }
  }

  test("ImageCodec PNG: all five filters round-trip, color types, CRC") {
    import graft.operators.ImageCodec
    import graft.operators.ImageCodec.RawImage
    val rnd = new scala.util.Random(11)
    val img = RawImage(7, 5, Array.fill(105)(rnd.nextInt(256).toByte))
    // every filter type must invert exactly (None/Sub/Up/Average/Paeth)
    for (ft <- 0 to 4) {
      val rt = ImageCodec.decodePng(ImageCodec.encodePng(img, ft))
      assert(rt.width == 7 && rt.height == 5)
      assert(rt.pixels.toSeq == img.pixels.toSeq,
        s"filter $ft did not round-trip")
    }
    // greyscale (colorType 0) replicates to RGB — hand-built image:
    // 2x2 grey values with filter 0
    def handPng(colorType: Int, channels: Int, pix: Array[Byte],
        depth: Int = 8): Array[Byte] = {
      val w = 2; val h = 2
      val stride = w * channels
      val raw = new Array[Byte]((stride + 1) * h)
      for (y <- 0 until h) {
        raw(y * (stride + 1)) = 0
        System.arraycopy(pix, y * stride, raw, y * (stride + 1) + 1, stride)
      }
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](4096)
      val out = new java.io.ByteArrayOutputStream()
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
        (v >>> 8).toByte, v.toByte)
      def chunk(t: String, data: Array[Byte]) = {
        val tb = t.getBytes("US-ASCII")
        val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(data)
        be32(data.length) ++ tb ++ data ++ be32(crc.getValue.toInt)
      }
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte) ++
        chunk("IHDR", be32(w) ++ be32(h) ++
          Array[Byte](depth.toByte, colorType.toByte, 0, 0, 0)) ++
        chunk("IDAT", out.toByteArray) ++ chunk("IEND", Array.empty[Byte])
    }
    val grey = ImageCodec.decodePng(
      handPng(0, 1, Array[Byte](10, 20, 30, 40)))
    assert(grey.pixels.toSeq ==
      Seq[Byte](10, 10, 10, 20, 20, 20, 30, 30, 30, 40, 40, 40))
    // RGBA (colorType 6) drops alpha
    val rgba = ImageCodec.decodePng(handPng(6, 4,
      Array[Byte](1, 2, 3, -1, 4, 5, 6, -1, 7, 8, 9, -1, 10, 11, 12, -1)))
    assert(rgba.pixels.toSeq ==
      Seq[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12))
    // corrupted CRC must not decode quietly
    val good = ImageCodec.encodePng(img)
    val bad = good.clone()
    bad(20) = (bad(20) ^ 0x01).toByte // inside IHDR payload
    intercept[IllegalArgumentException] { ImageCodec.decodePng(bad) }
    // a flipped bit in the IHDR CRC field itself: ImageIO alone decodes
    // this image, so the chunk walk must catch it
    val badCrc = good.clone()
    badCrc(29) = (badCrc(29) ^ 0x01).toByte // IHDR CRC, bytes 29-32
    intercept[IllegalArgumentException] { ImageCodec.decodePng(badCrc) }
    // a well-formed 16-bit greyscale image is outside the 8-bit profile
    intercept[IllegalArgumentException] {
      ImageCodec.decodePng(handPng(0, 2, Array.tabulate[Byte](8)(_.toByte),
        depth = 16))
    }
    intercept[IllegalArgumentException] {
      ImageCodec.decodePng("nope".getBytes("US-ASCII"))
    }
  }

  test("ImageCodec JPEG (javax.imageio): shape exact, smooth MAE small") {
    import graft.operators.ImageCodec
    import graft.operators.ImageCodec.RawImage
    val px = new Array[Byte](8 * 8 * 3)
    for (i <- 0 until 64) {
      val v = ((i % 8) * 2 + (i / 8) * 2 + 100).toByte
      px(i * 3) = v; px(i * 3 + 1) = v; px(i * 3 + 2) = v
    }
    val dec = ImageCodec.decodeJpeg(ImageCodec.encodeJpeg(RawImage(8, 8, px)))
    assert(dec.width == 8 && dec.height == 8)
    val mae = px.indices.map(i =>
      math.abs((dec.pixels(i) & 0xff) - (px(i) & 0xff))).sum.toDouble /
      px.length
    assert(mae <= 8.0, s"JPEG decode drifted: MAE $mae")
    intercept[IllegalArgumentException] {
      ImageCodec.decodeJpeg(Array[Byte](1, 2, 3))
    }
  }

  test("WeightedQuantile equals the key-partitioned window form") {
    import org.apache.spark.sql.expressions.Window
    val df = Tables.lineitem(spark, sf)
      .select(col("l_returnflag").as("g"),
        col("l_extendedprice").cast("decimal(18,2)").as("v"),
        col("l_quantity").cast("decimal(18,2)").as("w"))
    def windowed(p: Int, q: Int) = {
      val rows = df.groupBy(col("g"), col("v")).agg(sum(col("w")).as("w"))
      val wc = Window.partitionBy(col("g")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wa = Window.partitionBy(col("g"))
      rows.withColumn("cw", sum(col("w")).over(wc))
        .withColumn("tw", sum(col("w")).over(wa))
        .filter(col("cw") * q >= col("tw") * p)
        .groupBy(col("g")).agg(min(col("v")).as("quantile"))
        .select(col("g").as("k"), col("quantile"))
    }
    for ((p, q) <- Seq((1, 2), (3, 4), (1, 10))) {
      // numPartitions=7 forces several range partitions so the offset
      // triangular join is actually exercised on the tiny SF
      val got = graft.operators.WeightedQuantile
        .weightedQuantile(df, col("g"), col("v"), col("w"), p, q,
          numPartitions = 7)
      val exp = windowed(p, q)
      assert(got.except(exp).count() == 0 && exp.except(got).count() == 0,
        s"distributed $p/$q-quantile diverged from the window form")
    }
    // multi-fraction single-pass form must agree with per-fraction calls
    val multi = graft.operators.WeightedQuantile
      .weightedQuantiles(df, col("g"), col("v"), col("w"),
        Seq((1, 2), (3, 4), (1, 10)), numPartitions = 7)
    for ((p, q) <- Seq((1, 2), (3, 4), (1, 10))) {
      val got = multi.filter(col("p") === p && col("q") === q)
        .select(col("k"), col("quantile"))
      val exp = windowed(p, q)
      assert(got.except(exp).count() == 0 && exp.except(got).count() == 0,
        s"multi-fraction $p/$q diverged from the window form")
    }
  }

  test("BloomJoin: candidates ⊇ matches, pruned join exact, empty dim safe") {
    import graft.operators.BloomJoin
    val fact = Tables.lineitem(spark, sf).select(col("l_suppkey"))
    val dim = Tables.supplier(spark, sf)
      .filter(col("s_suppkey") % 3 === 0).select(col("s_suppkey"))
    // 286 keys in a 64-bit filter (8 expected items) saturate it — a
    // visible false-positive regime: candidates must still be a
    // superset of the true matches…
    val many = spark.range(0, 2000).filter(col("id") % 7 === 0)
      .select(col("id").as("s_suppkey"))
    def exact(d: org.apache.spark.sql.DataFrame) = fact.join(d.distinct(),
      col("l_suppkey") === col("s_suppkey"), "left_semi")
    val cand = BloomJoin.candidates(fact, col("l_suppkey"), many,
      col("s_suppkey"), expectedItems = 8)
    assert(exact(many).except(cand).count() == 0,
      "bloom prefilter dropped true matches (false negative!)")
    assert(cand.count() > exact(many).count(), "filter not saturated")
    // …and the verified join must be bit-identical to the plain semi join
    // at ANY filter size, saturated or roomy.
    for (d <- Seq(dim, many); items <- Seq(1L, 512L, 8192L)) {
      val pruned = BloomJoin.prunedSemiJoin(fact, col("l_suppkey"), d,
        col("s_suppkey"), expectedItems = items)
        .select(col("l_suppkey"))
      val want = exact(d)
      assert(pruned.count() == want.count(), s"expectedItems=$items count")
      assert(pruned.except(want).count() == 0 &&
        want.except(pruned).count() == 0, s"expectedItems=$items contents")
    }
    // Empty dim ⇒ NULL filter ⇒ zero candidates, no error.
    val none = BloomJoin.prunedSemiJoin(fact, col("l_suppkey"),
      dim.filter(lit(false)), col("s_suppkey"))
    assert(none.count() == 0L)
  }

  test("BpeEncode.applyMerges: greedy left-to-right non-overlap on runs") {
    import spark.implicits._
    import graft.operators.BpeEncode
    def toks(doc: Long, s: String) =
      s.split(" ").zipWithIndex.map { case (t, i) => (doc, i + 1, t) }
    val t = (toks(1L, "a a a a a") ++ toks(2L, "a a b c a a") ++
      toks(3L, "x y z")).toSeq.toDF("doc_id", "pos", "tok")
    val out = BpeEncode.applyMerges(t, Seq(("a", "a"), ("a a", "a")))
      .orderBy(col("doc_id"), col("pos")).collect()
      .groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getString(2)).toSeq }
    // doc1 "a a a a a": rule1 fuses (1,2) and (3,4) greedily -> higher-
    // order rule2 then fuses ("a a", a) -> ["a a", "a a a"]... wait:
    // rule1: [aa, aa, a]; rule2 (aa,a): positions (2,3) fuse -> [aa, aa a]
    assert(out(1L) == Seq("a a", "a a a"))
    // doc2: rule1 fuses both bigram runs; rule2 finds no (aa,a) adjacency
    assert(out(2L) == Seq("a a", "b", "c", "a a"))
    // doc3 untouched, dense renumbering preserved
    assert(out(3L) == Seq("x", "y", "z"))
  }

  test("GradientDescent.logistic separates a linearly-separable toy set") {
    import spark.implicits._
    import graft.operators.GradientDescent
    val d = Seq(
      (Array(-2.0), 0.0), (Array(-1.0), 0.0), (Array(-0.5), 0.0),
      (Array(0.5), 1.0), (Array(1.0), 1.0), (Array(2.0), 1.0))
      .toDF("features", "y")
    val out = GradientDescent.logistic(d, iters = 8, lr = 5.0).collect()
    val byPos = out.map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(byPos(1) > 0.5, s"weight should be positive, got ${byPos(1)}")
    val acc = out.head.getDouble(4)
    val loss = out.head.getDouble(3)
    assert(acc == 1.0, s"separable set must classify perfectly, got $acc")
    assert(loss < math.log(2), s"loss must beat the w=0 start, got $loss")
    // symmetric data: bias stays near zero
    assert(math.abs(byPos(0)) < 0.2, s"bias drifted: ${byPos(0)}")
  }

  test("AudioCodec: WAV round-trip, chunk walking, loud failures") {
    import graft.operators.AudioCodec
    import graft.operators.AudioCodec.RawAudio
    val smp = Array.tabulate(130)(i => ((i * 997) % 30000 - 15000).toShort)
    val a = RawAudio(16000, 1, smp)
    val rt = AudioCodec.decodeWav(AudioCodec.encodeWav(a))
    assert(rt.sampleRate == 16000 && rt.channels == 1)
    assert(rt.samples.toSeq == smp.toSeq, "PCM round-trip diverged")
    // RIFF grammar: an unknown odd-sized chunk between fmt and data must
    // be skipped with even padding (a canonical-44-byte-offset parser
    // breaks exactly here)
    val canonical = AudioCodec.encodeWav(a)
    val listChunk = "LIST".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0) ++ Array[Byte](1, 2, 3, 0) // 3 bytes + pad
    val withList = canonical.slice(0, 36) ++ listChunk ++
      canonical.slice(36, canonical.length)
    // patch the RIFF size field for the inserted 12 bytes
    val riffSz = canonical.length - 8 + listChunk.length
    for (k <- 0 until 4)
      withList(4 + k) = ((riffSz >> (8 * k)) & 0xff).toByte
    val rt2 = AudioCodec.decodeWav(withList)
    assert(rt2.samples.toSeq == smp.toSeq, "LIST chunk broke the walk")
    // loud failures: bad magic, truncated data chunk, float format tag
    intercept[IllegalArgumentException] {
      AudioCodec.decodeWav("RIFX????WAVE".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] {
      AudioCodec.decodeWav(canonical.dropRight(1))
    }
    val floatFmt = canonical.clone()
    floatFmt(20) = 3 // IEEE float format tag
    intercept[IllegalArgumentException] { AudioCodec.decodeWav(floatFmt) }
    // frame features: energy/crossings/peak agree with a direct fold
    val feats = AudioCodec.frameFeatures(a, 64)
    assert(feats.length == 2, "130 samples at frame 64 = 2 full frames")
    val f0 = smp.slice(0, 64)
    assert(feats(0)._2 == f0.map(s => s.toLong * s).sum)
    assert(feats(0)._4 == f0.map(s => math.abs(s.toInt)).max)
    val zc = f0.sliding(2).count(p => (p(0) < 0) != (p(1) < 0))
    assert(feats(0)._3 == zc, "zero-crossing count diverged")
  }

  test("VideoContainer: frame walk, sampling stride, loud failures") {
    import graft.operators.{ImageCodec, VideoContainer}
    import graft.operators.ImageCodec.RawImage
    // mixed frame sizes force a real per-frame length walk
    val frames = Seq(
      ImageCodec.encodePpm(RawImage(2, 3, Array.fill(18)(7.toByte))),
      ImageCodec.encodePpm(RawImage(1, 1, Array.fill(3)(9.toByte))),
      ImageCodec.encodePpm(RawImage(3, 2, Array.tabulate(18)(_.toByte))))
    val container = frames.reduce(_ ++ _)
    val all = VideoContainer.sampleFrames(container, 1)
    assert(all.map(_._1) == Seq(0, 1, 2))
    assert(all.map(_._2.toSeq) == frames.map(_.toSeq),
      "frame slices must be byte-identical to the originals")
    assert(VideoContainer.sampleFrames(container, 2).map(_._1) == Seq(0, 2))
    // decoded sampled frame round-trips through the real parser
    val img = ImageCodec.decodePpm(all(2)._2)
    assert(img.width == 3 && img.height == 2)
    intercept[IllegalArgumentException] {
      VideoContainer.sampleFrames(container.dropRight(1), 1)
    }
    intercept[IllegalArgumentException] {
      VideoContainer.sampleFrames(container ++ Array[Byte]('X'), 1)
    }
  }

  test("SparqlParser: string queries equal hand-built algebra, loud errors") {
    import spark.implicits._
    import graft.rdf.{Bgp, SparqlParser}
    val quads = Seq(
      ("a", "urn:type", "T", "g1"), ("b", "urn:type", "T", "g2"),
      ("a", "urn:name", "Alice", "g1"), ("b", "urn:name", "Bob", "g2"),
      ("a", "urn:score", "7", "g1"), ("b", "urn:score", "3", "g2"))
      .toDF("subject", "predicate", "objectValue", "graph")
    def run(q: String): Seq[Seq[String]] =
      SparqlParser.execute(quads, q).collect()
        .map(_.toSeq.map(v => if (v == null) null else v.toString)).toSeq
    // BGP + FILTER (string and numeric) + ORDER/LIMIT
    assert(run("""SELECT ?s ?n WHERE {
        ?s <urn:type> "T" . ?s <urn:name> ?n .
        ?s <urn:score> ?sc . FILTER(?sc > 5)
      } ORDER BY ?s LIMIT 10""") == Seq(Seq("a", "Alice")))
    // GRAPH variable binds and projects
    assert(run("""SELECT DISTINCT ?g WHERE {
        GRAPH ?g { ?s <urn:name> ?n }
      } ORDER BY ?g""") == Seq(Seq("g1"), Seq("g2")))
    // OPTIONAL keeps unmatched with null binding
    val opt = run("""SELECT ?s ?x WHERE {
        ?s <urn:type> "T" .
        OPTIONAL { ?s <urn:missing> ?x }
      } ORDER BY ?s""")
    assert(opt == Seq(Seq("a", null), Seq("b", null)))
    // equivalence with the hand-built algebra
    val byHand = Bgp.select(quads, Seq(
      Bgp.Pattern(Bgp.Var("s"), "urn:name", Bgp.Var("n"))))
      .orderBy(col("s")).collect().map(_.toSeq).toSeq
    val byText = SparqlParser
      .execute(quads, "SELECT ?s ?n WHERE { ?s <urn:name> ?n } ORDER BY ?s")
      .collect().map(_.toSeq).toSeq
    assert(byHand == byText)
    // VALUES restricts a bound variable to an inline allow-list
    assert(run("""SELECT ?s WHERE {
        ?s <urn:name> ?n . VALUES ?n { "Alice" "Zed" }
      } ORDER BY ?s""") == Seq(Seq("a")))
    intercept[IllegalArgumentException] {
      SparqlParser.execute(quads,
        """SELECT ?s WHERE { ?s <urn:name> ?n . VALUES ?q { "x" } }""")
    }
    // ASK: true on a matching pattern, false on an absent one;
    // full-grammar bodies (FILTER) evaluate too (r9)
    assert(run("""ASK { ?s <urn:name> "Alice" }""") == Seq(Seq("true")))
    assert(run("""ASK WHERE { ?s <urn:name> "Nobody" }""")
      == Seq(Seq("false")))
    assert(run("""ASK { ?s <urn:name> ?n FILTER(STRLEN(?n) > 100) }""")
      == Seq(Seq("false")))
    // multi-IRI DESCRIBE unions the CBDs; the trailing-IRI loop must
    // stop at end-of-input (the "<eof>" sentinel also starts with '<')
    assert(SparqlParser.execute(quads, "describe <a> <b>")
      .select("subject").distinct().collect()
      .map(_.getString(0)).toSet == Set("a", "b"))
    // CONSTRUCT: reshape name edges into a new predicate + marker type
    val built = run("""CONSTRUCT {
        ?s <urn:label> ?n . ?s <urn:type2> <urn:Thing>
      } WHERE { ?s <urn:name> ?n }""")
    assert(built.toSet == Set(
      Seq("a", "urn:label", "Alice", "literal", null, null),
      Seq("b", "urn:label", "Bob", "literal", null, null),
      Seq("a", "urn:type2", "urn:Thing", "iri", null, null),
      Seq("b", "urn:type2", "urn:Thing", "iri", null, null)))
    // variable predicates bind the predicate column (r8)
    assert(run("""SELECT ?p ?o WHERE { <a> ?p ?o } ORDER BY ?p ?o""")
      == Seq(Seq("urn:name", "Alice"), Seq("urn:score", "7"),
        Seq("urn:type", "T")))
    // loud failures: bad operator, junk trailing
    intercept[IllegalArgumentException] {
      SparqlParser.parse(
        "SELECT ?s WHERE { ?s <urn:p> ?o . FILTER(?o ~ \"x\") }")
    }
    intercept[IllegalArgumentException] {
      SparqlParser.parse("SELECT ?s WHERE { ?s <urn:p> ?o } garbage")
    }
  }

  test("SparqlParser round-trip property: rendered patterns re-parse") {
    import graft.rdf.{Bgp, SparqlParser}
    val rnd = new scala.util.Random(7)
    def term(): Bgp.Term = rnd.nextInt(3) match {
      case 0 => Bgp.Var(s"v${rnd.nextInt(4)}")
      case 1 => Bgp.Const(s"urn:c${rnd.nextInt(4)}")
      case _ => Bgp.Const(s"lit ${rnd.nextInt(4)}")
    }
    def render(t: Bgp.Term, subjectPos: Boolean): String = t match {
      case Bgp.Var(n) => s"?$n"
      case Bgp.Const(v) if subjectPos || v.startsWith("urn:") => s"<$v>"
      case Bgp.Const(v) => "\"" + v + "\""
    }
    for (_ <- 1 to 50) {
      val pats = (1 to 1 + rnd.nextInt(4)).map { _ =>
        // subjects are IRIs/vars; objects may be literals
        val s = if (rnd.nextBoolean()) Bgp.Var(s"v${rnd.nextInt(4)}")
          else Bgp.Const(s"urn:c${rnd.nextInt(4)}")
        Bgp.Pattern(s, s"urn:p${rnd.nextInt(3)}", term())
      }
      val text = "SELECT * WHERE { " + pats.map(p =>
        s"${render(p.s, subjectPos = true)} " +
          s"<${p.p.asInstanceOf[Bgp.Const].value}> " +
          s"${render(p.o, subjectPos = false)}").mkString(" . ") + " }"
      val parsed = SparqlParser.parse(text)
      assert(parsed.patterns == pats,
        s"round-trip diverged for: $text\n got ${parsed.patterns}")
    }
  }

  test("SparqlParser r8: PREFIX, BIND, FILTER < and <=, escaped quotes") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val quads = Seq(
      ("a", "urn:name", "Alice"), ("b", "urn:name", "Bo\"b"),
      ("a", "urn:score", "7"), ("b", "urn:score", "3"))
      .toDF("subject", "predicate", "objectValue")
    def run(q: String): Seq[Seq[String]] =
      SparqlParser.execute(quads, q).collect()
        .map(_.toSeq.map(v => if (v == null) null else v.toString)).toSeq
    // PREFIX expands prefixed names before the grammar sees them
    assert(run("""PREFIX u: <urn:>
        SELECT ?n WHERE { ?s u:name ?n . ?s u:score ?sc .
          FILTER(?sc < 5) }""") == Seq(Seq("Bo\"b")))
    // '<=' and '<' both tokenize as comparators (ADVICE r7)
    assert(run("""SELECT ?s WHERE { ?s <urn:score> ?sc .
        FILTER(?sc <= 3) } ORDER BY ?s""") == Seq(Seq("b")))
    assert(run("""SELECT ?s WHERE { ?s <urn:score> ?sc .
        FILTER(?sc < 7 && ?sc > 1) }""") == Seq(Seq("b")))
    // backslash-escaped quote inside a literal (ADVICE r7)
    assert(run("SELECT ?s WHERE { ?s <urn:name> \"Bo\\\"b\" }")
      == Seq(Seq("b")))
    // BIND pins a constant; the variable comes back as a column
    assert(run("""SELECT * WHERE {
        BIND(<a> AS ?who)
        ?who <urn:name> ?n
      }""") == Seq(Seq("Alice", "a")))
    // aggregate: grouped-but-unprojected variables allowed; SELECT-list
    // order respected (alias before the grouped var)
    assert(SparqlParser.execute(quads,
      """SELECT (COUNT(?s) AS ?n) WHERE { ?s <urn:name> ?o }
         GROUP BY ?o""").columns.toSeq == Seq("n"))
    val agg = SparqlParser.execute(quads,
      """SELECT (COUNT(?o) AS ?n) ?s WHERE { ?s ?p ?o }
         GROUP BY ?s ORDER BY ?s""")
    assert(agg.columns.toSeq == Seq("n", "s"))
    assert(agg.collect().map(_.toSeq).toSeq ==
      Seq(Seq(2L, "a"), Seq(2L, "b")))
  }

  test("SparqlParser r8: EXISTS, BOUND, IN, var-vs-var, GROUP_CONCAT") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val quads = Seq(
      ("a", "urn:type", "T"), ("b", "urn:type", "T"),
      ("c", "urn:type", "T"),
      ("a", "urn:name", "Alice"), ("b", "urn:name", "Bob"),
      ("a", "urn:tag", "x"), ("a", "urn:tag", "y"), ("b", "urn:tag", "z"),
      ("a", "urn:lo", "Al"), ("b", "urn:lo", "bob"))
      .toDF("subject", "predicate", "objectValue")
    def run(q: String): Seq[Seq[String]] =
      SparqlParser.execute(quads, q).collect()
        .map(_.toSeq.map(v => if (v == null) null else v.toString)).toSeq
    // FILTER EXISTS keeps only subjects with a name edge
    assert(run("""SELECT ?s WHERE { ?s <urn:type> "T" .
        FILTER EXISTS { ?s <urn:name> ?n } } ORDER BY ?s""")
      == Seq(Seq("a"), Seq("b")))
    // FILTER NOT EXISTS is the anti-join
    assert(run("""SELECT ?s WHERE { ?s <urn:type> "T" .
        FILTER NOT EXISTS { ?s <urn:name> ?n } }""") == Seq(Seq("c")))
    // BOUND / !BOUND over an OPTIONAL: the negation idiom
    assert(run("""SELECT ?s WHERE { ?s <urn:type> "T" .
        OPTIONAL { ?s <urn:name> ?n } FILTER(!BOUND(?n)) }""")
      == Seq(Seq("c")))
    assert(run("""SELECT ?s WHERE { ?s <urn:type> "T" .
        OPTIONAL { ?s <urn:name> ?n } FILTER(BOUND(?n)) }
        ORDER BY ?s""") == Seq(Seq("a"), Seq("b")))
    // IN / NOT IN inline lists
    assert(run("""SELECT ?s WHERE { ?s <urn:name> ?n .
        FILTER(?n IN ("Alice", "Zed")) }""") == Seq(Seq("a")))
    assert(run("""SELECT ?s WHERE { ?s <urn:name> ?n .
        FILTER(?n NOT IN ("Alice")) }""") == Seq(Seq("b")))
    // var-vs-var comparison is lexical
    assert(run("""SELECT ?s WHERE { ?s <urn:name> ?n .
        ?s <urn:lo> ?l . FILTER(?l < ?n) }""") == Seq(Seq("a")))
    // STR() forces the string comparison path
    assert(run("""SELECT ?s WHERE { ?s <urn:name> ?n .
        FILTER(STR(?n) = "Bob") }""") == Seq(Seq("b")))
    // GROUP_CONCAT with separator (sorted = deterministic) and SAMPLE
    assert(run("""SELECT ?s (GROUP_CONCAT(?t; SEPARATOR="|") AS ?ts)
        WHERE { ?s <urn:tag> ?t } GROUP BY ?s ORDER BY ?s""")
      == Seq(Seq("a", "x|y"), Seq("b", "z")))
    assert(run("""SELECT (GROUP_CONCAT(?t) AS ?ts) (SAMPLE(?n) AS ?one)
        WHERE { ?s <urn:tag> ?t . ?s <urn:name> ?n }""")
      == Seq(Seq("x y z", "Alice")))
    // || disjunction groups (one connector kind per FILTER)
    assert(run("""SELECT ?s WHERE { ?s <urn:name> ?n .
        FILTER(?n = "Alice" || ?n = "Bob") } ORDER BY ?s""")
      == Seq(Seq("a"), Seq("b")))
    assert(run("""SELECT ?s WHERE { ?s <urn:name> ?n .
        FILTER(STRSTARTS(?n, "Al") || ?n IN ("Zed")) }""")
      == Seq(Seq("a")))
    // mixed connectors compile to DNF (r9; was a loud rejection):
    // (Alice && startsWith Al) || Bob
    assert(run("""SELECT ?s WHERE { ?s <urn:name> ?n .
        FILTER(?n = "Alice" && STRSTARTS(?n, "Al") || ?n = "Bob") }
        ORDER BY ?s""")
      == Seq(Seq("a"), Seq("b")))
    // r12 (ADVICE r11): a MINUS / EXISTS body containing a nested
    // UNION promotes to the synthetic sub-query path instead of dying
    // in the triples-only parser
    assert(run("""SELECT ?s WHERE { ?s <urn:type> "T" .
        MINUS { { ?s <urn:name> "Alice" } UNION
                { ?s <urn:name> "Bob" } } }""") == Seq(Seq("c")))
    assert(run("""SELECT ?s WHERE { ?s <urn:type> "T" .
        FILTER EXISTS { { ?s <urn:name> "Alice" } UNION
                        { ?s <urn:name> "Bob" } } } ORDER BY ?s""")
      == Seq(Seq("a"), Seq("b")))
    // r14 (W3C sample): an uncorrelated EXISTS is a CONSTANT test per
    // §18.5 — one emptiness probe, never a cartesian join. The probed
    // pattern matches nothing here, so NOT EXISTS keeps every row
    assert(run("""SELECT ?s WHERE { ?s <urn:type> "T" .
        FILTER NOT EXISTS { ?q <urn:other> ?r } } ORDER BY ?s""")
      == Seq(Seq("a"), Seq("b"), Seq("c")))
    // …and a matching uncorrelated pattern under NOT EXISTS drops all
    assert(run("""SELECT ?s WHERE { ?s <urn:type> "T" .
        FILTER NOT EXISTS { ?q <urn:name> ?r } }""") == Nil)
    // loud: BOUND of an unbound variable
    intercept[IllegalArgumentException] {
      run("""SELECT ?s WHERE { ?s <urn:type> "T" .
          FILTER(BOUND(?nope)) }""")
    }
  }

  test("SparqlParser r8: expression BIND") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val quads = Seq(
      ("a", "urn:name", "Alice"), ("a", "urn:score", "7"),
      ("b", "urn:name", "Bob"), ("b", "urn:score", "3"))
      .toDF("subject", "predicate", "objectValue")
    def run(q: String): Seq[Seq[String]] =
      SparqlParser.execute(quads, q).collect()
        .map(_.toSeq.map(v => if (v == null) null else v.toString)).toSeq
    // string builders + nesting
    assert(run("""SELECT ?tag WHERE { ?s <urn:name> ?n .
        BIND(CONCAT(UCASE(?n), "-", STR(STRLEN(?n))) AS ?tag)
      } ORDER BY ?tag""")
      == Seq(Seq("ALICE-5"), Seq("BOB-3")))
    // arithmetic casts to double; filters see the bound column
    assert(run("""SELECT ?s ?dbl WHERE { ?s <urn:score> ?sc .
        BIND(?sc * 2 + 1 AS ?dbl) FILTER(?dbl > 10) }""")
      == Seq(Seq("a", "15.0")))
    // SUBSTR and REPLACE
    assert(run("""SELECT ?x WHERE { <a> <urn:name> ?n .
        BIND(SUBSTR(?n, 1, 3) AS ?x) }""") == Seq(Seq("Ali")))
    assert(run("""SELECT ?x WHERE { <a> <urn:name> ?n .
        BIND(REPLACE(?n, "li", "LI") AS ?x) }""") == Seq(Seq("ALIce")))
    // the constant fast path still substitutes into scans
    assert(run("""SELECT ?n WHERE { BIND(<a> AS ?s) ?s <urn:name> ?n }""")
      == Seq(Seq("Alice")))
    // SELECT-clause expressions project like BIND, SELECT-list order
    assert(run("""SELECT (UCASE(?n) AS ?u) ?s WHERE { ?s <urn:name> ?n }
        ORDER BY ?s""")
      == Seq(Seq("ALICE", "a"), Seq("BOB", "b")))
    // a SELECT expression may reference a WHERE-clause BIND
    assert(run("""SELECT (CONCAT(?h, "!") AS ?x) WHERE {
        <a> <urn:name> ?n . BIND(LCASE(?n) AS ?h) }""")
      == Seq(Seq("alice!")))
    // SELECT expressions with aggregates are rejected loudly
    intercept[IllegalArgumentException] {
      run("""SELECT (UCASE(?n) AS ?u) (COUNT(?s) AS ?c)
          WHERE { ?s <urn:name> ?n } GROUP BY ?n""")
    }
  }

  test("SparqlParser r8: HAVING and CONSTRUCT WHERE") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val quads = Seq(
      ("a", "urn:tag", "x"), ("a", "urn:tag", "y"), ("a", "urn:tag", "z"),
      ("b", "urn:tag", "x"), ("b", "urn:tag", "y"), ("c", "urn:tag", "x"),
      ("a", "urn:name", "Al"))
      .toDF("subject", "predicate", "objectValue")
    def run(q: String): Seq[Seq[String]] =
      SparqlParser.execute(quads, q).collect()
        .map(_.toSeq.map(v => if (v == null) null else v.toString)).toSeq
    // HAVING over a direct aggregate (hidden column, same aggregation)
    assert(run("""SELECT ?s (COUNT(?t) AS ?n) WHERE { ?s <urn:tag> ?t }
        GROUP BY ?s HAVING(COUNT(?t) >= 2) ORDER BY ?s""")
      == Seq(Seq("a", "3"), Seq("b", "2")))
    // HAVING over a projected alias, conjoined
    assert(run("""SELECT ?s (COUNT(?t) AS ?n) WHERE { ?s <urn:tag> ?t }
        GROUP BY ?s HAVING(?n >= 2 && ?n < 3)""")
      == Seq(Seq("b", "2")))
    // HAVING without aggregates is rejected loudly
    intercept[IllegalArgumentException] {
      SparqlParser.parse(
        "SELECT ?s WHERE { ?s <urn:tag> ?t } HAVING(?t > 1)")
    }
    // CONSTRUCT WHERE re-emits the matched statements
    val built = run("""CONSTRUCT WHERE { ?s <urn:name> ?o }""")
    assert(built == Seq(Seq("a", "urn:name", "Al", "literal", null, null)))
  }

  test("SparqlParser r8: textual property paths, DESCRIBE, sub-select") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val quads = Seq(
      ("a", "iri", "urn:p", "b", "bnode"),
      ("b", "bnode", "urn:p", "c", "iri"),
      ("a", "iri", "urn:q", "x", "literal"),
      ("c", "iri", "urn:q", "y", "literal"))
      .toDF("subject", "subjectKind", "predicate", "objectValue",
        "objectKind")
      .withColumn("datatype", lit(null).cast("string"))
      .withColumn("lang", lit(null).cast("string"))
      .withColumn("graph", lit(null).cast("string"))
    def run(q: String): Seq[Seq[String]] =
      SparqlParser.execute(quads, q).collect()
        .map(_.toSeq.map(v => if (v == null) null else v.toString)).toSeq
    // p+ closure
    assert(run("""SELECT ?d WHERE { <a> <urn:p>+ ?d } ORDER BY ?d""")
      == Seq(Seq("b"), Seq("c")))
    // sequence + alternation with parens; inverse
    assert(run("""SELECT ?d WHERE { <a> <urn:p>/<urn:p> ?d }""")
      == Seq(Seq("c")))
    assert(run("""SELECT ?d WHERE { <a> <urn:p>+/(<urn:q>|<urn:p>) ?d }
        ORDER BY ?d""") == Seq(Seq("c"), Seq("y")))
    assert(run("""SELECT ?s WHERE { <c> ^<urn:p> ?s }""")
      == Seq(Seq("b")))
    // zero-or-more includes the zero-length self pair; zero-or-one too
    assert(run("""SELECT ?d WHERE { <a> <urn:p>* ?d } ORDER BY ?d""")
      == Seq(Seq("a"), Seq("b"), Seq("c")))
    assert(run("""SELECT ?d WHERE { <a> <urn:q>? ?d } ORDER BY ?d""")
      == Seq(Seq("a"), Seq("x")))
    // textual DESCRIBE: entity quads + bnode closure, the graphdb.py verb
    val desc = SparqlParser.execute(quads, "DESCRIBE <a>")
    assert(desc.select("subject").collect().map(_.getString(0)).sorted
      .toSeq == Seq("a", "a", "b"))
    // lowercase works too (the reference templates `describe <{{iri}}>`)
    assert(SparqlParser.execute(quads, "describe <a>").count() == 3)
    // sub-select joins on shared variables
    assert(run("""SELECT ?s ?d WHERE {
        { SELECT ?s WHERE { ?s <urn:q> "x" } }
        ?s <urn:p> ?d
      }""") == Seq(Seq("a", "b")))
  }

  test("SparqlParser r8: ';' lists, '[…]' bnode groups, COUNT(DISTINCT)") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val quads = Seq(
      ("a1", "urn:hasPart", "b1"), ("a1", "urn:hasPart", "b2"),
      ("a2", "urn:hasPart", "b3"),
      ("b1", "urn:additionalType", "T"), ("b3", "urn:additionalType", "T"),
      ("b1", "urn:value", "V1"), ("b2", "urn:value", "V2"),
      ("b3", "urn:value", "V1"),
      ("a1", "urn:type", "Addr"), ("a2", "urn:type", "Addr"))
      .toDF("subject", "predicate", "objectValue")
    def run(q: String): Seq[Seq[String]] =
      SparqlParser.execute(quads, q).collect()
        .map(_.toSeq.map(v => if (v == null) null else v.toString)).toSeq
    // the reference's golden-query shape (etl-queries.md:47-58):
    // bracketed bnode group with a ';' list inside
    assert(run("""PREFIX u: <urn:>
        SELECT (COUNT(DISTINCT ?addr) AS ?count)
        WHERE {
            ?addr u:hasPart [
                u:additionalType "T" ;
                u:value ?v
            ]
        }""") == Seq(Seq("2")))
    // ';' list on a top-level subject
    assert(run("""SELECT ?s WHERE {
        ?s <urn:type> "Addr" ; <urn:hasPart> ?b .
        ?b <urn:value> "V2"
      }""") == Seq(Seq("a1")))
    // COUNT(DISTINCT) vs COUNT over the same bindings
    assert(run("""SELECT (COUNT(?v) AS ?n) (COUNT(DISTINCT ?v) AS ?d)
        WHERE { ?b <urn:value> ?v }""") == Seq(Seq("3", "2")))
    // anonymous variables never leak through SELECT *
    val star = SparqlParser.execute(quads,
      """SELECT * WHERE { ?addr <urn:hasPart> [ <urn:value> ?v ] }""")
    assert(star.columns.toSeq.sorted == Seq("addr", "v"))
  }

  test("SparqlParser r8: FILTER string functions and IRI comparates") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val quads = Seq(
      ("a", "urn:name", "Alpha One"), ("b", "urn:name", "beta two"),
      ("c", "urn:name", "Alpha Two"), ("a", "urn:ref", "urn:target"))
      .toDF("subject", "predicate", "objectValue")
    def run(q: String): Seq[Seq[String]] =
      SparqlParser.execute(quads, q).collect()
        .map(_.toSeq.map(v => if (v == null) null else v.toString)).toSeq
    assert(run("""SELECT ?s WHERE { ?s <urn:name> ?n .
        FILTER(REGEX(?n, "^Alpha .*") && CONTAINS(?n, "Two"))
      } ORDER BY ?s""") == Seq(Seq("c")))
    // flags: case-insensitive regex
    assert(run("""SELECT ?s WHERE { ?s <urn:name> ?n .
        FILTER(REGEX(?n, "^ALPHA", "i")) } ORDER BY ?s""")
      == Seq(Seq("a"), Seq("c")))
    assert(run("""SELECT ?s WHERE { ?s <urn:name> ?n .
        FILTER(STRSTARTS(?n, "beta")) }""") == Seq(Seq("b")))
    // STRENDS (r10) — conjunctive and ||-disjunction contexts
    assert(run("""SELECT ?s WHERE { ?s <urn:name> ?n .
        FILTER(STRENDS(?n, "Two")) } ORDER BY ?s""") == Seq(Seq("c")))
    assert(run("""SELECT ?s WHERE { ?s <urn:name> ?n .
        FILTER(STRENDS(?n, "Two") || STRENDS(?n, "two")) } ORDER BY ?s""")
      == Seq(Seq("b"), Seq("c")))
    // IRI comparate in a plain comparison
    assert(run("""SELECT ?s WHERE { ?s <urn:ref> ?r .
        FILTER(?r = <urn:target>) }""") == Seq(Seq("a")))
    intercept[IllegalArgumentException] {
      SparqlParser.parse(
        """SELECT ?s WHERE { ?s <urn:name> ?n . FILTER(STRSTARTS(?n)) }""")
    }
  }

  test("ExactSubstrDedup cuts merged cross-doc spans, keeps unique text") {
    import spark.implicits._
    val boiler = "0123456789ABCDEFGHIJ" // 20 chars, W=8 windows cover it
    val docs = Seq(
      (1L, s"aaa${boiler}bbb${boiler}ccc"), // two separate spans
      (2L, s"xx$boiler"), // span at end
      (3L, s"${boiler}yy"), // span at start
      (4L, "totally unique text with no repeats at all"))
      .toDF("doc_id", "text")
    val out = graft.operators.ExactSubstrDedup
      .dedup(docs, "doc_id", "text", 8)
      .orderBy(col("id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // overlapping windows merge to ONE span per boilerplate occurrence
    assert(out(0) == ((1L, "aaabbbccc", 2L, 40L)))
    assert(out(1) == ((2L, "xx", 1L, 20L)))
    assert(out(2) == ((3L, "yy", 1L, 20L)))
    assert(out(3) == ((4L,
      "totally unique text with no repeats at all", 0L, 0L)))
    // spans shorter than W survive even if duplicated
    val short = Seq((1L, "abcdef common"), (2L, "common ghijkl"))
      .toDF("doc_id", "text")
    val kept = graft.operators.ExactSubstrDedup
      .dedup(short, "doc_id", "text", 8)
      .select("clean").collect().map(_.getString(0)).toSet
    assert(kept == Set("abcdef common", "common ghijkl"))
  }

  test("SparqlUpdate r8: CLEAR/DROP, COPY, MOVE, ADD graph management") {
    import spark.implicits._
    import graft.rdf.SparqlUpdate
    val quads = Seq(
      ("a", "iri", "urn:name", "A", "literal", "g1"),
      ("b", "iri", "urn:name", "B", "literal", "g2"),
      ("c", "iri", "urn:name", "C", "literal", null))
      .toDF("subject", "subjectKind", "predicate", "objectValue",
        "objectKind", "graph")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("subject", "graph").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    // CLEAR GRAPH drops exactly that graph's quads (default kept)
    assert(rows(SparqlUpdate.execute(quads, "CLEAR GRAPH <g1>"))
      == Set(("b", "g2"), ("c", null)))
    // DROP ≡ CLEAR on a relation; SILENT accepted
    assert(rows(SparqlUpdate.execute(quads, "DROP SILENT GRAPH <g2>"))
      == Set(("a", "g1"), ("c", null)))
    assert(rows(SparqlUpdate.execute(quads, "CLEAR DEFAULT"))
      == Set(("a", "g1"), ("b", "g2")))
    assert(rows(SparqlUpdate.execute(quads, "CLEAR NAMED"))
      == Set(("c", null)))
    assert(SparqlUpdate.execute(quads, "CLEAR ALL").count() == 0)
    // COPY replaces the destination with the source's quads
    assert(rows(SparqlUpdate.execute(quads, "COPY GRAPH <g1> TO <g2>"))
      == Set(("a", "g1"), ("a", "g2"), ("c", null)))
    // MOVE also removes the source; DEFAULT works as a designator
    assert(rows(SparqlUpdate.execute(quads, "MOVE <g1> TO DEFAULT"))
      == Set(("a", null), ("b", "g2")))
    // ADD unions (destination keeps its own quads)
    assert(rows(SparqlUpdate.execute(quads, "ADD DEFAULT TO GRAPH <g1>"))
      == Set(("a", "g1"), ("c", "g1"), ("b", "g2"), ("c", null)))
    // same-graph MOVE is a spec'd no-op; sequences compose
    assert(rows(SparqlUpdate.execute(quads, "MOVE <g1> TO <g1>"))
      == rows(quads))
    assert(rows(SparqlUpdate.execute(quads,
      "COPY <g1> TO <g3> ; CLEAR GRAPH <g1> ; ADD <g2> TO <g3>"))
      == Set(("a", "g3"), ("b", "g3"), ("b", "g2"), ("c", null)))
    // loud: missing TO, bad designator
    intercept[IllegalArgumentException] {
      SparqlUpdate.execute(quads, "COPY <g1> <g2>")
    }
    intercept[IllegalArgumentException] {
      SparqlUpdate.execute(quads, "CLEAR SOMETHING")
    }
  }

  test("SparqlUpdate r8: WITH scopes modify forms; LOAD pulls a file") {
    import spark.implicits._
    import graft.rdf.SparqlUpdate
    val quads = Seq(
      ("a", "iri", "urn:name", "A", "literal", "g1"),
      ("b", "iri", "urn:name", "B", "literal", "g2"))
      .toDF("subject", "subjectKind", "predicate", "objectValue",
        "objectKind", "graph")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("subject", "predicate", "objectValue", "graph").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3))).toSet
    // WITH <g1>: rename applies ONLY inside g1 (g2's name untouched)
    val renamed = SparqlUpdate.execute(quads,
      """WITH <g1>
        |DELETE { ?s <urn:name> ?n }
        |INSERT { ?s <urn:alias> ?n }
        |WHERE { ?s <urn:name> ?n }""".stripMargin)
    assert(rows(renamed) == Set(
      ("a", "urn:alias", "A", "g1"),
      ("b", "urn:name", "B", "g2")))
    // LOAD INTO GRAPH unions the parsed file under the target graph
    val dir = java.nio.file.Files
      .createTempDirectory("load").toString + "/data"
    graft.rdf.QuadEmitter.writeNQuads(
      Seq(("x", "iri", "urn:p", "1", "literal", null, null, "gsrc"))
        .toDF("subject", "subjectKind", "predicate", "objectValue",
          "objectKind", "datatype", "lang", "graph"),
      dir)
    val loaded = SparqlUpdate.execute(quads,
      s"LOAD <file://$dir> INTO GRAPH <g3>")
    assert(rows(loaded) == rows(quads) + (("x", "urn:p", "1", "g3")))
    // loud: LOAD without INTO keeps the file's own graph term
    val kept = SparqlUpdate.execute(quads, s"LOAD <file://$dir>")
    assert(rows(kept) == rows(quads) + (("x", "urn:p", "1", "gsrc")))
  }

  test("SparqlParser r9: term accessors (LANG/DATATYPE/is*), bag default") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val quads = Seq(
      ("a", "iri", "urn:label", "hello", "literal", null, "en", "g"),
      ("a", "iri", "urn:label", "bonjour", "literal", null, "fr-CA", "g"),
      ("a", "iri", "urn:label", "plain", "literal", null, null, "g"),
      ("a", "iri", "urn:when", "2020-01-01", "literal",
        "http://www.w3.org/2001/XMLSchema#dateTime", null, "g"),
      ("a", "iri", "urn:link", "urn:x", "iri", null, null, "g"),
      ("bn1", "bnode", "urn:label", "blank-owned", "literal", null, null,
        "g"))
      .toDF("subject", "subjectKind", "predicate", "objectValue",
        "objectKind", "datatype", "lang", "graph")
    def vals(q: String): Seq[String] =
      SparqlParser.execute(quads, q).collect().map(_.getString(0)).toSeq
    // LANG equality is case-insensitive; "" means plain literal
    assert(vals("""SELECT ?v WHERE { <a> <urn:label> ?v .
      FILTER(LANG(?v) = "EN") }""") == Seq("hello"))
    assert(vals("""SELECT ?v WHERE { <a> <urn:label> ?v .
      FILTER(LANG(?v) = "") } ORDER BY ?v""") == Seq("plain"))
    // != keeps plain literals (LANG = "") and other tags, drops the match
    assert(vals("""SELECT ?v WHERE { <a> <urn:label> ?v .
      FILTER(LANG(?v) != "en") } ORDER BY ?v""")
      == Seq("bonjour", "plain"))
    // LANGMATCHES ranges: base tag matches regional variants; * = tagged
    assert(vals("""SELECT ?v WHERE { <a> <urn:label> ?v .
      FILTER(LANGMATCHES(LANG(?v), "fr")) }""") == Seq("bonjour"))
    assert(vals("""SELECT ?v WHERE { <a> <urn:label> ?v .
      FILTER(LANGMATCHES(LANG(?v), "*")) } ORDER BY ?v""")
      == Seq("bonjour", "hello"))
    // DATATYPE: typed → its IRI; plain → xsd:string; tagged → langString
    assert(vals("""SELECT ?v WHERE { ?s ?p ?v . FILTER(DATATYPE(?v) =
      <http://www.w3.org/2001/XMLSchema#dateTime>) }""")
      == Seq("2020-01-01"))
    assert(vals("""SELECT ?v WHERE { <a> <urn:label> ?v .
      FILTER(DATATYPE(?v) =
        <http://www.w3.org/1999/02/22-rdf-syntax-ns#langString>) }
      ORDER BY ?v""") == Seq("bonjour", "hello"))
    // kind tests, object and subject position, with negation
    assert(vals("""SELECT ?o WHERE { <a> ?p ?o . FILTER(isIRI(?o)) }""")
      == Seq("urn:x"))
    assert(vals("""SELECT ?v WHERE { ?s <urn:label> ?v .
      FILTER(isBlank(?s)) }""") == Seq("blank-owned"))
    assert(vals("""SELECT ?o WHERE { <a> ?p ?o .
      FILTER(!isLiteral(?o)) }""") == Seq("urn:x"))
    // term test on a variable no pattern binds in a usable position: loud
    intercept[IllegalArgumentException] {
      SparqlParser.execute(quads,
        """SELECT ?s WHERE { ?s <urn:label> ?v . FILTER(LANG(?s) = "en") }""")
    }
    // BAG semantics: projection keeps duplicates; DISTINCT collapses;
    // identical UNION branches are additive
    assert(vals("""SELECT ?p WHERE { <a> <urn:label> ?o .
      <a> ?p ?o }""").length == 3) // one solution per label value
    val union2 = SparqlParser.execute(quads,
      """SELECT ?o WHERE { { <a> <urn:link> ?o } UNION
        |{ <a> <urn:link> ?o } }""".stripMargin).collect()
    assert(union2.length == 2 && union2.forall(_.getString(0) == "urn:x"))
    assert(vals("""SELECT DISTINCT ?o WHERE { { <a> <urn:link> ?o } UNION
      { <a> <urn:link> ?o } }""") == Seq("urn:x"))
  }

  test("GeoFunctions.within property: ray cast = convex half-plane test") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // random convex polygons (vertices on a circle, angles sorted →
    // counterclockwise ring) and random probe points; the even-odd ray
    // cast must agree with the exact all-positive-cross-products
    // interior test on every point that is not borderline (the ray
    // cast's boundary behavior is undefined by design — see scaladoc)
    val rnd = new scala.util.Random(7)
    def cross(a: (Double, Double), b: (Double, Double),
        p: (Double, Double)): Double =
      (b._1 - a._1) * (p._2 - a._2) - (b._2 - a._2) * (p._1 - a._1)
    var trials = 0
    (1 to 25).foreach { t =>
      val k = 3 + rnd.nextInt(6)
      val cx = rnd.nextDouble() * 100 - 50
      val cy = rnd.nextDouble() * 100 - 50
      val r = 1 + rnd.nextDouble() * 29
      val angles = Seq.fill(k)(rnd.nextDouble() * 2 * math.Pi).sorted
      if (angles.zip(angles.tail).forall { case (a, b) => b - a > 0.05 }) {
        trials += 1
        val verts =
          angles.map(a => (cx + r * math.cos(a), cy + r * math.sin(a)))
        val ring = (verts :+ verts.head)
          .map { case (x, y) => s"$x $y" }
          .mkString("POLYGON((", ", ", "))")
        val edges = verts.zip(verts.tail :+ verts.head)
        val pts = Seq.fill(60)((cx + (rnd.nextDouble() * 4 - 2) * r,
          cy + (rnd.nextDouble() * 4 - 2) * r))
          .filter(p => edges.forall(e =>
            math.abs(cross(e._1, e._2, p)) > 1e-4 * r))
        val expected =
          pts.map(p => edges.forall(e => cross(e._1, e._2, p) > 0))
        val got = pts.map { case (x, y) => s"POINT($x $y)" }.toDF("w")
          .select(graft.rdf.GeoFunctions.withinConst(col("w"), ring))
          .collect().map(_.getBoolean(0)).toSeq
        assert(got == expected, s"trial $t disagrees for ring $ring")
      }
    }
    assert(trials >= 15, s"too many degenerate polygons skipped: $trials")
  }

  test("GeoFunctions.intersectsConst: points, boundary, polygon overlap") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.rdf.GeoFunctions
    val square = "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))"
    def got(wkts: Seq[String]): Seq[Boolean] =
      wkts.toDF("w").select(GeoFunctions.intersectsConst(col("w"), square))
        .collect().map(_.getBoolean(0)).toSeq
    // points: inside, ON the edge (within=false, intersects=true),
    // on a vertex, outside
    assert(got(Seq("POINT(5 5)", "POINT(10 5)", "POINT(0 0)",
      "POINT(11 5)")) == Seq(true, true, true, false))
    assert(Seq("POINT(10 5)").toDF("w")
      .select(GeoFunctions.withinConst(col("w"), square))
      .collect().head.getBoolean(0) == false)
    // polygons: contained; containing; partial corner overlap;
    // PLUS-SIGN cross (edges cross, NO vertex of either inside the
    // other — the edge-pair leg alone must catch it); disjoint but
    // bbox-overlapping (diagonal neighbor); far disjoint
    val cross = "POLYGON((4 -5, 6 -5, 6 15, 4 15, 4 -5))"
    assert(got(Seq(
      "POLYGON((2 2, 4 2, 4 4, 2 4, 2 2))",
      "POLYGON((-5 -5, 15 -5, 15 15, -5 15, -5 -5))",
      "POLYGON((8 8, 12 8, 12 12, 8 12, 8 8))",
      cross,
      "POLYGON((11 11, 12 11, 12 12, 11 12, 11 11))",
      "POLYGON((100 100, 101 100, 101 101, 100 101, 100 100))")) ==
      Seq(true, true, true, true, false, false))
    // r11 (VERDICT r10 Missing #1): holed polygons and MULTIPOLYGONs
    // evaluate with even-odd semantics over ALL rings — the r9 loud
    // rejection flipped to real semantics. Point in the hole is
    // OUTSIDE; point between outer ring and hole is inside; point on
    // an island part is inside.
    val holed = "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0),(4 4, 6 4, 6 6, 4 6, 4 4))"
    def winC(pts: Seq[String], poly: String): Seq[Boolean] =
      pts.toDF("w").select(GeoFunctions.withinConst(col("w"), poly))
        .collect().map(_.getBoolean(0)).toSeq
    assert(winC(Seq("POINT(5 5)", "POINT(2 2)", "POINT(11 5)"), holed)
      == Seq(false, true, false))
    val multi = "MULTIPOLYGON(((0 0, 10 0, 10 10, 0 10, 0 0)," +
      "(4 4, 6 4, 6 6, 4 6, 4 4)),((20 20, 22 20, 22 22, 20 22, 20 20)))"
    assert(winC(Seq("POINT(5 5)", "POINT(2 2)", "POINT(21 21)",
      "POINT(15 15)"), multi) == Seq(false, true, true, false))
    // column path agrees with the constant path on the same shapes
    assert(Seq(("POINT(5 5)", holed), ("POINT(2 2)", holed),
      ("POINT(21 21)", multi), ("POINT(15 15)", multi))
      .toDF("p", "poly")
      .select(GeoFunctions.within(col("p"), col("poly")))
      .collect().map(_.getBoolean(0)).toSeq
      == Seq(false, true, true, false))
    // intersectsConst against a holed constant: hole interior is
    // disjoint, annulus intersects, a polygon FILLING the hole touches
    // its boundary (intersects), a polygon strictly inside the hole
    // does not
    def gotH(wkts: Seq[String]): Seq[Boolean] =
      wkts.toDF("w").select(GeoFunctions.intersectsConst(col("w"), holed))
        .collect().map(_.getBoolean(0)).toSeq
    assert(gotH(Seq("POINT(5 5)", "POINT(2 2)",
      "POLYGON((4.5 4.5, 5.5 4.5, 5.5 5.5, 4.5 5.5, 4.5 4.5))",
      "POLYGON((4 4, 6 4, 6 6, 4 6, 4 4))",
      "POLYGON((3 3, 7 3, 7 7, 3 7, 3 3))")) ==
      Seq(false, true, false, true, true))
    // holed ROW polygon against a simple constant square: the hole
    // does not matter for intersection when the annulus overlaps
    assert(Seq(holed).toDF("w")
      .select(GeoFunctions.intersectsConst(col("w"),
        "POLYGON((9 9, 12 9, 12 12, 9 12, 9 9))"))
      .collect().head.getBoolean(0))
  }

  test("pointSegDist2 property: equals brute-force min over the segment; " +
      "inflated-bbox cover is admissible") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.GraftFunctions.pointSegDist2
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(300)((rnd.nextDouble() * 10, rnd.nextDouble() * 10,
      rnd.nextDouble() * 10, rnd.nextDouble() * 10,
      rnd.nextDouble() * 10, rnd.nextDouble() * 10))
    val got = rows.toDF("px", "py", "ax", "ay", "bx", "by")
      .select(pointSegDist2(col("px"), col("py"), col("ax"), col("ay"),
        col("bx"), col("by")))
      .collect().map(_.getDouble(0))
    rows.zip(got).foreach { case ((px, py, ax, ay, bx, by), d2) =>
      // dense parameter sweep brackets the true minimum
      val brute = (0 to 1000).map { i =>
        val t = i / 1000.0
        val cx = ax + t * (bx - ax); val cy = ay + t * (by - ay)
        (px - cx) * (px - cx) + (py - cy) * (py - cy)
      }.min
      assert(math.abs(d2 - brute) < 1e-4,
        s"d2=$d2 brute=$brute for ($px,$py)-($ax,$ay,$bx,$by)")
      // clamp: never below the unclamped line distance, never above
      // either endpoint distance
      val endMin = math.min((px - ax) * (px - ax) + (py - ay) * (py - ay),
        (px - bx) * (px - bx) + (py - by) * (py - by))
      assert(d2 <= endMin + 1e-12)
      // admissibility of the KNN cell cover: d ≤ R ⇒ the point lies in
      // the segment bbox inflated by R, so its grid cell is inside the
      // cover range the join explodes
      val R = 0.5
      if (d2 <= R * R) {
        assert(px >= math.min(ax, bx) - R && px <= math.max(ax, bx) + R)
        assert(py >= math.min(ay, by) - R && py <= math.max(ay, by) + R)
      }
    }
    // haversine variant agrees with plain haversine to the closest
    // point when the closest point is an endpoint (t clamps to 0)
    val hk = Seq((0.0, 0.0, 3.0, 0.0, 5.0, 0.0))
      .toDF("px", "py", "ax", "ay", "bx", "by")
      .select(graft.functions.GraftFunctions.pointSegHaversineKm(
        col("px"), col("py"), col("ax"), col("ay"), col("bx"), col("by")),
        graft.functions.GraftFunctions.haversineKm(
          col("px"), col("py"), col("ax"), col("ay")))
      .collect().head
    assert(math.abs(hk.getDouble(0) - hk.getDouble(1)) < 1e-9)
  }

  test("GeoFunctions r11: LINESTRING/MULTIPOINT operands, relations") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.rdf.GeoFunctions
    val square = "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))"
    def inter(wkts: Seq[String], poly: String = square): Seq[Boolean] =
      wkts.toDF("w").select(GeoFunctions.intersectsConst(col("w"), poly))
        .collect().map(_.getBoolean(0)).toSeq
    // linestrings: crossing straight through (no vertex inside),
    // fully inside, one vertex inside, collinear along an edge
    // (boundary-only contact), disjoint
    assert(inter(Seq(
      "LINESTRING(-5 5, 15 5)",
      "LINESTRING(2 2, 3 3)",
      "LINESTRING(5 5, 20 5)",
      "LINESTRING(-5 0, 15 0)",
      "LINESTRING(20 20, 30 30)")) ==
      Seq(true, true, true, true, false))
    // multilinestring: one part hits, the other doesn't
    assert(inter(Seq(
      "MULTILINESTRING((20 20, 30 30),(1 1, 2 2))",
      "MULTILINESTRING((20 20, 30 30),(40 40, 50 50))")) ==
      Seq(true, false))
    // multipoint, both WKT forms
    assert(inter(Seq("MULTIPOINT((5 5),(20 20))",
      "MULTIPOINT(20 20, 30 30)", "MULTIPOINT(20 20, 5 5)")) ==
      Seq(true, false, true))
    // sfDisjoint = complement over recognized geometry; garbage is
    // neither
    def disj(wkts: Seq[String]): Seq[Boolean] =
      wkts.toDF("w").select(GeoFunctions.disjointConst(col("w"), square))
        .collect().map(_.getBoolean(0)).toSeq
    assert(disj(Seq("POINT(5 5)", "POINT(20 20)",
      "LINESTRING(-5 5, 15 5)", "not-a-geometry")) ==
      Seq(false, true, false, false))
    // sfTouches: edge-adjacent square (boundary-only), corner touch,
    // overlapping square (false), contained square (false), point on
    // boundary, point inside (false), line along the edge (true),
    // line crossing (false)
    def touch(wkts: Seq[String]): Seq[Boolean] =
      wkts.toDF("w").select(GeoFunctions.touchesConst(col("w"), square))
        .collect().map(_.getBoolean(0)).toSeq
    assert(touch(Seq(
      "POLYGON((10 0, 20 0, 20 10, 10 10, 10 0))",
      "POLYGON((10 10, 12 10, 12 12, 10 12, 10 10))",
      "POLYGON((5 5, 15 5, 15 15, 5 15, 5 5))",
      "POLYGON((2 2, 4 2, 4 4, 2 4, 2 2))",
      "POINT(10 5)", "POINT(5 5)",
      "LINESTRING(0 0, 10 0)",
      "LINESTRING(5 -5, 5 15)")) ==
      Seq(true, true, false, false, true, false, true, false))
    // sfOverlaps: partial overlap true; contained, containing,
    // identical, edge-adjacent all false
    def over(wkts: Seq[String]): Seq[Boolean] =
      wkts.toDF("w").select(GeoFunctions.overlapsConst(col("w"), square))
        .collect().map(_.getBoolean(0)).toSeq
    assert(over(Seq(
      "POLYGON((5 5, 15 5, 15 15, 5 15, 5 5))",
      "POLYGON((2 2, 4 2, 4 4, 2 4, 2 2))",
      "POLYGON((-5 -5, 15 -5, 15 15, -5 15, -5 -5))",
      square,
      "POLYGON((10 0, 20 0, 20 10, 10 10, 10 0))")) ==
      Seq(true, false, false, false, false))
    // sfEquals: identical true; same region with an extra collinear
    // vertex true; shifted/contained/point false
    def eqs(wkts: Seq[String]): Seq[Boolean] =
      wkts.toDF("w").select(GeoFunctions.equalsConst(col("w"), square))
        .collect().map(_.getBoolean(0)).toSeq
    assert(eqs(Seq(
      square,
      "POLYGON((0 0, 5 0, 10 0, 10 10, 0 10, 0 0))",
      "POLYGON((1 0, 11 0, 11 10, 1 10, 1 0))",
      "POLYGON((2 2, 4 2, 4 4, 2 4, 2 2))",
      "POINT(5 5)")) ==
      Seq(true, true, false, false, false))

    // sfCrosses: through-crossing true; contained, disjoint, point,
    // polygon rows all false; boundary-collinear line (no interior)
    // false
    def crosses(wkts: Seq[String]): Seq[Boolean] =
      wkts.toDF("w").select(GeoFunctions.crossesConst(col("w"), square))
        .collect().map(_.getBoolean(0)).toSeq
    assert(crosses(Seq(
      "LINESTRING(-5 5, 15 5)",
      "LINESTRING(5 -5, 5 5)",
      "LINESTRING(2 2, 3 3)",
      "LINESTRING(20 20, 30 30)",
      "LINESTRING(0 0, 10 0)",
      "POINT(5 5)",
      "POLYGON((5 5, 15 5, 15 15, 5 15, 5 5))")) ==
      Seq(true, true, false, false, false, false, false))
    // distanceToLineConst: closest point interior to a segment, at a
    // vertex, and beyond an endpoint (clamped)
    val line = "LINESTRING(0 0, 10 0)"
    val dk = Seq("POINT(5 1)", "POINT(12 0)", "POINT(0 0)").toDF("w")
      .select(GeoFunctions.distanceToLineConst(col("w"), line,
        GeoFunctions.UomNs + "kilometre"))
      .collect().map(_.getDouble(0))
    // 1 degree lat ≈ 111.195 km at the equator; clamp to (10,0) for
    // (12,0); on-line point is 0
    assert(math.abs(dk(0) - 111.195) < 0.01, s"got ${dk(0)}")
    assert(math.abs(dk(1) - 2 * 111.195) < 0.5, s"got ${dk(1)}")
    assert(dk(2) == 0.0)

    // ADVICE r10 #4: boundary-only contact via collinear overlapping
    // edges whose overlap endpoints are CONSTANT-polygon vertices —
    // the row square's edge spans past both const vertices, so no row
    // vertex lies on the const ring and no orientation flips; the
    // const-vertex on-edge leg must catch it
    val wide = "POLYGON((-5 -4, 15 -4, 15 0, -5 0, -5 -4))"
    assert(inter(Seq(wide)) == Seq(true))
    assert(touch(Seq(wide)) == Seq(true))

    // r12 (VERDICT r11 Missing #2): geometry-column × polygon-column
    // forms of the symmetric relations — the polygon side parses per
    // row inside the same native expression
    def colCol(rel: (org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
        pairs: Seq[(String, String)]): Seq[Boolean] =
      pairs.toDF("g", "p").select(rel(col("g"), col("p")))
        .collect().map(_.getBoolean(0)).toSeq
    assert(colCol(GeoFunctions.intersects, Seq(
      ("LINESTRING(-5 5, 15 5)", square),
      ("LINESTRING(20 20, 30 30)", square),
      ("POLYGON((8 8, 12 8, 12 12, 8 12, 8 8))", square))) ==
      Seq(true, false, true))
    assert(colCol(GeoFunctions.touches, Seq(
      ("POLYGON((10 0, 20 0, 20 10, 10 10, 10 0))", square),
      ("POLYGON((5 5, 15 5, 15 15, 5 15, 5 5))", square))) ==
      Seq(true, false))
    assert(colCol(GeoFunctions.overlaps, Seq(
      ("POLYGON((5 5, 15 5, 15 15, 5 15, 5 5))", square),
      ("POLYGON((2 2, 4 2, 4 4, 2 4, 2 2))", square))) ==
      Seq(true, false))
    assert(colCol(GeoFunctions.crosses, Seq(
      ("LINESTRING(-5 5, 15 5)", square),
      ("LINESTRING(2 2, 3 3)", square))) == Seq(true, false))
    assert(colCol(GeoFunctions.equalsGeom, Seq(
      (square, square),
      ("POLYGON((1 0, 11 0, 11 10, 1 10, 1 0))", square))) ==
      Seq(true, false))
    assert(colCol(GeoFunctions.disjoint, Seq(
      ("POINT(20 20)", square), ("POINT(5 5)", square))) ==
      Seq(true, false))
    // r12 (VERDICT r11 Missing #3): witness-free concave overlap — the
    // interleaved-comb shape. The rectangle slides through the comb's
    // gap and out through its BASE, crossing only at comb vertices
    // (x=1 and x=2 are gap walls, so the shared boundary is collinear
    // and every transversal crossing passes through a comb vertex):
    // no vertex of either polygon is strictly inside the other and no
    // crossing is proper, yet interiors genuinely overlap in the base
    // band x∈(1,2), y∈(0,1). The segment-clipping witness must catch
    // it: sfOverlaps true, sfTouches false.
    val comb = "POLYGON((0 0, 1 0, 2 0, 3 0, 4 0, 5 0, 5 3, 4 3, " +
      "4 1, 3 1, 3 3, 2 3, 2 1, 1 1, 1 3, 0 3, 0 0))"
    val throughRect = "POLYGON((1 -1, 2 -1, 2 4, 1 4, 1 -1))"
    def rel(relName: String, g: String, p: String): Boolean =
      Seq(g).toDF("w")
        .select(relName match {
          case "overlaps" => GeoFunctions.overlapsConst(col("w"), p)
          case "touches" => GeoFunctions.touchesConst(col("w"), p)
          case "equals" => GeoFunctions.equalsConst(col("w"), p)
          case "intersects" => GeoFunctions.intersectsConst(col("w"), p)
        }).collect().head.getBoolean(0)
    assert(rel("intersects", throughRect, comb))
    assert(rel("overlaps", throughRect, comb),
      "comb interleave must register as interior overlap")
    assert(!rel("touches", throughRect, comb))
    // ADVICE r11 (medium): square vs notched pentagon — every pentagon
    // vertex lies on the square's boundary or inside, no proper
    // crossing, but the regions differ: sfEquals must be FALSE (the
    // r11 vertex witness called it equal), and since the pentagon is
    // CONTAINED in the square, sfOverlaps/sfTouches are false too
    val notched = "POLYGON((0 0, 10 0, 10 10, 5 5, 0 10, 0 0))"
    assert(!rel("equals", square, notched),
      "notched pentagon is not spatially equal to the square")
    assert(!rel("overlaps", square, notched))
    assert(!rel("touches", square, notched))
    assert(rel("intersects", square, notched))
    // randomized relation matrix over axis-aligned rectangles: the
    // native decision procedure must agree with interval arithmetic
    // on every pair class (disjoint / touch / partial overlap /
    // containment / equality)
    locally {
      val rnd = new scala.util.Random(13)
      def rect(x1: Double, y1: Double, x2: Double, y2: Double): String =
        s"POLYGON(($x1 $y1, $x2 $y1, $x2 $y2, $x1 $y2, $x1 $y1))"
      (1 to 120).foreach { _ =>
        val a1 = rnd.nextInt(20) / 2.0; val b1 = rnd.nextInt(20) / 2.0
        val a2 = a1 + 1 + rnd.nextInt(6) / 2.0
        val b2 = b1 + 1 + rnd.nextInt(6) / 2.0
        val c1 = rnd.nextInt(20) / 2.0; val d1 = rnd.nextInt(20) / 2.0
        val c2 = c1 + 1 + rnd.nextInt(6) / 2.0
        val d2 = d1 + 1 + rnd.nextInt(6) / 2.0
        val xOv = math.min(a2, c2) - math.max(a1, c1)
        val yOv = math.min(b2, d2) - math.max(b1, d1)
        val expInter = xOv >= 0 && yOv >= 0
        val interiors = xOv > 0 && yOv > 0
        val aInC = a1 >= c1 && a2 <= c2 && b1 >= d1 && b2 <= d2
        val cInA = c1 >= a1 && c2 <= a2 && d1 >= b1 && d2 <= b2
        val expOverlaps = interiors && !aInC && !cInA
        val expTouches = expInter && !interiors
        val expEquals = a1 == c1 && a2 == c2 && b1 == d1 && b2 == d2
        val g = rect(a1, b1, a2, b2); val p = rect(c1, d1, c2, d2)
        assert(rel("intersects", g, p) == expInter, s"inter $g $p")
        assert(rel("overlaps", g, p) == expOverlaps, s"over $g $p")
        assert(rel("touches", g, p) == expTouches, s"touch $g $p")
        assert(rel("equals", g, p) == expEquals, s"eq $g $p")
      }
    }
    // and through the SPARQL FILTER surface (two-variable call)
    locally {
      import graft.rdf.SparqlParser
      val quads = Seq(
        ("r1", "urn:wkt", "LINESTRING(-5 5, 15 5)"),
        ("r2", "urn:wkt", "LINESTRING(20 20, 30 30)"))
        .toDF("subject", "predicate", "objectValue")
        .withColumn("graph", lit("g"))
      val zones = Seq(("z1", "urn:zone", square))
        .toDF("subject", "predicate", "objectValue")
        .withColumn("graph", lit("g"))
      // the two patterns share no variable, but the FILTER spans both
      // groups — the GeoSPARQL spatial θ-join idiom, which the
      // cartesian guard recognizes as a CONNECTING edge (r12); no
      // allowCartesian opt-in needed (and SpatialRelateJoinRewrite
      // grid-buckets it)
      val spatialJoin = SparqlParser.execute(quads.union(zones),
        s"""PREFIX geof: <${GeoFunctions.Ns}>
           |SELECT ?r WHERE {
           |  ?r <urn:wkt> ?w . ?z <urn:zone> ?poly .
           |  FILTER(geof:sfIntersects(?w, ?poly))
           |} ORDER BY ?r""".stripMargin)
      val got = spatialJoin.collect().map(_.getString(0)).toSeq
      assert(got == Seq("r1"))
      // every session carries the grid-cover rewrite from the
      // extension, so the θ-join plans as a cell-keyed join, never a
      // nested loop (r12) — and running the query installs nothing in
      // the caller's session
      val sjPlan = spatialJoin.queryExecution.executedPlan.toString
      assert(!sjPlan.contains("BroadcastNestedLoopJoin") &&
        !sjPlan.contains("CartesianProduct") &&
        sjPlan.contains("__graft_cellx_l"),
        "SPARQL spatial θ-join should grid-bucket:\n" + sjPlan)
      assert(spark.experimental.extraOptimizations.isEmpty,
        "query execution changed the caller's optimizer rules: " +
          spark.experimental.extraOptimizations)
      // a filter touching only ONE group does NOT connect — still the
      // guarded cartesian
      intercept[IllegalArgumentException] {
        SparqlParser.execute(quads.union(zones),
          s"""PREFIX geof: <${GeoFunctions.Ns}>
             |SELECT ?r WHERE {
             |  ?r <urn:wkt> ?w . ?z <urn:zone> ?poly .
             |  FILTER(geof:sfIntersects(?w, "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0))"^^<http://www.opengis.net/ont/geosparql#wktLiteral>))
             |} ORDER BY ?r""".stripMargin).collect()
      }
    }
  }

  test("SfRelate: holed and multi-part regions through the exact " +
      "overlap/containment machinery") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.rdf.GeoFunctions
    val annulus = "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0)," +
      "(3 3, 7 3, 7 7, 3 7, 3 3))"
    def rel(relName: String, g: String, p: String): Boolean =
      Seq(g).toDF("w")
        .select(relName match {
          case "overlaps" => GeoFunctions.overlapsConst(col("w"), p)
          case "touches" => GeoFunctions.touchesConst(col("w"), p)
          case "equals" => GeoFunctions.equalsConst(col("w"), p)
          case "intersects" => GeoFunctions.intersectsConst(col("w"), p)
          case "disjoint" => GeoFunctions.disjointConst(col("w"), p)
        }).collect().head.getBoolean(0)
    // square spanning the annulus band AND the hole: interiors overlap
    // in the band; neither contains the other (the square covers hole
    // area outside the annulus region)
    val band = "POLYGON((1 1, 9 1, 9 9, 1 9, 1 1))"
    assert(rel("intersects", band, annulus))
    assert(rel("overlaps", band, annulus))
    assert(!rel("equals", band, annulus))
    // square EXACTLY filling the hole: boundaries coincide with the
    // hole ring, interiors are disjoint (the hole is outside the
    // even-odd region) → touches, not overlaps
    val filler = "POLYGON((3 3, 7 3, 7 7, 3 7, 3 3))"
    assert(rel("intersects", filler, annulus))
    assert(rel("touches", filler, annulus))
    assert(!rel("overlaps", filler, annulus))
    // square strictly inside the hole: no shared point at all
    val inHole = "POLYGON((4 4, 6 4, 6 6, 4 6, 4 4))"
    assert(rel("disjoint", inHole, annulus))
    assert(!rel("touches", inHole, annulus))
    // the annulus equals itself (hole-ring witnesses sit ON the
    // boundary; mutual boundary containment holds)
    assert(rel("equals", annulus, annulus))
    // annulus as the ROW geometry against a band-overlapping square
    assert(rel("overlaps", annulus, band))
    // multi-part: two islands vs a square engulfing only island 1 —
    // interiors overlap, neither side contains the other
    val islands = "MULTIPOLYGON(((0 0, 2 0, 2 2, 0 2, 0 0))," +
      "((8 8, 10 8, 10 10, 8 10, 8 8)))"
    val engulf = "POLYGON((-1 -1, 3 -1, 3 3, -1 3, -1 -1))"
    assert(rel("overlaps", islands, engulf))
    // square containing BOTH islands: containment, not overlap
    val all = "POLYGON((-1 -1, 11 -1, 11 11, -1 11, -1 -1))"
    assert(rel("intersects", islands, all))
    assert(!rel("overlaps", islands, all))
    assert(!rel("touches", islands, all))
  }

  test("SfRelate property: random rotated convex pairs agree with a " +
      "separating-axis reference") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.rdf.GeoFunctions
    val rnd = new scala.util.Random(29)
    // random convex CCW polygon: sorted angles on a circle
    def convex(): Array[(Double, Double)] = {
      val k = 3 + rnd.nextInt(5)
      val cx = rnd.nextDouble() * 20 - 10
      val cy = rnd.nextDouble() * 20 - 10
      val r = 0.5 + rnd.nextDouble() * 4
      val angles = Seq.fill(k)(rnd.nextDouble() * 2 * math.Pi).sorted
      if (angles.zip(angles.tail).exists { case (a, b) => b - a < 0.1 }) null
      else angles.map(a => (cx + r * math.cos(a), cy + r * math.sin(a)))
        .toArray
    }
    def wkt(p: Array[(Double, Double)]): String =
      (p :+ p.head).map { case (x, y) => s"$x $y" }
        .mkString("POLYGON((", ", ", "))")
    // SAT margin: max over all edge normals of the projection gap;
    // < 0 = overlap on every axis (interiors intersect), > 0 =
    // separated. Exact for convex pairs.
    def satMargin(a: Array[(Double, Double)],
        b: Array[(Double, Double)]): Double = {
      def axes(p: Array[(Double, Double)]) =
        p.indices.map { i =>
          val (x1, y1) = p(i); val (x2, y2) = p((i + 1) % p.length)
          (-(y2 - y1), x2 - x1)
        }
      (axes(a) ++ axes(b)).map { case (nx, ny) =>
        val n = math.sqrt(nx * nx + ny * ny)
        def proj(p: Array[(Double, Double)]) = {
          val vs = p.map { case (x, y) => (x * nx + y * ny) / n }
          (vs.min, vs.max)
        }
        val (a1, a2) = proj(a); val (b1, b2) = proj(b)
        math.max(b1 - a2, a1 - b2)
      }.max
    }
    // containment margin: min signed inner distance of A's vertices to
    // B's edges (CCW ⇒ inside is the positive side); > 0 = strictly in
    def inMargin(a: Array[(Double, Double)],
        b: Array[(Double, Double)]): Double =
      a.map { case (px, py) =>
        b.indices.map { i =>
          val (x1, y1) = b(i); val (x2, y2) = b((i + 1) % b.length)
          val len = math.hypot(x2 - x1, y2 - y1)
          ((x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)) / len
        }.min
      }.min
    var tried = 0
    var checked = 0
    val cases = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Boolean, Boolean)]
    while (tried < 400 && checked < 150) {
      tried += 1
      val a = convex(); val b = convex()
      if (a != null && b != null) {
        val m = satMargin(a, b)
        val ab = inMargin(a, b); val ba = inMargin(b, a)
        // skip borderline geometry (margins within float noise of 0):
        // the two implementations may legitimately disagree there
        if (math.abs(m) > 1e-4 && math.abs(ab) > 1e-4 &&
          math.abs(ba) > 1e-4) {
          checked += 1
          val inter = m < 0
          val over = inter && ab < 0 && ba < 0
          cases += ((wkt(a), wkt(b), inter, over))
        }
      }
    }
    assert(checked >= 100, s"too many degenerate pairs skipped: $checked")
    val df = cases.toSeq.toDF("a", "b", "expInter", "expOver")
    val got = df.select(
        GeoFunctions.intersects(col("a"), col("b")).as("gotInter"),
        GeoFunctions.overlaps(col("a"), col("b")).as("gotOver"),
        GeoFunctions.touches(col("a"), col("b")).as("gotTouch"),
        col("expInter"), col("expOver"), col("a"), col("b"))
      .collect()
    got.foreach { r =>
      assert(r.getBoolean(0) == r.getBoolean(3),
        s"intersects mismatch: ${r.getString(5)} vs ${r.getString(6)}")
      assert(r.getBoolean(1) == r.getBoolean(4),
        s"overlaps mismatch: ${r.getString(5)} vs ${r.getString(6)}")
      // borderline (touch-only) pairs were filtered, so touches is
      // false everywhere in this sample
      assert(!r.getBoolean(2),
        s"unexpected touch: ${r.getString(5)} vs ${r.getString(6)}")
    }
  }

  test("SparqlParser r9: FROM / FROM NAMED dataset clause") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val quads = Seq(
      ("a", "urn:p", "1", "g1"), ("b", "urn:p", "2", "g2"),
      ("c", "urn:p", "3", "g3"))
      .toDF("subject", "predicate", "objectValue", "graph")
    def vals(q: String): Seq[String] =
      SparqlParser.execute(quads, q).collect()
        .map(_.getString(0)).toSeq.sorted
    // no dataset clause: union default graph (all three)
    assert(vals("SELECT ?s WHERE { ?s <urn:p> ?o }") == Seq("a", "b", "c"))
    // FROM union: exactly the declared graphs
    assert(vals("""SELECT ?s FROM <g1> WHERE { ?s <urn:p> ?o }""")
      == Seq("a"))
    assert(vals("""SELECT ?s FROM <g1> FROM <g3>
      WHERE { ?s <urn:p> ?o }""") == Seq("a", "c"))
    // GRAPH sees only FROM NAMED; with a dataset declared but no FROM
    // NAMED, the named set is EMPTY per §13.2 — GRAPH matches nothing
    assert(vals("""SELECT ?s FROM <g1> FROM NAMED <g2>
      WHERE { GRAPH <g2> { ?s <urn:p> ?o } }""") == Seq("b"))
    assert(vals("""SELECT ?s FROM <g1>
      WHERE { GRAPH <g2> { ?s <urn:p> ?o } }""") == Seq())
    // FROM NAMED alone: default graph is empty, GRAPH ?g enumerates
    // only the named set
    assert(vals("""SELECT ?s FROM NAMED <g2> FROM NAMED <g3>
      WHERE { GRAPH ?g { ?s <urn:p> ?o } }""") == Seq("b", "c"))
    assert(vals("""SELECT ?s FROM NAMED <g2>
      WHERE { ?s <urn:p> ?o }""") == Seq())
  }

  test("NOW() is one instant per query execution (ADVICE r10)") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val quads = Seq(("a", "urn:p", "1"))
      .toDF("subject", "predicate", "objectValue")
    // two NOW() occurrences in ONE query must bind the identical
    // instant (§17.4.5.1) even without a withClock pin
    val r = SparqlParser.execute(quads,
      """SELECT ?t1 ?t2 WHERE { ?s <urn:p> ?o .
        |BIND(NOW() AS ?t1) BIND(NOW() AS ?t2) }""".stripMargin)
      .collect().head
    assert(r.getString(0) == r.getString(1))
    // and withClock still pins both
    val p = SparqlParser.withClock("2024-01-01T00:00:00Z") {
      SparqlParser.execute(quads,
        """SELECT ?t1 ?t2 WHERE { ?s <urn:p> ?o .
          |BIND(NOW() AS ?t1) BIND(NOW() AS ?t2) }""".stripMargin)
        .collect().head
    }
    assert(p.getString(0) == "2024-01-01T00:00:00Z" &&
      p.getString(1) == "2024-01-01T00:00:00Z")
  }

  test("SparqlParser r9: GeoSPARQL geof functions + builtin pack") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val geofD = "http://www.opengis.net/def/function/geosparql/distance"
    val geofW = "http://www.opengis.net/def/function/geosparql/sfWithin"
    val geofC = "http://www.opengis.net/def/function/geosparql/sfContains"
    val m = "http://www.opengis.net/def/uom/OGC/1.0/metre"
    val km = "http://www.opengis.net/def/uom/OGC/1.0/kilometre"
    val quads = Seq(
      ("p1", "urn:wkt", "POINT(1 1)"),
      ("p2", "urn:wkt", "POINT(5 5)"),
      ("p3", "urn:wkt", "POINT(2.5 -1)"),
      ("n1", "urn:name", "alpha#beta"),
      ("n1", "urn:num", "-2.6"))
      .toDF("subject", "predicate", "objectValue")
    def vals(q: String): Seq[String] =
      SparqlParser.execute(quads, q).collect()
        .map(r => String.valueOf(r.get(0))).toSeq
    // distance from the origin: (1,1) ≈ 157 km, (2.5,-1) ≈ 299 km,
    // (5,5) ≈ 785 km — metre and kilometre units agree on the cut
    assert(vals(s"""SELECT ?s WHERE { ?s <urn:wkt> ?w .
      FILTER(<$geofD>(?w, "POINT(0 0)", <$m>) < 200000) }""") == Seq("p1"))
    assert(vals(s"""SELECT ?s WHERE { ?s <urn:wkt> ?w .
      FILTER(<$geofD>(?w, "POINT(0 0)", <$km>) < 400) } ORDER BY ?s""")
      == Seq("p1", "p3"))
    // sfWithin ray-casts a CONCAVE ring (L-shape): (1,1) and the
    // notch-adjacent interior survive, the notch itself does not —
    // a bounding-box shortcut would get this wrong
    val ell = "POLYGON((0 0, 4 0, 4 4, 2 4, 2 2, 0 2, 0 0))"
    val pts = Seq(("i1", "urn:g", "POINT(1 1)"), ("i2", "urn:g", "POINT(3 3)"),
      ("o1", "urn:g", "POINT(1 3)"), ("o2", "urn:g", "POINT(5 1)"))
      .toDF("subject", "predicate", "objectValue")
    def pvals(q: String): Seq[String] =
      SparqlParser.execute(pts, q).collect().map(_.getString(0)).toSeq
    assert(pvals(s"""SELECT ?s WHERE { ?s <urn:g> ?w .
      FILTER(<$geofW>(?w, "$ell")) } ORDER BY ?s""") == Seq("i1", "i2"))
    // sfContains is sfWithin with the roles swapped
    assert(pvals(s"""SELECT ?s WHERE { ?s <urn:g> ?w .
      FILTER(<$geofC>("$ell", ?w)) } ORDER BY ?s""") == Seq("i1", "i2"))
    // geof:buffer (r13): the road-match composition — points within
    // the polyline's planar buffer; only the uom:degree unit is legal
    val geofB = "http://www.opengis.net/def/function/geosparql/buffer"
    val geofI =
      "http://www.opengis.net/def/function/geosparql/sfIntersects"
    val deg = "http://www.opengis.net/def/uom/OGC/1.0/degree"
    // distances to the segment (0,0)-(4,0): i1 → 1, i2 → 3, o1 → 3,
    // o2 → 1; buffer r = 2 keeps i1 and o2
    assert(pvals(s"""SELECT ?s WHERE { ?s <urn:g> ?w .
      FILTER(<$geofI>(?w, <$geofB>("LINESTRING(0 0, 4 0)", 2.0, <$deg>)))
      } ORDER BY ?s""") == Seq("i1", "o2"))
    // uom:metre is legal since r14 (local equirectangular projection);
    // 2 arc-degrees of metres at the equator-ish fixture reproduces the
    // degree answer, and an UNKNOWN unit still rejects loudly
    val twoDegM = 2.0 * graft.plans.GeomConstruct.MetresPerDegree
    assert(pvals(s"""SELECT ?s WHERE { ?s <urn:g> ?w .
      FILTER(<$geofI>(?w, <$geofB>("LINESTRING(0 0, 4 0)", $twoDegM, <$m>)))
      } ORDER BY ?s""") == Seq("i1", "o2"))
    intercept[IllegalArgumentException] {
      pvals(s"""SELECT ?s WHERE { ?s <urn:g> ?w .
        FILTER(<$geofI>(?w, <$geofB>("LINESTRING(0 0, 4 0)", 2.0,
          <http://www.opengis.net/def/uom/OGC/1.0/radian>)))
        }""")
    }
    // the general (variable-polygon) path must agree with the
    // constant-polygon fast path the FILTER grammar dispatches to
    val viaCol = pts
      .filter(graft.rdf.GeoFunctions.within(
        org.apache.spark.sql.functions.col("objectValue"),
        org.apache.spark.sql.functions.lit(ell)))
      .collect().map(_.getString(0)).toSeq.sorted
    assert(viaCol == Seq("i1", "i2"))
    // builtin pack: STRBEFORE/STRAFTER ("" when absent per spec),
    // ENCODE_FOR_URI (%23, space → %20 not '+'), numerics, hashes
    assert(vals("""SELECT ?x WHERE { <n1> <urn:name> ?v .
      BIND(STRBEFORE(?v, "#") AS ?x) }""") == Seq("alpha"))
    assert(vals("""SELECT ?x WHERE { <n1> <urn:name> ?v .
      BIND(STRAFTER(?v, "#") AS ?x) }""") == Seq("beta"))
    assert(vals("""SELECT ?x WHERE { <n1> <urn:name> ?v .
      BIND(STRBEFORE(?v, "@") AS ?x) }""") == Seq(""))
    assert(vals("""SELECT ?x WHERE { <n1> <urn:name> ?v .
      BIND(ENCODE_FOR_URI(CONCAT(?v, " c")) AS ?x) }""")
      == Seq("alpha%23beta%20c"))
    assert(vals("""SELECT ?x WHERE { <n1> <urn:num> ?v .
      BIND(CEIL(?v) AS ?x) }""") == Seq("-2"))
    assert(vals("""SELECT ?x WHERE { <n1> <urn:num> ?v .
      BIND(FLOOR(0 - ?v) AS ?x) }""") == Seq("2"))
    assert(vals("""SELECT ?x WHERE { <n1> <urn:num> ?v .
      BIND(ROUND(0 - ?v) AS ?x) }""") == Seq("3"))
    // ABS is numeric-typed in comparisons (the stringy() dichotomy)
    assert(vals("""SELECT ?s WHERE { ?s <urn:num> ?v .
      FILTER(ABS(?v) > 2) }""") == Seq("n1"))
    val exp = java.security.MessageDigest.getInstance("MD5")
      .digest("alpha#beta".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(vals("""SELECT ?x WHERE { <n1> <urn:name> ?v .
      BIND(MD5(?v) AS ?x) }""") == Seq(exp))
    val exp256 = java.security.MessageDigest.getInstance("SHA-256")
      .digest("alpha#beta".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(vals("""SELECT ?x WHERE { <n1> <urn:name> ?v .
      BIND(SHA256(?v) AS ?x) }""") == Seq(exp256))
    // unknown IRI functions and bad units reject loudly
    intercept[IllegalArgumentException] {
      SparqlParser.execute(quads,
        """SELECT ?s WHERE { ?s <urn:wkt> ?w .
          FILTER(<urn:no-such-fn>(?w)) }""").collect()
    }
    intercept[IllegalArgumentException] {
      SparqlParser.execute(quads,
        s"""SELECT ?s WHERE { ?s <urn:wkt> ?w .
          FILTER(<$geofD>(?w, "POINT(0 0)", <urn:uom:furlong>) < 1) }""")
        .collect()
    }
  }

  test("SparqlParser r9: OPTIONAL-scoped FILTER keeps unmatched rows") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val quads = Seq(
      ("a", "urn:name", "A"), ("b", "urn:name", "B"), ("c", "urn:name", "C"),
      ("a", "urn:val", "5"), ("b", "urn:val", "1"))
      .toDF("subject", "predicate", "objectValue")
    def run(q: String) = SparqlParser.execute(quads, q).collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    // scoped: the filter constrains the MATCH — b (val too small) and
    // c (no val) both keep a NULL binding
    assert(run("""SELECT ?s ?v WHERE { ?s <urn:name> ?n .
        OPTIONAL { ?s <urn:val> ?v FILTER(?v >= 3) } }""")
      == Set(("a", Some("5")), ("b", None), ("c", None)))
    // outer: the same filter DROPS unmatched solutions (unbound
    // comparison is never true)
    assert(run("""SELECT ?s ?v WHERE { ?s <urn:name> ?n .
        OPTIONAL { ?s <urn:val> ?v } FILTER(?v >= 3) }""")
      == Set(("a", Some("5"))))
  }

  test("SparqlParser: OPTIONAL-scoped FILTER takes the full FILTER clause") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val quads = Seq(
      ("a", "urn:type", "urn:P"), ("b", "urn:type", "urn:P"),
      ("c", "urn:type", "urn:P"), ("d", "urn:type", "urn:P"),
      ("a", "urn:name", "Alice"), ("b", "urn:name", "Bob"),
      ("c", "urn:name", "Carol"))
      .toDF("subject", "predicate", "objectValue")
    def run(filter: String) = SparqlParser.execute(quads,
      s"""SELECT ?s ?n WHERE { ?s <urn:type> <urn:P> .
        OPTIONAL { ?s <urn:name> ?n FILTER($filter) } }""").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    // unmatched rows keep their NULL binding under every clause shape
    assert(run("""REGEX(?n, "^A")""") == Set(("a", Some("Alice")),
      ("b", None), ("c", None), ("d", None)))
    assert(run("""?n = "Alice" || ?n = "Bob"""") == Set(
      ("a", Some("Alice")), ("b", Some("Bob")), ("c", None), ("d", None)))
    assert(run("BOUND(?n)") == Set(("a", Some("Alice")),
      ("b", Some("Bob")), ("c", Some("Carol")), ("d", None)))
    // a term test can only run as a scan predicate of the required group
    val e = intercept[SparqlParser.ParseError](run("""LANG(?n) = "en""""))
    assert(e.getMessage.contains("cannot be scoped inside OPTIONAL"))
  }

  test("SparqlParser: an OPTIONAL-scoped FILTER over an outer variable " +
      "is the LeftJoin's condition (§18.2.2.6)") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val quads = Seq(
      ("a", "urn:min", "3"), ("a", "urn:val", "5"), ("a", "urn:val", "2"),
      ("b", "urn:min", "4"), ("b", "urn:val", "1"), ("c", "urn:min", "1"))
      .toDF("subject", "predicate", "objectValue")
    def run(filters: String) = SparqlParser.execute(quads,
      s"""SELECT ?s ?v WHERE { ?s <urn:min> ?m .
        OPTIONAL { ?s <urn:val> ?v $filters } }""").collect()
      .map(r => (r.getString(0), Option(r.getString(1)))).toSet
    // ?m is bound outside the group: the filter selects the matches
    // per outer row, and an outer row with none keeps a NULL binding
    assert(run("FILTER(?v > ?m)") ==
      Set(("a", Some("5")), ("b", None), ("c", None)))
    assert(run("""FILTER(?v > ?m && ?v != "5")""") ==
      Set(("a", None), ("b", None), ("c", None)))
    // a clause over the group's own variables still filters the group
    assert(run("""FILTER(?v > ?m) FILTER(?v != "2")""") ==
      Set(("a", Some("5")), ("b", None), ("c", None)))
  }

  test("SparqlParser: each FILTER atom gives one answer alone, under && " +
      "and under ||") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val geofW = "http://www.opengis.net/def/function/geosparql/sfWithin"
    val quads = Seq(
      ("a", "urn:name", "Ann"), ("b", "urn:name", "Bob"),
      ("c", "urn:name", "Cy"),
      ("a", "urn:val", "5"), ("b", "urn:val", "1"), ("c", "urn:val", "7"),
      ("a", "urn:alt", "5"), ("b", "urn:alt", "2"), ("c", "urn:alt", "9"),
      ("a", "urn:wkt", "POINT(1 1)"), ("b", "urn:wkt", "POINT(5 5)"),
      ("c", "urn:wkt", "POINT(1 2)"))
      .toDF("subject", "predicate", "objectValue")
    def run(filter: String): Either[(Class[_], String), Set[String]] =
      try Right(SparqlParser.execute(quads,
        s"""SELECT ?s WHERE { ?s <urn:name> ?n . ?s <urn:val> ?v .
          ?s <urn:alt> ?w . ?s <urn:wkt> ?g .
          BIND(STRLANG(?n, "en") AS ?l) FILTER($filter) }""")
        .collect().map(_.getString(0)).toSet)
      catch { case e: Exception => Left((e.getClass, e.getMessage)) }
    val bound = "requirement failed: BOUND(?nope): variable is not " +
      "bound by any pattern"
    val table = Seq[(String, String, Either[(Class[_], String), Set[String]])](
      ("CmpLit", "?v > 2", Right(Set("a", "c"))),
      ("CmpVar", "?v = ?w", Right(Set("a"))),
      ("InList", """?n IN ("Ann", "Cy")""", Right(Set("a", "c"))),
      ("BoundTest", "BOUND(?n)", Right(Set("a", "b", "c"))),
      ("BoundTest", "BOUND(?nope)",
        Left((classOf[IllegalArgumentException], bound))),
      ("StrFn", """REGEX(?n, "^B")""", Right(Set("b"))),
      ("ExprCmp", "?v * 2 > 9", Right(Set("a", "c"))),
      // an accessor over a constructor-bound variable folds to its
      // constant in every form
      ("ExprCmp", """CONCAT(LANG(?l), "") = "en"""",
        Right(Set("a", "b", "c"))),
      ("ExprBool", s"""<$geofW>(?g, "POLYGON((0 0, 3 0, 3 3, 0 3, 0 0))")""",
        Right(Set("a", "c"))))
    table.foreach { case (kind, atom, want) =>
      Seq(atom, s"""$atom && ?s != "zzz"""", s"""$atom || ?s = "zzz"""")
        .foreach(f => assert(run(f) == want, s"$kind: FILTER($f)"))
    }
  }

  test("SparqlParser r9: SERVICE federation against registered stores") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val local = Seq(("a", "urn:name", "A"), ("b", "urn:name", "B"))
      .toDF("subject", "predicate", "objectValue")
    val remote = Seq(("a", "urn:geo", "P1"))
      .toDF("subject", "predicate", "objectValue")
    val q = """SELECT ?s ?g WHERE { ?s <urn:name> ?n .
      SERVICE <urn:ep> { ?s <urn:geo> ?g } }"""
    val got = SparqlParser.execute(local, q,
        services = Map("urn:ep" -> remote))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("a", "P1")))
    // unregistered endpoint: loud, names the registered ones
    val e = intercept[IllegalArgumentException] {
      SparqlParser.execute(local, q,
        services = Map("urn:other" -> remote)).collect()
    }
    assert(e.getMessage.contains("urn:ep") &&
      e.getMessage.contains("urn:other"))
    // SILENT: an unregistered endpoint is ignored per spec — the
    // query degrades to the local pattern alone
    val silent = SparqlParser.execute(local,
      """SELECT ?s WHERE { ?s <urn:name> ?n .
        SERVICE SILENT <urn:gone> { ?s <urn:geo> ?g } } ORDER BY ?s""")
      .collect().map(_.getString(0)).toSeq
    assert(silent == Seq("a", "b"))
    // r10 (ADVICE r9): the skipped group's variables are UNBOUND, not
    // absent — projecting one yields nulls instead of throwing…
    val unbound = SparqlParser.execute(local,
      """SELECT ?s ?g WHERE { ?s <urn:name> ?n .
        SERVICE SILENT <urn:gone> { ?s <urn:geo> ?g } } ORDER BY ?s""")
      .collect().map(r => (r.getString(0), r.isNullAt(1))).toSeq
    assert(unbound == Seq(("a", true), ("b", true)))
    // …the skipped vars do not anchor connectivity (the evaluated
    // components here are connected; pre-fix this spuriously rejected)…
    val conn = SparqlParser.execute(local,
      """SELECT ?s WHERE { ?s <urn:name> ?n .
        SERVICE SILENT <urn:gone> { ?x <urn:geo> ?g } } ORDER BY ?s""")
      .collect().map(_.getString(0)).toSeq
    assert(conn == Seq("a", "b"))
    // …and a service-only query degrades to ONE all-unbound solution
    val only = SparqlParser.execute(local,
      "SELECT ?g WHERE { SERVICE SILENT <urn:gone> { <a> <urn:geo> ?g } }")
      .collect()
    assert(only.length == 1 && only.head.isNullAt(0))
  }

  test("SparqlParser r10: SERVICE bodies take the full group grammar") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val local = Seq(("a", "urn:name", "A"), ("b", "urn:name", "B"))
      .toDF("subject", "predicate", "objectValue")
    val remote = Seq(
      ("a", "urn:geo", "P1"), ("a", "urn:pop", "900"),
      ("b", "urn:geo", "P2"), ("b", "urn:pop", "100"),
      ("a", "urn:tag", "T"))
      .toDF("subject", "predicate", "objectValue")
    // FILTER inside the SERVICE group evaluates AT the endpoint
    val filtered = SparqlParser.execute(local,
      """SELECT ?s ?g WHERE { ?s <urn:name> ?n .
        |  SERVICE <urn:ep> { ?s <urn:geo> ?g . ?s <urn:pop> ?p .
        |    FILTER(?p > 500) } }""".stripMargin,
      services = Map("urn:ep" -> remote))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(filtered == Seq(("a", "P1")))
    // OPTIONAL inside the SERVICE group: b matches geo, lacks tag
    val opt = SparqlParser.execute(local,
      """SELECT ?s ?t WHERE { ?s <urn:name> ?n .
        |  SERVICE <urn:ep> { ?s <urn:geo> ?g
        |    OPTIONAL { ?s <urn:tag> ?t } } } ORDER BY ?s""".stripMargin,
      services = Map("urn:ep" -> remote))
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) null else r.getString(1))).toSeq
    assert(opt == Seq(("a", "T"), ("b", null)))
    // BIND inside the SERVICE group joins on the computed variable
    val bound = SparqlParser.execute(local,
      """SELECT ?s ?lbl WHERE { ?s <urn:name> ?n .
        |  SERVICE <urn:ep> { ?s <urn:pop> ?p .
        |    BIND(CONCAT("pop=", ?p) AS ?lbl) } } ORDER BY ?s""".stripMargin,
      services = Map("urn:ep" -> remote))
      .collect().map(_.getString(1)).toSeq
    assert(bound == Seq("pop=900", "pop=100"))
  }

  test("SparqlParser r9: mixed &&/|| FILTER — && binds tighter") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val quads = Seq(("x", "urn:p", "1"), ("y", "urn:p", "5"),
      ("z", "urn:p", "9")).toDF("subject", "predicate", "objectValue")
    def vals(q: String): Seq[String] =
      SparqlParser.execute(quads, q).collect()
        .map(_.getString(0)).toSeq.sorted
    // ?v = 9 || (?v > 0 && ?v < 2) — y(5) drops; a ||-tighter parse
    // would read (9 || >0) && <2 and keep only x
    assert(vals("""SELECT ?s WHERE { ?s <urn:p> ?v .
      FILTER(?v = 9 || ?v > 0 && ?v < 2) }""") == Seq("x", "z"))
    // the mirrored order: (?v > 0 && ?v < 2) || ?v = 9
    assert(vals("""SELECT ?s WHERE { ?s <urn:p> ?v .
      FILTER(?v > 0 && ?v < 2 || ?v = 9) }""") == Seq("x", "z"))
  }

  test("SparqlParser r9: nested OPTIONAL groups (§18.2.2.6)") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val quads = Seq(
      ("a", "urn:name", "A"), ("b", "urn:name", "B"), ("c", "urn:name", "C"),
      ("a", "urn:val", "5"), ("b", "urn:val", "1"),
      ("a", "urn:unit", "kg"), ("c", "urn:unit", "kg"))
      .toDF("subject", "predicate", "objectValue")
    def run(q: String) = SparqlParser.execute(quads, q).collect()
      .map(r => (r.getString(0), Option(r.getString(1)),
        Option(r.getString(2)))).toSet
    // NESTED: the inner OPTIONAL lives inside the outer group, so c
    // (no val) gets NULL for BOTH — LeftJoin(A, LeftJoin(B, C)) never
    // sees c's unit because the enclosing group didn't match
    assert(run("""SELECT ?s ?v ?u WHERE { ?s <urn:name> ?n .
        OPTIONAL { ?s <urn:val> ?v OPTIONAL { ?s <urn:unit> ?u } } }""")
      == Set(("a", Some("5"), Some("kg")), ("b", Some("1"), None),
        ("c", None, None)))
    // FLAT twin: two sibling OPTIONALs both join the base — c's unit
    // binds even though its val doesn't. The two forms MUST differ;
    // this is the distinction nesting exists for.
    assert(run("""SELECT ?s ?v ?u WHERE { ?s <urn:name> ?n .
        OPTIONAL { ?s <urn:val> ?v } OPTIONAL { ?s <urn:unit> ?u } }""")
      == Set(("a", Some("5"), Some("kg")), ("b", Some("1"), None),
        ("c", None, Some("kg"))))
    // scoped FILTER applies over the group's own join result —
    // including nested bindings
    assert(run("""SELECT ?s ?v ?u WHERE { ?s <urn:name> ?n .
        OPTIONAL { ?s <urn:val> ?v OPTIONAL { ?s <urn:unit> ?u }
          FILTER(?v >= 3) } }""")
      == Set(("a", Some("5"), Some("kg")), ("b", None, None),
        ("c", None, None)))
  }

  test("Bgp r9: predicate statistics refine join order, results invariant") {
    import spark.implicits._
    import graft.rdf.{Bgp, QuadStats}
    import graft.rdf.Bgp.{Pattern, Var}
    val quads = ((1 to 200).map(i => (s"s$i", "urn:common", s"x$i")) ++
      Seq(("s3", "urn:rare", "y3"), ("s7", "urn:rare", "y7")))
      .toDF("subject", "predicate", "objectValue")
    val a = Pattern(Var("s"), "urn:common", Var("x"))
    val b = Pattern(Var("s"), "urn:rare", Var("y"))
    // identical structural shape → the heuristic alone ties
    assert(Bgp.rankKey(a, None) == Bgp.rankKey(b, None))
    // with stats the rare predicate ranks earlier (smaller est)
    val st = Some(Map("urn:common" -> 200L, "urn:rare" -> 2L))
    assert(Bgp.rankKey(b, st)._2 < Bgp.rankKey(a, st)._2)
    // an absent predicate estimates 0 — the best possible seed
    assert(Bgp.rankKey(Pattern(Var("s"), "urn:nosuch", Var("z")), st)
      ._2 == 0L)
    // register on the live relation; ordering is plan-shape only —
    // the solution set is identical with and without stats
    // (column ORDER may differ once stats re-seed the join — project)
    val before = Bgp.select(quads, Seq(a, b)).select("s", "x", "y")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    QuadStats.register(quads)
    assert(QuadStats.lookup(quads).exists(_("urn:rare") == 2L))
    val after = Bgp.select(quads, Seq(a, b)).select("s", "x", "y")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(after == before && after.size == 2)
  }

  test("SparqlUpdate r9: DELETE DATA matches by TERM, not lexical form") {
    import spark.implicits._
    import graft.rdf.SparqlUpdate
    val quads = Seq(
      // same lexical form "x" as plain literal, IRI, and tagged literal
      ("s", "iri", "urn:p", "x", "literal", null, null, null),
      ("s", "iri", "urn:p", "x", "iri", null, null, null),
      ("s", "iri", "urn:p", "x", "literal", null, "en", null))
      .toDF("subject", "subjectKind", "predicate", "objectValue",
        "objectKind", "datatype", "lang", "graph")
    def shapes(df: org.apache.spark.sql.DataFrame) =
      df.select("objectKind", "lang").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    // deleting the PLAIN LITERAL "x" keeps the IRI and the @en literal
    val del = SparqlUpdate.execute(quads,
      """DELETE DATA { <s> <urn:p> "x" }""")
    assert(shapes(del) == Set(("iri", null), ("literal", "en")))
    // deleting the IRI <x> keeps both literals
    val delIri = SparqlUpdate.execute(quads,
      """DELETE DATA { <s> <urn:p> <x> }""")
    assert(shapes(delIri) == Set(("literal", null), ("literal", "en")))
  }

  test("SparqlUpdate r13: INSERT DATA is set-semantic with nullable keys") {
    import spark.implicits._
    import graft.rdf.SparqlUpdate
    // datatype/lang-carrying relation: at least one key column is NULL
    // for every row (plain literal → both null; IRI object → both null;
    // default graph → graph null). The r12 semi/anti joins used plain
    // equality, so NULL keys never matched and re-inserts duplicated.
    val quads = Seq(
      ("a", "iri", "urn:p", "x", "literal", null, null, null),
      ("a", "iri", "urn:p", "5", "literal",
        "http://www.w3.org/2001/XMLSchema#integer", null, null),
      ("a", "iri", "urn:p", "hej", "literal", null, "sv", "g1"))
      .toDF("subject", "subjectKind", "predicate", "objectValue",
        "objectKind", "datatype", "lang", "graph")
    // re-insert all three existing statements → no-op, count unchanged
    val re = SparqlUpdate.execute(quads,
      """INSERT DATA {
        |  <a> <urn:p> "x" .
        |  <a> <urn:p> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .
        |  GRAPH <g1> { <a> <urn:p> "hej"@sv }
        |}""".stripMargin)
    assert(re.count() == 3L)
    // a genuinely new row (same lexical form, new lang) still appends
    val add = SparqlUpdate.execute(quads,
      """INSERT DATA { <a> <urn:p> "x"@en }""")
    assert(add.count() == 4L)
    assert(add.where($"lang" === "en").count() == 1L)
  }

  test("HttpVocab r13: vocab graphs fetch over HTTP into the quad " +
      "relation; LOAD <http://…> resolves through the gateway") {
    import graft.rdf.{HttpVocab, SparqlUpdate}
    import spark.implicits._
    val ttl =
      """PREFIX ex: <http://example.org/>
        |ex:a ex:label "Alpha" .
        |ex:b ex:label "Beta"@de .
        |""".stripMargin
    val nt = "<http://example.org/c> <http://example.org/label> " +
      "\"Gamma\" .\n"
    val server = graft.rdf.SparqlServer.httpServer(0)
    def serve(path: String, body: String, ct: String): Unit =
      server.createContext(path,
        (ex: com.sun.net.httpserver.HttpExchange) => {
          val b = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          ex.getResponseHeaders.set("Content-Type", ct)
          ex.sendResponseHeaders(200, b.length)
          ex.getResponseBody.write(b)
          ex.close()
        })
    serve("/vocab.ttl", ttl, "text/turtle")
    serve("/extra.nt", nt, "application/n-triples")
    server.createContext("/missing",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.sendResponseHeaders(404, -1); ex.close()
      })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      // content-type dispatch: turtle and n-triples both land as quads
      val v = HttpVocab.fetchAll(spark,
        Seq(s"$base/vocab.ttl", s"$base/extra.nt"))
      assert(v.select("objectValue").collect().map(_.getString(0))
        .toSet == Set("Alpha", "Beta", "Gamma"))
      assert(v.where($"lang" === "de").count() == 1)
      // non-200 raises loudly (the reference's RuntimeError contract)
      val e = intercept[RuntimeException] {
        HttpVocab.fetch(spark, s"$base/missing")
      }
      assert(e.getMessage.contains("404"))
      // SPARQL UPDATE LOAD over http: the gateway is the resolver
      val quads = Seq(("s", "iri", "urn:p", "x", "literal", null, null,
        null))
        .toDF("subject", "subjectKind", "predicate", "objectValue",
          "objectKind", "datatype", "lang", "graph")
      val loaded = SparqlUpdate.execute(quads, s"LOAD <$base/extra.nt>")
      assert(loaded.count() == 2 &&
        loaded.where($"objectValue" === "Gamma").count() == 1)
    } finally server.stop(0)
  }

  test("HttpVocab r13: SPARQL 1.1 Protocol client — POSTed query, JSON " +
      "results parse, ASK form, executeRemote fallback") {
    import graft.rdf.{HttpVocab, SparqlParser}
    val posted = new java.util.concurrent.atomic.AtomicReference[String]
    val srj =
      """{"head":{"vars":["s","label"]},
        | "results":{"bindings":[
        |  {"s":{"type":"uri","value":"urn:a"},
        |   "label":{"type":"literal","value":"Alpha","xml:lang":"en"}},
        |  {"s":{"type":"uri","value":"urn:b"}}
        |]}}""".stripMargin
    val server = graft.rdf.SparqlServer.httpServer(0)
    server.createContext("/sparql",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val body = new String(ex.getRequestBody.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        posted.set(body)
        val resp =
          (if (body.contains("ASK")) """{"head":{},"boolean":true}"""
           else srj).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type",
          "application/sparql-results+json")
        ex.sendResponseHeaders(200, resp.length)
        ex.getResponseBody.write(resp)
        ex.close()
      })
    server.start()
    val ep = s"http://127.0.0.1:${server.getAddress.getPort}/sparql"
    try {
      val q = "SELECT ?s ?label WHERE { ?s <urn:lbl> ?label }"
      val got = HttpVocab.selectRemote(spark, ep, q).collect()
      // the protocol POST carried the form-encoded query text
      assert(java.net.URLDecoder.decode(
        posted.get.stripPrefix("query="), "UTF-8") == q)
      // bindings parse: lexical values, unbound → null
      assert(got.map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("urn:a", "Alpha"), ("urn:b", null)))
      // ASK document yields the one-row boolean relation
      val ask = HttpVocab.selectRemote(spark, ep, "ASK { ?s ?p ?o }")
      assert(ask.columns.toSeq == Seq("ask") &&
        ask.collect().head.getBoolean(0))
      // executeRemote reaches the wire ONLY with the opt-in flag
      // (ADVICE r13: default must fail loudly and locally — SSRF /
      // nondeterministic-CI surface otherwise)
      intercept[IllegalArgumentException] {
        SparqlParser.executeRemote(ep, q, Map.empty)
      }
      spark.conf.set(SparqlParser.RemoteEnabledKey, "true")
      try {
        val viaRemote = SparqlParser.executeRemote(ep, q, Map.empty)
        assert(viaRemote.count() == 2)
      } finally spark.conf.unset(SparqlParser.RemoteEnabledKey)
      // an unregistered NON-http endpoint stays the loud error
      intercept[IllegalArgumentException] {
        SparqlParser.executeRemote("urn:nowhere", q, Map.empty)
      }
    } finally server.stop(0)
  }

  test("SparqlUpdate: INSERT DATA, DELETE DATA, DELETE WHERE, sequences") {
    import spark.implicits._
    import graft.rdf.SparqlUpdate
    val quads = Seq(
      ("a", "iri", "urn:name", "A", "literal", "g1"),
      ("b", "iri", "urn:name", "B", "literal", "g1"),
      ("a", "iri", "urn:tag", "x", "literal", "g2"))
      .toDF("subject", "subjectKind", "predicate", "objectValue",
        "objectKind", "graph")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("subject", "predicate", "objectValue", "graph").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3))).toSet
    // INSERT DATA with GRAPH + set semantics (re-inserting is a no-op)
    val ins = SparqlUpdate.execute(quads,
      """PREFIX u: <urn:>
        |INSERT DATA { GRAPH <g1> { <c> u:name "C" . <a> u:name "A" } }"""
        .stripMargin)
    assert(rows(ins) == rows(quads) + (("c", "urn:name", "C", "g1")))
    // DELETE DATA removes the exact statement only
    val del = SparqlUpdate.execute(ins,
      """DELETE DATA { GRAPH <g1> { <b> <urn:name> "B" } }""")
    assert(rows(del) == rows(quads) - (("b", "urn:name", "B", "g1")) +
      (("c", "urn:name", "C", "g1")))
    // DELETE WHERE with a variable pattern, graph-agnostic
    val delW = SparqlUpdate.execute(quads,
      """DELETE WHERE { ?s <urn:name> ?n }""")
    assert(rows(delW) == Set(("a", "urn:tag", "x", "g2")))
    // sequence: insert then delete-where in one update string
    val seqd = SparqlUpdate.execute(quads,
      """INSERT DATA { GRAPH <g2> { <d> <urn:tag> "y" } } ;
        |DELETE WHERE { GRAPH <g2> { ?s <urn:tag> ?v } }""".stripMargin)
    assert(rows(seqd) == Set(("a", "urn:name", "A", "g1"),
      ("b", "urn:name", "B", "g1")))
    intercept[IllegalArgumentException] {
      SparqlUpdate.execute(quads, "LOAD <urn:file>")
    }
    // modify form: DELETE { } INSERT { } WHERE { } renames a predicate
    val mod = SparqlUpdate.execute(quads,
      """PREFIX u: <urn:>
        |DELETE { ?s <urn:name> ?n }
        |INSERT { GRAPH <g1> { ?s <urn:label> ?n } }
        |WHERE { ?s u:name ?n }""".stripMargin)
    assert(rows(mod) == Set(
      ("a", "urn:label", "A", "g1"), ("b", "urn:label", "B", "g1"),
      ("a", "urn:tag", "x", "g2")))
    // INSERT … WHERE alone materializes a derived statement per solution
    val insW = SparqlUpdate.execute(quads,
      """INSERT { GRAPH <g1> { ?s <urn:known> "yes" } }
        |WHERE { ?s <urn:name> ?n }""".stripMargin)
    assert(rows(insW) == rows(quads) +
      (("a", "urn:known", "yes", "g1")) + (("b", "urn:known", "yes", "g1")))
  }

  test("SparqlParser r8: textual UNION and OFFSET") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val quads = Seq(
      ("a", "urn:cat", "x"), ("b", "urn:dog", "y"), ("c", "urn:cat", "z"),
      ("a", "urn:name", "A"), ("b", "urn:name", "B"), ("c", "urn:name", "C"))
      .toDF("subject", "predicate", "objectValue")
    def run(q: String): Seq[Seq[String]] =
      SparqlParser.execute(quads, q).collect()
        .map(_.toSeq.map(v => if (v == null) null else v.toString)).toSeq
    // branches bind different variables; each pads the other with NULL
    assert(run("""SELECT ?s ?cat ?dog WHERE {
        { ?s <urn:cat> ?cat } UNION { ?s <urn:dog> ?dog }
      } ORDER BY ?s""") == Seq(
      Seq("a", "x", null), Seq("b", null, "y"), Seq("c", "z", null)))
    // a UNION block joins other patterns on shared variables
    assert(run("""SELECT ?s ?n WHERE {
        { ?s <urn:cat> ?v } UNION { ?s <urn:dog> ?v }
        ?s <urn:name> ?n .
      } ORDER BY ?s""") == Seq(
      Seq("a", "A"), Seq("b", "B"), Seq("c", "C")))
    // a lone braced group is just grouping
    assert(run("""SELECT ?s WHERE { { ?s <urn:cat> ?v } } ORDER BY ?s""")
      == Seq(Seq("a"), Seq("c")))
    // OFFSET pages past the first row; LIMIT composes (either order)
    assert(run("""SELECT ?s WHERE { ?s <urn:name> ?n }
        ORDER BY ?s LIMIT 1 OFFSET 1""") == Seq(Seq("b")))
    assert(run("""SELECT ?s WHERE { ?s <urn:name> ?n }
        ORDER BY ?s OFFSET 2 LIMIT 5""") == Seq(Seq("c")))
  }

  test("QuadStore.upsert: delete-then-insert precedence, emptied-graph " +
      "partition sweep, partition-pruned survivors") {
    import spark.implicits._
    val store =
      s"${System.getProperty("java.io.tmpdir")}/graft_io/upsert_unit"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    def quads(rows: Seq[(String, String, String)]) =
      rows.toDF("s", "v", "g").select(
        col("s").as("subject"), lit("iri").as("subjectKind"),
        lit("urn:p").as("predicate"), col("v").as("objectValue"),
        lit("literal").as("objectKind"),
        lit(null).cast("string").as("datatype"),
        lit(null).cast("string").as("lang"), col("g").as("graph"))
    graft.rdf.QuadStore.write(quads(Seq(
      ("s1", "a", "urn:g1"), ("s2", "b", "urn:g1"),
      ("s3", "c", "urn:g2"))), store)
    // replace s1, delete s1 AND s3: the delta wins for s1
    // (delete-then-insert); g2 loses its only subject → its partition
    // directory must be swept, not left stale
    graft.rdf.QuadStore.upsert(spark, store,
      quads(Seq(("s1", "a2", "urn:g1"))),
      Some(Seq(("s1", "urn:g1"), ("s3", "urn:g2")).toDF("s", "g")
        .select(col("g").as("graph"), col("s").as("subject"))))
    val back = graft.rdf.QuadStore.open(spark, store)
      .select(col("subject"), col("objectValue"), col("graph"))
      .as[(String, String, String)].collect().toSet
    assert(back == Set(("s1", "a2", "urn:g1"), ("s2", "b", "urn:g1")))
    // the on-disk partition value is Hive-escaped (':' → %3A): the g1
    // dir exists in that form, and the emptied g2 dir was swept
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(store, "graph=urn%3Ag1")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(store, "graph=urn%3Ag2")))
    val stats = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(store, "_quadstats.tsv"))
    // touched predicates lose their uniqueness flag (r15 sidecar:
    // count<TAB>flag<TAB>predicate)
    assert(stats.size() == 1 && stats.get(0) == "2\td\turn:p", stats)
  }

  test("QuadStore.write and upsert evaluate their input once") {
    import spark.implicits._
    val store =
      s"${System.getProperty("java.io.tmpdir")}/graft_io/upsert_once"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    // every evaluation of a source row adds 1; a UDF projection of a
    // local relation is a derivation, not a store-like relation
    val evals = spark.sparkContext.longAccumulator("quad source rows")
    val subjectOf = udf { (id: Long) => evals.add(1); s"urn:s$id" }
    def quads(ids: Seq[Long], tag: String) = ids.toDF("id").select(
      subjectOf(col("id")).as("subject"), lit("iri").as("subjectKind"),
      concat(lit("urn:p"), (col("id") % 3).cast("string")).as("predicate"),
      concat(lit(tag), col("id").cast("string")).as("objectValue"),
      lit("literal").as("objectKind"),
      lit(null).cast("string").as("datatype"),
      lit(null).cast("string").as("lang"),
      concat(lit("urn:g"), (col("id") % 2).cast("string")).as("graph"))
    graft.rdf.QuadStore.write(quads(0L until 60L, "v"), store)
    assert(evals.value == 60L, "write evaluated its source more than once")
    evals.reset()
    graft.rdf.QuadStore.upsert(spark, store, quads(50L until 70L, "w"))
    assert(evals.value == 20L, "upsert evaluated its delta more than once")
    val back = graft.rdf.QuadStore.open(spark, store)
      .select(col("subject"), col("objectValue"))
      .as[(String, String)].collect().toSet
    assert(back == ((0 until 50).map(i => (s"urn:s$i", s"v$i")) ++
      (50 until 70).map(i => (s"urn:s$i", s"w$i"))).toSet)
  }

  test("QuadStore.upsert: after each upsert of a seeded sequence the " +
      "sidecar equals a per-predicate recount, and u stays exactly on " +
      "untouched predicates") {
    import spark.implicits._
    val store =
      s"${System.getProperty("java.io.tmpdir")}/graft_io/upsert_recount"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    def quads(rows: Seq[(String, String, String, String)]) =
      rows.toDF("s", "p", "v", "g").select(
        col("s").as("subject"), lit("iri").as("subjectKind"),
        col("p").as("predicate"), col("v").as("objectValue"),
        lit("literal").as("objectKind"),
        lit(null).cast("string").as("datatype"),
        lit(null).cast("string").as("lang"), col("g").as("graph"))
    def keys(rows: Seq[(String, String)]) =
      rows.toDF("s", "g").select(col("g").as("graph"), col("s").as("subject"))
    // urn:g1 holds s0..s7 (urn:p0, urn:p1; s0 alone has urn:p3, s7 a
    // duplicate (subject, objectValue) pair under urn:p4) and s12
    // (urn:p5, never touched); urn:g2 holds s8..s11 (urn:p0, urn:p2)
    val g1 = (0 to 7).flatMap(i => Seq((s"s$i", "urn:p0", s"a$i", "urn:g1"),
      (s"s$i", "urn:p1", s"b$i", "urn:g1"))) ++ Seq(
      ("s0", "urn:p3", "c0", "urn:g1"), ("s7", "urn:p4", "d", "urn:g1"),
      ("s7", "urn:p4", "d", "urn:g1"), ("s12", "urn:p5", "e", "urn:g1"))
    val g2 = (8 to 11).flatMap(i => Seq((s"s$i", "urn:p0", s"a$i", "urn:g2"),
      (s"s$i", "urn:p2", s"f$i", "urn:g2")))
    graft.rdf.QuadStore.write(quads(g1 ++ g2), store)
    def sidecar(): (Map[String, Long], Set[String]) = {
      import scala.jdk.CollectionConverters._
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(store, "_quadstats.tsv")).asScala.toSeq
        .map(_.split('\t'))
      (lines.map(l => l(2) -> l(0).toLong).toMap,
        lines.collect { case Array(_, "u", p) => p }.toSet)
    }
    def stored() = spark.read.parquet(store)
    def recount() = stored().groupBy("predicate").count()
      .as[(String, Long)].collect().toMap
    assert(sidecar() == (recount(),
      Set("urn:p0", "urn:p1", "urn:p2", "urn:p3", "urn:p5")))
    val unique = sidecar()._2
    val rng = new scala.util.Random(7)
    var touched = Set.empty[String]
    var step = 0
    // step 2 deletes every subject of urn:g2 (the graph ends up empty
    // and urn:p2 loses all its quads); step 3 deletes s0, the only
    // urn:p3 subject; every step replaces two random urn:g1 subjects
    for (dels <- Seq(Seq.empty, (8 to 11).map(i => (s"s$i", "urn:g2")),
        Seq(("s0", "urn:g1")), Seq.empty)) {
      step += 1
      val replaced = rng.shuffle((1 to 7).toList).take(2).map(i => s"s$i")
      val delta = replaced.flatMap(s => Seq((s, "urn:p0", s"x$step", "urn:g1"),
        (s, "urn:p6", s"y$step", "urn:g1")))
      val hit = (replaced.map(s => (s, "urn:g1")) ++ dels)
        .toDF("subject", "graph")
      touched ++= stored().join(hit, Seq("subject", "graph"))
        .select("predicate").as[String].collect() ++ delta.map(_._2)
      graft.rdf.QuadStore.upsert(spark, store, quads(delta),
        if (dels.isEmpty) None else Some(keys(dels)))
      val (counts, uniq) = sidecar()
      assert(counts == recount(), s"step $step")
      assert(uniq == unique -- touched, s"step $step")
    }
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(store, "graph=urn%3Ag2")))
    val (counts, uniq) = sidecar()
    assert(!counts.contains("urn:p2") && !counts.contains("urn:p3"))
    assert(uniq == Set("urn:p5"))
  }

  test("SparqlParser r12: nested GRAPH blocks re-scope the active " +
      "graph; a variable inner term binds and joins") {
    import spark.implicits._
    import graft.rdf.SparqlParser
    val quads = Seq(
      ("a", "urn:link", "x", "urn:g1"), ("b", "urn:link", "y", "urn:g1"),
      ("x", "urn:tag", "T1", "urn:g2"), ("y", "urn:tag", "T2", "urn:g3"),
      ("x", "urn:tag", "T9", "urn:g1"))
      .toDF("subject", "predicate", "objectValue", "graph")
    def run(q: String): Set[Seq[String]] =
      SparqlParser.execute(quads, q).collect()
        .map(_.toSeq.map(v => if (v == null) null else v.toString)).toSet
    // constant inner graph: the body escapes the outer scope — the
    // urn:g1 tag of x must NOT match
    assert(run("""SELECT ?s ?t WHERE {
        GRAPH <urn:g1> {
          ?s <urn:link> ?o .
          GRAPH <urn:g2> { ?o <urn:tag> ?t }
        }
      }""") == Set(Seq("a", "T1")))
    // variable inner graph ranges over ALL graphs (incl. the outer one)
    assert(run("""SELECT ?s ?g ?t WHERE {
        GRAPH <urn:g1> {
          ?s <urn:link> ?o .
          GRAPH ?g { ?o <urn:tag> ?t }
        }
      }""") == Set(
      Seq("a", "urn:g2", "T1"), Seq("a", "urn:g1", "T9"),
      Seq("b", "urn:g3", "T2")))
    // after the inner block the OUTER active graph resumes
    assert(run("""SELECT ?s ?t WHERE {
        GRAPH <urn:g1> {
          ?s <urn:link> ?o .
          GRAPH <urn:g2> { ?o <urn:tag> ?t }
          ?o <urn:tag> ?t2 .
        }
      }""") == Set(Seq("a", "T1")))
  }

  test("SparqlParser r8: property functions and the cartesian guard") {
    import spark.implicits._
    import graft.rdf.{Bgp, PropertyFunctions, SparqlParser}
    val quads = Seq(
      ("addr1", "urn:hasPart", "p1"), ("addr1", "urn:hasPart", "p2"),
      ("p1", "urn:type", "T1"), ("p2", "urn:type", "T2"),
      ("p1", "urn:value", "V1"), ("p2", "urn:value", "V2"),
      ("addr1", "urn:name", "Main St"), ("addr2", "urn:name", "Maple Av"))
      .toDF("subject", "predicate", "objectValue")
    val fns: Map[String, SparqlParser.PropertyFunction] = Map(
      "urn:fn:getParts" ->
        PropertyFunctions.getParts("urn:hasPart", "urn:type", "urn:value"),
      "urn:fn:getLiteralComponents" -> PropertyFunctions
        .getLiteralComponents("urn:hasPart", "urn:type", "urn:value"),
      "http://jena.apache.org/text#query" -> PropertyFunctions.textQuery)
    def run(q: String): Set[Seq[String]] =
      SparqlParser.execute(quads, q, fns).collect()
        .map(_.toSeq.map(v => if (v == null) null else v.toString)).toSet
    // 4-arg getParts with a BIND-pinned subject (the compound_naming.py
    // calling shape)
    assert(run("""SELECT * WHERE {
        BIND(<addr1> AS ?a)
        ?a <urn:fn:getParts> (?pid ?ptype ?pvp ?pval) .
      }""") == Set(
      Seq("p1", "T1", "urn:value", "V1", "addr1"),
      Seq("p2", "T2", "urn:value", "V2", "addr1")))
    // 2-arg getLiteralComponents, variable subject joined with a pattern
    assert(run("""SELECT ?n ?ct ?cv WHERE {
        ?a <urn:name> ?n .
        ?a <urn:fn:getLiteralComponents> (?ct ?cv) .
      }""") == Set(
      Seq("Main St", "T1", "V1"), Seq("Main St", "T2", "V2")))
    // text:query list-subject form with prefix wildcard + limit
    assert(run("""SELECT ?iri ?value WHERE {
        (?iri ?score ?value) <http://jena.apache.org/text#query>
          (<urn:name> "Ma*" 10) .
      }""") == Set(
      Seq("addr1", "Main St"), Seq("addr2", "Maple Av")))
    // unregistered function fails loudly
    intercept[IllegalArgumentException] {
      SparqlParser.execute(quads,
        "SELECT * WHERE { ?a <urn:fn:nope> (?x) . }", fns)
    }
    // disconnected patterns are rejected…
    val e = intercept[IllegalArgumentException] {
      SparqlParser.execute(quads,
        """SELECT * WHERE { ?a <urn:name> ?n . ?p <urn:type> ?t }""")
    }
    assert(e.getMessage.contains("allowCartesian"))
    // …unless the conf opts in
    spark.conf.set("graft.sparql.allowCartesian", "true")
    try assert(SparqlParser.execute(quads,
      """SELECT * WHERE { ?a <urn:name> ?n . ?p <urn:type> ?t }""")
      .count() == 4)
    finally spark.conf.unset("graft.sparql.allowCartesian")
    // r13 (ADVICE r12): an OPTIONAL spanning BOTH disconnected main
    // groups does NOT rescue them — the main BGP still cross-joins
    // before the left-join, which never removes rows
    val eo = intercept[IllegalArgumentException] {
      SparqlParser.execute(quads,
        """SELECT * WHERE { ?a <urn:name> ?n . ?p <urn:type> ?t .
          |OPTIONAL { ?a <urn:hasPart> ?x . ?p <urn:value> ?x } }"""
          .stripMargin)
    }
    assert(eo.getMessage.contains("allowCartesian"))
    // a bare BIND over both groups doesn't constrain either
    val eb = intercept[IllegalArgumentException] {
      SparqlParser.execute(quads,
        """SELECT * WHERE { ?a <urn:name> ?n . ?p <urn:type> ?t .
          |BIND(CONCAT(?n, ?t) AS ?c) }""".stripMargin)
    }
    assert(eb.getMessage.contains("allowCartesian"))
    // nor does a || clause: it can hold without its join comparison
    val ed = intercept[IllegalArgumentException] {
      SparqlParser.execute(quads,
        """SELECT * WHERE { ?a <urn:name> ?n . ?p <urn:type> ?t .
          |FILTER(?a = ?p || ?n = "z") }""".stripMargin)
    }
    assert(ed.getMessage.contains("allowCartesian"))
    // but an OPTIONAL rooted in ONE group + a FILTER reaching the other
    // stays connected (the left-join output is genuinely selected on)
    assert(SparqlParser.execute(quads,
      """SELECT * WHERE { ?a <urn:name> ?n . ?p <urn:type> ?t .
        |OPTIONAL { ?a <urn:hasPart> ?x } FILTER(?x = ?p) }"""
        .stripMargin).count() == 2)
  }

  test("PropertyPath.eval: step, inverse, sequence, alternation, closure") {
    import spark.implicits._
    import graft.rdf.PropertyPath._
    val quads = Seq(
      ("a", "p", "b"), ("b", "p", "c"), ("a", "q", "x"), ("c", "q", "y"))
      .toDF("subject", "predicate", "objectValue")
    def pairs(p: Path): Set[(String, String)] =
      eval(quads, p).collect()
        .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(pairs(Step("p")) == Set("a" -> "b", "b" -> "c"))
    assert(pairs(Inverse(Step("p"))) == Set("b" -> "a", "c" -> "b"))
    assert(pairs(Then(Step("p"), Step("q"))) == Set("b" -> "y"))
    assert(pairs(Alternative(Step("p"), Step("q"))) ==
      Set("a" -> "b", "b" -> "c", "a" -> "x", "c" -> "y"))
    assert(pairs(OneOrMore(Step("p"))) ==
      Set("a" -> "b", "b" -> "c", "a" -> "c"))
    assert(pairs(Then(OneOrMore(Step("p")), Step("q"))) ==
      Set("a" -> "y", "b" -> "y"))
  }

  test("PropertyPath.eval: quantified repetition and negated sets") {
    import spark.implicits._
    import graft.rdf.PropertyPath._
    // chain a→b→c→d on p, plus one q edge off the chain
    val quads = Seq(
      ("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d"), ("a", "q", "x"))
      .toDF("subject", "predicate", "objectValue")
    def pairs(p: Path): Set[(String, String)] =
      eval(quads, p).collect()
        .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(pairs(Repeat(Step("p"), 2, 3)) ==
      Set("a" -> "c", "b" -> "d", "a" -> "d"))
    assert(pairs(Repeat(Step("p"), 2, 2)) == Set("a" -> "c", "b" -> "d"))
    // n = 0 includes the zero-length relation (all 6 graph nodes)
    assert(pairs(Repeat(Step("p"), 0, 1)) ==
      Set("a", "b", "c", "d", "x").map(n => n -> n) +
        ("a" -> "b") + ("b" -> "c") + ("c" -> "d"))
    intercept[IllegalArgumentException](pairs(Repeat(Step("p"), 3, 2)))
    // forward-only exclusion: every forward pair except via p
    assert(pairs(Negated(Some(Seq("p")))) == Set("a" -> "x"))
    // inverse-only exclusion: every REVERSED pair except via q
    assert(pairs(Negated(None, Some(Seq("q")))) ==
      Set("b" -> "a", "c" -> "b", "d" -> "c"))
    // mixed: forward non-q ∪ reversed non-p
    assert(pairs(Negated(Some(Seq("q")), Some(Seq("p")))) ==
      Set("a" -> "b", "b" -> "c", "c" -> "d", "x" -> "a"))
    intercept[IllegalArgumentException](pairs(Negated(None, None)))
  }

  test("SparqlParser r8: path quantifiers {n,m} and negated sets") {
    import spark.implicits._
    val quads = Seq(
      ("a", "urn:p", "b"), ("b", "urn:p", "c"), ("c", "urn:p", "d"),
      ("a", "urn:q", "x"))
      .toDF("subject", "predicate", "objectValue")
    def run(q: String): Set[(String, String)] =
      graft.rdf.SparqlParser.execute(quads, q).collect()
        .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(run("SELECT ?s ?o WHERE { ?s <urn:p>{2,3} ?o }") ==
      Set("a" -> "c", "b" -> "d", "a" -> "d"))
    assert(run("SELECT ?s ?o WHERE { ?s <urn:p>{2} ?o }") ==
      Set("a" -> "c", "b" -> "d"))
    // {,m} is {0,m}; constant subject keeps it small
    assert(run("SELECT ?s ?o WHERE { ?s <urn:p>{,2} ?o . " +
      "FILTER(?s = \"a\") }") ==
      Set("a" -> "a", "a" -> "b", "a" -> "c"))
    assert(run("SELECT ?s ?o WHERE { ?s !<urn:p> ?o }") == Set("a" -> "x"))
    assert(run("SELECT ?s ?o WHERE { ?s !(<urn:q>|^<urn:p>) ?o }") ==
      Set("a" -> "b", "b" -> "c", "c" -> "d", "x" -> "a"))
    // unbounded-above quantifier is rejected loudly
    intercept[IllegalArgumentException](
      run("SELECT ?s ?o WHERE { ?s <urn:p>{2,} ?o }"))
  }

  test("SparqlParser r8: expression FILTERs — arithmetic and string fns") {
    import spark.implicits._
    val quads = Seq(
      ("a", "urn:p", "xx"), ("b", "urn:p", "xyzw"), ("c", "urn:p", "7q"),
      ("d", "urn:n", "3"), ("e", "urn:n", "1"))
      .toDF("subject", "predicate", "objectValue")
    def run(q: String): Set[(String, String)] =
      graft.rdf.SparqlParser.execute(quads, q).collect()
        .map(r => r.getString(0) -> r.getString(1)).toSet
    // STRLEN inside arithmetic → numeric compare
    assert(run("SELECT ?s ?o WHERE { ?s <urn:p> ?o . " +
      "FILTER(STRLEN(?o) - 1 >= 2) }") == Set("b" -> "xyzw"))
    // string-function compare stays lexical
    assert(run("SELECT ?s ?o WHERE { ?s <urn:p> ?o . " +
      "FILTER(SUBSTR(?o, 1, 1) = \"7\") }") == Set("c" -> "7q"))
    // var arithmetic on a numeric literal binding
    assert(run("SELECT ?s ?v WHERE { ?s <urn:n> ?v . " +
      "FILTER(?v * 2 >= 4) }") == Set("d" -> "3"))
    // parenthesized expression with a conjoined legacy atom
    assert(run("SELECT ?s ?v WHERE { ?s <urn:n> ?v . " +
      "FILTER((?v + 1) / 2 >= 1 && ?v != \"3\") }") == Set("e" -> "1"))
  }

  test("SameAs.smush: 2-hop chains, object rewrite, duplicate collapse") {
    import spark.implicits._
    import graft.model.TermKind
    // chain c↔b↔a (canonical "a" only reachable transitively from c),
    // plus an untouched singleton "solo"
    val sameAs = Seq(("b", "a"), ("c", "b")).toDF("x", "y")
    val labels = graft.rdf.SameAs.canonicalLabels(sameAs, col("x"), col("y"))
    assert(labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      == Map("a" -> "a", "b" -> "a", "c" -> "a"))
    val quads = Seq(
      // same statement stated on two aliases — must collapse to ONE row
      ("a", "p:name", "N", TermKind.Literal),
      ("c", "p:name", "N", TermKind.Literal),
      // IRI object pointing at an alias — must rewrite to "a"
      ("solo", "p:ref", "b", TermKind.Iri),
      // literal object that LOOKS like an alias — must NOT rewrite
      ("solo", "p:note", "b", TermKind.Literal))
      .toDF("subject", "predicate", "objectValue", "objectKind")
      .withColumn("datatype", lit(null).cast("string"))
      .withColumn("lang", lit(null).cast("string"))
      .withColumn("graph", lit("g"))
    val out = graft.rdf.SameAs.smush(quads, labels)
      .select("subject", "predicate", "objectValue").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set(
      ("a", "p:name", "N"),
      ("solo", "p:ref", "a"),
      ("solo", "p:note", "b")))
  }

  test("SameAs.smush keeps subjectKind and never rewrites bnode subjects") {
    import spark.implicits._
    import graft.model.TermKind
    val labels = Seq(("b", "a")).toDF("node", "canon")
    val quads = Seq(
      // IRI subject "b" aliases to "a" — rewrite fires
      ("b", TermKind.Iri, "p:name", "N", TermKind.Literal),
      // BNODE whose label happens to equal the aliased IRI — must NOT
      // be canonicalized (labels are document-scoped, ADVICE r7)
      ("b", TermKind.BNode, "p:note", "x", TermKind.Literal))
      .toDF("subject", "subjectKind", "predicate", "objectValue",
        "objectKind")
      .withColumn("datatype", lit(null).cast("string"))
      .withColumn("lang", lit(null).cast("string"))
      .withColumn("graph", lit("g"))
    val out = graft.rdf.SameAs.smush(quads, labels)
    // the 8-column shape survives (the nquads sink requires subjectKind)
    assert(out.columns.toSeq == Seq("subject", "subjectKind", "predicate",
      "objectValue", "objectKind", "datatype", "lang", "graph"))
    val rows = out.select("subject", "subjectKind", "predicate").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set(
      ("a", TermKind.Iri, "p:name"),
      ("b", TermKind.BNode, "p:note")))
  }

  test("Bgp: GRAPH ?g ranges over named graphs only (null graph skipped)") {
    import spark.implicits._
    import graft.rdf.Bgp
    // one named-graph quad, one default-graph (null) quad — the
    // N-Triples case; SPARQL GRAPH ?g must not bind a null ?g
    val quads = Seq(("s1", "urn:p", "o1", Some("g1")),
      ("s2", "urn:p", "o2", None))
      .toDF("subject", "predicate", "objectValue", "graph")
    val sol = Bgp.select(quads, Seq(
      Bgp.Pattern(Bgp.Var("s"), "urn:p", Bgp.Var("o"),
        Some(Bgp.Var("g")))))
    assert(sol.collect().map(_.toSeq).toSet ==
      Set(Seq("g1", "s1", "o1")))
    // ungraphed patterns still see BOTH quads
    assert(Bgp.select(quads, Seq(
      Bgp.Pattern(Bgp.Var("s"), "urn:p", Bgp.Var("o")))).count() == 2)
  }
}
