package graft.sources.nquads

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.io.{LongWritable, Text}
import org.apache.hadoop.mapred.{FileSplit, LineRecordReader}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

import graft.model.TermKind
import graft.plans.NqQuad

/** DataSource V2 N-Quads/N-Triples reader — `spark.read.format("nquads")
  * .load(dir)` — the connector-tier twin of [[graft.rdf.QuadParser]]
  * (which parses a text scan with column expressions). The reference
  * loads RDF files into graphs at startup (`cam/etl/__init__.py:55-62`);
  * this makes that load a first-class Spark source with the three
  * connector behaviors a 100 TB scan needs and the expression tier
  * cannot provide:
  *
  *  - '''split planning''': files split at `spark.sql.files
  *    .maxPartitionBytes` boundaries (compressed files stay whole);
  *    N-Quads is line-delimited, so the Hadoop line reader's
  *    skip-first-partial-line / read-past-split-end contract makes every
  *    split boundary a record boundary — 1000 executors share one big
  *    file with zero coordination.
  *  - '''filter pushdown''' (`SupportsPushDownFilters`): equality
  *    predicates on `graph` / `predicate` / `subject` reach the reader,
  *    which drops non-candidate lines with a cheap substring probe
  *    BEFORE the statement regex and re-checks exactly after the parse.
  *    A one-graph query over a multi-graph dump then never pays the
  *    full parse for foreign-graph lines. (The filters are also kept as
  *    Spark-side residuals — double evaluation is free, missed rows are
  *    not.)
  *  - '''column pruning''' (`SupportsPushDownRequiredColumns`): a
  *    projection of two term columns materializes two, not eight.
  *
  * Parse semantics are IDENTICAL to [[graft.rdf.QuadParser.parse]]: both
  * call the same kernel ([[NqQuad.parse]]) — one line grammar, one set
  * of term rules, the same drop-malformed tolerance — asserted equal on
  * real dumps by NQuadsSourceSpec.
  */
class NQuadsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "nquads"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NQuadsTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new NQuadsTable(properties.get("path"))
}

object NQuadsTable {
  /** Full-fidelity quad shape, = [[graft.rdf.QuadParser.parse]] output. */
  val Schema: StructType = NqQuad.schema
}

class NQuadsTable(path: String) extends Table
    with SupportsRead with SupportsWrite {
  require(path != null && path.nonEmpty, "nquads source requires a path")
  override def name(): String = s"nquads:$path"
  override def schema(): StructType = NQuadsTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  /** The SESSION Hadoop configuration + per-read/write options (ADVICE
    * r7): a bare `new Configuration()` silently drops every
    * `spark.hadoop.*` setting — S3A credentials/endpoints, custom
    * filesystems — so the connector only worked where default-config
    * filesystem access sufficed. Captured at build time on the driver,
    * shipped to tasks via [[SerializableConfiguration]]. */
  private def hadoopConf(
      options: java.util.Map[String, String]): Configuration = {
    import scala.jdk.CollectionConverters._
    SparkSession.active.sessionState
      .newHadoopConfWithOptions(options.asScala.toMap)
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NQuadsScanBuilder(path, hadoopConf(options))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new NQuadsWriteBuilder(path, info.schema(),
      hadoopConf(info.options()))
}

class NQuadsScanBuilder(path: String, conf: Configuration)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = NQuadsTable.Schema

  /** Accept equality on the three prefilterable term columns; everything
    * stays a Spark-side residual (return the full array) so the scan can
    * prefilter aggressively without owning final predicate semantics. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.collect {
      case f @ EqualTo(a, v: String)
          if Seq("graph", "predicate", "subject").contains(a) => f
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new NQuadsScan(path, required,
      pushed.collect { case EqualTo(a, v: String) => (a, v) }, conf)
}

class NQuadsScan(path: String, required: StructType,
    eqFilters: Array[(String, String)], conf: Configuration)
    extends Scan with Batch
    with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"nquads $path, pushed=${eqFilters.mkString(",")}"

  private val CompressedSuffixes =
    Seq(".gz", ".bz2", ".zst", ".snappy", ".lz4", ".deflate")

  private def listFiles(): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val matched = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    matched.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st)
    }.filter(st => st.isFile && st.getLen > 0 &&
      !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith("."))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val maxBytes = SQLConf.get.filesMaxPartitionBytes
    val parts = ArrayBuffer.empty[InputPartition]
    listFiles().foreach { st =>
      val name = st.getPath.toString
      if (CompressedSuffixes.exists(name.endsWith)) {
        parts += NQuadsPartition(name, 0L, st.getLen)
      } else {
        var off = 0L
        while (off < st.getLen) {
          val len = math.min(maxBytes, st.getLen - off)
          parts += NQuadsPartition(name, off, len)
          off += len
        }
      }
    }
    parts.toArray
  }

  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = listFiles().map(_.getLen).sum
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.empty()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new NQuadsReaderFactory(required.fieldNames, eqFilters,
      new SerializableConfiguration(conf))
}

case class NQuadsPartition(file: String, start: Long, length: Long)
    extends InputPartition

class NQuadsReaderFactory(columns: Array[String],
    eqFilters: Array[(String, String)],
    conf: SerializableConfiguration) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new NQuadsPartitionReader(p.asInstanceOf[NQuadsPartition], columns,
      eqFilters, conf.value)
}

/** Per-split reader: Hadoop line reader (split-boundary safe) → substring
  * prefilter from the pushed equalities → one statement parse
  * ([[NqQuad.parse]]) → exact filter re-check → pruned `InternalRow`. */
class NQuadsPartitionReader(part: NQuadsPartition, columns: Array[String],
    eqFilters: Array[(String, String)], conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val reader = new LineRecordReader(conf,
    new FileSplit(new Path(part.file), part.start, part.length,
      Array.empty[String]))
  private val key = new LongWritable()
  private val value = new Text()

  /** A line whose parsed field can equal `v` must contain the rendered
    * term — `<v>` (IRI) or `_:v` (bnode; predicates are always IRIs).
    * Pure candidate test: false ⇒ the line cannot match, true ⇒ parse
    * and re-check exactly. */
  private val prefilters: Array[String => Boolean] = eqFilters.map {
    case ("predicate", v) =>
      val iri = s"<$v>"
      (s: String) => s.contains(iri)
    case (_, v) =>
      val iri = s"<$v>"
      val bn = s"_:$v"
      (s: String) => s.contains(iri) || s.contains(bn)
  }

  // field index in the full 8-column quad shape → output position
  private val fieldIdx: Array[Int] =
    columns.map(c => NQuadsTable.Schema.fieldNames.indexOf(c))

  private var current: InternalRow = _

  private val exactFilters: Array[(Int, UTF8String)] = eqFilters.map {
    case (a, v) =>
      (NQuadsTable.Schema.fieldNames.indexOf(a), UTF8String.fromString(v))
  }

  private def passesExact(q: Array[Any]): Boolean =
    exactFilters.forall { case (idx, v) => v == q(idx) }

  override def next(): Boolean = {
    while (reader.next(key, value)) {
      val s = value.toString
      if (prefilters.forall(_(s))) {
        val q = NqQuad.parse(s)
        if (q != null && passesExact(q)) {
          current = new GenericInternalRow(fieldIdx.map(q(_)))
          return true
        }
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}

// ---------------------------------------------------------------------
// Write side — the connector is a symmetric source+sink: whatever
// format("nquads") reads, .write.format("nquads") writes back, with the
// SAME term rendering the expression-tier sink uses (QuadEmitter's line
// rules: bnode subjects as _:label, literal lang tag before datatype,
// null graph ⇒ triple line). Each task streams its partition to one
// .nq part file through an .inprogress temp renamed at task commit, so
// a failed/speculative task never leaves a half-file visible; job abort
// deletes the committed parts it knows of.
// ---------------------------------------------------------------------

class NQuadsWriteBuilder(path: String, schema: StructType,
    conf: Configuration)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write =
    new NQuadsWrite(path, schema, doTruncate, conf)
}

class NQuadsWrite(path: String, schema: StructType, truncate: Boolean,
    @transient conf: Configuration)
    extends Write with BatchWrite {
  override def toBatch: BatchWrite = this

  // driver-side lifecycle (truncate/commit/abort) uses the session conf
  // directly; tasks get it through the serializable wrapper below
  private val serConf = new SerializableConfiguration(conf)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory = {
    val expected = NQuadsTable.Schema.fieldNames.toSet
    val got = schema.fieldNames.toSet
    require(got == expected,
      s"nquads sink needs the quad schema ${expected.toSeq.sorted
          .mkString(", ")}; got ${got.toSeq.sorted.mkString(", ")}")
    val dir = new Path(path)
    val fs = dir.getFileSystem(serConf.value)
    if (truncate && fs.exists(dir))
      fs.listStatus(dir).foreach { st =>
        if (st.getPath.getName.endsWith(".nq") ||
          st.getPath.getName.endsWith(".inprogress"))
          fs.delete(st.getPath, false)
      }
    fs.mkdirs(dir)
    new NQuadsWriterFactory(path, schema.fieldNames, serConf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = ()

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case NQuadsCommit(f) =>
      val p = new Path(f)
      p.getFileSystem(serConf.value).delete(p, false)
    }
}

case class NQuadsCommit(file: String) extends WriterCommitMessage

class NQuadsWriterFactory(path: String, columns: Array[String],
    conf: SerializableConfiguration) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new NQuadsDataWriter(path, columns, partitionId, taskId, conf.value)
}

class NQuadsDataWriter(path: String, columns: Array[String],
    partitionId: Int, taskId: Long, conf: Configuration)
    extends DataWriter[InternalRow] {

  private val finalPath =
    new Path(path, f"part-$partitionId%05d-$taskId.nq")
  private val tmpPath =
    new Path(path, f"part-$partitionId%05d-$taskId.nq.inprogress")
  private val fs = finalPath.getFileSystem(conf)
  private val out = fs.create(tmpPath, true)

  // input column position of each quad field (writer sees the df order)
  private val idx: Array[Int] =
    NQuadsTable.Schema.fieldNames.map(f => columns.indexOf(f))
  private val iSubj = idx(0); private val iSubjK = idx(1)
  private val iPred = idx(2); private val iObj = idx(3)
  private val iObjK = idx(4); private val iDt = idx(5)
  private val iLang = idx(6); private val iGraph = idx(7)

  private def str(row: InternalRow, i: Int): String =
    if (row.isNullAt(i)) null else row.getUTF8String(i).toString

  override def write(row: InternalRow): Unit = {
    val sb = new java.lang.StringBuilder(128)
    val subj = str(row, iSubj)
    if (str(row, iSubjK) == TermKind.BNode) sb.append("_:").append(subj)
    else sb.append('<').append(subj).append('>')
    sb.append(" <").append(str(row, iPred)).append("> ")
    val obj = str(row, iObj)
    str(row, iObjK) match {
      case TermKind.Iri => sb.append('<').append(obj).append('>')
      case TermKind.BNode => sb.append("_:").append(obj)
      case _ =>
        sb.append('"')
          .append(graft.plans.NtEscape
            .compute(UTF8String.fromString(obj)).toString)
          .append('"')
        val lang = str(row, iLang)
        val dt = str(row, iDt)
        if (lang != null) sb.append('@').append(lang)
        else if (dt != null) sb.append("^^<").append(dt).append('>')
    }
    val graph = str(row, iGraph)
    if (graph != null) sb.append(" <").append(graph).append('>')
    sb.append(" .\n")
    out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    require(fs.rename(tmpPath, finalPath),
      s"could not commit $tmpPath -> $finalPath")
    NQuadsCommit(finalPath.toString)
  }

  override def abort(): Unit = {
    out.close()
    fs.delete(tmpPath, false)
  }

  override def close(): Unit = ()
}
