package graft.sources

import java.io.BufferedInputStream

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 `Table` over a pb binlog directory — the Catalyst-visible
  * form of [[PbBinlogFile.read]] (SURVEY §4 "optionally a v2 Table source").
  *
  * What the driver-side file list could never give Catalyst, this scan
  * does:
  *  - **commit-ts pushdown**: range predicates on `commit_ts` reach
  *    [[PbBinlogScanBuilder.pushFilters]] and become SEGMENT-FILE pruning
  *    via the reference's file-selection rule
  *    ([[PbBinlogFile.selectFilesBounded]]; ref: reparo/file.go:47-109) — pruning
  *    composes with predicates written ANYWHERE above the scan, not only
  *    with `read()`'s own arguments;
  *  - **column pruning**: the reader materializes only the requested
  *    envelope fields (`ReadSchema` in the plan);
  *  - **exactness by residual**: pushed filters stay in the plan as
  *    post-scan residuals (the boundary segment kept by the selection rule
  *    may hold rows below the bound) — the same inexact-pushdown contract
  *    parquet row-group statistics use.
  *
  * Scale shape: one input partition per segment file; the strict reader
  * streams frame-by-frame in constant memory, so a 512 MiB rotation
  * segment never materializes whole (recover mode reads the segment whole
  * for byte-level magic resync — bounded by the rotation cap). All file IO
  * goes through the Hadoop `FileSystem` of the directory's URI.
  */
object PbBinlogSource {
  /** The change-envelope schema, in [[PbBinlogFile.read]]'s column order —
    * DERIVED from the wire case class so a new envelope field cannot
    * silently diverge between the writer and this reader (the reader's
    * per-field converter would then fail loudly on the unmapped index
    * instead of dropping data). The one projection: `ts_us` (micros on the
    * wire) surfaces as a TIMESTAMP column — the `InternalRow`
    * representation (a micros long) is identical, so the converter passes
    * the value through untouched. */
  val schema: StructType = {
    val wire = org.apache.spark.sql.Encoders.product[PbBinlogFile.PbChange].schema
    StructType(wire.fields.map {
      case f if f.name == "ts_us" => StructField("ts", TimestampType)
      case f => f
    })
  }
}

class PbBinlogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pbbinlog"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PbBinlogSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val dir = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("pbbinlog source requires .load(dir)"))
    val recover = Option(properties.get("recover")).exists(_.toBoolean)
    new PbBinlogTable(dir, recover)
  }
}

class PbBinlogTable(dir: String, recover: Boolean) extends Table with SupportsRead {
  override def name(): String = s"pbbinlog $dir"
  override def schema(): StructType = PbBinlogSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PbBinlogScanBuilder(dir, recover,
      options.getInt("maxFilesPerTrigger", 0))
}

class PbBinlogScanBuilder(dir: String, recover: Boolean,
    maxFilesPerTrigger: Int = 0) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var tsLo = Long.MinValue
  private var tsHi = Long.MaxValue
  private var pushed = Array.empty[Filter]
  private var required = PbBinlogSource.schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val accepted = mutable.ArrayBuffer[Filter]()
    filters.foreach {
      case f @ GreaterThanOrEqual("commit_ts", v: Number) =>
        tsLo = math.max(tsLo, v.longValue); accepted += f
      case f @ GreaterThan("commit_ts", v: Number) =>
        // saturating strict-bound adjustment: ±1 at the Long extremes would
        // WRAP and silently disable pruning (the residual keeps exactness,
        // but the scan would read the whole directory)
        val lo = v.longValue
        tsLo = math.max(tsLo, if (lo == Long.MaxValue) lo else lo + 1)
        accepted += f
      case f @ LessThanOrEqual("commit_ts", v: Number) =>
        tsHi = math.min(tsHi, v.longValue); accepted += f
      case f @ LessThan("commit_ts", v: Number) =>
        val hi = v.longValue
        tsHi = math.min(tsHi, if (hi == Long.MinValue) hi else hi - 1)
        accepted += f
      case f @ EqualTo("commit_ts", v: Number) =>
        tsLo = math.max(tsLo, v.longValue)
        tsHi = math.min(tsHi, v.longValue); accepted += f
      case _ => ()
    }
    pushed = accepted.toArray
    // everything stays residual: segment selection keeps the boundary file,
    // which may still hold rows outside the bound — Spark must re-apply
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new PbBinlogScan(dir, recover, tsLo, tsHi, required, maxFilesPerTrigger)
}

class PbBinlogScan(val dir: String, val recover: Boolean, val tsLo: Long,
    val tsHi: Long, required: StructType,
    maxFilesPerTrigger: Int = 0) extends Scan with Batch
    with SupportsReportStatistics {

  override def readSchema(): StructType = required

  private lazy val segments: Seq[(String, Long)] =
    PbBinlogFile.listSegmentStatus(dir,
      SparkSession.active.sparkContext.hadoopConfiguration)

  /** (selected segment names, total segment count) — the pruning decision,
    * computed from the pushed bounds at plan time; PlanSpec asserts on it
    * and `description()` surfaces it in `explain`. */
  lazy val fileSelection: (Seq[String], Int) = {
    // inclusive bounds straight through — no 0-as-open-range sentinel, so a
    // pushed `commit_ts <= 0` (or a bound at either Long extreme) keeps
    // pruning instead of degrading to a full-directory scan
    val selected = PbBinlogFile.selectFilesBounded(segments.map(_._1), tsLo, tsHi)
    (selected, segments.length)
  }

  /** Size statistics AFTER pruning — the on-disk bytes of the selected
    * segments only (the wire form is row-data-sized, a fair in-memory
    * proxy). This is what lets Catalyst auto-broadcast a ts-bounded binlog
    * read joined against a fact table: without reported statistics a DSv2
    * relation defaults to "huge" and a perfectly broadcastable pruned scan
    * would shuffle both sides (PlanSpec pins the broadcast). */
  override def estimateStatistics(): Statistics = {
    val byName = segments.toMap
    val bytes = fileSelection._1.map(n => byName.getOrElse(n, 0L)).sum
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, bytes))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  override def description(): String = {
    val (sel, total) = fileSelection
    val lo = if (tsLo == Long.MinValue) "-inf" else tsLo.toString
    val hi = if (tsHi == Long.MaxValue) "+inf" else tsHi.toString
    s"PbBinlogScan dir=$dir recover=$recover PushedTsRange=[$lo,$hi] " +
      s"SelectedFiles=${sel.length}/$total"
  }

  override def toBatch: Batch = this

  /** S5 streaming rides the SAME table as the batch scan — one source of
    * truth for the wire decode, pushdown, and segment naming (the relay
    * reader used to duplicate the schema over a `binaryFile` stream). */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new PbBinlogMicroBatchStream(dir, recover, tsLo, tsHi, required,
      maxFilesPerTrigger)

  override def planInputPartitions(): Array[InputPartition] = {
    val (sel, _) = fileSelection
    sel.map(n => PbBinlogInputPartition(s"$dir/$n"): InputPartition).toArray
  }

  /** One broadcast of the driver's Hadoop configuration per scan; Spark's
    * context cleaner reclaims it once the factory is unreachable. */
  override def createReaderFactory(): PartitionReaderFactory =
    PbBinlogReaderFactory(
      PbBinlogFile.broadcastConf(SparkSession.active.sparkContext),
      recover, tsLo, tsHi, required.fieldNames)
}

case class PbBinlogInputPartition(path: String) extends InputPartition

/** Streaming offset = the set of segment names already delivered AND still
  * visible in the directory (ref: drainer/relay/reader.go:50-121 persists
  * the consumed position and never re-applies old entries; a file-granular
  * set is that position for an atomically-promoted segment store).
  * Serialized as a JSON array; its size is genuinely bounded by the
  * directory's retention because [[PbBinlogMicroBatchStream.latestOffset]]
  * COMPACTS it — a consumed name drops out of the offset once
  * [[PbBinlogFile.gc]] has reclaimed the file (keeping it forever would
  * make the per-trigger offset-log write grow with total history, an
  * unbounded cost on a months-long relay stream). Names are content-stable
  * (the writer's collision guard never lets different bytes reuse a name
  * while the file EXISTS), so membership is a correct consumed-marker;
  * the one redelivery window — a bit-identical segment RE-promoted under
  * a reclaimed name — is the same at-least-once contract the reference's
  * relay GC has, and the batch-id-idempotent sinks absorb it. The guard
  * does NOT survive gc: a re-write of a reclaimed interval with DIFFERENT
  * content re-takes the name unchecked, so retention must stay ahead of
  * the slowest checkpointed reader (the reference's GC-vs-reader pacing
  * contract, binlogger.go:354-380). */
case class PbBinlogOffset(files: Seq[String]) extends Offset {
  override def json(): String =
    PbBinlogOffset.mapper.writeValueAsString(files.toArray)
}

object PbBinlogOffset {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def fromJson(s: String): PbBinlogOffset =
    PbBinlogOffset(mapper.readValue(s, classOf[Array[String]]).toSeq)
}

/** MICRO_BATCH_READ form of the scan: each trigger's batch is the set of
  * newly promoted segments, pruned by any pushed commit-ts bounds exactly
  * like the batch scan, decoded by the SAME reader factory. Listing is
  * driver metadata work per trigger; decode fans out one partition per new
  * segment.
  *
  * The driver's Hadoop configuration is broadcast ONCE, when the stream is
  * built: every trigger's reader factory carries the same broadcast handle
  * instead of a serialized copy of the configuration (over a thousand
  * keys, ~100 KB) inside every task, and the driver-side
  * listing reads the same value. The broadcast lives as long as the stream
  * and is destroyed in [[stop]], when the query ends. */
class PbBinlogMicroBatchStream(dir: String, recover: Boolean, tsLo: Long,
    tsHi: Long, required: StructType,
    maxFilesPerTrigger: Int = 0) extends MicroBatchStream
    with SupportsAdmissionControl {

  private val conf: Broadcast[SerializableConfiguration] =
    PbBinlogFile.broadcastConf(SparkSession.active.sparkContext)

  override def initialOffset(): Offset = PbBinlogOffset(Seq.empty)

  /** P4 flow control on the wire source (ref: pkg/loader/load.go:880-963
    * bounds the in-flight buffer with backpressure): a `maxFilesPerTrigger`
    * read option caps how many NEW segments each trigger admits, in
    * (firstTs, name) order — a backlogged relay directory drains in
    * bounded-memory steps instead of one giant catch-up batch. */
  override def getDefaultReadLimit: ReadLimit =
    if (maxFilesPerTrigger > 0) ReadLimit.maxFiles(maxFilesPerTrigger)
    else ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val seen = start.asInstanceOf[PbBinlogOffset].files.toSet
    val listed = PbBinlogFile.listSegments(dir, conf.value.value)
    val fresh = listed.filterNot(seen)
      .sortBy(n => (PbBinlogFile.segFirstTs(n), n))
    // admission slots go to READABLE segments only: a segment wholly
    // outside the pushed ts bounds is marked consumed immediately (the
    // bounds are fixed for the query's lifetime) instead of burning a
    // maxFilesPerTrigger slot on a micro-batch that would decode nothing.
    // CONTRACT: the checkpoint is therefore bound to the query's pushed
    // bounds — re-starting a WIDER query on the same checkpointLocation
    // would skip these permanently-consumed segments; widening the
    // predicate needs a fresh checkpoint (positional relay offsets in the
    // reference have the same property, reader.go:50-121)
    val (inRange, outOfRange) = fresh.partition(n =>
      PbBinlogFile.segLastTs(n) >= tsLo && PbBinlogFile.segFirstTs(n) <= tsHi)
    val admitted = limit match {
      case m: ReadMaxFiles => inRange.take(m.maxFiles())
      case _ => inRange
    }
    // compaction: consumed names leave the offset once gc reclaims the
    // file — the offset stays a directory-retention-bounded set, not
    // unbounded consumption history
    PbBinlogOffset(
      (listed.filter(seen) ++ outOfRange ++ admitted).sorted)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[PbBinlogOffset].files.toSet
    val fresh = end.asInstanceOf[PbBinlogOffset].files.filterNot(seen)
    PbBinlogFile.selectFilesBounded(fresh, tsLo, tsHi)
      .map(n => PbBinlogInputPartition(s"$dir/$n"): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    PbBinlogReaderFactory(conf, recover, tsLo, tsHi, required.fieldNames)

  override def deserializeOffset(json: String): Offset = PbBinlogOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = conf.destroy()
}

/** Builds one segment reader per input partition. It holds a broadcast
  * handle to the driver's Hadoop configuration, not the configuration
  * itself: executors resolve the same filesystem the driver listed
  * (fs.defaultFS, store credentials, registered schemes) and fetch the
  * value once per executor instead of deserializing it in every task. The
  * creator owns the broadcast's lifetime — the stream destroys its own in
  * `stop()`, a batch scan's is reclaimed by Spark's context cleaner. */
case class PbBinlogReaderFactory(conf: Broadcast[SerializableConfiguration],
    recover: Boolean, tsLo: Long, tsHi: Long,
    columns: Array[String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PbBinlogPartitionReader(
      partition.asInstanceOf[PbBinlogInputPartition].path,
      conf.value.value, recover, tsLo, tsHi, columns)
}

/** Decodes one segment file. Strict mode streams the open
  * `FSDataInputStream` through the codec's one strict frame parser,
  * [[PbBinlogFile.readFrames]] — constant memory per segment, every
  * malformed frame a loud failure (ref: binlogger.go:37-41, 308-321).
  * Recover mode loads the segment (bounded by the rotation cap) and
  * salvages via [[PbBinlogFile.decodeFramesRecovering]]'s magic resync. */
class PbBinlogPartitionReader(path: String, conf: Configuration,
    recover: Boolean, tsLo: Long, tsHi: Long, columns: Array[String])
    extends PartitionReader[InternalRow] {

  private val hPath = new HPath(path)
  private val fs = hPath.getFileSystem(conf)
  private val fileLen = fs.getFileStatus(hPath).getLen
  private var strictIn: BufferedInputStream = _

  private val frames: Iterator[PbBinlogFile.PbChange] =
    if (recover) {
      // the salvage scan is in-memory by design (it re-synchronizes on
      // magic across arbitrary corruption); a foreign file past the array
      // limit must fail loudly, not read a silently truncated prefix
      require(fileLen <= Int.MaxValue.toLong,
        s"recover mode cannot salvage $path: $fileLen bytes exceeds the " +
          "in-memory scan limit — split the file or read strict")
      val bytes = new Array[Byte](fileLen.toInt)
      val in = fs.open(hPath)
      try in.readFully(0L, bytes) finally in.close()
      PbBinlogFile.decodeFramesRecovering(bytes)
    } else {
      strictIn = new BufferedInputStream(fs.open(hPath))
      PbBinlogFile.readFrames(strictIn, fileLen, path)
    }

  // positions of the requested columns in the full envelope
  private val fieldIdx: Array[Int] =
    columns.map(PbBinlogSource.schema.fieldIndex)
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (frames.hasNext) {
      val c = frames.next()
      // pushed range applied pre-projection: frames outside the bounds are
      // dropped before any row materializes (the residual filter above the
      // scan then passes everything through untouched)
      if (c.commit_ts >= tsLo && c.commit_ts <= tsHi) {
        current = toRow(c)
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current

  override def close(): Unit = if (strictIn != null) strictIn.close()

  private def str(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  private def toRow(c: PbBinlogFile.PbChange): InternalRow = {
    val vals = new Array[Any](fieldIdx.length)
    var i = 0
    while (i < fieldIdx.length) {
      vals(i) = fieldIdx(i) match {
        case 0 => c.commit_ts
        case 1 => c.pk
        case 2 => str(c.op)
        case 3 => str(c.event_type)
        case 4 => c.ts_us // TimestampType carries micros since epoch
        case 5 => c.value.map(java.lang.Double.valueOf).orNull
        case 6 => str(c.props)
        case 7 => str(c.dec38)
        case 8 => str(c.udec)
        case 9 => c.bits.map(java.lang.Long.valueOf).orNull
        case 10 => c.enum_ord.map(java.lang.Integer.valueOf).orNull
        case 11 => str(c.ddl_sql)
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }
}
