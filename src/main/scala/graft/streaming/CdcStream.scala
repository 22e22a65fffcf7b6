package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

import graft.sinks.UpsertSink
import graft.streaming.DdlGrammar._

/** Structured-Streaming twins of the batch CDC operators.
  *
  * The reference's pipeline (pump pull stream → merge → filter → loader) is
  * re-expressed as: file/Kafka stream → change envelope → event-time
  * watermark → `foreachBatch` upsert with checkpointing. The micro-batch
  * epoch IS the watermark-buffering mechanism of the reference
  * (drainer/syncer.go:324-346): a batch only commits when every earlier
  * event is applied, so the checkpoint advances exactly like the drainer's
  * savepoint.
  */
object CdcStream {

  /** Raw schema of the events parquet (`ts` is `timestamp[us]` in the
    * driver-generated data; file streams require an explicit schema). */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming change envelope from a parquet directory/glob.
    *
    * `maxFilesPerTrigger` is the P4 flow-control analog (ref:
    * pkg/loader/load.go:880-963 bounds the in-flight DML buffer at 100k
    * with cond-var backpressure): it caps each micro-batch's input so a
    * backlogged source drains in bounded-memory steps instead of one
    * giant catch-up batch — the knob that keeps a restart after hours of
    * downtime from sizing state and shuffle to the whole backlog. 0 = no
    * cap (drain everything available each trigger). */
  def changeStream(spark: SparkSession, pathGlob: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val reader = spark.readStream
      .schema(eventsRawSchema)
    val limited =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader
    limited
      .parquet(pathGlob)
      .select(
        col("event_id").as("commit_ts"),
        col("user_id").as("pk"),
        expr(graft.ops.Cdc.opCaseSql).as("op"), // single-sourced op mapping
        col("ts"),
        col("value"))
  }

  /** State-store provider conf for cluster-scale stateful streaming. The
    * default HDFS-backed provider keeps every partition's state map in
    * executor HEAP — dedup/session state over billions of keys (the 100 TB
    * shape of [[dedupStream]]/[[sessionCounts]]/the P/C matcher) OOMs long
    * before disks fill. Spark bundles the RocksDB provider: state lives
    * off-heap on executor-local disk with changelog checkpointing, so state
    * size is bounded by local SSD, not heap. Set it on the session (or
    * spark-submit conf) before starting the query; every graft streaming
    * operator runs on it unchanged (StreamingSpec pins this). */
  val RocksDbStateStore: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** T2 streaming twin: the k-way merge as a union of PER-PUMP watermarked
    * streams. The reference's merger blocks emission until every live
    * source has an item past the frontier (ref: drainer/merge.go:236-335 —
    * the min-heap pops only when each source contributed; a lagging pump
    * pauses the merge). Spark's exact analog: one `withWatermark` operator
    * PER source before the union, so the query watermark is the MIN across
    * sources (`spark.sql.streaming.multipleWatermarkPolicy=min`, the
    * default). Consequences, both pinned in StreamingSpec:
    *  - a STALLED pump holds the frontier at its last delivery — windowed
    *    aggregates past that point stay open until it resumes;
    *  - a pump REGISTERED but not yet delivering holds the frontier at
    *    epoch — nothing emits until every live source has spoken (the
    *    reference's exact blocking rule).
    * Dynamic membership (ref: merge.go:153-170 AddSource/RemoveSource):
    * pass a GLOB entry (a trailing wildcard under `root/dyn/`) — a pump
    * joining mid-stream is a new directory matching it; its files enter
    * that source's listing at the next trigger, no restart. CONTRACT: all
    * glob-matched dirs share ONE watermark operator, driven by the max
    * event time across them — so a pump joining through the glob must
    * deliver from the current frontier FORWARD (which is how a newly
    * registered pump behaves in the reference too: it streams new commits,
    * it does not backfill history below the cluster's commit frontier).
    * A backfill below the glob slot's frontier would be dropped as late
    * data; historical re-ingestion needs its own fixed source entry (a
    * restart — Spark fixes the source set at query start).
    *
    * A single union'd watermark (one operator after the union) would
    * instead take the MAX event time over all pumps — a stalled source
    * could never hold the merge, losing the reference's safety property. */
  def mergedPumpStream(spark: SparkSession, pumpDirs: Seq[String],
      delay: String = "0 seconds", maxFilesPerTrigger: Int = 0): DataFrame = {
    require(pumpDirs.nonEmpty, "mergedPumpStream needs at least one pump directory")
    // per-pump flow control (P4∘T2): the cap applies to EACH source, so a
    // backlogged pump drains in bounded steps without starving the others
    pumpDirs.map(d => changeStream(spark, d, maxFilesPerTrigger)
        .withWatermark("ts", delay))
      .reduce(_ unionByName _)
  }

  /** T2 over the WIRE envelope: the multi-pump binlog union the versioned
    * decode consumes, over [[graft.sources.PbBinlogFile.readStream]]
    * sources, with one watermark PER pump before the union (the
    * min-frontier mechanism of [[mergedPumpStream]]). A watermark acts
    * only through a stateful operator, and the decode has none, so these
    * watermarks hold nothing back: that no frame arrives below an applied
    * DDL's commit ts is the pumps' ordered-delivery contract (ref:
    * drainer/merge.go:236-335 feeding drainer/syncer.go), which the
    * decode audits with its `below_frontier_frames_total` count
    * ([[decodeCounts]]) rather than enforces.
    * `maxFilesPerTrigger` is the per-pump P4 admission knob, applied to
    * EACH source. */
  def mergedWireStream(spark: SparkSession, pumpDirs: Seq[String],
      delay: String = "0 seconds", maxFilesPerTrigger: Int = 0): DataFrame = {
    require(pumpDirs.nonEmpty, "mergedWireStream needs at least one pump directory")
    pumpDirs.map(d =>
        graft.sources.PbBinlogFile.readStream(spark, d, maxFilesPerTrigger)
          .withWatermark("ts", delay))
      .reduce(_ unionByName _)
  }

  /** T3 twin: watermarked per-day/per-op counts (fake-binlog-free — Spark
    * advances the watermark from event time directly). */
  def watermarkedCounts(changes: DataFrame): DataFrame =
    changes
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("op"))
      .agg(count(lit(1)).as("n"), max(col("commit_ts")).as("max_commit_ts"))

  /** F10 twin: streaming repeated-binlog skip — duplicates (at-least-once
    * redelivery) dropped on the commit id, with the watermark bounding how
    * long each id is remembered so state cannot grow unboundedly
    * (ref: arbiter/server.go:293-298 drops commitTs ≤ last seen; the
    * watermark is the streaming generalization of "last seen"). */
  def dedupStream(changes: DataFrame): DataFrame =
    changes
      .withWatermark("ts", "1 hour")
      .dropDuplicates("commit_ts", "ts")

  /** Streaming twin of batch sessionization (Transforms.sessionize): Spark's
    * native session_window merges events within a 30-minute gap per key,
    * watermark-bounded state. */
  def sessionCounts(changes: DataFrame): DataFrame =
    changes
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("pk"))
      .agg(count(lit(1)).as("n_events"))

  /** The transport frame contract — exactly the (key, value, topic)
    * columns Spark's Kafka sink requires and its source produces; also the
    * explicit schema a file-staged frame stream must declare. Single-
    * sourced here so [[toKafkaFrame]], [[fromKafkaFrame]] and every staged
    * reader agree by construction. */
  val kafkaFrameSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType)))

  /** K3/S7 transport wiring: the encoded change stream in the exact
    * [[kafkaFrameSchema]] contract — key and value MUST be binary (or
    * string) columns named exactly so
    * (ref: drainer/sync/kafka.go:200-260 produces one self-describing
    * message per txn keyed for partition affinity; the open-protocol reader
    * arbiter/server.go consumes the same shape). Keying by pk preserves
    * per-key ordering through Kafka's per-partition ordering exactly like
    * the reference's hash dispatch. */
  def toKafkaFrame(changes: DataFrame, topic: String): DataFrame =
    changes.select(
      col("pk").cast("string").cast("binary").as("key"),
      to_json(struct(col("commit_ts"), col("pk"), col("op"), col("value")))
        .cast("binary").as("value"),
      lit(topic).as("topic"))

  /** S7 twin: decode the transport frame back to the change envelope —
    * the exact inverse of [[toKafkaFrame]], and the same projection a
    * `readStream.format("kafka")` source needs (its value column is binary
    * too). */
  def fromKafkaFrame(frame: DataFrame): DataFrame =
    frame.select(from_json(col("value").cast("string"),
        StructType(Seq(
          StructField("commit_ts", LongType),
          StructField("pk", LongType),
          StructField("op", StringType),
          StructField("value", DoubleType)))).as("m"))
      .select(col("m.commit_ts").as("commit_ts"), col("m.pk").as("pk"),
        col("m.op").as("op"), col("m.value").as("value"))

  /** Start the transport: `format("kafka")` when a broker is configured —
    * the sandbox has none, so tests pass None and the SAME frame binds to a
    * memory sink; the plan is identical up to the sink operator. */
  def kafkaTransport(changes: DataFrame, topic: String, checkpoint: String,
      brokers: Option[String], queryName: String = "kafka_out"): StreamingQuery = {
    val frame = toKafkaFrame(changes, topic)
    brokers match {
      case Some(b) =>
        frame.writeStream
          .format("kafka")
          .option("kafka.bootstrap.servers", b)
          .option("topic", topic)
          .option("checkpointLocation", checkpoint)
          .start()
      case None =>
        frame.writeStream
          .format("memory").queryName(queryName)
          .option("checkpointLocation", checkpoint)
          .start()
    }
  }

  /** One applied wire-DDL log record: (version, schema, table, action,
    * column, arg) — `arg` is the new type for modify/add, the new name for
    * rename, the column-def list for create_table, empty otherwise. */
  private type AppliedDdl = (Long, String, String, String, String, String)

  /** A `dictionary` log record's arg: the value list re-quoted so the SAME
    * scanner/unquoter that lexed it from the wire re-parses it on replay
    * (values may carry commas and quotes). Empty = clear. */
  private def encodeDictArg(vs: Vector[String]): String =
    vs.map(v => "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'")
      .mkString(",")
  private[streaming] def decodeDictArg(arg: String): Vector[String] =
    if (arg.isEmpty) Vector.empty
    else splitTopLevel(arg, _ == ',', angles = false)
      .map(v => unquoteLiteral(v.trim))

  /** Apply one logged DDL record to a tracker — the ONE interpreter of the
    * log. The decode walk applies each record to its fork of the tracker
    * as it logs it, the commit replays the batch's records into the live
    * tracker, and [[recoverDecodeTracker]] replays the durable log into a
    * fresh one, so the in-batch view, the live catalog and a restart can
    * never interpret a record differently. */
  private def applyLogged(tracker: SchemaTracker, schema: String, table: String,
      action: String, column: String, arg: String, version: Long): Unit =
    action match {
      case "modify" => tracker.modifyColumn(schema, table, column, s"$column $arg", version)
      case "add"    => tracker.addColumn(schema, table, s"$column $arg", version)
      case "drop"   => tracker.dropColumn(schema, table, column, version)
      case "rename" => tracker.renameColumn(schema, table, column, arg, version)
      // CHANGE COLUMN: arg = "newName TYPE" — rename + retype in one record
      case "change" => tracker.changeColumn(schema, table, column, arg, version)
      case "truncate"     => tracker.truncateTable(schema, table, version)
      case "create_table" => tracker.createTable(schema, table, splitColumnDefs(arg), version)
      case "drop_table"   => tracker.dropTable(schema, table, version)
      // arg = the recovery name when FLASHBACK ... TO renamed, else empty
      case "recover_table" =>
        tracker.recoverTable(schema, table,
          if (arg.isEmpty) table else arg, version)
      case "rename_table" =>
        val (toS, to) = renameTarget(schema, arg)
        tracker.renameTable(schema, table, toS, to, version)
      // arg = the ORIGIN default expression stripped from the column def
      case "origin_default" =>
        tracker.setOriginDefault(schema, table, column, arg, version)
      // arg = the re-quoted ENUM/SET value list (empty clears)
      case "dictionary" =>
        tracker.setDictionary(schema, table, column, decodeDictArg(arg), version)
      case other => throw new IllegalArgumentException(s"unknown logged DDL action: $other")
    }

  /** Where a `rename_table` record of a table in `schema` moves it: arg =
    * "to" (same schema) or "toSchema.to" (cross-schema re-home;
    * identifiers cannot carry '.', so the encoding is unambiguous). */
  private[streaming] def renameTarget(schema: String, arg: String): (String, String) =
    arg.split("\\.", 2) match {
      case Array(to)      => (schema, to)
      case Array(toS, to) => (toS, to)
    }

  /** The `from_json` schema of a tracked shape: a table whose LAST column
    * was dropped decodes to the bare (commit_ts, pk, op, schema_version)
    * envelope (`fromDDL("")` would throw). */
  private def wireSchemaOf(info: SchemaTracker.TableInfo): StructType =
    if (info.columns.isEmpty) new StructType()
    else StructType.fromDDL(info.columns.mkString(", "))

  /** One partition's share of the decode's gather, over rows (is_ddl,
    * commit_ts, ddl_sql, schema, table): its DDL frames as (commit ts,
    * statement, null when missing) and, per (schema, table) it carries DML
    * for, the least commit ts. A row with a NULL op, or a DML row with a
    * NULL commit ts or routing value, matches no interval or table and
    * folds to nothing (a NULL key would also NPE the driver's key sort).
    * A DDL frame with a NULL commit ts fails the batch: it has no place in
    * the walk's order, and dropping it would decode the table's later rows
    * at a stale shape. */
  private def gatherPartition(rows: Iterator[InternalRow])
      : Iterator[(Seq[(Long, String)], Map[(String, String), Long])] = {
    val ddls = mutable.ArrayBuffer.empty[(Long, String)]
    val mins = mutable.HashMap.empty[(UTF8String, UTF8String), Long]
    rows.foreach { r =>
      if (r.isNullAt(0)) ()
      else if (r.getBoolean(0)) {
        val stmt = if (r.isNullAt(2)) null else r.getUTF8String(2).toString
        if (r.isNullAt(1)) throw new IllegalStateException(
          s"wire DDL frame without a commit ts cannot be ordered: $stmt")
        ddls += ((r.getLong(1), stmt))
      } else if (!r.isNullAt(1) && !r.isNullAt(3) && !r.isNullAt(4)) {
        val ts = r.getLong(1)
        // the row is reused: a key the map keeps is a copy
        val k = (r.getUTF8String(3), r.getUTF8String(4))
        if (mins.get(k).forall(ts < _)) mins.put((k._1.clone(), k._2.clone()), ts)
      }
    }
    Iterator((ddls.toSeq, mins.map { case ((s, t), ts) =>
      (s.toString, t.toString) -> ts }.toMap))
  }

  /** Per-batch decoded output, the one thing the decode hands its sink
    * (the `emit` of [[ddlDrivenDecodeTables]] and
    * [[ddlDrivenDecodeSchemas]]): the batch id, each table's
    * (column defs, string-decoded frame) keyed by (schema, table) — two
    * databases on one wire can carry the same table NAME, so a bare-name
    * key would merge their decodes — and the batch's applied wire DDLs as
    * (version, schema, table, action, column, arg). The frame is the
    * table's decode over the pinned wire batch, not a durable copy: each
    * job the sink runs over it decodes inside its own stages, and it is
    * valid only until the sink returns (the batch is released then). A
    * batch the sink fails is recomputed from the wire on restart. The
    * defs are EVERY def the table's intervals decoded with this batch —
    * first-seen order, latest type winning — NOT the end-of-batch shape:
    * a column dropped or renamed away mid-batch stays listed so its
    * pre-barrier values remain addressable (a sink deriving the table's
    * final shape must consult the tracker, not this seq). */
  type DecodedBatch = (Long, Map[(String, String), (Seq[String], DataFrame)],
    Seq[(Long, String, String, String, String, String)])

  /** T5∘T6 composed IN the stream, the drainer's real shape: DDL frames
    * carried on the wire re-type the decode of every SUBSEQUENT frame of
    * their table — in the same micro-batch or any later one — and EVERY
    * table on the shared wire decodes against its own schema history in
    * one stream (ref: drainer/syncer.go:374-397 routes each mutation's
    * table through the versioned catalog and decodes it at the schema in
    * force at its commit ts; drainer/schema.go:293-331 replays DDL jobs per
    * table up to that version).
    *
    * `wire` is a pb-binlog wire stream
    * ([[graft.sources.PbBinlogFile.readStream]]): DML frames carry a JSON
    * `props` payload; a DDL frame (`op = "DDL"`,
    * `ddl_sql = "ALTER TABLE s.t MODIFY COLUMN c TYPE"`) changes how later
    * frames' `props` decode. `tableOf` names each DML frame's table (an
    * expression over the envelope — typically a routing column); the
    * decode set is every table registered in the tracker under
    * `schemaName`, plus tables a wire CREATE TABLE registers (or a RENAME
    * TABLE re-homes) mid-stream.
    *
    * Inside `foreachBatch` a driver-side walk (no Spark plan) applies the
    * batch's DDL IN COMMIT-TS ORDER (DDL is rare and totally ordered —
    * metadata-sized collect) one logged record at a time. The cut rule:
    * each record cuts exactly the tables whose catalog entry it changed —
    * their current shape's interval closes at the record's commit ts and
    * the new shape's opens there — so a foreign table's DDL neither cuts
    * nor reshapes another table's decode, and no statement kind needs a
    * cut of its own. A frame AT the DDL's commit ts still decodes with
    * the old shape — the DDL takes effect after its own commit, matching
    * the loader's barrier convention. After the walk, each touched table
    * with a non-empty interval decodes DISTRIBUTED as ONE frame: its rows
    * of those intervals, each read with the `from_json` schema of its
    * interval's shape, built from the tracked column defs
    * (`StructType.fromDDL`), with NULL where its shape lacks a column.
    *
    * The decode has one output, its sink `emit`, which receives each
    * touched table's decoded frame, built over the pinned wire batch (see
    * [[DecodedBatch]]); the decode itself writes no table, and a composing
    * sink such as the JDBC loader runs the decode inside its own stages.
    * Each row is stamped with the schema version that decoded it (the
    * per-table shape the multi-table JDBC loader consumes), and only
    * tables the batch carries DML for get a frame — per-batch work scales
    * with the touched set, so a sparse-traffic table is simply absent
    * from batches that never mention it. Frames addressing no tracked
    * table drop, like the reference's filter-then-load contract — routing
    * upstream decides what reaches the decode.
    *
    * Replay safety: the batch decodes against a fork of the tracker
    * ([[SchemaTracker.fork]]), to which the walk applies each DDL record
    * through the same interpreter as the commit and the restart. The DDL
    * log is written before the sink runs, and the live tracker advances
    * only AFTER the sink returns, so a batch that fails in its sink
    * replays from an unchanged tracker and recomputes the same frames
    * from the wire; a sink that writes must make its writes idempotent
    * per batch id. The applied DDLs of every table overwrite
    * `outDir/ddl/batch=<id>` — one shared action-tagged log ordered by
    * commit ts, the durable source of truth a RESTARTED process replays
    * into a fresh tracker via [[recoverDecodeTracker]] (the tracker itself
    * is driver memory and dies with the process); it is the only thing the
    * decode writes under `outDir`.
    *
    * Skipped statements and below-frontier frames are counted per query:
    * read them with [[decodeCounts]] or, per progress event, through
    * [[DecodeMetricsListener]]. */
  def ddlDrivenDecodeTables(wire: DataFrame, tracker: SchemaTracker,
      outDir: String, checkpoint: String, schemaName: String,
      tableOf: Column, emit: DecodedBatch => Unit,
      fillOriginDefaults: Boolean = false): StreamingQuery =
    decodeQuery(wire, tracker, outDir, checkpoint, Seq(schemaName),
      schemaOf = None, tableOf = tableOf, emit, fillOriginDefaults)

  /** The reference catalog's FULL shape: EVERY schema on the shared wire
    * decodes in one stream (ref: drainer/schema.go:43-62 — the `schemas`
    * map tracks all databases at once; drainer/syncer.go:374-397 routes
    * each mutation by (schema, table)). `schemaOf`/`tableOf` name each DML
    * frame's database and table (expressions over the envelope — typically
    * routing columns); the decode set is every table the tracker has
    * registered under any of `schemas`, plus tables a wire CREATE TABLE
    * registers (or a RENAME TABLE re-homes — including ACROSS schemas)
    * mid-stream. Each schema's DDL reshapes only its own tables; two
    * schemas may carry the same table NAME without interference; the
    * frames `emit` receives are keyed by (schema, table) exactly as on
    * the single-schema entry point. The one shared action-tagged DDL log
    * (already schema-qualified) replays N schemas' histories through the
    * unchanged [[recoverDecodeTracker]]. */
  def ddlDrivenDecodeSchemas(wire: DataFrame, tracker: SchemaTracker,
      outDir: String, checkpoint: String, schemas: Seq[String],
      schemaOf: Column, tableOf: Column, emit: DecodedBatch => Unit,
      fillOriginDefaults: Boolean = false): StreamingQuery =
    decodeQuery(wire, tracker, outDir, checkpoint, schemas, Some(schemaOf),
      tableOf, emit, fillOriginDefaults)

  /** Test hook: per-output-dir count of the live tables in the last
    * batch's driver-side key subset — the O(touched ∪ addressed)
    * discipline is asserted by spec against a wide registration (never
    * consulted by product code). */
  private[graft] val lastDriverCatalogSizes =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Lower-case the schema/table identifiers of one parsed wire statement
    * — applied when the tracker opts into `foldCase` (column identifiers
    * never fold; see [[SchemaTracker]]'s policy note). Locale.ROOT keeps
    * the fold byte-identical to Spark's locale-independent `lower()`. */
  private def foldWireDdl(d: WireDdl): WireDdl = {
    def f(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    d match {
      case x: ColumnDdl     => x.copy(schema = f(x.schema), table = f(x.table))
      case x: TruncateDdl   => TruncateDdl(f(x.schema), f(x.table))
      case x: CreateDdl     => x.copy(schema = f(x.schema), table = f(x.table))
      case x: DropTableDdl  => DropTableDdl(f(x.schema), f(x.table))
      case x: RenameDdl     =>
        RenameDdl(f(x.schema), f(x.table), x.toSchema.map(f), f(x.to))
      case x: DropSchemaDdl => DropSchemaDdl(f(x.schema))
      case x: FlashbackDdl  => FlashbackDdl(f(x.schema), f(x.table), x.to.map(f))
      case x: CreateLikeDdl => x.copy(schema = f(x.schema), table = f(x.table),
        srcSchema = f(x.srcSchema), srcTable = f(x.srcTable))
      case other            => other
    }
  }

  /** Name of the `observe()` node every decode query carries — its
    * aggregates land in `StreamingQueryProgress.observedMetrics` per
    * micro-batch. */
  val DecodeObservationName = "graft_decode"

  /** The decode's two driver-side counts per streaming query id — walk
    * products no plan expression can compute: administrative or untracked
    * statements skipped (ref: drainer/schema.go:333-353,
    * drainer/syncer.go:436-462 log and continue) and frames delivered
    * below their table's applied DDL frontier. The id is the one the
    * checkpoint persists, so a restart from the same checkpoint in the
    * same process continues its totals. One small entry per decode query
    * the process has run. */
  private val countsById =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Map[String, Long]]()
  private val noCounts =
    Map("skipped_ddl_total" -> 0L, "below_frontier_frames_total" -> 0L)

  /** The cumulative `skipped_ddl_total` and `below_frontier_frames_total`
    * of the decode query `queryId` (both 0 before its first count). The
    * decode counts on the query's own stream thread, so after
    * `processAllAvailable` returns the totals cover every finished batch. */
  def decodeCounts(queryId: java.util.UUID): Map[String, Long] =
    Option(countsById.get(queryId)).getOrElse(noCounts)

  private def addCount(queryId: java.util.UUID, key: String, n: Long): Unit = {
    countsById.merge(queryId, noCounts + (key -> n),
      (old, _) => old + (key -> (old(key) + n)))
    ()
  }

  /** A4 metrics through the STREAMING ENGINE's own progress path: merges
    * each decode query's observed event counts (plan-side aggregates —
    * ddl_frames, dml_frames, max_commit_ts) with its [[decodeCounts]]
    * (skipped administrative DDL, below-frontier frames), keyed by query
    * id. An operator reads ONE map per query from progress events instead
    * of digging counters out of the Spark UI (ref: drainer/metrics.go
    * registers event counters and skipped-job counts as first-class
    * Prometheus metrics). Register with `spark.streams.addListener`; one
    * listener serves every decode query of the session. Snapshots persist
    * past query stop (progress events are asynchronous — poll [[snapshot]]
    * until the expected batch shows).
    * Semantics mirror Prometheus: the observed fields are PER-BATCH, the
    * `_total` counter fields are CUMULATIVE reads taken when the progress
    * event is handled — on a live multi-batch stream a single total may
    * attribute a later batch's counts to the event in hand, but the
    * per-event `_delta` fields TELESCOPE: the listener retains the
    * last-seen counter values per query and publishes the difference with
    * each event (also kept in the [[deltas]] history), so the running sum
    * of published deltas always equals the latest total exactly — a
    * mid-stream consumer reads exact increments, and the converged
    * post-stream snapshot is exact as before. */
  final class DecodeMetricsListener(maxDeltaDepth: Int = 1024)
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val byId =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Map[String, Long]]()
    private val lastSeen =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Map[String, Long]]()
    private val deltasById =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Vector[Map[String, Long]]]()
    private val droppedById =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()
    def snapshot(queryId: java.util.UUID): Map[String, Long] =
      Option(byId.get(queryId)).getOrElse(Map.empty)
    /** The per-event counter increments published so far, oldest first —
      * their field-wise sum equals the snapshot's `_total` fields while
      * the history is complete. The history keeps the most recent
      * `maxDeltaDepth` increments; evictions are NOT silent — the
      * snapshot's `deltas_dropped_total` field counts them, so a consumer
      * relying on the sum(deltas)==total identity checks it for 0 instead
      * of discovering the gap as a mismatch. Per-query state is otherwise
      * bounded, one map per query. */
    def deltas(queryId: java.util.UUID): Seq[Map[String, Long]] =
      Option(deltasById.get(queryId)).getOrElse(Vector.empty)
    /** Drop all retained state for a finished query. The listener cannot
      * self-clean in onQueryTerminated: progress events are asynchronous
      * and may land AFTER the terminate event — post-stop polling of
      * [[snapshot]] is the documented read pattern — so a long-lived
      * operator registering ONE listener across many queries calls this
      * after its final read. */
    def forget(queryId: java.util.UUID): Unit = {
      byId.remove(queryId); lastSeen.remove(queryId)
      deltasById.remove(queryId); droppedById.remove(queryId); ()
    }
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val row = e.progress.observedMetrics.get(DecodeObservationName)
      if (row != null) {
        // cumulative counter reads (see the class note on semantics)
        val counters = decodeCounts(e.progress.id)
        val prev = Option(lastSeen.get(e.progress.id)).getOrElse(Map.empty)
        val delta = counters.map { case (k, v) =>
          k.stripSuffix("_total") + "_delta" -> (v - prev.getOrElse(k, 0L))
        }
        lastSeen.put(e.progress.id, counters)
        deltasById.compute(e.progress.id, (_, old) => {
          val a = (if (old == null) Vector.empty else old) :+ delta
          if (a.size <= maxDeltaDepth) a
          else {
            droppedById.merge(e.progress.id,
              java.lang.Long.valueOf((a.size - maxDeltaDepth).toLong),
              (x, y) => java.lang.Long.valueOf(x.longValue + y.longValue))
            a.takeRight(maxDeltaDepth)
          }
        })
        val dropped =
          Option(droppedById.get(e.progress.id)).fold(0L)(_.longValue)
        val obs = row.schema.fieldNames.zipWithIndex.collect {
          case (n, i) if !row.isNullAt(i) => n -> row.getLong(i)
        }.toMap
        byId.put(e.progress.id,
          obs ++ counters ++ delta + ("deltas_dropped_total" -> dropped))
      }
    }
  }

  /** The body of [[ddlDrivenDecodeTables]] and [[ddlDrivenDecodeSchemas]]:
    * the driver-side cut walk, then one decoded frame per touched table.
    *
    * `fillOriginDefaults = true` opts into the reference's DECODE-TIME
    * T7 fill (ref: drainer/translator/translator.go:169-227
    * getDefaultOrZeroValue fills columns missing from the row data): a
    * row that PREDATES a column added with a CONSTANT default reads that
    * default — cast through the column's wire type, the reference's
    * normalization — and one predating a NOT NULL add WITHOUT a default
    * reads the type's zero value, from the decode's own output instead
    * of NULL. The fill gates on the row's own interval LACKING the column,
    * so an EXPLICIT payload null from any version where the column
    * existed survives (including between a drop and a re-add); a
    * CURRENT_TIMESTAMP-family default evaluates at the DDL frame's own
    * commit-ts (TiDB pins OriginDefaultValue at DDL execution), other
    * expression defaults never substitute, and [[DecodeFill]] documents
    * the NULL-filling divergences (non-timestamp expression defaults,
    * zero-datetime adds Spark cannot represent). Default (false) keeps
    * version-correct
    * NULLs, with end-state parity reached at the sink's translated
    * `ADD COLUMN … DEFAULT` barrier instead (the M8/K1 composition) —
    * both equivalence points are supported. */
  private def decodeQuery(wire: DataFrame, tracker: SchemaTracker,
      outDir: String, checkpoint: String, schemas: Seq[String],
      schemaOf: Option[Column], tableOf: Column,
      emit: DecodedBatch => Unit,
      fillOriginDefaults: Boolean = false): StreamingQuery = {
    // identifier policy from the tracker (the lower_case_table_names
    // analog, SchemaTracker.foldCase): schema/table identifiers fold at
    // EVERY boundary — the routing expressions, the registration-derived
    // sets, and the parsed wire statements — so mixed-case traffic lands
    // on one table; column names never fold (from_json matches JSON keys
    // exactly as declared)
    val fold = tracker.foldCase
    def normId(id: String): String =
      if (fold) id.toLowerCase(java.util.Locale.ROOT) else id
    val trackedSchemas = schemas.map(normId).toSet
    // no routing expression: every frame is the one schema's
    val sOf = schemaOf.fold(lit(normId(schemas.head)))(
      s => if (fold) lower(s) else s)
    val tOf = if (fold) lower(tableOf) else tableOf
    // a table's frames: the single-schema decode matches the table alone
    // (its schema is a literal, and comparing it with itself is a
    // constant-true predicate Spark warns about per table); the multi-schema
    // decode keeps the schema match even over a one-schema set, because a
    // routed schema can carry a foreign schema's table of the same name
    def legOf(k: (String, String)): Column =
      if (schemaOf.isEmpty) tOf === lit(k._2)
      else sOf === lit(k._1) && tOf === lit(k._2)
    // A4-parity event counts in the query's own progress stream
    // (`StreamingQueryProgress.observedMetrics`) — [[DecodeMetricsListener]]
    // merges these with the query's [[decodeCounts]], so an operator reads
    // skips and frontier violations from progress events instead of the
    // Spark UI (ref: drainer/metrics.go counts events and skipped jobs as
    // first-class metrics)
    val observed = wire.observe(DecodeObservationName,
      count(when(col("op") === "DDL", lit(1))).as("ddl_frames"),
      count(when(col("op") =!= "DDL", lit(1))).as("dml_frames"),
      max(col("commit_ts")).as("max_commit_ts"))
    observed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch0: DataFrame, id: Long) =>
        val spark = batch0.sparkSession
        // foreachBatch runs on the query's stream thread, which carries
        // the query id as a local property — the key of this query's
        // driver-side counts
        val queryId = java.util.UUID.fromString(
          spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
        // administrative / unparseable-but-untracked statements SKIP with
        // a count instead of killing the stream — a replication query must
        // ride over a CREATE INDEX; only a statement that addresses a
        // TRACKED table's shape and cannot apply throws
        def skip(): Unit = addCount(queryId, "skipped_ddl_total", 1L)
        // the gather and every touched table's frame (read inside the
        // sink) scan this batch; pin it once — the gather's job fills the
        // cache — instead of re-running the source scan each time, and
        // keep it pinned until the sink returns.
        // NOT spread (r21, measured both ways): widening the narrow-wire
        // batch to cores looked right on paper — each table's frame
        // inherits the wire's segment count — but the per-frame fixed
        // costs it multiplies (32 tasks, 32 output files and their
        // read-back listing) exceeded the decode CPU it spread on every
        // multi-table wire (t6_multi_decode 1.41×, paired TimeQ); even
        // the widest single-table wire (t6_mysql_types, a 4.3 s decode)
        // only broke even. At production wire volumes the batch already
        // carries ≥ cores segments.
        val batch = batch0.persist()
        try {
          // ONE gather job per batch, which also fills the batch's cache:
          // each partition folds its DDL frames and, per (schema, table) it
          // carries DML for, the least commit ts ([[gatherPartition]]); the
          // driver merges the folds — metadata-sized. Every piece of
          // per-trigger driver state below (interval bounds, frontier
          // check, cuts) builds from (touched ∪ DDL-addressed), NEVER from
          // the full registration: at 100k tracked tables and sparse
          // traffic that is a handful of map entries per trigger, not 100k
          // (the catalog view itself is an O(1) fork).
          val folds = batch.select((col("op") === "DDL").as("is_ddl"),
              col("commit_ts"), col("ddl_sql"), sOf.as("s"), tOf.as("t"))
            .queryExecution.toRdd.mapPartitions(gatherPartition).collect()
          // DDL frames in commit-ts order (ties by statement text; a
          // missing statement text sorts first and parses to a counted
          // unknown)
          val ddls = folds.toSeq.flatMap(_._1)
            .sortBy { case (ts, sql) => (ts, Option(sql)) }
          // the tables this batch actually carries DML for, each with its
          // min commit ts (the frontier-violation precheck input) —
          // per-batch decode/emit work scales with THIS set
          val touchedMin: Map[(String, String), Long] =
            folds.toSeq.flatMap(_._2).groupMapReduce(_._1)(_._2)(math.min)
          val touched = touchedMin.keySet
          // parse once; the walk below dispatches the same parse (folded
          // under the tracker's identifier policy)
          val parsedDdls: Seq[(Long, String, Seq[WireDdl])] =
            ddls.map { case (ts, stmt) =>
              val parts = parseWireDdls(stmt)
              (ts, stmt, if (fold) parts.map(foldWireDdl) else parts)
            }
          // every (schema, table) a parsed statement may consult or
          // mutate — the walk's per-batch state (intervals, frontier) covers
          // exactly these keys, never the whole registration
          def keysOf(d: WireDdl): Seq[(String, String)] = d match {
            case c: ColumnDdl                  => Seq((c.schema, c.table))
            case TruncateDdl(s, t)             => Seq((s, t))
            case c: CreateDdl                  => Seq((c.schema, c.table))
            case DropTableDdl(s, t)            => Seq((s, t))
            case RenameDdl(s, t, toS, to)      => Seq((s, t), (toS.getOrElse(s), to))
            case FlashbackDdl(s, t, to)        => Seq((s, t), (s, to.getOrElse(t)))
            case CreateLikeDdl(s, t, s2, u, _) => Seq((s, t), (s2, u))
            case DropSchemaDdl(s)              => tracker.tablesOf(s).map(s -> _)
            case UnknownDdl(text)              =>
              qualsAddressed(text).map(q => (normId(q._1), normId(q._2)))
            case AdminDdl                      => Seq.empty
          }
          val subsetKeys: Seq[(String, String)] =
            (touched ++ parsedDdls.flatMap(_._3).flatMap(keysOf)).toSeq.sorted
          // the batch's catalog view: a fork of the tracker that the walk
          // advances record by record through applyLogged, the commit's
          // and the restart's own interpreter. The live tracker advances
          // only after the DDL log is durable and the sink has returned —
          // a crash before that replays against an unchanged tracker and
          // reproduces the same frames. A key the view does not hold is
          // foreign traffic whose frames drop.
          val view = tracker.fork()
          def live(k: (String, String)) = view.current(k._1, k._2)
          def isLive(k: (String, String)) = live(k).isDefined
          val seeded = subsetKeys.filter(isLive)
          lastDriverCatalogSizes.put(outDir, Integer.valueOf(seeded.size))
          // decode-time T7 fill state (only when opted in): columns ADDED
          // IN THIS BATCH — only those can leave missing-column NULLs in
          // this batch's frames (a column added in an earlier batch exists
          // in every interval decoded now). Transition semantics, entry
          // shape, and the documented NULL divergences live in
          // [[DecodeFill]].
          val fillState = new DecodeFill(fillOriginDefaults)
          // forward-only contract precheck from the SAME gather — a frame
          // delivered below ITS table's already-applied DDL frontier would
          // decode with the NEW schema (slicing happens within the batch;
          // ref: drainer/syncer.go decodes each DML at the schema in force
          // at its commit ts). The upstream ordered merge makes violations
          // impossible; if a pump ever breaks the contract, the count
          // surfaces instead of rows silently mis-typing. Registration
          // versions are 0/negative, so only tables with an applied wire
          // DDL contribute a frontier term; a touched table whose min
          // commit ts sits at/below its frontier carries violating frames.
          // EXACT counting needs a row-level pass — run it ONLY when the
          // precheck fires (never, under the ordered merge), keeping the
          // normal path at one gather job and O(touched) driver state.
          val suspect = touchedMin.filter { case (k, minTs) =>
            live(k).exists(i => i.version > 0 && minTs <= i.version)
          }
          if (suspect.nonEmpty) {
            // one map-literal lookup, not an OR-chain over the suspect set
            // (an OR-chain grows the codegen'd predicate linearly); keys
            // combine (schema, table) with a space — the lexer admits only
            // [A-Za-z0-9_] identifiers, so the key is collision-free
            val keyOf = concat(sOf, lit(" "), tOf)
            val frontiers = suspect.keys.map(k =>
              (k._1 + " " + k._2) -> live(k).get.version).toMap
            // a key outside the map reads NULL, which admits no frame
            val below = batch.filter(col("op") =!= "DDL" &&
              col("commit_ts") <= element_at(typedLit(frontiers), keyOf))
              .count()
            if (below > 0) addCount(queryId, "below_frontier_frames_total", below)
          }

          val applied = mutable.ArrayBuffer.empty[AppliedDdl]
          // the walk only RECORDS, per touched table: where its live shape's
          // interval opened (−∞ when live since the batch began), its
          // closed non-empty intervals (lo, hi, shape), and every column
          // def they decoded with, first-seen order, latest type winning —
          // `emit` casts by these, so pre-barrier values of a column
          // dropped or renamed away mid-batch still reach a composing sink
          val openAt = mutable.Map.empty[(String, String), Long]
          val cutsOf = mutable.Map.empty[(String, String),
            mutable.ArrayBuffer[(Long, Long, SchemaTracker.TableInfo)]]
          val defsOf = mutable.Map.empty[(String, String),
            mutable.LinkedHashMap[String, String]]
          // close `k`'s interval at `hi`. Defs record even for an EMPTY
          // interval (lo == hi: the later of several DDLs sharing one
          // commit ts, TiDB's one-ALTER-many-jobs shape), so a column added
          // and dropped at one ts stays addressable as a typed NULL column;
          // only a non-empty interval can hold rows, so only it cuts and
          // records a fill slice (see [[DecodeFill.recordSlice]])
          def close(k: (String, String), info: SchemaTracker.TableInfo,
              hi: Long): Unit = if (touched(k)) {
            val acc = defsOf.getOrElseUpdate(k, mutable.LinkedHashMap.empty)
            info.columns.foreach(d => acc += d.split(" ", 2)(0) -> d)
            val lo = openAt.getOrElse(k, Long.MinValue)
            if (lo < hi) {
              cutsOf.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ((lo, hi, info))
              fillState.recordSlice(k, info.version, wireSchemaOf(info).fieldNames.toSet)
            }
          }
          // walk the batch's DDLs in commit-ts order (driver-side: DDL is
          // rare and totally ordered). Only a DDL addressing a TRACKED
          // (schema, table) enters the log and so cuts that table's
          // intervals; everything else on the shared wire SKIPS with a
          // count — a foreign table's (or schema's) DDL, an administrative
          // statement, an unparseable statement of an untracked table must
          // neither crash the query nor (if column names collide) reshape
          // another table's decode (ref: drainer/schema.go applies each
          // job to ITS table's history only; schema.go:333-353 skips the
          // administrative job set). The loud throw remains for exactly
          // one class: a statement that addresses a tracked table's SHAPE
          // and cannot apply — skipping it would decode later frames
          // against a stale shape.
          parsedDdls.foreach { case (ts, stmt, parsedParts) =>
            // log one record and take all its effects, in order: apply it
            // to the view (every later statement sees what the commit will
            // see); cut — each key whose entry the record changed closes
            // its old shape at `ts` and opens its new one there; then feed
            // the fill, which alone reads `native`. A new shape Spark's DDL
            // parser rejects fails AT the statement — durably logging it
            // would instead kill the first decode of every restart replay.
            def log(s: String, t: String, action: String, column: String,
                arg: String, native: String = ""): Unit = {
              val before = subsetKeys.map(live)
              applied += ((ts, s, t, action, column, arg))
              applyLogged(view, s, t, action, column, arg, ts)
              subsetKeys.zip(before).foreach { case (k, was) =>
                val now = live(k)
                if (now != was) {
                  was.foreach(close(k, _, ts))
                  now.foreach { info =>
                    try wireSchemaOf(info) catch {
                      case e: Exception => throw new IllegalArgumentException(
                        s"wire DDL leaves ${info.schema}.${info.table} " +
                          s"undecodable: $stmt — defs (${info.columns.mkString(", ")}) " +
                          s"rejected by Spark's DDL parser (${e.getMessage})")
                    }
                    openAt(k) = ts
                  }
                }
              }
              // streamed F6: a truncate DROPS its table's frames at or
              // below its ts, which addressed the erased incarnation (ref:
              // drainer/syncer.go:744-762), and its defs with them, or a
              // composing sink would select a `<col>_str` only a
              // pre-truncate interval carried. KNOWN EDGE: keyed by name, a
              // same-batch DROP → CREATE → TRUNCATE also discards the
              // dropped incarnation's final rows (a degenerate chain)
              if (action == "truncate") {
                cutsOf.remove((s, t))
                defsOf.remove((s, t))
              }
              fillState.onRecord(s, t, action, column, arg, ts, native)
            }
            // one statement may carry several actions (multi-table
            // RENAME/DROP lists); each part dispatches independently
            parsedParts.foreach {
              case ColumnDdl(s, t, action, c, arg, dflt, dict, native)
                  if isLive((s, t)) =>
                val prior = live((s, t)).get
                // the tracker's dropColumn is lenient; a wire DROP COLUMN
                // of a column the table lacks fails here, at the statement
                if (action == "drop") view.dropped(prior, c, ts)
                log(s, t, action, c, arg, native)
                // an ADD's stripped DEFAULT is the column's ORIGIN default
                // (TiDB fills it for rows predating the column) — logged as
                // its own record so the T7-fill metadata survives restart.
                // A MODIFY/CHANGE default tail is NOT an origin default
                // (the column already exists; it only changes future
                // upstream inserts, which arrive with explicit values) and
                // is discarded like the admin SET DEFAULT form.
                if (action == "add")
                  dflt.foreach(d => log(s, t, "origin_default", c, d))
                // an ENUM/SET dictionary is metadata of the column's
                // CURRENT type — unlike an origin default it FOLLOWS
                // modify/change: record the new value list (keyed by the
                // post-statement name), or clear a stale one when the
                // type moves off enum/set
                if (action == "add" || action == "modify" || action == "change") {
                  val dictName =
                    if (action == "change") arg.split(" ", 2)(0) else c
                  dict match {
                    case Some(vs) =>
                      log(s, t, "dictionary", dictName, encodeDictArg(vs))
                    case None if prior.dicts.contains(c) =>
                      log(s, t, "dictionary", dictName, "")
                    case None => ()
                  }
                }
              case TruncateDdl(s, t) if isLive((s, t)) =>
                log(s, t, "truncate", "", "")
              case CreateDdl(s, t, cols, _, dflts, dicts)
                  if trackedSchemas(s) && !isLive((s, t)) =>
                // wire-registered table: decodes from its create ts forward
                // (a frame of t below the create has no schema to decode
                // against and drops, like any unrouted frame)
                log(s, t, "create_table", "", cols.mkString(", "))
                dflts.toSeq.sortBy(_._1).foreach { case (c, d) =>
                  log(s, t, "origin_default", c, d)
                }
                dicts.toSeq.sortBy(_._1).foreach { case (c, vs) =>
                  log(s, t, "dictionary", c, encodeDictArg(vs))
                }
              case CreateDdl(s, t, _, ifNotExists, _, _) if isLive((s, t)) =>
                // the already-tracked dispatch is EXPLICIT, not the default
                // skip: CREATE IF NOT EXISTS of a tracked name is a legal
                // upstream no-op (counted skip); the plain form is illegal
                // upstream (TiDB rejects it) and unappliable here — the
                // tracked-shape contract says throw, never silently drop
                if (ifNotExists) skip()
                else throw new IllegalArgumentException(
                  s"cannot apply wire CREATE TABLE of already-tracked $s.$t: " +
                    "illegal upstream and unappliable here — drop the " +
                    "statement upstream (F5 ddl-skip filter)")
              case DropTableDdl(s, t) if isLive((s, t)) =>
                // in-flight frames at/below the drop still decode (they
                // committed against the live table); later frames of the
                // dropped table are unaddressable and drop
                log(s, t, "drop_table", "", "")
              case DropSchemaDdl(s) if subsetKeys.exists(k => k._1 == s && isLive(k)) =>
                // every tracked table of the schema ends its decode at the
                // drop; the log records one drop_table per table, so a
                // restart replays the same end state (ref:
                // drainer/schema.go ActionDropSchema drops the schema's
                // tables from the catalog). The subset holds every table
                // of the schema: keysOf adds the registration's, and each
                // statement that registers one adds its own key.
                subsetKeys.filter(k => k._1 == s && isLive(k)).foreach { k =>
                  log(k._1, k._2, "drop_table", "", "")
                }
              case FlashbackDdl(s, t, toOpt)
                  if trackedSchemas(s) && !isLive((s, toOpt.getOrElse(t))) =>
                // TiDB FLASHBACK TABLE (ref: drainer/schema.go:435,
                // ActionRecoverTable handled like a create with the
                // dropped shape): the table re-registers — optionally
                // under a new name — with its drop-time shape, dictionaries
                // and origin defaults, decoding from the flashback forward.
                // The view's graveyard holds this batch's drops and forgets
                // a table once it is recovered. No recoverable shape (never
                // tracked, or already recovered) fails LOUDLY: the
                // recovered table lives in a tracked schema, so skipping
                // would silently detach its replication.
                val target = toOpt.getOrElse(t)
                if (view.droppedShape(s, t).isEmpty)
                  throw new IllegalArgumentException(
                    s"cannot apply wire FLASHBACK TABLE $s.$t: no recoverable " +
                      "drop-time shape (the table was never tracked, or was " +
                      "already recovered) — register it explicitly or drop " +
                      "the statement upstream (F5 ddl-skip filter)")
                log(s, t, "recover_table", "", if (target == t) "" else target)
              case FlashbackDdl(s, t, toOpt)
                  if trackedSchemas(s) && isLive((s, toOpt.getOrElse(t))) =>
                // occupied recovery target: illegal upstream (TiDB rejects
                // a FLASHBACK whose name exists) and unappliable here —
                // explicit loud dispatch, same contract as the plain
                // CREATE of a tracked name (a silent skip would leave the
                // graveyard entry armed for a later wrong recovery)
                throw new IllegalArgumentException(
                  s"cannot apply wire FLASHBACK TABLE $s.$t: recovery target " +
                    s"$s.${toOpt.getOrElse(t)} is already tracked — illegal " +
                    "upstream; drop the statement upstream (F5 ddl-skip filter)")
              case CreateLikeDdl(s, t, _, _, ifNotExists) if isLive((s, t)) =>
                // same explicit dispatch as plain CREATE of a tracked name
                if (ifNotExists) skip()
                else throw new IllegalArgumentException(
                  s"cannot apply wire CREATE TABLE $s.$t LIKE …: target is " +
                    "already tracked — illegal upstream and unappliable " +
                    "here; drop the statement upstream (F5 ddl-skip filter)")
              case CreateLikeDdl(s, t, s2, u, _)
                  if trackedSchemas(s) && !isLive((s, t)) =>
                // CREATE TABLE … LIKE: registers with the SOURCE's current
                // shape; logged as a plain create_table carrying the
                // resolved defs, so replay needs no LIKE resolution. An
                // unresolvable source fails LOUDLY for the same reason as
                // an unrecoverable FLASHBACK: the new table lives in a
                // tracked schema and upstream replicates it from here on.
                val src = live((s2, u)).getOrElse(
                  throw new IllegalArgumentException(
                    s"cannot apply wire CREATE TABLE $s.$t LIKE $s2.$u: " +
                      "the source is not tracked, so the new table's shape " +
                      "is unknown and it would silently detach — register " +
                      "the source or drop the statement upstream (F5 " +
                      "ddl-skip filter)"))
                log(s, t, "create_table", "", src.columns.mkString(", "))
                // LIKE copies type metadata too: an ENUM column's def maps
                // to STRING, so its value dictionary must ride along
                src.dicts.toSeq.sortBy(_._1).foreach { case (c, vs) =>
                  log(s, t, "dictionary", c, encodeDictArg(vs))
                }
              case RenameDdl(s, t, toSchemaOpt, to) if isLive((s, t)) =>
                val s2 = toSchemaOpt.getOrElse(s)
                if (!trackedSchemas(s2) || isLive((s2, to))) {
                  // a rename of a TRACKED table the decode cannot take must
                  // fail loudly — silently skipping it would detach the
                  // table's replication (later frames arrive under a name
                  // the decode does not know)
                  val why =
                    if (!trackedSchemas(s2))
                      s"target schema $s2 is outside the decode's schema set"
                    else s"target $s2.$to is already tracked"
                  throw new IllegalArgumentException(
                    s"cannot apply wire RENAME TABLE $s.$t TO $s2.$to: $why — " +
                      "drop the statement upstream (F5 ddl-skip filter) or " +
                      "restart the decode with a registration that can take it")
                }
                // the renamed table keeps its shape and history under the
                // new name — including ACROSS schemas (ref:
                // drainer/schema.go renameTable follows the table id
                // wherever it lands): in-flight frames still addressed to
                // the OLD name decode now, later frames arrive under the
                // NEW (schema, name) and continue the same schema history
                log(s, t, "rename_table", "", if (s2 == s) to else s"$s2.$to")
              case RenameDdl(s, t, toSchemaOpt, to)
                  if trackedSchemas(toSchemaOpt.getOrElse(s)) =>
                // RENAME of an UNTRACKED source INTO a tracked schema: the
                // target belongs to the replication set from this statement
                // on (the auto-track contract a wire CREATE TABLE gets),
                // but its shape is unknowable here — the source never
                // registered. Fatal, matching the CREATE…LIKE
                // unknown-source and unparseable-CREATE contracts: a
                // silent skip would drop every later frame of the
                // renamed-in table, detaching its replication forever.
                throw new IllegalArgumentException(
                  s"cannot apply wire RENAME TABLE $s.$t TO " +
                    s"${toSchemaOpt.getOrElse(s)}.$to: the source is not " +
                    "tracked, so the renamed-in table's shape is unknown " +
                    "and its frames would silently drop — register the " +
                    "source or drop the statement upstream (F5 ddl-skip " +
                    "filter)")
              case UnknownDdl(text) =>
                // scan EVERY qualified name (a multi-table RENAME/DROP
                // list may bury a tracked table behind untracked ones)
                qualsAddressed(text).map(q => (normId(q._1), normId(q._2)))
                  .find(isLive) match {
                  case Some((s, t)) =>
                    throw new IllegalArgumentException(
                      s"unappliable wire DDL addresses tracked table $s.$t: " +
                        s"$text — later frames would decode against a stale " +
                        "shape; drop the statement upstream (F5 ddl-skip " +
                        "filter) or extend the decode grammar")
                  case None if FlashbackVerbRe.pattern.matcher(text).matches =>
                    // an unrecognized FLASHBACK variant (FLASHBACK DATABASE
                    // of a tracked schema, an unqualified FLASHBACK TABLE of
                    // a tracked/dropped name, FLASHBACK CLUSTER) RECREATES
                    // tracked state — skipping it would detach the recreated
                    // tables' replication; same loud contract as a tracked-
                    // qual unknown (bare operands can over-match a foreign
                    // name that collides with a tracked one — loud beats
                    // silent for a statement family that rewrites history).
                    // The first QUALIFIED operand in a tracked schema counts
                    // too: the live-view scan above misses a DROPPED
                    // table's qual (a qualified TO target the grammar
                    // rejects recreates tracked state all the same).
                    val hit = qualsAddressed(text)
                      .find(q => trackedSchemas(normId(q._1)))
                      .map { case (s2, t2) => s"$s2.$t2" }
                      .orElse(flashbackBareIds(text).find { id0 =>
                        val id = normId(id0)
                        trackedSchemas(id) ||
                          // a live or dropped table this batch addresses
                          subsetKeys.exists(k => k._2 == id && (isLive(k) ||
                            view.droppedShape(k._1, k._2).isDefined)) ||
                          trackedSchemas.exists(s2 =>
                            // the live registration, not the subset —
                            // the bare name may be a tracked table this
                            // batch neither touched nor addressed
                            tracker.tablesOf(s2).contains(id) ||
                              tracker.droppedTables(s2).contains(id))
                      })
                    hit match {
                      case Some(id) => throw new IllegalArgumentException(
                        s"unappliable wire FLASHBACK addresses tracked state " +
                          s"(matched identifier: $id): $text — drop the " +
                          "statement upstream (F5 ddl-skip filter) or extend " +
                          "the decode grammar")
                      case None => skip()
                    }
                  case None if CreateTableVerbRe.pattern.matcher(text).matches &&
                      // the FIRST qual is the create TARGET — later quals
                      // are read-side references (a foreign CTAS reading a
                      // tracked schema creates nothing this decode owns)
                      qualsAddressed(text).headOption.exists(q =>
                        trackedSchemas(normId(q._1))) =>
                    // an unparseable CREATE TABLE of a NEW name in a TRACKED
                    // schema (CTAS, an option head the balanced-paren scan
                    // rejects): the new table belongs to the decode's
                    // replication set from this statement on, so its frames
                    // would silently drop — fatal, matching the
                    // CREATE…LIKE unknown-source contract
                    throw new IllegalArgumentException(
                      s"unparseable wire CREATE TABLE in tracked schema: " +
                        s"$text — the new table's frames would silently " +
                        "drop; drop the statement upstream (F5 ddl-skip " +
                        "filter) or extend the decode grammar")
                  case None => skip()
                }
              // administrative statements and parsed DDLs of untracked
              // tables/schemas: count and continue
              case _ => skip()
            }
          }
          // the batch end closes every still-live touched table; then each
          // table with an interval decodes as ONE frame: its rows of those
          // intervals tagged with their index `_i`, one `from_json` per
          // interval with wire columns (guarded by `_i`), and per column a
          // CASE over the intervals' string casts, NULL where an interval
          // lacks it. One interval folds to filter → parse → project. Each
          // parse is bound to ONE column in its own projection, so the
          // per-field reads are GetStructField over an attribute — a
          // `from_json(…).getField(f)` per field was one JsonToStructs per
          // output column (from_json is CodegenFallback; on the widest t6
          // wire the decode stages' executor time halved, 8.1 s → 3.8 s,
          // when the parse became single-bind). CollapseProject keeps the
          // split: it refuses to inline a non-cheap expression into many
          // references.
          touched.foreach(k => live(k).foreach(close(k, _, Long.MaxValue)))
          val frames = cutsOf.toSeq.sortBy(_._1).map { case (k, cuts0) =>
            val cuts = cuts0.toIndexedSeq
            val wires = cuts.map(c => wireSchemaOf(c._3))
            // the first branch whose guard holds; the last needs none, as
            // every row lies in some interval
            def caseOf(bs: IndexedSeq[(Column, Column)]): Column =
              if (bs.size == 1) bs.head._2
              else bs.init.tail.foldLeft(when(bs.head._1, bs.head._2)) {
                case (c, (p, v)) => c.when(p, v)
              }.otherwise(bs.last._2)
            def byCut(vs: IndexedSeq[Column]): Column =
              caseOf(vs.zipWithIndex.map { case (v, i) => (col("_i") === i, v) })
            val ts = col("commit_ts")
            // a DML row: op non-null and not DDL, spelled null-safe so that
            // a sink's filter for DDL rows over the frame (the loader's
            // barrier gather) folds to an empty relation in the optimizer
            // — `op = 'DDL'` substitutes into `op <=> 'DDL'`, not into
            // `op = 'DDL'` itself — instead of scanning the batch
            val parsed = batch
              .filter(col("op").isNotNull && !(col("op") <=> "DDL") && legOf(k) &&
                cuts.map { case (lo, hi, _) => ts > lo && ts <= hi }.reduce(_ || _))
              .withColumn("_i", caseOf(cuts.zipWithIndex.map {
                case ((_, hi, _), i) => (ts <= hi, lit(i))
              }))
              .select(col("*") +: wires.zipWithIndex.collect {
                case (w, i) if w.nonEmpty =>
                  val p = from_json(col("props"), w)
                  (if (cuts.size == 1) p else when(col("_i") === i, p)).as(s"__p$i")
              }: _*)
            def strCol(f: String): Column = byCut(wires.indices.map(i =>
              if (wires(i).fieldNames.contains(f)) col(s"__p$i").getField(f).cast("string")
              else lit(null).cast("string"))).as(s"${f}_str")
            // columns in the order the shapes first show them: the first
            // interval's, the version stamp, then later and empty
            // intervals' additions. op rides through: a decoded binlog
            // item keeps its mutation type (I/U/D) for any downstream apply
            val first = wires.head.fieldNames.toSeq
            val later = (wires.tail.flatMap(_.fieldNames) ++ defsOf(k).keys)
              .distinct.filterNot(first.contains)
            val decoded = parsed.select(Seq(col("commit_ts"), col("pk"), col("op")) ++
              first.map(strCol) ++
              Seq(byCut(cuts.map(c => lit(c._3.version))).as("schema_version")) ++
              later.map(strCol): _*)
            // decode-time T7 fill (opt-in; see the decodeQuery note and
            // [[DecodeFill.fold]]): gated on the row's interval LACKING the
            // column, so an explicit payload null from any version where
            // it existed survives; each constant casts through ITS add's
            // wire type (ref: translator.go:169-227 evaluates the default
            // through the column type), so `DEFAULT 1.50` on a
            // DECIMAL(10,1) fills the decode's own spelling `1.5`.
            k -> ((defsOf(k).values.toSeq, fillState.fold(k, decoded)))
          }
          import spark.implicits._
          // written only when non-empty (an empty parquet dir is
          // schema-less and would break the recovery read); a replayed
          // batch regenerates the same DDL set, so the skip is
          // deterministic. One task, one file: the rows are driver-local
          // and few.
          // `seq` pins the WALK order: several records can share a version
          // (a multi-table RENAME's chained parts, a DROP DATABASE
          // expansion) and a chained rename only replays correctly in
          // statement order
          if (applied.nonEmpty)
            applied.toSeq.zipWithIndex
              .map { case ((v, s, t, a, c, g), i) => (v, s, t, a, c, g, i.toLong) }
              .toDF("version", "schema_name", "table_name", "action",
                "column_name", "arg", "seq")
              .coalesce(1)
              .write.mode("overwrite").parquet(s"$outDir/ddl/batch=$id")
          // the sink consumes the decoded batch AFTER the DDL log is
          // durable and BEFORE the live catalog advances — a crash inside
          // the sink replays the batch identically from the wire, and an
          // idempotent sink (batch-id guard) skips what it already did.
          // The frames read the pinned batch, so the finally releases it
          // only after the sink returns
          emit((id, frames.toMap, applied.toSeq))
          // only now does the live catalog advance — a crash anywhere
          // above replays this batch against the unchanged tracker
          applied.foreach { case (v, s, t, action, c, arg) =>
            applyLogged(tracker, s, t, action, c, arg, v)
          }
          ()
        } finally { batch.unpersist(); () }
      }
      .start()
  }

  /** Restart path for the decode family ([[ddlDrivenDecodeTables]],
    * [[ddlDrivenDecodeSchemas]]): replay the durable DDL log into
    * a fresh tracker (in version order, skipping anything the tracker
    * already has) before starting the query — the streaming checkpoint
    * restores the SOURCE position, this restores the CATALOG position
    * (ref: the drainer reloads its schema history from storage on restart,
    * drainer/schema.go:43-62).
    *
    * Only DDLs of COMMITTED batches apply: a crash can land between the
    * DDL-log write and the streaming commit, and the engine then REPLAYS
    * that batch — recovering its DDL here would put the tracker ahead of
    * the replay and decode the batch's pre-DDL slices with the post-DDL
    * schema (the exact hazard the deferred-tracker-advance exists to
    * prevent). The commit frontier is read from the checkpoint's own
    * `commits/` log; the replayed batch re-derives and rewrites its DDL
    * log identically. */
  def recoverDecodeTracker(spark: SparkSession, outDir: String,
      checkpoint: String, tracker: SchemaTracker): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(outDir), conf)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/ddl"))) return
    val commitsDir = new org.apache.hadoop.fs.Path(s"$checkpoint/commits")
    val cfs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(checkpoint), conf)
    val committed =
      if (!cfs.exists(commitsDir)) -1L
      else cfs.listStatus(commitsDir).map(_.getPath.getName)
        .flatMap(n => scala.util.Try(n.toLong).toOption)
        .foldLeft(-1L)(math.max)
    if (committed < 0) return
    // the replay threshold is the version the tracker held BEFORE this
    // replay — checked against a snapshot, not the advancing version: one
    // wire statement can expand to SEVERAL log records at ONE version (a
    // chained multi-table RENAME, a DROP DATABASE expansion), and a guard
    // against the advancing version would apply the first group member
    // and silently skip the rest. Ties within a version replay in the
    // live walk's statement order via `seq` (a chained rename is
    // order-DEPENDENT).
    val start = tracker.version
    spark.read.parquet(s"$outDir/ddl")
      .filter(col("batch") <= committed)
      .orderBy(col("version"), col("batch"), col("seq")).collect().foreach { r =>
        val v = r.getAs[Long]("version")
        if (v > start)
          applyLogged(tracker, r.getAs[String]("schema_name"),
            r.getAs[String]("table_name"), r.getAs[String]("action"),
            r.getAs[String]("column_name"), r.getAs[String]("arg"), v)
      }
  }

  /** Flagship streaming path: change stream → per-batch merge-by-PK upsert
    * into the materialized state with exactly-once batch ids. */
  def applyToState(changes: DataFrame, stateRoot: String, checkpoint: String): StreamingQuery = {
    val sink = new UpsertSink(stateRoot)
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink.applyBatch(batch, batchId): Unit
      }
      .start()
  }

  /** K1 streaming path: the same per-batch merge-by-PK apply, but into a
    * real SQL database through [[graft.sinks.JdbcUpsertSink]] (embedded
    * Derby locally; any JDBC URL on a cluster). The batched apply always
    * REPLACEs, so the post-restart replay window the reference covers with
    * safe mode is idempotent by construction here. */
  def applyToJdbc(changes: DataFrame, url: String, checkpoint: String): StreamingQuery = {
    val sink = new graft.sinks.JdbcUpsertSink(url)
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink.applyBatch(batch, batchId): Unit
      }
      .start()
  }

  /** The reference drainer's MAINLINE topology as a stream: one change
    * stream fanned by router predicates (F9 shape) into per-table slices,
    * each micro-batch applied through the schema-driven multi-table loader
    * — per-table column lists, unique-key merge, DDL barriers — in ONE
    * loader transaction scope with ONE checkpoint row, so a restart
    * replays or skips the whole batch atomically across every routed
    * table (ref: drainer/syncer.go feeding pkg/loader/load.go:706-724).
    * `routes` maps target table name → predicate over the change envelope;
    * rows matching no route are dropped (the reference's filter-then-load
    * contract — F1/F9 decide what reaches the loader). `merge = false`
    * selects the loader's sequence-preserving causality path (the reference
    * default) — required when a micro-batch can carry a unique-key
    * migration chain whose intermediate states must stay legal under a
    * live secondary index; `merge = true` is the compacting
    * high-throughput mode. */
  def applyToJdbcTables(changes: DataFrame, url: String, checkpoint: String,
      routes: Map[String, Column],
      applyPartitions: Int = 16, merge: Boolean = true,
      safeMode: Boolean = false): StreamingQuery = {
    val loader = new graft.sinks.JdbcSchemaLoader(url,
      applyPartitions = applyPartitions)
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // every route (and the loader's DDL-barrier gather) filters the
        // same micro-batch: without pinning it, N tables re-run the source
        // scan N + 1 times (the gather, then one merge per table)
        val b = batch.persist()
        try {
          val slices = routes.map { case (t, pred) => t -> b.filter(pred) }
          loader.applyBatch(slices, batchId, merge = merge,
            safeMode = safeMode): Unit
        } finally { b.unpersist(); () }
      }
      .start()
  }
}
