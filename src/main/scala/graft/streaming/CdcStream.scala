package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

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

  /** T2 over the WIRE envelope: the multi-pump binlog merge the versioned
    * decode consumes — one watermark PER pump before the union (the same
    * min-frontier mechanism as [[mergedPumpStream]]) over
    * [[graft.sources.PbBinlogFile.readStream]] sources, so a lagging pump
    * holds the decode frontier and no frame can arrive below an applied
    * DDL's commit ts — the delivery contract the decode's
    * `below_frontier_frames_total` count audits ([[decodeCounts]]; ref:
    * drainer/merge.go:236-335 feeding drainer/syncer.go).
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
  private def decodeDictArg(arg: String): Vector[String] =
    if (arg.isEmpty) Vector.empty
    else splitTopLevel(arg, _ == ',', angles = false)
      .map(v => unquoteLiteral(v.trim))

  /** Replay one logged DDL into the tracker — the single dispatch both the
    * live commit path and [[recoverDecodeTracker]] use, so a restart can
    * never interpret a log record differently than the run that wrote it. */
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
        // arg = "to" (same schema) or "toSchema.to" (cross-schema re-home;
        // identifiers cannot carry '.', so the encoding is unambiguous)
        arg.split("\\.", 2) match {
          case Array(to)          => tracker.renameTable(schema, table, to, version)
          case Array(toS, to)     => tracker.renameTable(schema, table, toS, to, version)
        }
      // arg = the ORIGIN default expression stripped from the column def
      case "origin_default" =>
        tracker.setOriginDefault(schema, table, column, arg, version)
      // arg = the re-quoted ENUM/SET value list (empty clears)
      case "dictionary" =>
        tracker.setDictionary(schema, table, column, decodeDictArg(arg), version)
      case other => throw new IllegalArgumentException(s"unknown logged DDL action: $other")
    }

  /** Per-batch decoded output handed to a composing sink (see
    * [[ddlDrivenDecodeTables]]'s `emit`): the batch id, each table's
    * (column defs, string-decoded union frame), and the batch's applied
    * wire DDLs as (version, schema, table, action, column, arg). The
    * frame is a parquet scan of the table's written
    * `batch=<id>/table=<t>` dir, read with the union's schema — the sink
    * consumes the finished decode, never its lineage over the wire. The defs
    * are EVERY def the table's slices decoded with this batch —
    * first-seen order, latest type winning — NOT the end-of-batch shape:
    * a column dropped or renamed away mid-batch stays listed so its
    * pre-barrier values remain addressable (a sink deriving the table's
    * final shape must consult the tracker, not this seq). */
  type DecodedBatch = (Long, Map[String, (Seq[String], DataFrame)],
    Seq[(Long, String, String, String, String, String)])

  /** The multi-schema form of [[DecodedBatch]]: frames keyed by
    * (schema, table) — two databases on one wire can carry the same table
    * NAME, so a bare-name key would merge their decodes. */
  type DecodedBatchMulti = (Long, Map[(String, String), (Seq[String], DataFrame)],
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
    * TABLE re-homes) mid-stream. Inside `foreachBatch` the batch is split
    * at its DDL barriers IN COMMIT-TS ORDER (DDL is rare and totally
    * ordered — driver-side tracker state, metadata-sized collect); each
    * table's frames are sliced at ITS OWN DDL barriers only — a foreign
    * table's DDL neither cuts nor reshapes another table's decode — and
    * each slice between barriers decodes DISTRIBUTED with the `from_json`
    * schema the tracker holds at that version, built from the tracked
    * column defs (`StructType.fromDDL`). A frame AT the DDL's commit ts
    * still decodes with the old schema — the DDL takes effect after its
    * own commit, matching the loader's barrier convention.
    *
    * Each table's decoded union lands under
    * `outDir/data/batch=<id>/table=<t>`, each row stamped with the schema
    * version that decoded it (the per-table slice shape the multi-table
    * JDBC loader consumes). Only tables the batch carries DML for write a
    * dir — per-batch work scales with the touched set, so a sparse-traffic
    * table is simply absent from batches that never mention it (consumers
    * must enumerate existing dirs, not tracker.tablesOf × batch ids).
    * `emit` receives, per written table, a scan of that dir under the
    * union's schema (see [[DecodedBatch]]), so a composing sink's jobs
    * read the decoded rows instead of re-running the decode.
    * Frames addressing no tracked table drop, like the reference's
    * filter-then-load contract — routing upstream decides what reaches the
    * decode.
    *
    * Replay safety: the batch decodes against a LOCAL view of the catalog;
    * the live tracker advances only AFTER the batch's output and its DDL
    * log have been written, so a batch that fails mid-write replays from
    * an unchanged tracker and reproduces the same bytes. Output overwrites
    * its batch dirs (idempotent per batch id, the DrainerPipeline
    * outbinlog pattern); the applied DDLs of every table overwrite
    * `outDir/ddl/batch=<id>` — one shared action-tagged log ordered by
    * commit ts, the durable source of truth a RESTARTED process replays
    * into a fresh tracker via [[recoverDecodeTracker]] (the tracker itself
    * is driver memory and dies with the process).
    *
    * Skipped statements and below-frontier frames are counted per query:
    * read them with [[decodeCounts]] or, per progress event, through
    * [[DecodeMetricsListener]]. */
  def ddlDrivenDecodeTables(wire: DataFrame, tracker: SchemaTracker,
      outDir: String, checkpoint: String, schemaName: String,
      tableOf: Column,
      emit: Option[DecodedBatch => Unit] = None,
      fillOriginDefaults: Boolean = false): StreamingQuery =
    decodeQuery(wire, tracker, outDir, checkpoint, Seq(schemaName),
      schemaOf = lit(schemaName), tableOf = tableOf,
      layout = (id, _, t) => s"$outDir/data/batch=$id/table=$t",
      emit.map(f => (b: DecodedBatchMulti) =>
        f((b._1, b._2.map { case ((_, t), v) => t -> v }, b._3))),
      fillOriginDefaults)

  /** The reference catalog's FULL shape: EVERY schema on the shared wire
    * decodes in one stream (ref: drainer/schema.go:43-62 — the `schemas`
    * map tracks all databases at once; drainer/syncer.go:374-397 routes
    * each mutation by (schema, table)). `schemaOf`/`tableOf` name each DML
    * frame's database and table (expressions over the envelope — typically
    * routing columns); the decode set is every table the tracker has
    * registered under any of `schemas`, plus tables a wire CREATE TABLE
    * registers (or a RENAME TABLE re-homes — including ACROSS schemas)
    * mid-stream. Each schema's DDL reshapes only its own tables; two
    * schemas may carry the same table NAME without interference. Output
    * lands under `outDir/data/batch=<id>/schema=<s>/table=<t>`; the one
    * shared action-tagged DDL log (already schema-qualified) replays N
    * schemas' histories through the unchanged [[recoverDecodeTracker]]. */
  def ddlDrivenDecodeSchemas(wire: DataFrame, tracker: SchemaTracker,
      outDir: String, checkpoint: String, schemas: Seq[String],
      schemaOf: Column, tableOf: Column,
      emit: Option[DecodedBatchMulti => Unit] = None,
      fillOriginDefaults: Boolean = false): StreamingQuery =
    decodeQuery(wire, tracker, outDir, checkpoint, schemas, schemaOf, tableOf,
      layout = (id, s, t) => s"$outDir/data/batch=$id/schema=$s/table=$t",
      emit, fillOriginDefaults)

  /** Test hook: per-output-dir size of the last batch's driver-side
    * catalog view — the O(touched ∪ addressed) discipline is asserted by
    * spec against a wide registration (never consulted by product code). */
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

  /** `fillOriginDefaults = true` opts into the reference's DECODE-TIME
    * T7 fill (ref: drainer/translator/translator.go:169-227
    * getDefaultOrZeroValue fills columns missing from the row data): a
    * row that PREDATES a column added with a CONSTANT default reads that
    * default — cast through the column's wire type, the reference's
    * normalization — and one predating a NOT NULL add WITHOUT a default
    * reads the type's zero value, from the decode's own output instead
    * of NULL. The fill gates on the row's own slice LACKING the column,
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
      schemaOf: Column, tableOf: Column,
      layout: (Long, String, String) => String,
      emit: Option[DecodedBatchMulti => Unit],
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
    val sOf = if (fold) lower(schemaOf) else schemaOf
    val tOf = if (fold) lower(tableOf) else tableOf
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
        // the gather plus one filter per (table, slice) re-scan this batch;
        // pin it once instead of re-running the source scan each time.
        // NOT spread (r21, measured both ways): widening the narrow-wire
        // batch to cores looked right on paper — each slice leg inherits
        // the wire's segment count — but the per-leg fixed costs it
        // multiplies (32 tasks, 32 output files and their read-back
        // listing, per-leg scheduling) exceeded the decode CPU it spread
        // on every multi-table wire (t6_multi_decode 1.41×, paired TimeQ);
        // even the widest single-table wire (t6_mysql_types, a 4.3 s
        // decode leg) only broke even. At production wire volumes the
        // batch already carries ≥ cores segments.
        val batch = batch0.persist()
        try {
          // ONE gather job per batch, grouped by (is_ddl, schema, table):
          // result rows = the TOUCHED table set plus the DDL frames'
          // routing groups — metadata-sized. Every piece of per-trigger
          // driver state below (catalog view, slice seeds, frontier
          // check) builds from (touched ∪ DDL-addressed), NEVER from the
          // full registration: at 100k tracked tables and sparse traffic
          // that is a handful of map entries per trigger, not 100k.
          val gathered = batch.groupBy(
              (col("op") === "DDL").as("is_ddl"),
              sOf.as("s"), tOf.as("t"))
            .agg(
              sort_array(collect_list(when(col("op") === "DDL",
                struct(col("commit_ts"), col("ddl_sql"))))).as("ddls"),
              min(when(col("op") =!= "DDL", col("commit_ts"))).as("min_ts"))
            .collect()
          // DDL frames in commit-ts order (ties by statement text, the
          // pre-grouping sort_array convention; a missing statement text
          // sorts first and parses to a counted unknown)
          val ddls = gathered.filter(_.getBoolean(0)).toSeq
            .flatMap(_.getSeq[org.apache.spark.sql.Row](3))
            .map(r => (r.getLong(0), r.getString(1)))
            .sortBy { case (ts, sql) => (ts, if (sql == null) "" else sql) }
          // the tables this batch actually carries DML for, each with its
          // min commit ts (the frontier-violation precheck input) —
          // per-batch decode/write/emit work scales with THIS set
          // a NULL routing value can never match a table — drop it here
          // (it would NPE the key sort and poison the catalog build)
          val touchedMin: Map[(String, String), Long] = gathered
            .filter(r => !r.getBoolean(0) && !r.isNullAt(1) && !r.isNullAt(2))
            .map(r => (r.getString(1), r.getString(2)) -> r.getLong(4)).toMap
          val touched = touchedMin.keySet
          // parse once; the walk below dispatches the same parse (folded
          // under the tracker's identifier policy)
          val parsedDdls: Seq[(Long, String, Seq[WireDdl])] =
            ddls.map { case (ts, stmt) =>
              val parts = parseWireDdls(stmt)
              (ts, stmt, if (fold) parts.map(foldWireDdl) else parts)
            }
          // every (schema, table) a parsed statement may consult or
          // mutate — membership in the local catalog view drives the
          // dispatch, so the view must cover these keys too
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
          // the LOCAL catalog view: the decode transforms this copy, and
          // the live tracker advances only after the batch's output and
          // DDL log are durable — a crash mid-write replays against an
          // unchanged tracker and reproduces the same bytes. An absent key
          // is simply foreign traffic whose frames drop.
          var catalog: Map[(String, String), tracker.TableInfo] =
            subsetKeys.flatMap(k =>
              tracker.current(k._1, k._2).map(k -> _)).toMap
          lastDriverCatalogSizes.put(outDir, Integer.valueOf(catalog.size))
          // drop-time shapes of tables dropped IN THIS BATCH — a same-batch
          // FLASHBACK reads these (the live tracker's graveyard only fills
          // when the batch commits); cross-batch recovery consults
          // tracker.droppedShape, and consumedGrave remembers which of
          // THOSE this batch already recovered (the tracker's graveyard
          // only shrinks at commit, so without it a duplicated FLASHBACK
          // would pass the guard twice and wedge the commit walk)
          var localGrave = Map.empty[(String, String), Vector[String]]
          var consumedGrave = Set.empty[(String, String)]
          // decode-time T7 fill state (only when opted in): columns ADDED
          // IN THIS BATCH — only those can leave missing-column NULLs in
          // this batch's union (a column added in an earlier batch exists
          // in every slice decoded now). Transition semantics, entry
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
            catalog.get(k).exists(i => i.version > 0 && minTs <= i.version)
          }
          if (suspect.nonEmpty) {
            // one map-literal lookup, not an OR-chain over the suspect set
            // (an OR-chain grows the codegen'd predicate linearly); keys
            // combine (schema, table) with a space — the lexer admits only
            // [A-Za-z0-9_] identifiers, so the key is collision-free
            val keyOf = concat(sOf, lit(" "), tOf)
            val frontiers = suspect.keys.map(k =>
              (k._1 + " " + k._2) -> catalog(k).version).toMap
            val below = batch.filter(col("op") =!= "DDL" &&
              col("commit_ts") <= coalesce(
                element_at(typedLit(frontiers), keyOf), lit(Long.MinValue)))
              .count()
            if (below > 0) addCount(queryId, "below_frontier_frames_total", below)
          }

          val applied = scala.collection.mutable.ArrayBuffer.empty[AppliedDdl]
          // seeded from the subset view, not the registration — see the
          // gather note above
          val slicesOf = scala.collection.mutable.LinkedHashMap(
            catalog.keys.toSeq.sorted.map(k =>
              k -> scala.collection.mutable.ArrayBuffer.empty[DataFrame]): _*)
          val lowerOf = scala.collection.mutable.Map(
            catalog.keys.toSeq.map(_ -> Long.MinValue): _*)
          // every column def a table's slices decoded with THIS batch, in
          // first-seen order with the latest type winning — `emit` casts
          // by these, so pre-barrier values of a column dropped or renamed
          // away mid-batch still reach a composing sink (whose target
          // loses the column only AT its own translated barrier)
          val defsOf = scala.collection.mutable.Map.empty[(String, String),
            scala.collection.mutable.LinkedHashMap[String, String]]
          // one decoded slice of table `k`: its frames in (lower, upper],
          // decoded DISTRIBUTED with the from_json schema the local view
          // holds — captured at plan-construction time. A table whose LAST
          // column was dropped decodes to the bare (commit_ts, pk,
          // schema_version) envelope (fromDDL("") would throw). A table
          // with no DML rows this batch has nothing to decode — skip the
          // whole job.
          def decodeSlice(k: (String, String), info: tracker.TableInfo,
              upper: Long): Unit = {
            if (!touched.contains(k)) return
            // defs record for EVERY cut, including empty ones below: a
            // column whose only slice was empty (added and dropped between
            // two DDLs sharing one commit ts) must stay addressable — the
            // batch-end union widens it back as a typed NULL column
            val acc = defsOf.getOrElseUpdate(k,
              scala.collection.mutable.LinkedHashMap.empty[String, String])
            info.columns.foreach(d => acc += d.split(" ", 2)(0) -> d)
            // an EMPTY interval — lower == upper, the second and later of
            // several DDLs sharing one commit ts (TiDB's one-ALTER-many-jobs
            // shape) — can hold no frames: `(x, x]` admits no commit ts.
            // Appending its leg anyway would scan the whole batch through
            // yet another from_json schema and open yet another parquet
            // writer per partition just to emit zero rows (a 9-ADD wire paid
            // ~5× the decode's task count this way). The leg's ONLY effect
            // was widening the union schema with all-NULL columns — the
            // batch-end widening reproduces exactly that from defsOf.
            // recordSlice was already gated on a non-empty interval
            // (intermediate shapes share the final slice's version — see
            // [[DecodeFill.recordSlice]]); lowerOf is already at upper.
            if (lowerOf(k) >= upper) return
            val wireSchema = if (info.columns.isEmpty) new StructType()
              else StructType.fromDDL(info.columns.mkString(", "))
            val leg = batch
              .filter(col("op") =!= "DDL" && sOf === lit(k._1) &&
                tOf === lit(k._2) &&
                col("commit_ts") > lowerOf(k) && col("commit_ts") <= upper)
            // the parse is bound to ONE column in its own projection, so
            // the per-field reads below are GetStructField over an
            // attribute — inlining `from_json(…).getField(f)` per field left
            // one JsonToStructs per output column (from_json is
            // CodegenFallback; measured on the widest t6 wire: the decode
            // stages' executor time halved, 8.1 s → 3.8 s, when the parse
            // became single-bind). CollapseProject keeps the split: it
            // refuses to inline a non-cheap expression into many
            // references. A leg with no wire columns (the table's last
            // column dropped) reads no field, so it binds no parse.
            val parsed = if (wireSchema.isEmpty) leg
              else leg.withColumn("__payload", from_json(col("props"), wireSchema))
            slicesOf(k) += parsed
              // op rides through: a decoded binlog item keeps its mutation
              // type (I/U/D) — any downstream apply needs it
              .select(Seq(col("commit_ts"), col("pk"), col("op")) ++
                wireSchema.fieldNames.toSeq.map(f =>
                  col("__payload").getField(f).cast("string").as(s"${f}_str")) :+
                lit(info.version).as("schema_version"): _*)
            fillState.recordSlice(k, info.version, wireSchema.fieldNames.toSet)
            lowerOf(k) = upper
          }
          // walk the batch's DDLs in commit-ts order (driver-side: DDL is
          // rare and totally ordered). Only a DDL addressing a TRACKED
          // (schema, table) cuts that table's slices and enters the log;
          // everything else on the shared wire SKIPS with a count — a
          // foreign table's (or schema's) DDL, an administrative
          // statement, an unparseable statement of an untracked table must
          // neither crash the query nor (if column names collide) reshape
          // another table's decode (ref: drainer/schema.go applies each
          // job to ITS table's history only; schema.go:333-353 skips the
          // administrative job set). The loud throw remains for exactly
          // one class: a statement that addresses a tracked table's SHAPE
          // and cannot apply — skipping it would decode later frames
          // against a stale shape. A frame AT a barrier's commit ts still
          // decodes with the old shape — the DDL takes effect after its
          // own commit, the loader's barrier rule. ADD/DROP change the
          // decode SHAPE: the per-batch union aligns slices by name with
          // nulls where a column did not exist yet (added: NULL before,
          // value after) or no longer exists (dropped: value before, NULL
          // after).
          parsedDdls.foreach { case (ts, stmt, parsedParts) =>
            // a DDL whose resulting defs Spark's DDL parser rejects (wire
            // types live in Spark's type domain) must fail AT the
            // statement — durably logging a broken def would instead kill
            // the first decode of every restart replay
            def validateDecodable(info: tracker.TableInfo): Unit =
              if (info.columns.nonEmpty)
                try { StructType.fromDDL(info.columns.mkString(", ")); () }
                catch {
                  case e: Exception =>
                    throw new IllegalArgumentException(
                      s"wire DDL leaves ${info.schema}.${info.table} " +
                        s"undecodable: $stmt — defs " +
                        s"(${info.columns.mkString(", ")}) rejected by " +
                        s"Spark's DDL parser (${e.getMessage})")
                }
            def shapeDdl(k: (String, String), action: String, column: String,
                arg: String)(f: tracker.TableInfo => tracker.TableInfo): Unit = {
              decodeSlice(k, catalog(k), ts)
              val next = f(catalog(k))
              validateDecodable(next)
              catalog += k -> next
              applied += ((ts, k._1, k._2, action, column, arg))
            }
            // one statement may carry several actions (multi-table
            // RENAME/DROP lists); each part dispatches independently
            parsedParts.foreach {
              case ColumnDdl(s, t, action, c, arg, dflt, dict, native)
                  if catalog.contains((s, t)) =>
                val prior = catalog((s, t))
                shapeDdl((s, t), action, c, arg)(i => action match {
                  case "modify" => tracker.retyped(i, c, s"$c $arg", ts)
                  case "add"    => tracker.added(i, s"$c $arg", ts)
                  case "drop"   => tracker.dropped(i, c, ts)
                  case "rename" => tracker.renamed(i, c, arg, ts)
                  case "change" => tracker.changed(i, c, arg, ts)
                })
                // an ADD's stripped DEFAULT is the column's ORIGIN default
                // (TiDB fills it for rows predating the column) — logged as
                // its own record so the T7-fill metadata survives restart.
                // A MODIFY/CHANGE default tail is NOT an origin default
                // (the column already exists; it only changes future
                // upstream inserts, which arrive with explicit values) and
                // is discarded like the admin SET DEFAULT form.
                if (action == "add")
                  dflt.foreach(d => applied += ((ts, s, t, "origin_default", c, d)))
                fillState.onColumnDdl((s, t), ts, action, c, arg, dflt, dict,
                  native)
                // an ENUM/SET dictionary is metadata of the column's
                // CURRENT type — unlike an origin default it FOLLOWS
                // modify/change: record the new value list (keyed by the
                // post-statement name), or clear a stale one when the
                // type moves off enum/set
                if (action == "add" || action == "modify" || action == "change") {
                  val dictName =
                    if (action == "change") arg.split(" ", 2)(0) else c
                  // the local view's dicts update WITH the record, so a
                  // same-batch follow-up statement sees current metadata
                  def putDict(d: Map[String, Vector[String]]): Unit =
                    catalog += (s, t) -> catalog((s, t)).copy(dicts = d)
                  dict match {
                    case Some(vs) =>
                      putDict(catalog((s, t)).dicts + (dictName -> vs))
                      applied += ((ts, s, t, "dictionary", dictName, encodeDictArg(vs)))
                    case None if prior.dicts.contains(c) =>
                      putDict(catalog((s, t)).dicts - dictName)
                      applied += ((ts, s, t, "dictionary", dictName, ""))
                    case None => ()
                  }
                }
              case TruncateDdl(s, t) if catalog.contains((s, t)) =>
                // streamed F6: in-flight frames of the truncated table at
                // or below the truncate commit ts DROP — they addressed
                // the old incarnation the truncate erased (ref:
                // drainer/syncer.go:744-762 drops in-flight mutations of
                // the old table id); later frames decode against the fresh
                // table (same shape, new version). The recorded defs clear
                // WITH the slices: a def only a pre-truncate slice decoded
                // (e.g. a column dropped earlier in this batch) would
                // otherwise make a composing sink select a `<col>_str` the
                // post-truncate union no longer carries. KNOWN EDGE: the
                // clear is keyed by name, so a same-batch DROP TABLE →
                // CREATE → TRUNCATE chain also discards the DROPPED
                // incarnation's final rows — incarnation-tagged slices
                // would be needed to keep them; the chain is degenerate
                // (the drop already ended that table's replication).
                slicesOf((s, t)).clear()
                defsOf.remove((s, t))
                lowerOf((s, t)) = ts
                fillState.onTruncate((s, t)) // pre-truncate rows left the output
                catalog += (s, t) -> catalog((s, t)).copy(version = ts)
                applied += ((ts, s, t, "truncate", "", ""))
              case CreateDdl(s, t, cols, _, dflts, dicts)
                  if trackedSchemas(s) && !catalog.contains((s, t)) =>
                // wire-registered table: decodes from its create ts forward
                // (a frame of t below the create has no schema to decode
                // against and drops, like any unrouted frame)
                val created = tracker.TableInfo(s, t, cols.toVector, ts,
                  dicts = dicts)
                validateDecodable(created)
                slicesOf.getOrElseUpdate((s, t),
                  scala.collection.mutable.ArrayBuffer.empty[DataFrame])
                lowerOf((s, t)) = ts
                catalog += (s, t) -> created
                fillState.onTableCreate((s, t))
                applied += ((ts, s, t, "create_table", "", cols.mkString(", ")))
                dflts.toSeq.sortBy(_._1).foreach { case (c, d) =>
                  applied += ((ts, s, t, "origin_default", c, d))
                }
                dicts.toSeq.sortBy(_._1).foreach { case (c, vs) =>
                  applied += ((ts, s, t, "dictionary", c, encodeDictArg(vs)))
                }
              case CreateDdl(s, t, _, ifNotExists, _, _) if catalog.contains((s, t)) =>
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
              case DropTableDdl(s, t) if catalog.contains((s, t)) =>
                // in-flight frames at/below the drop still decode (they
                // committed against the live table); later frames of the
                // dropped table are unaddressable and drop
                decodeSlice((s, t), catalog((s, t)), ts)
                localGrave += (s, t) -> catalog((s, t)).columns
                catalog -= ((s, t))
                // fill state stays: the dropped table's already-cut slices
                // still fold at batch end, and their pre-add rows still
                // read the fill — but the recorded boundary keeps a LATER
                // same-name add's default off this incarnation's rows
                fillState.onTableDrop((s, t))
                applied += ((ts, s, t, "drop_table", "", ""))
              case DropSchemaDdl(s) if catalog.keys.exists(_._1 == s) =>
                // every tracked table of the schema ends its decode at the
                // drop; the log records one drop_table per table, so a
                // restart replays the same end state (ref:
                // drainer/schema.go ActionDropSchema drops the schema's
                // tables from the catalog)
                catalog.keys.filter(_._1 == s).toSeq.sorted.foreach { k =>
                  decodeSlice(k, catalog(k), ts)
                  localGrave += k -> catalog(k).columns
                  catalog -= k
                  // fill state stays — same batch-end fold and boundary
                  // rationale as the DROP TABLE above
                  fillState.onTableDrop(k)
                  applied += ((ts, k._1, k._2, "drop_table", "", ""))
                }
              case FlashbackDdl(s, t, toOpt)
                  if trackedSchemas(s) && !catalog.contains((s, toOpt.getOrElse(t))) =>
                // TiDB FLASHBACK TABLE (ref: drainer/schema.go:435,
                // ActionRecoverTable handled like a create with the
                // dropped shape): the table re-registers — optionally
                // under a new name — with its drop-time columns, decoding
                // from the flashback forward. No recoverable shape (never
                // tracked, or already recovered this batch) fails LOUDLY:
                // the recovered table lives in a tracked schema, so
                // skipping would silently detach its replication.
                val target = toOpt.getOrElse(t)
                val shape = localGrave.get((s, t)).orElse(
                  if (consumedGrave((s, t))) None else tracker.droppedShape(s, t))
                  .getOrElse(throw new IllegalArgumentException(
                    s"cannot apply wire FLASHBACK TABLE $s.$t: no recoverable " +
                      "drop-time shape (the table was never tracked, or was " +
                      "already recovered) — register it explicitly or drop " +
                      "the statement upstream (F5 ddl-skip filter)"))
                // mark BOTH stores consumed: a flashback served from the
                // batch-local graveyard must also block the tracker's
                // (possibly stale, older-incarnation) entry from serving a
                // duplicated FLASHBACK of the same name — a legitimate
                // re-drop refills localGrave, which is checked first
                localGrave -= ((s, t))
                consumedGrave += ((s, t))
                slicesOf.getOrElseUpdate((s, target),
                  scala.collection.mutable.ArrayBuffer.empty[DataFrame])
                lowerOf((s, target)) = ts
                catalog += (s, target) -> tracker.TableInfo(s, target, shape, ts)
                fillState.onTableCreate((s, target))
                applied += ((ts, s, t, "recover_table", "",
                  if (target == t) "" else target))
              case FlashbackDdl(s, t, toOpt)
                  if trackedSchemas(s) && catalog.contains((s, toOpt.getOrElse(t))) =>
                // occupied recovery target: illegal upstream (TiDB rejects
                // a FLASHBACK whose name exists) and unappliable here —
                // explicit loud dispatch, same contract as the plain
                // CREATE of a tracked name (a silent skip would leave the
                // graveyard entry armed for a later wrong recovery)
                throw new IllegalArgumentException(
                  s"cannot apply wire FLASHBACK TABLE $s.$t: recovery target " +
                    s"$s.${toOpt.getOrElse(t)} is already tracked — illegal " +
                    "upstream; drop the statement upstream (F5 ddl-skip filter)")
              case CreateLikeDdl(s, t, _, _, ifNotExists) if catalog.contains((s, t)) =>
                // same explicit dispatch as plain CREATE of a tracked name
                if (ifNotExists) skip()
                else throw new IllegalArgumentException(
                  s"cannot apply wire CREATE TABLE $s.$t LIKE …: target is " +
                    "already tracked — illegal upstream and unappliable " +
                    "here; drop the statement upstream (F5 ddl-skip filter)")
              case CreateLikeDdl(s, t, s2, u, _)
                  if trackedSchemas(s) && !catalog.contains((s, t)) =>
                // CREATE TABLE … LIKE: registers with the SOURCE's current
                // shape; logged as a plain create_table carrying the
                // resolved defs, so replay needs no LIKE resolution. An
                // unresolvable source fails LOUDLY for the same reason as
                // an unrecoverable FLASHBACK: the new table lives in a
                // tracked schema and upstream replicates it from here on.
                val src = catalog.getOrElse((s2, u),
                  throw new IllegalArgumentException(
                    s"cannot apply wire CREATE TABLE $s.$t LIKE $s2.$u: " +
                      "the source is not tracked, so the new table's shape " +
                      "is unknown and it would silently detach — register " +
                      "the source or drop the statement upstream (F5 " +
                      "ddl-skip filter)"))
                val cols = src.columns
                slicesOf.getOrElseUpdate((s, t),
                  scala.collection.mutable.ArrayBuffer.empty[DataFrame])
                lowerOf((s, t)) = ts
                // LIKE copies type metadata too: an ENUM column's def maps
                // to STRING, so its value dictionary must ride along
                catalog += (s, t) -> tracker.TableInfo(s, t, cols, ts,
                  dicts = src.dicts)
                fillState.onTableCreate((s, t))
                applied += ((ts, s, t, "create_table", "", cols.mkString(", ")))
                src.dicts.toSeq.sortBy(_._1).foreach { case (c, vs) =>
                  applied += ((ts, s, t, "dictionary", c, encodeDictArg(vs)))
                }
              case RenameDdl(s, t, toSchemaOpt, to) if catalog.contains((s, t)) =>
                val s2 = toSchemaOpt.getOrElse(s)
                if (!trackedSchemas(s2) || catalog.contains((s2, to))) {
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
                decodeSlice((s, t), catalog((s, t)), ts)
                slicesOf.getOrElseUpdate((s2, to),
                  scala.collection.mutable.ArrayBuffer.empty[DataFrame])
                lowerOf((s2, to)) = ts
                catalog += (s2, to) -> catalog((s, t))
                  .copy(schema = s2, table = to, version = ts)
                catalog -= ((s, t))
                // COPY, don't move (see [[DecodeFill.onTableRename]]): the
                // old key's already-cut slices still need their fill at
                // batch end; the new key carries the entries forward
                fillState.onTableRename((s, t), (s2, to))
                applied += ((ts, s, t, "rename_table", "",
                  if (s2 == s) to else s"$s2.$to"))
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
                  .find(catalog.contains) match {
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
                    // too: the live-catalog scan above misses a DROPPED
                    // table's qual (a qualified TO target the grammar
                    // rejects recreates tracked state all the same).
                    val hit = qualsAddressed(text)
                      .find(q => trackedSchemas(normId(q._1)))
                      .map { case (s2, t2) => s"$s2.$t2" }
                      .orElse(flashbackBareIds(text).find { id0 =>
                        val id = normId(id0)
                        trackedSchemas(id) || catalog.keys.exists(_._2 == id) ||
                          localGrave.keys.exists(_._2 == id) ||
                          trackedSchemas.exists(s2 =>
                            // the LIVE registration, not the subset view —
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
          // tail slice per still-live table, then one write per table
          catalog.toSeq.sortBy(_._1).foreach { case (k, info) =>
            decodeSlice(k, info, Long.MaxValue)
          }
          val unions = slicesOf.toSeq.collect {
            case (k, slices) if slices.nonEmpty =>
              val merged0 = slices.reduce(_.unionByName(_, allowMissingColumns = true))
              // a def column missing from every appended leg (its only
              // slice was an empty interval decodeSlice skipped) widens
              // back as the typed NULL column that leg would have carried —
              // same union schema, zero extra scan
              val widened = defsOf(k).keys.foldLeft(merged0) { (df, c) =>
                if (df.columns.contains(s"${c}_str")) df
                else df.withColumn(s"${c}_str", lit(null).cast("string"))
              }
              // decode-time T7 fill (opt-in; see the decodeQuery note and
              // [[DecodeFill.fold]]): gated on the row's slice LACKING the
              // column, so an explicit payload null from any version where
              // it existed survives; each constant casts through ITS add's
              // wire type (ref: translator.go:169-227 evaluates the default
              // through the column type), so `DEFAULT 1.50` on a
              // DECIMAL(10,1) fills the decode's own spelling `1.5`.
              k -> ((defsOf(k).values.toSeq, fillState.fold(k, widened)))
          }
          // per-table writes are independent jobs — fan them out on the
          // bounded pool (ref: pkg/loader/load.go:508-527's 16 workers): a
          // trigger touching hundreds of tables must not serialize
          // hundreds of small driver-submitted jobs. Each table writes at
          // most one file per batch partition: its union of barrier legs
          // has legs × partitions partitions, and every sink job over the
          // written dir (the emitted scan below) pays one task per file
          val batchParts = batch.rdd.getNumPartitions
          graft.util.Par.foreachPar(unions) { case ((s, t), (_, df)) =>
            df.coalesce(batchParts).write.mode("overwrite").parquet(layout(id, s, t))
          }
          import spark.implicits._
          // written only when non-empty (an empty parquet dir is
          // schema-less and would break the recovery read); a replayed
          // batch regenerates the same DDL set, so the skip is
          // deterministic
          // `seq` pins the WALK order: several records can share a version
          // (a multi-table RENAME's chained parts, a DROP DATABASE
          // expansion) and a chained rename only replays correctly in
          // statement order
          if (applied.nonEmpty)
            applied.toSeq.zipWithIndex
              .map { case ((v, s, t, a, c, g), i) => (v, s, t, a, c, g, i.toLong) }
              .toDF("version", "schema_name", "table_name", "action",
                "column_name", "arg", "seq")
              .write.mode("overwrite").parquet(s"$outDir/ddl/batch=$id")
          // nothing below reads the wire batch: release its cache before
          // the composing sink runs (the finally still covers the error
          // path; a second unpersist is a no-op)
          batch.unpersist()
          // composing sink (e.g. a JDBC loader) consumes the decoded batch
          // AFTER the parquet log is durable and BEFORE the live catalog
          // advances — a crash inside the sink replays the batch
          // identically, and an idempotent sink (batch-id guard) skips.
          // Each frame is a scan of the table's WRITTEN dir under the
          // union's own schema (no inference job): every sink job reads
          // the decoded rows back instead of re-running the parse over the
          // wire batch
          emit.foreach(f => f((id, unions.map { case (k @ (s, t), (defs, df)) =>
            k -> ((defs, spark.read.schema(df.schema).parquet(layout(id, s, t))))
          }.toMap, applied.toSeq)))
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
    // mergeSchema: batch dirs written before the action-tagged log (or a
    // mixed directory across an upgrade) carry (column_name, new_type)
    // without an action column — read tolerant and default to the only
    // action that log shape could mean (modify)
    val log = spark.read.option("mergeSchema", "true").parquet(s"$outDir/ddl")
    val hasAction = log.columns.contains("action")
    val hasArg = log.columns.contains("arg")
    val hasLegacyType = log.columns.contains("new_type")
    // the replay threshold is the version the tracker held BEFORE this
    // replay — checked against a snapshot, not the advancing version: one
    // wire statement can expand to SEVERAL log records at ONE version (a
    // chained multi-table RENAME, a DROP DATABASE expansion), and a guard
    // against the advancing version would apply the first group member
    // and silently skip the rest. Ties within a version replay in the
    // live walk's statement order via `seq` (a chained rename is
    // order-DEPENDENT); logs from before the seq column carry only
    // order-independent ties (per-table drops), where the (schema, table)
    // fallback is cosmetic but pinned.
    val start = tracker.version
    val seqCol = if (log.columns.contains("seq")) col("seq")
      else lit(null).cast("long")
    log.filter(col("batch") <= committed)
      .orderBy(col("version"), seqCol.asc_nulls_first,
        col("schema_name"), col("table_name")).collect().foreach { r =>
        val v = r.getAs[Long]("version")
        val action = if (hasAction) Option(r.getAs[String]("action"))
          .getOrElse("modify") else "modify"
        val arg = {
          val a = if (hasArg) r.getAs[String]("arg") else null
          if (a != null) a
          else if (hasLegacyType) r.getAs[String]("new_type")
          else ""
        }
        if (v > start)
          applyLogged(tracker, r.getAs[String]("schema_name"),
            r.getAs[String]("table_name"), action,
            r.getAs[String]("column_name"), arg, v)
      }
  }

  /** Pin of the staged-wire oracle queries' single-batch assumption: their
    * DuckDB oracles compute TRUNCATE's in-flight drop (and every other
    * intra-batch interaction) as if the whole wire lands in ONE micro-batch
    * — true because the file stream's default admission is unlimited, but a
    * source-default change must fail the gate loudly, not silently decode
    * across batch boundaries the oracle doesn't model. */
  private def assertSingleBatch(spark: SparkSession, outDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val data = new org.apache.hadoop.fs.Path(s"$outDir/data")
    val fs = data.getFileSystem(conf)
    val batches = fs.listStatus(data).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).toSeq
    require(batches == Seq("batch=0"),
      s"staged-wire oracle expected exactly one micro-batch, got $batches — " +
        "the source drained in multiple triggers; the oracle SQL no longer " +
        "models the decode")
  }

  /** Oracle-checked multi-table decode (the [[ddlDrivenDecodeTables]]
    * composition under the hash gate): stage a TWO-table wire from the
    * events data — table `ta` (even pk) gets a MODIFY COLUMN at the
    * stream's midpoint, table `tb` (odd pk) a TRUNCATE at the 3/4 point —
    * decode it in one stream, and return the decoded rows. The DuckDB
    * oracle computes the same decode algebra straight from the parquet:
    * ta re-types after the midpoint (x.26 payloads round to x.3 — the
    * offset is deliberately tie-free, and the oracle casts through DOUBLE
    * because DuckDB TRUNCATES a decimal→decimal downscale while Spark's
    * from_json rounds half-up), tb's frames at/below the truncate drop
    * and later ones carry the truncate's version. Payload values ride mod
    * 1e6 so the JSON text never reaches double scientific notation at any
    * scale factor. */
  def multiDecodeQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.PbBinlogFile
    val (wireDir, outDir, ckpt) = stageWire(spark, dir, "mdec") {
      (changes, maxTs) =>
        wireDmlRows(changes,
          when(pmod(col("pk"), lit(2)) === 0, "ta").otherwise("tb"),
          concat(lit("{\"k\": "),
            (pmod(col("commit_ts"), lit(1000000L)).cast("double") + 0.26)
              .cast("string"),
            lit("}")))
          .unionByName(wireDdlRow(spark, maxTs / 2,
            "ALTER TABLE app.ta MODIFY COLUMN k DECIMAL(10,1)"))
          .unionByName(wireDdlRow(spark, 3 * maxTs / 4, "TRUNCATE TABLE app.tb"))
    }
    val tracker = new SchemaTracker()
    tracker.createTable("app", "ta", Seq("k DOUBLE"), version = 0)
    tracker.createTable("app", "tb", Seq("k DOUBLE"), version = 0)
    val q = ddlDrivenDecodeTables(PbBinlogFile.readStream(spark, wireDir),
      tracker, outDir, ckpt, "app", col("event_type"))
    drainDecode(q, spark, outDir)
    spark.read.parquet(s"$outDir/data")
      .select(col("table").cast("string").as("table_name"), col("commit_ts"),
        col("k_str"), col("schema_version"))
  }

  def multiDecodeSql: String =
    s"""WITH c AS (${graft.ops.Cdc.changesCte}),
       |b AS (SELECT max(commit_ts)//2 AS mid, (3*max(commit_ts))//4 AS t34 FROM c)
       |SELECT 'ta' AS table_name, c.commit_ts,
       |  CASE WHEN c.commit_ts <= b.mid
       |       THEN CAST((c.commit_ts % 1000000) + 0.26 AS VARCHAR)
       |       ELSE CAST(CAST(CAST((c.commit_ts % 1000000) + 0.26 AS DOUBLE) AS DECIMAL(10,1)) AS VARCHAR)
       |  END AS k_str,
       |  CASE WHEN c.commit_ts <= b.mid THEN 0 ELSE b.mid END AS schema_version
       |FROM c, b WHERE c.pk % 2 = 0
       |UNION ALL
       |SELECT 'tb' AS table_name, c.commit_ts,
       |  CAST((c.commit_ts % 1000000) + 0.26 AS VARCHAR) AS k_str,
       |  b.t34 AS schema_version
       |FROM c, b WHERE c.pk % 2 = 1 AND c.commit_ts > b.t34""".stripMargin

  /** Oracle-checked multi-SCHEMA decode (the [[ddlDrivenDecodeSchemas]]
    * composition under the hash gate): stage a two-database wire from the
    * events data — schema `sa` (even pk) and schema `sb` (odd pk) each
    * carry a table of the SAME name `t`, so the decode must route by the
    * schema dimension. `sa.t` gets a MODIFY COLUMN at the stream's
    * midpoint — written with mixed-case keywords and backticked
    * identifiers, so the lexer itself sits under the oracle gate — while
    * two administrative statements (a CREATE INDEX and an OPTIMIZE TABLE
    * aimed at `sb.t`) ride the wire and must SKIP without cutting
    * `sb`'s decode or bumping its version (the skip count is asserted in
    * line). Same tie-free x.26 payload algebra as [[multiDecodeQuery]]. */
  def schemaRoutedQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.PbBinlogFile
    val (wireDir, outDir, ckpt) = stageWire(spark, dir, "srt") {
      (changes, maxTs) =>
        wireDmlRows(changes,
          when(pmod(col("pk"), lit(2)) === 0, "sa:t").otherwise("sb:t"),
          concat(lit("{\"k\": "),
            (pmod(col("commit_ts"), lit(1000000L)).cast("double") + 0.26)
              .cast("string"),
            lit("}")))
          .unionByName(wireDdlRow(spark, maxTs / 2,
            "Alter Table `sa`.`t` Modify Column k DECIMAL(10,1)"))
          .unionByName(wireDdlRow(spark, 3 * maxTs / 4,
            "CREATE INDEX i_k ON sb.t (k)"))
          .unionByName(wireDdlRow(spark, 5 * maxTs / 8, "OPTIMIZE TABLE sb.t"))
    }
    val tracker = new SchemaTracker()
    tracker.createTable("sa", "t", Seq("k DOUBLE"), version = 0)
    tracker.createTable("sb", "t", Seq("k DOUBLE"), version = 0)
    val q = ddlDrivenDecodeSchemas(PbBinlogFile.readStream(spark, wireDir),
      tracker, outDir, ckpt, Seq("sa", "sb"),
      substring_index(col("event_type"), ":", 1),
      substring_index(col("event_type"), ":", -1))
    drainDecode(q, spark, outDir)
    val skipped = decodeCounts(q.id)("skipped_ddl_total")
    require(skipped == 2L,
      s"expected the 2 administrative wire statements skipped, got $skipped")
    spark.read.parquet(s"$outDir/data")
      .select(col("schema").cast("string").as("schema_name"),
        col("table").cast("string").as("table_name"), col("commit_ts"),
        col("k_str"), col("schema_version"))
  }

  def schemaRoutedSql: String =
    s"""WITH c AS (${graft.ops.Cdc.changesCte}),
       |b AS (SELECT max(commit_ts)//2 AS mid FROM c)
       |SELECT 'sa' AS schema_name, 't' AS table_name, c.commit_ts,
       |  CASE WHEN c.commit_ts <= b.mid
       |       THEN CAST((c.commit_ts % 1000000) + 0.26 AS VARCHAR)
       |       ELSE CAST(CAST(CAST((c.commit_ts % 1000000) + 0.26 AS DOUBLE) AS DECIMAL(10,1)) AS VARCHAR)
       |  END AS k_str,
       |  CASE WHEN c.commit_ts <= b.mid THEN 0 ELSE b.mid END AS schema_version
       |FROM c, b WHERE c.pk % 2 = 0
       |UNION ALL
       |SELECT 'sb' AS schema_name, 't' AS table_name, c.commit_ts,
       |  CAST((c.commit_ts % 1000000) + 0.26 AS VARCHAR) AS k_str,
       |  0 AS schema_version
       |FROM c WHERE c.pk % 2 = 1""".stripMargin

  /** One staged wire DDL frame — the shared envelope of the t6 oracle
    * wires (a DDL item carries no payload; ref binlog.proto's DDL kind). */
  private[graft] def wireDdlRow(spark: SparkSession, ts: Long, sql: String): DataFrame =
    // single-partition range: the default 32-partition range(1) makes every
    // union'd DDL row add 32 empty tasks to EACH staging pass (guide §2.2 —
    // fewer, larger map tasks); a 10-statement wire paid ~640 empty task
    // launches, each serializing the full union plan closure
    spark.range(0, 1, 1, 1).select(
      lit(ts).as("commit_ts"), lit(-1L).as("pk"), lit("DDL").as("op"),
      lit("ddl").as("event_type"),
      timestamp_micros(lit(ts) * 1000000L).as("ts"),
      lit(null).cast("double").as("value"),
      lit(null).cast("string").as("props"),
      lit(sql).as("ddl_sql"))

  /** The matching DML envelope over the change stream: routing and JSON
    * payload vary per wire, the frame shape never does. */
  private[graft] def wireDmlRows(changes: DataFrame, eventType: Column,
      props: Column): DataFrame =
    changes.select(
      col("commit_ts"), col("pk"), lit("U").as("op"),
      eventType.as("event_type"),
      col("ts"), col("value"), props.as("props"),
      lit(null).cast("string").as("ddl_sql"))

  /** Staging harness shared by the oracle wires: three per-invocation
    * scratch dirs (wire, out, ckpt — concurrent constructions must never
    * contend on one directory), the change feed pinned across the staging
    * passes, its max commit ts handed to `build`, and the built wire
    * written as two segments. */
  private[graft] def stageWire(spark: SparkSession, dir: String, tag: String)(
      build: (DataFrame, Long) => DataFrame): (String, String, String) = {
    val wireDir = graft.util.Scratch.dir(s"graft_${tag}_wire")
    val outDir = graft.util.Scratch.dir(s"graft_${tag}_out")
    val ckpt = graft.util.Scratch.dir(s"graft_${tag}_ckpt")
    // NOT spread, segments kept at 2 (r21, measured both ways): the feed's
    // pre-exchange work is a cheap envelope projection (the proto encode
    // runs AFTER the range exchange, at the segment count), so a spread
    // only adds a shuffle + a wider cache; and nFiles = cores multiplied
    // per-segment listing/open/task overhead across every staged query
    // (t6_multi_decode 1.65×, drainer_replicated 2.47× in the full-suite
    // measurement).
    val changes = graft.ops.Cdc.changes(spark, dir).persist()
    try graft.sources.PbBinlogFile.write(
      build(changes, graft.ops.Cdc.maxCommitTs(changes)), wireDir, nFiles = 2)
    finally { changes.unpersist(); () }
    (wireDir, outDir, ckpt)
  }

  /** Drain a staged-wire decode and enforce the one-micro-batch contract
    * the oracle SQL models. */
  private[graft] def drainDecode(q: StreamingQuery, spark: SparkSession,
      outDir: String): Unit = {
    try q.processAllAvailable() finally q.stop()
    assertSingleBatch(spark, outDir)
  }

  /** Oracle-checked column-option-tail normalization (the r12-verdict
    * robustness gap under the hash gate): stage a wire where the midpoint
    * DDL is the add-column-with-default statement real traffic carries
    * routinely — `ADD COLUMN c DECIMAL(10,1) NOT NULL DEFAULT 1.5 AFTER k`
    * (ref: tests/dailytest/case.go:386-485 runs add-column-with-default
    * under load) — so the decode must strip the decode-neutral tail
    * (AFTER), keep the decodable one (NOT NULL), capture the DEFAULT as
    * the origin default (asserted in line), and ride on. Post-midpoint
    * frames carry `c` in their payload and decode at the new version;
    * pre-midpoint frames decode without it. Same tie-free x.26 payload
    * algebra as [[multiDecodeQuery]] (the oracle casts through DOUBLE
    * because DuckDB truncates a decimal downscale where Spark's from_json
    * rounds half-up). */
  def optionTailsQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.PbBinlogFile
    val (wireDir, outDir, ckpt) = stageWire(spark, dir, "tails") {
      (changes, maxTs) =>
        val mid = maxTs / 2
        val payload = (pmod(col("commit_ts"), lit(1000000L)).cast("double") + 0.26)
          .cast("string")
        wireDmlRows(changes, lit("t"),
          concat(lit("{\"k\": "), payload,
            when(col("commit_ts") > mid,
              concat(lit(", \"c\": "), payload)).otherwise(lit("")),
            lit("}")))
          .unionByName(wireDdlRow(spark, mid,
            "ALTER TABLE `app`.`t` ADD COLUMN c DECIMAL(10,1) NOT NULL " +
              "DEFAULT 1.5 AFTER k"))
    }
    val tracker = new SchemaTracker()
    tracker.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    val q = ddlDrivenDecodeTables(PbBinlogFile.readStream(spark, wireDir),
      tracker, outDir, ckpt, "app", col("event_type"))
    drainDecode(q, spark, outDir)
    require(tracker.originDefault("app", "t", "c").contains("1.5"),
      s"the stripped DEFAULT must register as the origin default, got " +
        s"${tracker.originDefault("app", "t", "c")}")
    require(tracker.current("app", "t").get.columns ==
      Vector("k DOUBLE", "c DECIMAL(10,1) NOT NULL"),
      s"unexpected tracked defs: ${tracker.current("app", "t").get.columns}")
    spark.read.parquet(s"$outDir/data")
      .select(col("commit_ts"), col("k_str"), col("c_str"),
        col("schema_version"))
  }

  def optionTailsSql: String =
    s"""WITH c AS (${graft.ops.Cdc.changesCte}),
       |b AS (SELECT max(commit_ts)//2 AS mid FROM c)
       |SELECT c.commit_ts,
       |  CAST((c.commit_ts % 1000000) + 0.26 AS VARCHAR) AS k_str,
       |  CASE WHEN c.commit_ts > b.mid
       |       THEN CAST(CAST(CAST((c.commit_ts % 1000000) + 0.26 AS DOUBLE) AS DECIMAL(10,1)) AS VARCHAR)
       |  END AS c_str,
       |  CASE WHEN c.commit_ts <= b.mid THEN 0 ELSE b.mid END AS schema_version
       |FROM c, b""".stripMargin

  /** Oracle-checked MYSQL-NATIVE TYPE DOMAIN on the wire (the r13-verdict
    * robustness gap under the hash gate): the midpoint DDLs add columns
    * spelled the way real TiDB traffic spells them — `VARCHAR(32)`,
    * `DATETIME(3)`, `ENUM('red','green','blue') DEFAULT 'red'`, `YEAR`
    * (ref: drainer/translator/kafka.go:227-294 maps exactly this domain;
    * tests/dailytest/case.go:97-146 exercises it) — so the grammar must
    * map each to the Spark type holding its values, capture the ENUM's
    * value dictionary AND its origin default, and decode on. The decode
    * runs with `fillOriginDefaults = true`, so pre-barrier rows read the
    * enum's default from the decode output (the reference's decode-time
    * T7 equivalence point; `t6_option_tails` keeps the sink-side-backfill
    * mode under the same gate) — the NOT NULL no-default NATIONAL VARCHAR
    * reads the zero-value '', the NOT NULL no-default TIME its
    * NATIVE-keyed zero '00:00:00' (both map to STRING on the wire; tidb
    * table.GetZeroValue tells them apart), and the BIT column its
    * HEX-literal default's numeric value (translator.go:215-227) — and
    * the output's `e_ord`
    * column maps the enum text through the tracked dictionary to the
    * reference's numeric representation (mysql.go:266-269). The ADD DDLs
    * share one commit ts, the legal TiDB shape for one ALTER statement's
    * jobs; a RENAME TABLE at the wire's max ts pins the fills surviving a
    * same-batch table rename under the oracle hash (every row emits under
    * the old key, at or below the rename barrier). */
  def mysqlTypesQuery(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.PbBinlogFile
    val (wireDir, outDir, ckpt) = stageWire(spark, dir, "myty") {
      (changes, maxTs) =>
      val mid = maxTs / 2
      val secs = pmod(col("commit_ts"), lit(86400L))
      val hhmmss = concat(
        lpad((secs / 3600).cast("long").cast("string"), 2, "0"), lit(":"),
        lpad((pmod(secs, lit(3600L)) / 60).cast("long").cast("string"), 2, "0"),
        lit(":"), lpad(pmod(secs, lit(60L)).cast("string"), 2, "0"))
      val enumVal = element_at(
        typedLit(Seq("red", "green", "blue")), (pmod(col("pk"), lit(3L)) + 1).cast("int"))
      // SET('a','b','c') text printed the way MySQL prints it: members in
      // declaration order, empty set = '' — the mask below must recover
      // exactly pk % 8 from this text through the TRACKED dictionary
      val setBits = pmod(col("pk"), lit(8L))
      val setTxt = concat_ws(",",
        when(setBits.bitwiseAND(lit(1L)) > 0, "a"),
        when(setBits.bitwiseAND(lit(2L)) > 0, "b"),
        when(setBits.bitwiseAND(lit(4L)) > 0, "c"))
      val dateTxt = concat(lit("2026-03-"),
        lpad((pmod(col("pk"), lit(28L)) + 1).cast("string"), 2, "0"))
      val payload = (pmod(col("commit_ts"), lit(1000000L)).cast("double") + 0.26)
        .cast("string")
      val dml = wireDmlRows(changes, lit("t"),
        concat(lit("{\"k\": "), payload,
          when(col("commit_ts") > mid, concat(
            lit(", \"v\": \"s"), col("pk").cast("string"), lit("\""),
            lit(", \"bt\": "), pmod(col("pk"), lit(256L)).cast("string"),
            lit(", \"ct\": \"2026-02-01T"), hhmmss, lit("\""),
            lit(", \"d\": \"2026-01-01T"), hhmmss, lit("\""),
            lit(", \"dt\": \""), dateTxt, lit("\""),
            lit(", \"e\": \""), enumVal, lit("\""),
            lit(", \"st\": \""), setTxt, lit("\""),
            lit(", \"tm\": \""), hhmmss, lit("\""),
            lit(", \"y\": "), (pmod(col("pk"), lit(30L)) + 1990).cast("string")))
            .otherwise(lit("")),
          lit("}")))
      def ddlRow(sql: String, ts: Long = mid) = wireDdlRow(spark, ts, sql)
      dml
        // NATIONAL VARCHAR exercises a TWO-TOKEN native spelling on the
        // wire path (the map's NATIONAL-prefix fold), DATE the untouched
        // pass-through, SET the tracked-dictionary bitmask below, BIT a
        // HEX-literal default read as its unsigned numeric value
        // (mysql.go:270-276); the end-of-wire RENAME TABLE pins the fill
        // surviving a same-batch rename — every frame sits at or below
        // the rename barrier, so all rows emit under the OLD key and the
        // pre-barrier fills must ride with them
        .unionByName(ddlRow(
          "ALTER TABLE app.t ADD COLUMN v NATIONAL VARCHAR(32) NOT NULL"))
        .unionByName(ddlRow(
          "ALTER TABLE app.t ADD COLUMN bt BIT(8) NOT NULL DEFAULT 0x1F"))
        // the ONE expression default the fill evaluates: TiDB pins
        // OriginDefaultValue at DDL execution time = this frame's
        // commit-ts (mid), so pre-add rows read mid as a timestamp
        .unionByName(ddlRow(
          "ALTER TABLE app.t ADD COLUMN ct TIMESTAMP DEFAULT CURRENT_TIMESTAMP"))
        .unionByName(ddlRow("ALTER TABLE app.t ADD COLUMN d DATETIME(3)"))
        .unionByName(ddlRow("ALTER TABLE app.t ADD COLUMN dt DATE"))
        .unionByName(ddlRow(
          "ALTER TABLE app.t ADD COLUMN e ENUM('red','green','blue') DEFAULT 'red'"))
        .unionByName(ddlRow("ALTER TABLE app.t ADD COLUMN st SET('a','b','c')"))
        .unionByName(ddlRow("ALTER TABLE app.t ADD COLUMN tm TIME NOT NULL"))
        .unionByName(ddlRow("ALTER TABLE app.t ADD COLUMN y YEAR"))
        .unionByName(ddlRow("RENAME TABLE app.t TO app.t2", ts = maxTs))
    }
    val tracker = new SchemaTracker()
    tracker.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    val q = ddlDrivenDecodeTables(PbBinlogFile.readStream(spark, wireDir),
      tracker, outDir, ckpt, "app", col("event_type"),
      fillOriginDefaults = true)
    drainDecode(q, spark, outDir)
    // same-ts DDLs apply in statement-text order (the walk's tie rule), so
    // the columns append bt, d, dt, e, st, tm, v, y — and the tracked history
    // lives under the RENAMED name (T5: same history, new key)
    require(tracker.current("app", "t").isEmpty,
      "the rename must move the tracked history off the old name")
    require(tracker.current("app", "t2").get.columns == Vector("k DOUBLE",
      "bt BIGINT NOT NULL", "ct TIMESTAMP", "d TIMESTAMP", "dt DATE",
      "e STRING", "st STRING", "tm STRING NOT NULL", "v STRING NOT NULL",
      "y INT"),
      s"unexpected mapped defs: ${tracker.current("app", "t2").get.columns}")
    require(tracker.dictionary("app", "t2", "e")
      .contains(Vector("red", "green", "blue")),
      s"enum dictionary not tracked: ${tracker.dictionary("app", "t2", "e")}")
    require(tracker.dictionary("app", "t2", "st")
      .contains(Vector("a", "b", "c")),
      s"set dictionary not tracked: ${tracker.dictionary("app", "t2", "st")}")
    require(tracker.originDefault("app", "t2", "e").contains("'red'"),
      s"enum origin default not tracked: ${tracker.originDefault("app", "t2", "e")}")
    require(tracker.originDefault("app", "t2", "bt").contains("0x1F"),
      s"hex origin default not tracked: ${tracker.originDefault("app", "t2", "bt")}")
    require(tracker.originDefault("app", "t2", "ct").contains("CURRENT_TIMESTAMP"),
      s"expression origin default not tracked: ${tracker.originDefault("app", "t2", "ct")}")
    // M9 numeric representations through the TRACKED dictionaries (driver-
    // local constant map literals in the plan): enum text → 1-based
    // ordinal, set text → member bitmask (mysql.go:266-269)
    val ordinals = tracker.dictionary("app", "t2", "e").get.zipWithIndex
      .map { case (v, i) => v -> (i + 1).toLong }.toMap
    val setDict = tracker.dictionary("app", "t2", "st").get
    spark.read.parquet(s"$outDir/data")
      .select(col("commit_ts"), col("k_str"), col("bt_str"), col("v_str"),
        col("ct_str"), col("d_str"), col("dt_str"),
        col("e_str"), element_at(typedLit(ordinals), col("e_str")).as("e_ord"),
        col("st_str"),
        graft.ops.TypeDomain.setMask(setDict, col("st_str")).as("st_mask"),
        col("tm_str"), col("y_str"), col("schema_version"))
  }

  def mysqlTypesSql: String =
    s"""WITH c AS (${graft.ops.Cdc.changesCte}),
       |b AS (SELECT max(commit_ts)//2 AS mid FROM c)
       |SELECT c.commit_ts,
       |  CAST((c.commit_ts % 1000000) + 0.26 AS VARCHAR) AS k_str,
       |  CASE WHEN c.commit_ts > b.mid
       |       THEN CAST(c.pk % 256 AS VARCHAR) ELSE '31' END AS bt_str,
       |  CASE WHEN c.commit_ts > b.mid
       |       THEN 's' || CAST(c.pk AS VARCHAR) ELSE '' END AS v_str,
       |  CASE WHEN c.commit_ts > b.mid THEN '2026-02-01 '
       |    || lpad(CAST((c.commit_ts % 86400) // 3600 AS VARCHAR), 2, '0')
       |    || ':'
       |    || lpad(CAST(((c.commit_ts % 86400) % 3600) // 60 AS VARCHAR), 2, '0')
       |    || ':'
       |    || lpad(CAST((c.commit_ts % 86400) % 60 AS VARCHAR), 2, '0')
       |  ELSE strftime(epoch_ms(b.mid * 1000), '%Y-%m-%d %H:%M:%S')
       |  END AS ct_str,
       |  CASE WHEN c.commit_ts > b.mid THEN '2026-01-01 '
       |    || lpad(CAST((c.commit_ts % 86400) // 3600 AS VARCHAR), 2, '0')
       |    || ':'
       |    || lpad(CAST(((c.commit_ts % 86400) % 3600) // 60 AS VARCHAR), 2, '0')
       |    || ':'
       |    || lpad(CAST((c.commit_ts % 86400) % 60 AS VARCHAR), 2, '0')
       |  END AS d_str,
       |  CASE WHEN c.commit_ts > b.mid
       |       THEN '2026-03-' || lpad(CAST(c.pk % 28 + 1 AS VARCHAR), 2, '0')
       |  END AS dt_str,
       |  CASE WHEN c.commit_ts <= b.mid THEN 'red'
       |       ELSE CASE c.pk % 3 WHEN 0 THEN 'red' WHEN 1 THEN 'green'
       |            ELSE 'blue' END END AS e_str,
       |  CASE WHEN c.commit_ts <= b.mid THEN CAST(1 AS BIGINT)
       |       ELSE c.pk % 3 + 1 END AS e_ord,
       |  CASE WHEN c.commit_ts > b.mid THEN concat_ws(',',
       |    CASE WHEN (c.pk % 8) & 1 > 0 THEN 'a' END,
       |    CASE WHEN (c.pk % 8) & 2 > 0 THEN 'b' END,
       |    CASE WHEN (c.pk % 8) & 4 > 0 THEN 'c' END) END AS st_str,
       |  CASE WHEN c.commit_ts > b.mid THEN c.pk % 8 END AS st_mask,
       |  CASE WHEN c.commit_ts > b.mid THEN
       |    lpad(CAST((c.commit_ts % 86400) // 3600 AS VARCHAR), 2, '0')
       |    || ':'
       |    || lpad(CAST(((c.commit_ts % 86400) % 3600) // 60 AS VARCHAR), 2, '0')
       |    || ':'
       |    || lpad(CAST((c.commit_ts % 86400) % 60 AS VARCHAR), 2, '0')
       |  ELSE '00:00:00' END AS tm_str,
       |  CASE WHEN c.commit_ts > b.mid
       |       THEN CAST(1990 + c.pk % 30 AS VARCHAR) END AS y_str,
       |  CASE WHEN c.commit_ts <= b.mid THEN 0 ELSE b.mid END AS schema_version
       |FROM c, b""".stripMargin

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
