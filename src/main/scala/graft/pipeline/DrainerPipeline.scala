package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import org.apache.spark.sql.Column

import graft.ops.{Cdc, Filters}
import graft.sinks.{JdbcSchemaLoader, UpsertSink}
import graft.streaming.{CdcStream, SchemaTracker}

/** End-to-end composition of the drainer path (SURVEY §3.2 in miniature):
  * pump sources → k-way merge → rule filters → per-PK log compaction →
  * (optionally) checkpointed idempotent apply.
  *
  * This is the library's user-facing entry point: the reference's drainer
  * configuration (ignore-txn list, event filters, value thresholds) maps
  * onto [[DrainerConfig]]; everything else — ordering, shuffle layout,
  * pushdown — is decided by Catalyst from the declarative plan the
  * composition builds. Batch and streaming share the same filter/compaction
  * semantics; the streaming form adds watermarked dedup and the exactly-once
  * sink.
  */
case class DrainerConfig(
    ignoreCommitTs: Seq[Long] = Nil,
    dropEventTypes: Seq[String] = Nil,
    minValue: Option[Double] = None,
    compact: Boolean = true,
    /** Bidirectional-replication channel id: when set, transactions carrying
      * this channel's loopback mark are dropped on ingest (the cycle break)
      * and every outgoing transaction gets a fresh mark row injected (the
      * write half — ref: drainer/loopbacksync/loopbacksync.go). */
    loopbackChannel: Option[Long] = None)

object DrainerPipeline {

  private def applyFilters(changes: DataFrame, cfg: DrainerConfig): DataFrame = {
    var df = changes
    if (cfg.ignoreCommitTs.nonEmpty)
      df = df.filter(!col("commit_ts").isin(cfg.ignoreCommitTs: _*))
    if (cfg.dropEventTypes.nonEmpty)
      df = df.filter(!col("event_type").isin(cfg.dropEventTypes: _*))
    cfg.minValue.foreach(v => df = df.filter(col("value") >= v))
    df
  }

  /** Batch form: merged change stream → loopback break → filters → mark
    * injection → compacted final state. */
  def batch(spark: SparkSession, dir: String,
      cfg: DrainerConfig = DrainerConfig()): DataFrame = {
    val merged = Cdc.kwayMerge(Cdc.pumpSources(spark, dir)).drop("source_id")
    val unlooped = cfg.loopbackChannel
      .map(ch => Filters.dropMarkedTxns(merged, ch)).getOrElse(merged)
    val filtered = applyFilters(unlooped, cfg)
    val marked = cfg.loopbackChannel
      .map(ch => Filters.injectLoopbackMarks(filtered, ch)).getOrElse(filtered)
    if (cfg.compact) Cdc.compactByPk(marked) else marked
  }

  /** Streaming form: file/Kafka change stream → watermarked dedup → filters
    * → checkpointed per-batch merge-upsert into the materialized state.
    *
    * When `cfg.loopbackChannel` is set, the F4 round-trip runs per
    * micro-batch (txns never span a batch, so the per-txn mark scan is a
    * batch-local anti-join, never a stream-stream join):
    *  1. transactions carrying OUR channel's mark are dropped (the cycle
    *     break — ref: drainer/syncer.go:565-592);
    *  2. every surviving transaction gets a mark row injected (the write
    *     half — ref: drainer/loopbacksync/loopbacksync.go:117-122 UpdateMark
    *     runs inside each applied txn);
    *  3. the marked batch is appended to `stateRoot`/outbinlog — the
    *     downstream binlog a counterpart drainer would re-ingest — and
    *     applied to the state (mark rows land in the reserved negative pk
    *     keyspace, the analog of the mark table's rows in the target DB). */
  def streaming(spark: SparkSession, pathGlob: String, stateRoot: String,
      checkpoint: String, cfg: DrainerConfig = DrainerConfig()): StreamingQuery =
    startApply(CdcStream.dedupStream(CdcStream.changeStream(spark, pathGlob)),
      stateRoot, checkpoint, cfg)

  /** The reference drainer's FULL streaming topology: multiple pump
    * directories → T2 streaming merge (per-pump watermarks, min frontier,
    * glob-slot dynamic membership — [[CdcStream.mergedPumpStream]]) →
    * watermarked dedup → filters → checkpointed apply. A lagging pump
    * therefore holds the downstream frontier through the whole composition,
    * exactly as the reference merger pauses the sync (drainer/merge.go:
    * 236-335 feeding drainer/syncer.go). */
  def streamingMerged(spark: SparkSession, pumpDirs: Seq[String],
      stateRoot: String, checkpoint: String,
      cfg: DrainerConfig = DrainerConfig()): StreamingQuery =
    // the merge already carries one watermark PER SOURCE (the min-frontier
    // mechanism); re-wrapping in dedupStream would stack a second watermark
    // on the same branch, which Spark rejects — the F10 dedup rides the
    // per-source watermarks directly, with the same 1-hour state bound
    startApply(
      CdcStream.mergedPumpStream(spark, pumpDirs, delay = "1 hour")
        .dropDuplicates("commit_ts", "ts"),
      stateRoot, checkpoint, cfg)

  private def startApply(changes: DataFrame, stateRoot: String,
      checkpoint: String, cfg: DrainerConfig): StreamingQuery = {
    // F2 needs an event_type column; the compact streaming envelope drops
    // it after the op mapping — reject the config loudly instead of
    // silently applying the events batch() would have dropped
    require(cfg.dropEventTypes.isEmpty || changes.columns.contains("event_type"),
      "dropEventTypes requires an envelope carrying event_type; the " +
        "compact change envelope drops it after the op mapping")
    val sink = new UpsertSink(stateRoot)
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        // SAME order as batch(), via the SAME applyFilters: loopback break
        // FIRST, then the config filters, then mark injection. A mark row
        // carries value = channelId, so a minValue (or any other) filter
        // upstream of the mark scan would strip the incoming marks and
        // silently disable the F4 cycle break — looped-back transactions
        // would re-apply and re-emit forever.
        val unlooped = cfg.loopbackChannel
          .map(ch => Filters.dropMarkedTxns(b, ch)).getOrElse(b)
        val filtered = applyFilters(unlooped, cfg)
        val routed = cfg.loopbackChannel match {
          case Some(ch) =>
            val marked = Filters.injectLoopbackMarks(filtered, ch)
            // idempotent per batch id: a replayed/retried batch OVERWRITES
            // its own batch=<id> partition instead of appending a duplicate
            // set of marked txns for a counterpart drainer to re-apply (the
            // state apply below is replay-guarded by the sink's batch-id
            // check; the outbinlog ship must be guarded the same way)
            marked.write.mode("overwrite").parquet(s"$stateRoot/outbinlog/batch=$id")
            marked
          case None => filtered
        }
        sink.applyBatch(routed, id): Unit
      }
      .start()
  }

  /** The reference drainer's COMPLETE replication loop as ONE streaming
    * query (S5/S6∘T2∘T5/T6∘P3/K1 — the pump collector feeding
    * drainer/syncer.go feeding pkg/loader/load.go): pump binlog
    * directories → merged wire stream (per-pump watermarks, min frontier)
    * → multi-table schema-versioned decode (each table's frames against
    * its own history, wire DDL re-typing later frames, durable DDL log) →
    * the schema-driven JDBC loader, one multi-table
    * [[JdbcSchemaLoader.applyBatch]] per micro-batch. The loader is the
    * decode's sink: the decode's `emit` is the same per-batch apply as
    * [[streamingReplicatedSchemas]] uses, over frames keyed by
    * (`schemaName`, table), and each table's frame is decoded inside the
    * loader's merge stages over the pinned wire batch. The only thing the
    * loop writes under `outDir` is the DDL log (`ddl/batch=<id>`).
    * Exactly-once falls out of the two replay
    * guards composing: a batch that fails in the loader is recomputed
    * from the wire against an unchanged tracker (it advances last), and
    * the loader skips a batch id it has already committed and, within a
    * replayed batch, every sub-batch below a barrier it already logged.
    *
    * `tableMap` routes a wire table to its target table (the F9 router
    * analog; wire tables mapping to one target — e.g. across a RENAME —
    * union into one slice). `ddlToTarget` translates an applied wire DDL —
    * (wire table, action, column, arg), the [[CdcStream.DecodedBatch]]
    * log shape — into a target-dialect statement (M8's job), or None to
    * manage target schema out of band. Translated statements ride the
    * batch's frames, so the loader executes them at its global ts
    * barriers and re-reads the target catalog after each: an ADD COLUMN
    * becomes writable for post-barrier rows of the SAME batch, while
    * pre-barrier rows insert without it — the reference loader's
    * column-refresh-on-DDL behavior (pkg/loader/load.go:845-866). Decoded
    * string values are cast back to the wire column types, so the loader
    * binds typed objects. The loader applies on its compacting (merge)
    * path. The per-pump watermarks carry no delay: no stateful operator on
    * this path reads them, and the merge frontier is their minimum. */
  def streamingReplicated(spark: SparkSession, pumpDirs: Seq[String],
      tracker: SchemaTracker, loader: JdbcSchemaLoader, outDir: String,
      checkpoint: String, schemaName: String, tableOf: Column,
      tableMap: String => String = identity,
      ddlToTarget: (String, String, String, String) => Option[String] =
        (_, _, _, _) => None): StreamingQuery =
    CdcStream.ddlDrivenDecodeTables(
      CdcStream.mergedWireStream(spark, pumpDirs),
      tracker, outDir, checkpoint, schemaName, tableOf,
      replicateEmit(spark, loader, (_, t) => tableMap(t),
        (_, t, action, c, arg) => ddlToTarget(t, action, c, arg)))

  /** [[streamingReplicated]] over a MULTI-SCHEMA wire — the reference
    * drainer's complete shape (its catalog replicates every database the
    * wire carries, drainer/schema.go:43-62): the decode set spans
    * `schemas`, frames route by (`schemaOf`, `tableOf`), and `tableMap`
    * takes the schema dimension so two databases sharing a table name land
    * in distinct targets (the reference's route-by-(schema, table),
    * drainer/syncer.go:374-397). `ddlToTarget` likewise sees
    * (schema, table, action, column, arg). Everything else — the barrier
    * discipline, the two composed replay guards, the DDL-only direct
    * path — is the single-schema loop unchanged. */
  def streamingReplicatedSchemas(spark: SparkSession, pumpDirs: Seq[String],
      tracker: SchemaTracker, loader: JdbcSchemaLoader, outDir: String,
      checkpoint: String, schemas: Seq[String], schemaOf: Column,
      tableOf: Column, tableMap: (String, String) => String,
      ddlToTarget: (String, String, String, String, String) => Option[String] =
        (_, _, _, _, _) => None): StreamingQuery =
    CdcStream.ddlDrivenDecodeSchemas(
      CdcStream.mergedWireStream(spark, pumpDirs),
      tracker, outDir, checkpoint, schemas, schemaOf, tableOf,
      replicateEmit(spark, loader, tableMap, ddlToTarget))

  /** The shared per-batch apply of both replication loops: cast each
    * decoded (schema, table) frame back to typed columns, route it through
    * `tableMap`, translate applied wire DDL, and hand ONE multi-table
    * loader batch (or the DDL-only direct path) to the JDBC loader. */
  private def replicateEmit(spark: SparkSession, loader: JdbcSchemaLoader,
      tableMap: (String, String) => String,
      ddlToTarget: (String, String, String, String, String) => Option[String]
      ): CdcStream.DecodedBatch => Unit = {
    case (batchId, frames, ddls) =>
      import spark.implicits._
      val slices = frames.toSeq.sortBy(_._1).map { case ((s, t), (defs, df)) =>
        val typed = defs.map { d =>
          // full DDL parse, not a split-at-first-space: a def may legally
          // carry NOT NULL / COMMENT tails (the wire grammar keeps both),
          // which a naive cast-to-tail would reject
          val field =
            try org.apache.spark.sql.types.StructType.fromDDL(d).head
            catch {
              case e: Exception => throw new IllegalArgumentException(
                s"column def '$d' of wire table $s.$t is not a parseable " +
                  s"'name TYPE' def (${e.getMessage})")
            }
          col(s"${field.name}_str").cast(field.dataType).as(field.name)
        }
        tableMap(s, t) -> df.select(
          Seq(col("commit_ts"), col("pk"), col("op")) ++ typed: _*)
      }.groupBy(_._1).view.mapValues(
          _.map(_._2).reduce(_.unionByName(_, allowMissingColumns = true)))
        .toMap.toSeq.sortBy(_._1)
      // T7 parity at the target: an add's origin default folds into its
      // paired add record — ONE `ADD COLUMN … DEFAULT x` statement lets
      // the target backfill pre-barrier rows exactly like the reference's
      // origin-default fill (translator.go:169-227); two separate barrier
      // statements could not (a later SET DEFAULT does not backfill, and
      // same-ts barrier ordering is undefined). Unpaired origin_default
      // records (a wire CREATE TABLE's per-column defaults) pass through
      // for the translator to use or ignore.
      val foldedDdls = {
        val originOf = ddls.collect {
          case (v, s, t, "origin_default", c, d) => ((v, s, t, c), d)
        }.toMap
        val addKeys = ddls.collect {
          case (v, s, t, "add", c, _) => (v, s, t, c)
        }.toSet
        ddls.flatMap {
          case (v, s, t, "add", c, ty) =>
            Seq((v, s, t, "add", c,
              originOf.get((v, s, t, c)).map(d => s"$ty DEFAULT $d").getOrElse(ty)))
          case (v, s, t, "origin_default", c, _) if addKeys((v, s, t, c)) =>
            Seq.empty
          case other => Seq(other)
        }
      }
      val ddlRows = foldedDdls.flatMap { case (v, s, t, action, c, arg) =>
        ddlToTarget(s, t, action, c, arg).map(sql => (v, sql))
      }
      if (slices.nonEmpty) {
        // translated DDL rides the first frame: applyBatch gathers DDL
        // rows ACROSS frames into global ts barriers, so which frame
        // carries them does not matter
        val withDdl = ddlRows match {
          case Seq() => slices
          case rows =>
            val (t0, df0) = slices.head
            val ddlDf = rows.toDF("commit_ts", "ddl_sql").select(
              col("commit_ts"), lit("DDL").as("op"), col("ddl_sql"))
            (t0 -> df0.withColumn("ddl_sql", lit(null).cast("string"))
              .unionByName(ddlDf, allowMissingColumns = true)) +: slices.tail
        }
        loader.applyBatch(withDdl.toMap, batchId): Unit
      } else
        // a batch carrying only DDL has no DML to order against —
        // execute directly under the same logged replay guard
        ddlRows.sortBy(_._1).foreach { case (v, sql) =>
          loader.executeLoggedDdl(batchId, v, sql)
        }
  }
}
