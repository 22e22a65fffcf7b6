package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.MetaFs

/** The ONE same-commit-ts tie-break every sink merge window composes (ref:
  * drainer/translator/sequence_iterator.go:32-70 statement order within a
  * txn; pkg/loader/merge.go:79-133 fold order). TiDB stamps a whole txn
  * with one commit ts, so a batch can carry several same-(key, ts) rows;
  * a window ordered by the bare ts picks a SHUFFLE-DEPENDENT winner and
  * breaks replay idempotence — the r17/r18 drift class this helper exists
  * to end. The full order, highest wins:
  *
  *   (commit_ts, seq', opRank, payload)
  *
  *  - `seq'`: the T9 intra-txn sequence when the frame carries one. Nulls
  *    coalesce to [[NullSeq]] (`Long.MinValue + 1`) — above [[MaterializedSeq]]
  *    (`Long.MinValue`, reserved for already-MATERIALIZED state rows that
  *    re-enter a merge window), below any real statement sequence;
  *  - `opRank`: D outranks U outranks I — the net effect of the common
  *    same-ts chains (I→U, I→D, U→D) without a seq;
  *  - payload columns (`desc_nulls_last` each): pins the winner between
  *    rows identical in (key, ts, seq, op) — an upstream anomaly or an
  *    at-least-once duplicate — to a DETERMINISTIC image.
  *
  * History-order (ascending) windows use the same keys with `.asc` /
  * `asc_nulls_first`, which makes the LAST element of the chain the same
  * row this order's first element is under `desc`. */
private[graft] object MergeOrder {
  import org.apache.spark.sql.Column

  /** Seq sentinel for materialized state rows: below every incoming row. */
  val MaterializedSeq: Long = Long.MinValue
  private val NullSeq: Long = Long.MinValue + 1

  /** The frame's seq with nulls ranked just above materialized rows. */
  def seqKey: Column = coalesce(col("seq"), lit(NullSeq))

  /** D > U > I at a tied (key, commit_ts, seq). */
  def opRank: Column =
    when(col("op") === "D", 2).when(col("op") === "U", 1).otherwise(0)
}

/** Idempotent, checkpointed upsert sink — the `foreachBatch` twin of the
  * reference loader (ref: pkg/loader/load.go:637-703 batch manager;
  * executor.go:407-443 safe-mode INSERT→REPLACE/UPDATE→DELETE+REPLACE;
  * drainer/checkpoint commitTs checkpointing; load.go:845-866 DDL as a
  * batch barrier).
  *
  * Semantics:
  *  - each micro-batch is compacted per key (merge-by-PK) and merged into
  *    the materialized state: last image wins, a final D removes the key —
  *    i.e. REPLACE-semantics apply, idempotent under whole-batch replay;
  *  - the committed batchId is persisted with the state and replayed
  *    batches are skipped — exactly-once effect on top of an at-least-once
  *    stream (the reference gets this from checkpoint commitTs + safe mode);
  *  - DDL rows are markers, not cuts: the lake state `(pk, commit_ts,
  *    value)` has no shape a DDL can change, so the batch's non-DDL rows
  *    merge ONCE, and each DDL commit ts leaves a `_ddl_log` marker after
  *    the merge and before the checkpoint. One merge ends in the state a
  *    merge per barrier slice would: every row after a barrier has a
  *    higher commit ts than every row before it, so each key's winner over
  *    the whole batch is the winner the sequential merges end with, and a
  *    delete that won an earlier slice loses to any later row either way.
  *    Lake envelopes carry only I/U/D ([[graft.ops.Cdc.opCaseSql]]).
  *
  * The parquet-directory "table" stands in for the JDBC target; on a real
  * cluster the same logic runs against MERGE INTO / rewriteBatchedStatements.
  * Every metadata and state-swap operation goes through the Hadoop
  * `FileSystem` of the root's URI ([[graft.util.MetaFs]]), so the root may
  * be a `file:`-, `hdfs:`- or object-store path — the checkpoint marker and
  * the bucket swap work wherever the state lives.
  *
  * State layout is the production shape, not a flat file: the materialized
  * table is hash-partitioned into `nBuckets` directories by
  * `pmod(hash(pk), nBuckets)` — the parquet analog of the target table's
  * key-hash distribution — and each bucket directory holds ONE parquet
  * file. A micro-batch costs one metadata job over the pinned batch (the
  * DDL marker set and the max commit ts in one aggregate), one bucket-set
  * job (≤ nBuckets values; an empty set ends an empty batch there) and one
  * shuffle that writes the merge: it reads back ONLY the touched buckets
  * (partition pruning skips the rest at the file listing), merges them
  * with the batch's rows after a single exchange on `bucket` — which,
  * since the bucket is a function of the key, also serves the per-key
  * window — and writes each touched bucket from one task as one file,
  * then swaps ONLY those bucket directories. Per-batch work is therefore
  * O(batch + touched-state), not O(total-state): with
  * 2^12 buckets at 100 TB a skewless batch touching 1% of keys reads/writes
  * ~1% of the table. This is exactly the work profile of `MERGE INTO` on a
  * clustered target or of dynamic-partition-overwrite on a lakehouse table
  * — swap the directory move for the engine's commit and nothing else
  * changes.
  *
  * Known limitation: a deleted key is dropped from the state without a
  * tombstone. A later batch that carries an OLDER image of that key (a
  * late event, or one wave split across two triggers) therefore brings the
  * key back: the merge window has no stored row newer than the late image
  * to lose against. The reference's ordered merge delivers each key's
  * changes in commit-ts order, so it never sees such a batch; the
  * replication benchmark's lake workload avoids it by publishing whole
  * waves (`replbench/README.md`). Not fixed here.
  */
class UpsertSink(root: String, nBuckets: Int = 16) {
  private val statePath = s"$root/state"
  private val metaPath = s"$root/_committed_batch"
  // one marker file per DDL barrier (append-free: object stores and
  // ChecksumFileSystem have no usable append) — the name orders by
  // (batchId, ddl commit ts), the content repeats it for auditability
  private val ddlLogDir = s"$root/_ddl_log"

  def lastCheckpoint: Checkpoint =
    if (MetaFs.exists(metaPath)) {
      // MetaFs.writeString makes a torn marker unreachable by construction;
      // a parse failure therefore means external corruption — name the file
      // instead of wedging every restart on a bare NumberFormatException
      try MetaFs.readString(metaPath).trim.split(' ') match {
        case Array(b, ts, v, c) => Checkpoint(b.toLong, ts.toLong, v.toLong, c.toBoolean)
        // a wrong token count is external corruption like a garbage field
        // — resetting to batchId=-1 here would silently disable the
        // replay-skip guard and move the resume position to the origin
        case parts => throw new IllegalArgumentException(
          s"${parts.length} fields where 4 expected")
      } catch {
        // IllegalArgumentException covers both the numeric fields (NFE is
        // its subclass) and a corrupt boolean field (`toBoolean` throws
        // the parent directly)
        case e: IllegalArgumentException => throw new IllegalStateException(
          s"corrupt checkpoint marker $metaPath — delete it to force an " +
            "idempotent replay of the last batch", e)
      }
    } else Checkpoint(-1L, -1L, -1L, consistent = true)

  def lastCommitted: Long = lastCheckpoint.batchId

  /** Highest upstream commit ts durably applied — the resume position for a
    * ts-addressed source replay (ref: drainer restarts from checkpoint
    * CommitTS, not from a batch counter). */
  def lastCommitTs: Long = lastCheckpoint.commitTs

  def lastSchemaVersion: Long = lastCheckpoint.schemaVersion

  private def bucketOf(pk: org.apache.spark.sql.Column) =
    pmod(xxhash64(pk), lit(nBuckets)).cast("int")

  // the bucket modulus is part of the ON-DISK layout: reopening an
  // existing state with a different nBuckets would route keys to the
  // wrong directories (pruned reads miss their real bucket, writes land
  // a second copy elsewhere) with no error — pin it beside the
  // checkpoint and fail loudly on mismatch
  private val layoutPath = s"$root/_n_buckets"
  private def checkLayout(): Unit =
    if (MetaFs.exists(layoutPath)) {
      val n = MetaFs.readString(layoutPath).trim.toInt
      require(n == nBuckets,
        s"state at $root is laid out with $n buckets; reopening with " +
          s"$nBuckets would split keys across mismatched directories — " +
          "rebucket (read + rewrite) or recreate the state")
    } else MetaFs.writeString(layoutPath, s"$nBuckets\n")

  // the stored columns plus the partition column: reads pass it instead of
  // inferring it, which would cost a footer-reading job per read
  private val stateSchema = StructType(Seq(
    StructField("pk", LongType), StructField("commit_ts", LongType),
    StructField("value", DoubleType), StructField("bucket", IntegerType)))

  private def readState(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.schema(stateSchema).option("basePath", statePath)
      .parquet(paths: _*)

  private def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      stateSchema)

  /** Roll back (or finish) a bucket swap a crash interrupted
    * ([[MetaFs.healSwap]]) — unhealed, the replayed batch would merge into
    * an empty bucket and silently lose every pre-existing key. At most one
    * bucket can be half-swapped (the swap loop is sequential), but the
    * aside names are deterministic per bucket, so healing is one directory
    * listing — run before any state read. */
  private def healHalfSwaps(): Unit =
    MetaFs.listNames(root).filter(_.startsWith("bucket_old=")).foreach(n =>
      MetaFs.healSwap(s"$statePath/bucket=${n.stripPrefix("bucket_old=")}",
        s"$root/$n"))

  def currentState(spark: SparkSession): DataFrame = {
    healHalfSwaps()
    // bucket-dir presence, not statePath presence: a state whose every
    // key was deleted keeps the (empty) state dir but no bucket dirs
    val hasBuckets = MetaFs.listNames(statePath).exists(_.startsWith("bucket="))
    (if (hasBuckets) readState(spark, Seq(statePath)) else emptyState(spark))
      .select("pk", "commit_ts", "value")
  }

  /** The state rows of a bucket subset — a partition-pruned read: one
    * listing of `state/`, and only the named bucket directories are
    * scanned. */
  private def stateForBuckets(spark: SparkSession, buckets: Seq[Int]): DataFrame = {
    val present = MetaFs.listNames(statePath).toSet
    val existing = buckets.map(b => s"bucket=$b").filter(present)
      .map(n => s"$statePath/$n")
    // keep the partition column the pruned read provides: re-hashing
    // existing rows per batch is wasted work, and rows staying in the
    // directory they were read from holds by construction
    if (existing.isEmpty) emptyState(spark) else readState(spark, existing)
  }

  /** Apply one micro-batch of change rows (pk, commit_ts, op, value[, ddl]).
    * Returns true if applied, false if skipped as a replay. On success the
    * checkpoint advances to (batchId, max applied commit_ts, schemaVersion,
    * consistent=true) in one marker write — a crash mid-apply leaves the
    * previous checkpoint, and whole-batch replay is idempotent. */
  def applyBatch(batch0: DataFrame, batchId: Long, schemaVersion: Long = -1L): Boolean = {
    val prev = lastCheckpoint // one marker read serves guard + fallbacks
    if (batchId <= prev.batchId) return false // idempotent replay skip
    checkLayout()
    healHalfSwaps() // a crash mid-swap must be rolled back BEFORE state reads
    val spark = batch0.sparkSession
    // pinned: the metadata aggregate and the merge's bucket-set and write
    // jobs read it, so the source scan runs once
    val batch = batch0.persist()
    try {
      // one job for the batch's metadata: the DDL markers and the max ts.
      // A SET: several DDLs sharing one commit ts (one upstream txn's jobs)
      // are ONE marker
      val meta = batch.agg(
        collect_set(when(col("op") === "DDL", col("commit_ts"))),
        max("commit_ts")).head()
      merge(spark, batch.filter(col("op") =!= "DDL"))
      val ddlTs = meta.getSeq[Long](0).sorted
      if (ddlTs.nonEmpty) MetaFs.mkdirs(ddlLogDir)
      ddlTs.foreach(ts =>
        MetaFs.writeString(f"$ddlLogDir/$batchId%020d-$ts%020d", s"$batchId:$ts\n"))
      val maxTs = if (meta.isNullAt(1)) prev.commitTs else meta.getLong(1)
      val version = if (schemaVersion >= 0) schemaVersion else prev.schemaVersion
      MetaFs.writeString(metaPath,
        s"$batchId ${math.max(maxTs, prev.commitTs)} $version true")
      true
    } finally { batch.unpersist(); () }
  }

  private def merge(spark: SparkSession, rows: DataFrame): Unit = {
    // a frame carrying the T9 intra-txn sequence resolves same-ts chains
    // by STATEMENT ORDER (ref: drainer/translator/sequence_iterator.go:
    // 32-70 + pkg/loader/merge.go:79-133) — the highest seq at a ts is
    // the txn's net effect, so a same-ts delete-then-reinsert lands the
    // reinsert; without seq the D>U>I tie-break below stands
    val hasSeq = rows.columns.contains("seq")
    val cols = Seq("pk", "commit_ts", "op", "value") ++
      (if (hasSeq) Seq("seq") else Nil)
    // read twice (bucket set + merge), both times off the pinned batch
    val incoming = rows.select(cols.map(col): _*)
      .withColumn("bucket", bucketOf(col("pk")))
    // the touched-bucket set: ≤ nBuckets values, a metadata-sized collect
    // that doubles as the batch's emptiness probe
    val touched = incoming.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    if (touched.isEmpty) return
    val existing0 = stateForBuckets(spark, touched)
      .withColumn("op", lit("I")) // materialized rows behave as inserts
    // materialized rows sit BELOW every sequenced statement at their ts
    val existing = if (hasSeq)
      existing0.withColumn("seq", lit(MergeOrder.MaterializedSeq)) else existing0
    // same-ts ties broken by the ONE shared order ([[MergeOrder]]): the T9
    // seq when carried (the only resolver of a within-txn
    // delete-then-reinsert), else D>U>I net effect, then the payload.
    // The window groups by (bucket, pk): the bucket is a function of the
    // key (pinned by `_n_buckets`), so this is the per-key grouping, and
    // the ONE exchange below on `bucket` satisfies both the window and the
    // writer's partition-column ordering
    val seqOrder = if (hasSeq) Seq(MergeOrder.seqKey.desc) else Nil
    val w = Window.partitionBy("bucket", "pk")
      .orderBy(col("commit_ts").desc +: seqOrder :+ MergeOrder.opRank.desc :+
        col("value").desc_nulls_last: _*)
    val next = existing
      .unionByName(incoming)
      // an explicit count, so AQE cannot coalesce it: every bucket's rows
      // land in one task, which writes the bucket as one file
      .repartition(nBuckets, col("bucket"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D") // delete suppression
      .select("pk", "commit_ts", "value", "bucket")
    // rewrite ONLY the touched buckets: dynamic-partition-overwrite semantics
    // via a staging write + per-bucket directory swap (the parquet analog of
    // MERGE INTO; untouched buckets are never read, listed, or moved)
    val tmp = s"$root/state_tmp"
    MetaFs.delete(tmp)
    next.write.partitionBy("bucket").mode("overwrite").parquet(tmp)
    MetaFs.mkdirs(statePath)
    // a bucket whose keys all deleted writes no staging dir and simply
    // ends vacated
    touched.foreach(b => MetaFs.swapDir(s"$tmp/bucket=$b",
      s"$statePath/bucket=$b", s"$root/bucket_old=$b"))
    MetaFs.delete(tmp)
  }
}
