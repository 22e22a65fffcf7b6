package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.MetaFs

/** Streaming twin of the SCD type-2 materialization
  * ([[graft.ops.Transforms.scd2]]): maintains the interval history of a
  * change stream incrementally, one micro-batch at a time.
  *
  * State is two tables:
  *  - `open`: the current row per live key — (pk, valid_from, value);
  *  - `closed`: append-only closed intervals — (pk, valid_from, valid_to,
  *    value).
  *
  * Per batch (keys ordered by commit_ts within and across batches, the
  * guarantee the drainer's ordered merge provides):
  *  - an open row whose key appears in the batch closes at the key's first
  *    batch event (one equi-join against the batch's per-key min ts);
  *  - intra-batch history is the batch-local SCD2 window — rows with a
  *    successor close inside the batch, the last non-delete row per key
  *    stays open;
  *  - deletes close their predecessor and open nothing.
  *
  * Closed intervals are APPENDED, never rewritten — at scale that is the
  * audit-log write profile (a lakehouse append partitioned by
  * bucket(valid_to) time); only the live-key `open` table rewrites, and it
  * is bounded by live keys, not history length. All metadata and the
  * open-table swap go through the Hadoop `FileSystem` of the root's URI
  * ([[graft.util.MetaFs]]) — `file:`/`hdfs:`/object-store roots all work.
  * Idempotent replay uses the same batchId checkpoint as [[UpsertSink]],
  * and the marker RIDES the open-table swap (a `_committed_batch` file
  * written into the staged open dir before the rename — Spark ignores
  * `_`-prefixed files): the state advance and the marker commit in one
  * atomic rename, so a replay can never recompute closes against an
  * ALREADY-advanced open table (which would append inverted intervals).
  * The closed "append" itself is IDEMPOTENT: each batch's closed rows land
  * under a batchId-keyed partition directory (`closed/batch=<id>`) written
  * with overwrite semantics, so a crash between the closed write and the
  * swap replays to the SAME directory — recomputed from the unchanged open
  * table, byte-equal rows, no duplicates — which is the parquet shape of
  * the reference's checkpoint-in-same-txn rule
  * (drainer/checkpoint/mysql.go:34-196): replay after ANY crash point
  * converges to the exact committed state — and reads BETWEEN the crash
  * and the replay are clean too, because [[history]] filters the closed
  * scan to batch dirs at or below the committed marker (an uncommitted,
  * possibly torn, `closed/batch=<id>` dir is partition-pruned out before
  * any of its files are opened). The root-level marker survives
  * for empty batches and pre-existing state. The other
  * crash window — between the open-table swap's two renames, which leaves
  * the ONLY copy of the open table at `open_old` — is self-healing: every
  * read and apply first rolls a detected half-swap back (open_old present,
  * open missing → promote it), and the old copy is deleted only after the
  * promote, so no interleaving of crash and replay can lose live intervals.
  * StreamingSpec pins both (the crash-injection case and the incremental
  * history equal to the batch materialization of the whole stream). */
class HistorySink(root: String) {
  private val openPath = s"$root/open"
  private val closedPath = s"$root/closed"
  private val metaPath = s"$root/_committed_batch"

  private val openMarker = s"$openPath/_committed_batch"

  def lastCommitted: Long = {
    def readMarker(p: String): Long =
      if (!MetaFs.exists(p)) -1L
      else try MetaFs.readString(p).trim.toLong
      catch {
        // unreachable via MetaFs.writeString (torn writes stay in .tmp);
        // external corruption must name the file, not wedge every restart
        case e: NumberFormatException => throw new IllegalStateException(
          s"corrupt checkpoint marker $p — delete it to force an " +
            "idempotent replay of the last batch", e)
      }
    // the in-open marker advanced atomically with the swap; the root
    // marker covers empty batches — the frontier is the max of the two
    // (a mid-swap crash reads the restored old open's marker either way)
    math.max(readMarker(metaPath), readMarker(openMarker))
  }

  private val openOld = s"$root/open_old"

  private def emptyFrame(spark: SparkSession, withTo: Boolean): DataFrame = {
    import org.apache.spark.sql.types._
    val base = Seq(StructField("pk", LongType), StructField("valid_from", LongType)) ++
      (if (withTo) Seq(StructField("valid_to", LongType)) else Nil) :+
      StructField("value", DoubleType)
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(base))
  }

  private def openRows(spark: SparkSession): DataFrame = {
    // a read after a mid-swap crash must see the live rows
    MetaFs.healSwap(openPath, openOld)
    if (MetaFs.exists(openPath))
      spark.read.parquet(openPath).select("pk", "valid_from", "value")
    else emptyFrame(spark, withTo = false)
  }

  private def closedRows(spark: SparkSession): DataFrame =
    if (MetaFs.exists(closedPath)) {
      // partition discovery over the batch=<id> leaf dirs; the batch id is
      // commit bookkeeping, not part of the interval schema. Reads see only
      // COMMITTED batches: between a crashed closed write and its replay,
      // an uncommitted (possibly torn) batch=<id> dir exists with no marker
      // advance — the explicit schema (no footer inference) plus the
      // partition-pruned filter keeps its files entirely out of the scan,
      // so history() is never dirty or wedged in that window
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(StructField("pk", LongType),
        StructField("valid_from", LongType), StructField("valid_to", LongType),
        StructField("value", DoubleType), StructField("batch", LongType)))
      spark.read.schema(schema).parquet(closedPath)
        .filter(col("batch") <= lastCommitted)
        .select("pk", "valid_from", "valid_to", "value")
    } else emptyFrame(spark, withTo = true)

  /** The full history so far: closed intervals plus open rows (null
    * valid_to, flagged current) — the same shape as the batch scd2. */
  def history(spark: SparkSession): DataFrame =
    closedRows(spark)
      .withColumn("is_current", lit(false))
      .unionByName(openRows(spark)
        .withColumn("valid_to", lit(null).cast("long"))
        .withColumn("is_current", lit(true)))

  /** Apply one micro-batch of (pk, commit_ts, op, value) change rows.
    * Returns false when skipped as an idempotent replay. */
  def applyBatch(batch: DataFrame, batchId: Long): Boolean = {
    if (batchId <= lastCommitted) return false
    val spark = batch.sparkSession
    val hasSeq = batch.columns.contains("seq")
    val b = batch.select(("pk" +: "commit_ts" +: "op" +: "value" +:
        (if (hasSeq) Seq("seq") else Nil)).map(col): _*)
      .localCheckpoint(true)
    if (!b.isEmpty) {
      val firstTs = b.groupBy("pk").agg(min("commit_ts").as("first_ts"))
      val open = openRows(spark)
      // open rows of touched keys close at the key's first batch event
      val closedFromOpen = open.join(firstTs, "pk")
        .select(col("pk"), col("valid_from"), col("first_ts").as("valid_to"), col("value"))
      val untouched = open.join(firstTs, Seq("pk"), "left_anti")
      // batch-local SCD2; same-ts rows (one txn's statements) chain by the
      // ONE shared order ([[MergeOrder]]) read ASCENDING: the T9 seq when
      // carried, else deletes last (D>U>I net effect), then the value — a
      // bare ts order would chain same-ts intervals in shuffle order
      val seqOrder = if (hasSeq) Seq(MergeOrder.seqKey.asc) else Nil
      val w = Window.partitionBy("pk")
        .orderBy(col("commit_ts").asc +: seqOrder :+ MergeOrder.opRank.asc :+
          col("value").asc_nulls_first: _*)
      val intra = b.withColumn("valid_to", lead("commit_ts", 1).over(w))
      val closedIntra = intra.filter(col("op") =!= "D" && col("valid_to").isNotNull)
        .select(col("pk"), col("commit_ts").as("valid_from"), col("valid_to"), col("value"))
      val newOpen = intra.filter(col("op") =!= "D" && col("valid_to").isNull)
        .select(col("pk"), col("commit_ts").as("valid_from"), col("value"))
      // closed history only grows; open is rewritten (live keys only).
      // Each batch's closed rows land in their OWN batchId-keyed partition
      // dir with overwrite semantics: a replay after a crash between this
      // write and the swap below recomputes the same rows (the open table
      // is unchanged until the swap commits) and overwrites the same dir —
      // idempotent, no duplicate intervals, no cross-file transaction
      // needed. At scale this is still the audit-log append profile: one
      // new leaf directory per batch, existing leaves never rewritten.
      closedFromOpen.unionByName(closedIntra)
        .write.mode("overwrite").parquet(s"$closedPath/batch=$batchId")
      val tmp = s"$root/open_tmp"
      untouched.unionByName(newOpen).write.mode("overwrite").parquet(tmp)
      // the batch marker RIDES the swap: marker and open-table advance
      // commit atomically in the tmp→open rename (see the class note) —
      // without this, a crash after the swap but before the root-marker
      // write replayed the batch against the ALREADY-advanced open table
      // and appended inverted intervals
      MetaFs.writeString(s"$tmp/_committed_batch", batchId.toString)
      // a crash at any point of the swap is rolled back or finished on
      // the next read/apply
      MetaFs.swapDir(tmp, openPath, openOld)
    }
    MetaFs.writeString(metaPath, batchId.toString)
    true
  }
}
