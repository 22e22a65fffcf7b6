package graft.sinks

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** K1 made real: the loader's apply path against an actual SQL engine
  * (embedded Derby, which ships on the Spark classpath), not a parquet
  * stand-in. [[UpsertSink]] remains the lake variant; this class is the
  * `foreachBatch` twin of the reference's MySQL loader at its FIXED-schema,
  * single-state-table shape.
  *
  * Every piece of apply machinery — merge-by-unique-key with the shared
  * same-ts tie-break ([[MergeOrder]]), delete→insert ordering, 128-row
  * batched REPLACE statements over hash-dispatched parallel connections,
  * DDL barriers with the logged replay guard, and the checkpoint row in the
  * target database — is [[JdbcSchemaLoader]]'s, invoked on the one state
  * table. The reference has exactly this layering: one loader pipeline
  * serves every sink (ref: pkg/loader/load.go:706-724, executor.go:179-334);
  * a duplicated sibling path here is how the r17 same-ts tie-break drift
  * survived review, so this class now owns ONLY:
  *
  *  - the fixed (pk, commit_ts, val) state-table bootstrap
  *    ([[ensureTables]] — the one place allowed to boot the database);
  *  - the envelope bridge (the change stream's `value` column binds to the
  *    table's VAL);
  *  - the single-table read-back surface ([[currentState]]), which is
  *    FAIL-LOUD: it connects through [[JdbcMeta.readUrl]]'s stripped URL,
  *    so a wrong or never-booted database throws instead of silently
  *    booting empty and reading back "no state" as a plausible answer.
  *
  * Scale shape: the per-batch work is one shuffle of the micro-batch (the
  * key-hash repartition) plus JDBC round-trips proportional to the batch,
  * never to the table — the same O(batch) profile as the reference loader.
  * Swapping the URL for a real MySQL/TiDB endpoint changes nothing above
  * the driver.
  */
class JdbcUpsertSink(url: String, clusterId: Long = 1L,
    // ref: executor.go:39 defaultWorkerCount = 16 parallel connections
    applyPartitions: Int = 16) extends Serializable {

  private val stateTable = "GRAFT_STATE"

  // the read side's parallelism, matching the loader's 16 write workers
  private val readPartitions = 16

  private val loader =
    new JdbcSchemaLoader(url, clusterId, applyPartitions = applyPartitions)

  /** Bootstrap state + checkpoint + ddl-log tables (ref: the loader creates
    * nothing, but the checkpoint package creates its own schema/table on
    * first use — drainer/checkpoint/mysql.go:75-84). The WRITE path — the
    * one caller allowed to boot the database via the URL's `;create=true`. */
  def ensureTables(): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      JdbcMeta.createIfAbsent(c,
        s"CREATE TABLE $stateTable (pk BIGINT PRIMARY KEY, commit_ts BIGINT, val DOUBLE)")
      JdbcMeta.ensureMeta(c)
    } finally c.close()
  }

  def lastCheckpoint: Checkpoint = loader.lastCheckpoint

  def lastCommitted: Long = lastCheckpoint.batchId
  def lastCommitTs: Long = lastCheckpoint.commitTs
  def lastSchemaVersion: Long = lastCheckpoint.schemaVersion

  /** The materialized state, read back through Spark's JDBC source as a
    * PARTITIONED scan: pk bounds come from one two-value metadata query,
    * then `readPartitions` connections stride the key range in parallel —
    * the default unpartitioned JDBC read drags the whole table through a
    * single connection, which is exactly the bottleneck the loader's
    * 16-worker write side exists to avoid. FAIL-LOUD read contract: the
    * connection goes through [[JdbcMeta.readUrl]] (no `;create=true`), so
    * a wrong URL or a never-booted database throws (Derby XJ004) instead
    * of silently booting an empty database and answering "no state". */
  def currentState(spark: SparkSession): DataFrame =
    JdbcMeta.partitionedRead(spark, url, stateTable, Some("pk"), readPartitions)
      .select(col("PK").as("pk"), col("COMMIT_TS").as("commit_ts"),
        col("VAL").as("value"))

  /** Apply one micro-batch of change rows (pk, commit_ts, op, value[, seq,
    * ddl_sql]) through the schema loader's single-table apply. Returns true
    * if applied, false if skipped as a replay. DDL rows are barriers; the
    * statement text rides in an optional `ddl_sql` string column on the DDL
    * row (already rewritten to the target dialect — M8's job); DDL rows
    * without it are barrier-only, recorded but not executed (ref:
    * pkg/loader/load.go:845-866). */
  def applyBatch(batch0: DataFrame, batchId: Long, schemaVersion: Long = -1L): Boolean = {
    ensureTables()
    // pinned: the loader's DDL gather and its merge both read this frame,
    // and unpinned each would re-run the caller's lineage. The envelope's
    // `value` binds to the state table's VAL column by the loader's
    // catalog↔frame name bridge.
    val batch = batch0.withColumnRenamed("value", "val").persist()
    try loader.applyBatch(Map(stateTable -> batch), batchId, schemaVersion)
    finally { batch.unpersist(); () }
  }
}
