package graft.harness

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.harness.DecodeQueries.{stageWire, wireDdlRow}
import graft.ops.Cdc
import graft.pipeline.{DrainerConfig, DrainerPipeline}
import graft.sinks.JdbcSchemaLoader
import graft.streaming.SchemaTracker

/** Oracle harness of the drainer compositions: `drainer_batch` and
  * `drainer_replicated`, each with its DuckDB twin. */
object DrainerQueries {

  /** Oracle-checked drainer composition: the user-facing
    * [[DrainerPipeline.batch]] entry under a non-trivial config — an
    * ignore-commitTs list (F3, here the stream's first and last txn, computed
    * from a 2-value aggregate so the query holds at every scale factor), an
    * event-type drop rule (F2), a value threshold, and per-PK compaction (A1)
    * over the 4-pump k-way merge (T2). Each piece has its own oracle; this
    * entry hash-pins their COMPOSITION — filter order and the compaction's
    * first/last-op algebra over the filtered (not raw) stream (ref:
    * drainer/syncer.go filter chain feeding the loader). */
  def batchQuery(spark: SparkSession, dir: String): DataFrame = {
    val bounds = Cdc.changes(spark, dir)
      .agg(min("commit_ts"), max("commit_ts")).head
    // empty change set → NULL min/max; an empty ignore list degrades
    // consistently with the oracle SQL (every filter of nothing is nothing)
    val ignore =
      if (bounds.isNullAt(0)) Nil else Seq(bounds.getLong(0), bounds.getLong(1))
    DrainerPipeline.batch(spark, dir, DrainerConfig(
      ignoreCommitTs = ignore,
      dropEventTypes = Seq("click"),
      minValue = Some(5.0)))
  }

  def batchSql: String =
    s"""WITH c AS (${Cdc.changesCte}),
       |b AS (SELECT min(commit_ts) AS lo, max(commit_ts) AS hi FROM c),
       |f AS (SELECT c.* FROM c, b
       |      WHERE c.commit_ts <> b.lo AND c.commit_ts <> b.hi
       |        AND c.event_type <> 'click' AND c.value >= 5.0),
       |r AS (
       |  SELECT pk, commit_ts, value, op,
       |    row_number() OVER (PARTITION BY pk ORDER BY commit_ts DESC) AS rn,
       |    first_value(op) OVER (PARTITION BY pk ORDER BY commit_ts
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_op
       |  FROM f)
       |SELECT pk, commit_ts, value,
       |  CASE WHEN op = 'D' THEN 'D' WHEN first_op = 'U' THEN 'U' ELSE 'I' END AS op
       |FROM r WHERE rn = 1""".stripMargin

  /** Oracle-checked [[DrainerPipeline.streamingReplicated]] composition under
    * the hash gate: stage the change stream onto the binlog wire as TWO
    * tables routed by pk parity — `ta` (even) gains `extra BIGINT` via a wire
    * ADD COLUMN at the staged slice's midpoint (the slice is the stream's
    * first 20% so the embedded target's JDBC throughput doesn't dominate the
    * bench), `tb` (odd) stays narrow — run the full loop (merged wire →
    * versioned decode → translated DDL at the loader barrier → merge-by-PK
    * into Derby), and return the final target state of both tables. The
    * DuckDB oracle computes the same end state straight from the parquet:
    * last image per pk, deletes absent, `extra` only for post-midpoint `ta`
    * images (pre-barrier rows inserted before the target knew the column;
    * Derby backfills NULL on ADD COLUMN, exactly the decode's pre-DDL NULL).
    * Payload values ride mod 1e6 + .25 so both engines stay float-exact. */
  def replicatedQuery(spark: SparkSession, dir: String): DataFrame = {
    val (wireDir, outDir, ckpt) = stageWire(
        spark, dir, "repl") { (changes, maxTs) =>
      // first 20% of the stream, DDL at its midpoint — the composition
      // exercises every path at any volume; the embedded target's JDBC
      // throughput should not dominate the bench (multiTableQuery's
      // slicing rationale). The DML keeps the ORIGINAL op column (the
      // oracle filters deletes), so the envelope is spelled in place
      // rather than through wireDmlRows' op='U' shape.
      val bound = maxTs / 5
      val m = bound / 2
      changes.filter(col("commit_ts") <= bound).select(
        col("commit_ts"), col("pk"), col("op"),
        when(pmod(col("pk"), lit(2)) === 0, "ta").otherwise("tb").as("event_type"),
        col("ts"), col("value"),
        concat(lit("{\"k\": "),
          (pmod(col("commit_ts"), lit(1000000L)).cast("double") + 0.25)
            .cast("string"),
          when(pmod(col("pk"), lit(2)) === 0 && col("commit_ts") > m,
            concat(lit(", \"extra\": "), pmod(col("pk"), lit(1000000L))))
            .otherwise(lit("")),
          lit("}")).as("props"),
        lit(null).cast("string").as("ddl_sql"))
        .unionByName(wireDdlRow(spark, m,
          "ALTER TABLE app.ta ADD COLUMN extra BIGINT"))
    }
    val tracker = new SchemaTracker()
    tracker.createTable("app", "ta", Seq("k DOUBLE"), version = 0)
    tracker.createTable("app", "tb", Seq("k DOUBLE"), version = 0)
    val loader = new JdbcSchemaLoader(
      graft.util.Scratch.derbyMemUrl("graft_repl_q"), applyPartitions = 8)
    loader.createTable(
      "CREATE TABLE TA_STATE (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, K DOUBLE)")
    loader.createTable(
      "CREATE TABLE TB_STATE (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, K DOUBLE)")
    val q = DrainerPipeline.streamingReplicated(spark, Seq(wireDir), tracker, loader,
      outDir, ckpt, "app", col("event_type"),
      tableMap = t => t.toUpperCase + "_STATE",
      ddlToTarget = {
        case (t, "add", c, ty) =>
          Some(s"ALTER TABLE ${t.toUpperCase}_STATE ADD COLUMN ${c.toUpperCase} $ty")
        case _ => None
      })
    try q.processAllAvailable() finally q.stop()
    val ta = loader.readTable(spark, "TA_STATE", Some("PK")).select(
      lit("ta").as("tbl"), col("PK").as("pk"), col("COMMIT_TS").as("commit_ts"),
      col("K").as("k"), col("EXTRA").cast("long").as("extra"))
    val tb = loader.readTable(spark, "TB_STATE", Some("PK")).select(
      lit("tb").as("tbl"), col("PK").as("pk"), col("COMMIT_TS").as("commit_ts"),
      col("K").as("k"), lit(null).cast("long").as("extra"))
    ta.unionByName(tb)
  }

  def replicatedSql: String =
    s"""WITH c AS (${Cdc.changesCte}),
       |b AS (SELECT max(commit_ts)//5 AS bound, (max(commit_ts)//5)//2 AS mid FROM c),
       |r AS (SELECT pk, commit_ts, op,
       |        CAST((commit_ts % 1000000) + 0.25 AS DOUBLE) AS k,
       |        CASE WHEN pk % 2 = 0 AND commit_ts > b.mid
       |             THEN pk % 1000000 END AS extra,
       |        row_number() OVER (PARTITION BY pk ORDER BY commit_ts DESC) AS rn
       |      FROM c, b WHERE c.commit_ts <= b.bound)
       |SELECT CASE WHEN pk % 2 = 0 THEN 'ta' ELSE 'tb' END AS tbl,
       |  pk, commit_ts, k, CAST(extra AS BIGINT) AS extra
       |FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin
}
