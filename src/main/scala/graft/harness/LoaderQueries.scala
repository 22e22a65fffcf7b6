package graft.harness

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.{JdbcSchemaLoader, JdbcUpsertSink}
import graft.util.Scratch

/** Oracle harness of the JDBC loaders: the five `k1_*` queries, each with
  * its DuckDB twin. Every query applies a slice of the change stream to a
  * fresh in-memory Derby database and reads the target back. */
object LoaderQueries {

  /** Oracle-checked K1 query: apply the first 20% (by commit ts) of the
    * change stream through the REAL loader path — merge-by-pk, delete-first
    * ordering, 128-row batched REPLACE statements — into a fresh
    * embedded Derby database, then read the table back over JDBC. The
    * result must hash-match DuckDB computing the same compacted state from
    * parquet, which pins the loader's semantics (and the SQL engine round
    * trip of BIGINT/DOUBLE values) under the driver's correctness gate.
    * The database is rebuilt every run; the applied slice is ts-bounded so
    * the query's cost scales with the prefix, not the corpus. */
  def stateQuery(spark: SparkSession, dir: String): DataFrame = {
    val changes = graft.ops.Cdc.changes(spark, dir)
    val maxTs = graft.ops.Cdc.maxCommitTs(changes)
    val slice = changes.filter(col("commit_ts") <= maxTs * 2 / 10)
      .select("pk", "commit_ts", "op", "value")
    // per-invocation in-memory database, reclaimed prefix-scoped (the
    // previous invocation's database is dropped here — see Scratch)
    val sink = new JdbcUpsertSink(Scratch.derbyMemUrl("graft_k1_state"))
    sink.applyBatch(slice, batchId = 0L)
    sink.currentState(spark)
  }

  def stateSql: String =
    s"""WITH c AS (${graft.ops.Cdc.changesCte}),
       |f AS (SELECT * FROM c
       |      WHERE commit_ts <= (SELECT max(commit_ts) * 2 // 10 FROM c)),
       |r AS (SELECT pk, commit_ts, value, op,
       |        row_number() OVER (PARTITION BY pk ORDER BY commit_ts DESC) AS rn
       |      FROM f)
       |SELECT pk, commit_ts, value FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin

  /** Oracle-checked multi-table K1 query: route the first 10% (by commit
    * ts) of the TYPED change stream into TWO differently-shaped Derby
    * tables — a narrow (pk, commit_ts, val) table keyed by single PK, and a
    * wide typed table keyed by a COMPOSITE unique key (k1, k2) carrying the
    * M9 domains (DECIMAL(38,19) as exact text under Derby's 31-digit cap,
    * uint64 as DECIMAL(20,0), BIT(64) as BIGINT, enum ordinal as INT) —
    * through the schema-driven loader, then read both back over JDBC and
    * union them normalized. Hash-matching DuckDB's per-table compaction
    * pins per-table grouping, catalog-driven column lists, composite-key
    * merge and the typed round-trip through a real SQL engine
    * (ref: pkg/loader/load.go:706-724, executor.go:210, model.go:303-322). */
  def multiTableQuery(spark: SparkSession, dir: String): DataFrame = {
    // 8 writer/reader partitions, not the 16-worker cluster default: the
    // embedded engine serializes page access, so extra connections only
    // add contention here (the constructor default stays at reference
    // parity for real server targets)
    val loader = new JdbcSchemaLoader(
      Scratch.derbyMemUrl("graft_k1_multi"), applyPartitions = 8)
    loader.createTable(
      "CREATE TABLE ORDERS_STATE (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, VAL DOUBLE)")
    loader.createTable(
      """CREATE TABLE TYPED_STATE (K1 BIGINT NOT NULL, K2 VARCHAR(8) NOT NULL,
        | COMMIT_TS BIGINT, VAL DOUBLE, DEC38 VARCHAR(45), UDEC DECIMAL(20,0),
        | BITS BIGINT, ENUM_ORD INT,
        | CONSTRAINT TYPED_UK UNIQUE (K1, K2))""".stripMargin)
    val changes = graft.ops.TypeDomain.typedEnvelope(
      graft.ops.Cdc.changes(spark, dir))
    val maxTs = graft.ops.Cdc.maxCommitTs(changes)
    val slice = changes.filter(col("commit_ts") <= maxTs / 10)
    val orders = slice.filter(col("pk") % 2 === 0)
      .select(col("pk"), col("commit_ts"), col("op"), col("value").as("val"))
    val typed = slice.filter(col("pk") % 2 === 1).select(
      col("pk").as("k1"), (col("commit_ts") % 5).cast("string").as("k2"),
      col("commit_ts"), col("op"), col("value").as("val"),
      col("dec38"), col("udec").cast("decimal(20,0)").as("udec"),
      col("bits"), col("enum_ord"))
    loader.applyBatch(Map("ORDERS_STATE" -> orders, "TYPED_STATE" -> typed), 0L)
    val o = loader.readTable(spark, "ORDERS_STATE", Some("PK"))
      .select(lit("orders").as("tbl"), col("PK").as("k1"),
        lit(null).cast("string").as("k2"), col("COMMIT_TS").as("commit_ts"),
        col("VAL").as("val"), lit(null).cast("string").as("dec38"),
        lit(null).cast("string").as("udec_str"),
        lit(null).cast("long").as("bits"), lit(null).cast("long").as("enum_ord"))
    val t = loader.readTable(spark, "TYPED_STATE", Some("K1"))
      .select(lit("typed").as("tbl"), col("K1").as("k1"), col("K2").as("k2"),
        col("COMMIT_TS").as("commit_ts"), col("VAL").as("val"),
        // the dialect stored the wide decimal as exact text; restore the
        // full DECIMAL(38,19) type on scan, value-exact
        col("DEC38").cast("decimal(38,19)").cast("string").as("dec38"),
        col("UDEC").cast("string").as("udec_str"), col("BITS").as("bits"),
        col("ENUM_ORD").cast("long").as("enum_ord"))
    o.unionByName(t)
  }

  /** Oracle-checked sequence-preserving K1 query (P1∘K1): replay the first
    * 10% of the change stream DML-BY-DML — no merge — into a Derby table
    * carrying a REAL secondary unique constraint, dispatched by causality
    * conflict groups (a pk's whole history shares its key images, so it
    * serializes; unrelated histories run on parallel connections). The
    * derived `uk` walks each pk's private slot range (pk*4 + seq mod 4),
    * so every intermediate state is legal under the unique index — which
    * the engine ENFORCES as the replay runs; safe-mode REPLACE absorbs the
    * envelope's non-well-formed op sequences exactly as reparo's safe mode
    * does into a half-recovered target. Hash-matching DuckDB's compaction
    * proves the per-DML path lands on the same final state the merged path
    * jumps to (ref: load.go:529-575 singleExec + causality,
    * causality.go:31-53). */
  def seqApplyQuery(spark: SparkSession, dir: String): DataFrame = {
    val loader = new JdbcSchemaLoader(
      Scratch.derbyMemUrl("graft_k1_seq"), applyPartitions = 8)
    loader.createTable(
      // UK is NOT NULL so the key predicate compiles to an index probe —
      // the nullable OR-form scans the table under lock and deadlocks
      // parallel appliers (the r4 lesson, same cause)
      """CREATE TABLE SEQ_STATE (PK BIGINT PRIMARY KEY, UK BIGINT NOT NULL,
        | COMMIT_TS BIGINT, VAL DOUBLE,
        | CONSTRAINT SEQ_UK UNIQUE (UK))""".stripMargin)
    val changes = graft.ops.Cdc.changes(spark, dir)
    val maxTs = graft.ops.Cdc.maxCommitTs(changes)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pk")).orderBy(col("commit_ts"))
    val slice = changes.filter(col("commit_ts") <= maxTs / 20)
      .withColumn("uk",
        col("pk") * 4 + (row_number().over(w) - 1) % 4)
      .select(col("pk"), col("uk"), col("commit_ts"), col("op"),
        col("value").as("val"))
    loader.applyBatch(Map("SEQ_STATE" -> slice), 0L,
      merge = false, safeMode = true)
    loader.readTable(spark, "SEQ_STATE", Some("PK"))
      .select(col("PK").as("pk"), col("UK").as("uk"),
        col("COMMIT_TS").as("commit_ts"), col("VAL").as("val"))
  }

  def seqApplySql: String =
    s"""WITH c AS (${graft.ops.Cdc.changesCte}),
       |f AS (SELECT *,
       |        pk * 4 + (row_number() OVER (PARTITION BY pk ORDER BY commit_ts) - 1) % 4 AS uk
       |      FROM c
       |      WHERE commit_ts <= (SELECT max(commit_ts) // 20 FROM c)),
       |r AS (SELECT pk, uk, commit_ts, value, op,
       |        row_number() OVER (PARTITION BY pk ORDER BY commit_ts DESC) AS rn
       |      FROM f)
       |SELECT pk, uk, commit_ts, value AS val FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin

  /** Oracle-checked MERGED-path key-migration query: every update moves its
    * row's composite unique key (k1 = pk, k2 = seq mod 3) to the next slot,
    * carrying the T8 `old_*` before-image — so the merged fold MUST split
    * each one into DELETE(old image) + INSERT(new image) or the vacated
    * key's row is stranded in the target (ref: pkg/loader/merge.go:48-77
    * splits exactly this before folding; model.go:216-251 getKeys unions
    * old+new images). Hash-matching DuckDB's replay of the same split
    * algebra pins the synthetic-delete path end-to-end through Derby. */
  def mergeMigrateQuery(spark: SparkSession, dir: String): DataFrame =
    migrateQuery(spark, dir, "graft_k1_mig", merge = true)

  /** Oracle-checked SEQUENCE-path key-migration: the same migration stream
    * replayed per-DML in causality order with safe mode on (REPLACE +
    * old-image vacate — reparo's half-recovered-target contract, ref:
    * load.go:529-575 singleExec; model.go:216-251 getKeys). Converges to
    * the same fold the merged oracle computes: every key's last toucher
    * decides its final state, and all touches of one key share a conflict
    * group, so per-group commit-ts order serializes them. Pins the
    * sequence path's old-image vacate under the driver's hash gate. */
  def seqMigrateQuery(spark: SparkSession, dir: String): DataFrame =
    migrateQuery(spark, dir, "graft_k1_smig", merge = false)

  private def migrateQuery(spark: SparkSession, dir: String, tag: String,
      merge: Boolean): DataFrame = {
    val loader = new JdbcSchemaLoader(
      Scratch.derbyMemUrl(tag), applyPartitions = 8)
    loader.createTable(
      """CREATE TABLE MIG_STATE (K1 BIGINT NOT NULL, K2 BIGINT NOT NULL,
        | COMMIT_TS BIGINT, VAL DOUBLE,
        | CONSTRAINT MIG_UK UNIQUE (K1, K2))""".stripMargin)
    val changes = graft.ops.Cdc.changes(spark, dir)
    val maxTs = graft.ops.Cdc.maxCommitTs(changes)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pk")).orderBy(col("commit_ts"))
    val slice = changes.filter(col("commit_ts") <= maxTs / 20)
      .withColumn("seq", row_number().over(w))
      .select(col("pk").as("k1"), (col("seq") % 3).cast("long").as("k2"),
        col("commit_ts"), col("op"), col("value").as("val"),
        when(col("op") === "U" && col("seq") > 1, col("pk")).as("old_k1"),
        when(col("op") === "U" && col("seq") > 1,
          ((col("seq") - 1) % 3).cast("long")).as("old_k2"))
    // sequence mode needs safe mode here: the synthetic k2 rotation can
    // re-insert a still-occupied slot mid-replay (the merged fold never
    // executes intermediate states, so it does not)
    loader.applyBatch(Map("MIG_STATE" -> slice), 0L,
      merge = merge, safeMode = !merge)
    loader.readTable(spark, "MIG_STATE", Some("K1"))
      .select(col("K1").as("k1"), col("K2").as("k2"),
        col("COMMIT_TS").as("commit_ts"), col("VAL").as("val"))
  }

  /** Same fold as the merged oracle — see [[seqMigrateQuery]] for why the
    * two modes must agree on this stream. */
  def seqMigrateSql: String = mergeMigrateSql

  def mergeMigrateSql: String =
    s"""WITH c AS (${graft.ops.Cdc.changesCte}),
       |f AS (SELECT pk, commit_ts, op, value,
       |        row_number() OVER (PARTITION BY pk ORDER BY commit_ts) AS seq
       |      FROM c
       |      WHERE commit_ts <= (SELECT max(commit_ts) // 20 FROM c)),
       |rws AS (
       |  SELECT pk AS k1, seq % 3 AS k2, commit_ts, op, value, 0 AS synth
       |  FROM f
       |  UNION ALL
       |  SELECT pk, (seq - 1) % 3, commit_ts, 'D', value, 1
       |  FROM f WHERE op = 'U' AND seq > 1),
       |r AS (SELECT *, row_number() OVER (PARTITION BY k1, k2
       |        ORDER BY commit_ts DESC, synth ASC) AS rn FROM rws)
       |SELECT k1, k2, commit_ts, value AS val
       |FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin

  def multiTableSql: String =
    s"""WITH t AS (${graft.ops.TypeDomain.typedEnvelopeCte}),
       |f AS (SELECT * FROM t
       |      WHERE commit_ts <= (SELECT max(commit_ts) // 10 FROM t)),
       |o AS (SELECT pk, commit_ts, value, op,
       |        row_number() OVER (PARTITION BY pk ORDER BY commit_ts DESC) AS rn
       |      FROM f WHERE pk % 2 = 0),
       |ty AS (SELECT pk AS k1, CAST(commit_ts % 5 AS VARCHAR) AS k2,
       |         commit_ts, value, op, dec38, udec, bits, enum_ord,
       |         row_number() OVER (PARTITION BY pk, commit_ts % 5
       |           ORDER BY commit_ts DESC) AS rn
       |       FROM f WHERE pk % 2 = 1)
       |SELECT 'orders' AS tbl, pk AS k1, CAST(NULL AS VARCHAR) AS k2,
       |  commit_ts, value AS val, CAST(NULL AS VARCHAR) AS dec38,
       |  CAST(NULL AS VARCHAR) AS udec_str, CAST(NULL AS BIGINT) AS bits,
       |  CAST(NULL AS BIGINT) AS enum_ord
       |FROM o WHERE rn = 1 AND op <> 'D'
       |UNION ALL
       |SELECT 'typed', k1, k2, commit_ts, value, dec38, udec,
       |  bits, CAST(enum_ord AS BIGINT)
       |FROM ty WHERE rn = 1 AND op <> 'D'""".stripMargin
}
