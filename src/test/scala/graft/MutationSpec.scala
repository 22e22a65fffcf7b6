package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Filters

/** Mutation evidence for oracle gates that could silently pass with a
  * broken guard — the `arbiter_e2e` discipline (its poison probe is
  * verified by mutation: removing the restart filter provably fails the
  * hash) applied to two more gates. Each case states the mutation, computes
  * the mutated result alongside the shipped one, and asserts they DIFFER on
  * data the gate covers — so the gate's hash provably depends on the guard
  * being intact, rather than passing vacuously.
  */
class MutationSpec extends SparkSpec {
  import spark.implicits._

  test("f4 loopback round-trip: channel-id recognition is mutation-sensitive") {
    // Gate under scrutiny: f4_loopback_mark (mark-table state) + the F4
    // round-trip (inject → re-ingest → drop). Two plausible guard breaks:
    //  (a) mark recognition ignores the channel id → FOREIGN channels'
    //      traffic is wrongly dropped (cross-channel data loss);
    //  (b) mark recognition never matches → our own marks loop back and
    //      the replication cycle never breaks.
    // Both mutations must flip an observable the gates cover.
    val ours = 42L
    val changes = graft.ops.Cdc.changes(spark, sf)
      .filter(col("commit_ts") < 2000)
    val outgoing = Filters.injectLoopbackMarks(changes, ours)

    // shipped guard, our channel: every txn carries our mark → the whole
    // re-ingested stream drops (the cycle break, syncer.go:565-592)
    assert(Filters.dropMarkedTxns(outgoing, ours).isEmpty)
    // shipped guard, foreign channel: everything passes through untouched
    val foreignKept = Filters.dropMarkedTxns(outgoing, 7L)
    assert(foreignKept.count() == outgoing.count())

    // mutation (a): recognition without the channel-id equality — computed
    // here exactly as dropMarkedTxns does, minus the value check
    val anyMark = outgoing.filter(col("event_type") === "mark")
      .select("commit_ts").distinct()
    val mutatedForeign = outgoing.join(anyMark, Seq("commit_ts"), "left_anti")
    assert(mutatedForeign.isEmpty && foreignKept.count() > 0,
      "dropping the channel-id check must visibly destroy foreign traffic")

    // mutation (b): recognition that never matches (wrong marker predicate)
    val noMark = outgoing.filter(col("event_type") === "marker")
      .select("commit_ts").distinct()
    val mutatedOurs = outgoing.join(noMark, Seq("commit_ts"), "left_anti")
    assert(mutatedOurs.count() == outgoing.count(),
      "a never-matching guard lets the full cycle through — observably ≠ empty")

    // and the f4_loopback_mark ORACLE is wired to the same machinery: the
    // injected mark volume per worker must equal the oracle's val - 1
    // (UpdateMark seed) — a broken injector cannot agree with the gate
    val injectedPerWorker = outgoing
      .filter(col("event_type") === "mark")
      .groupBy((-col("pk") - 1).as("id")).agg(count(lit(1)).as("n_injected"))
    val oracle = Filters.loopbackMarkState(spark, sf, ours)
      .join(
        graft.ops.Cdc.changes(spark, sf).filter(col("commit_ts") < 2000)
          .select((col("commit_ts") % Filters.LoopbackWorkers).as("id"))
          .distinct(), Seq("id"), "inner")
    val expectPerWorker = changes.select("commit_ts").distinct()
      .select((col("commit_ts") % Filters.LoopbackWorkers).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_txn"))
    val joined = injectedPerWorker.join(expectPerWorker, Seq("id"), "full")
    assert(joined.filter(col("n_injected") =!= col("n_txn") ||
      col("n_injected").isNull || col("n_txn").isNull).isEmpty,
      "injection volume must match the oracle's per-worker txn count")
    assert(oracle.count() > 0)
  }

  test("k1 migrate tie-break: a same-ts re-insert of a vacated key is mutation-sensitive") {
    // Gate under scrutiny: k1_merge_migrate / k1_seq_migrate. The merged
    // fold ranks per (k1,k2) by (commit_ts DESC, _synth ASC) — at equal
    // commit_ts a REAL row outranks the synthetic old-key delete
    // (JdbcSchemaLoader.mergeTable), so a same-ts re-insert of the key an
    // update just vacated SURVIVES (ref: pkg/loader/merge.go:48-77 splits
    // then folds; the split delete carries the update's ts, so a later
    // same-ts insert must win the fold). Mutating the tie-break to
    // _synth DESC loses that row — and the gate's hash with it.
    import graft.sinks.JdbcSchemaLoader
    val loader = new JdbcSchemaLoader(
      graft.util.Scratch.derbyMemUrl("graft_mut_mig"), applyPartitions = 2)
    loader.createTable(
      """CREATE TABLE MUT_STATE (K1 BIGINT NOT NULL, K2 BIGINT NOT NULL,
        | COMMIT_TS BIGINT, VAL DOUBLE,
        | CONSTRAINT MUT_UK UNIQUE (K1, K2))""".stripMargin)
    val slice = Seq(
      // ts 5: the original row at key (1,0)
      (1L, 0L, 5L, "I", 1.0, None: Option[Long], None: Option[Long]),
      // ts 10: an update migrates (1,0) -> (1,1), old image carried (T8)
      (1L, 1L, 10L, "U", 2.0, Some(1L), Some(0L)),
      // ts 10, SAME instant: a new row re-inserts the just-vacated (1,0)
      (1L, 0L, 10L, "I", 3.0, None, None)
    ).toDF("k1", "k2", "commit_ts", "op", "val", "old_k1", "old_k2")
    loader.applyBatch(Map("MUT_STATE" -> slice), 0L, merge = true)
    val applied = loader.readTable(spark, "MUT_STATE", Some("K1"))
      .select(col("K1"), col("K2"), col("COMMIT_TS"), col("VAL"))
      .as[(Long, Long, Long, Double)].collect().toSet
    // shipped tie-break: the re-insert survives alongside the migrated row
    assert(applied == Set((1L, 1L, 10L, 2.0), (1L, 0L, 10L, 3.0)))

    // the MUTATED fold (synthetic delete outranks the same-ts real row):
    // replicate the split+fold algebra with the wrong order and show it
    // produces a DIFFERENT final state — i.e. the oracle hash would fail
    val synth = slice.filter(col("op") === "U" && col("old_k1").isNotNull &&
        !(col("k1") <=> col("old_k1") && col("k2") <=> col("old_k2")))
      .select(col("old_k1").as("k1"), col("old_k2").as("k2"),
        col("commit_ts"), lit("D").as("op"), col("val"), lit(1).as("synth"))
    val folded = slice.select(col("k1"), col("k2"), col("commit_ts"),
        col("op"), col("val"), lit(0).as("synth"))
      .unionByName(synth)
    def fold(order: org.apache.spark.sql.Column): Set[(Long, Long, Long, Double)] =
      folded.withColumn("rn", row_number().over(
          Window.partitionBy("k1", "k2").orderBy(col("commit_ts").desc, order)))
        .filter(col("rn") === 1 && col("op") =!= "D")
        .select("k1", "k2", "commit_ts", "val")
        .as[(Long, Long, Long, Double)].collect().toSet
    assert(fold(col("synth").asc) == applied,
      "the in-plan fold with the shipped order reproduces the loader")
    assert(fold(col("synth").desc) == Set((1L, 1L, 10L, 2.0)),
      "the mutated order strands the re-inserted key — the hash gate would fail")
  }
}
