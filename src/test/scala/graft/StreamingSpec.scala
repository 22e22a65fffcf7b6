package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.api.java.Optional

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

import graft.harness.DecodeQueries.writeDecoded
import graft.ops.Filters
import graft.sinks.UpsertSink
import graft.streaming.{CdcStream, PcMatcher, SchemaTracker}
import graft.streaming.PcMatcher.PcEvent

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("pc matcher pairs prewrite with commit, flags orphans, survives rollback") {
    import org.apache.spark.sql.streaming.TestGroupState
    def run(startTs: Long, evs: Seq[PcEvent],
        st: TestGroupState[PcMatcher.Pending]): Seq[PcMatcher.Matched] =
      new PcMatcher(1000L).matchFn(startTs, evs.iterator, st).toSeq

    // P then C in one group invocation -> matched
    val s1 = TestGroupState.create[PcMatcher.Pending](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout, 0L, Optional.of(0L), false)
    val m1 = run(1L, Seq(PcEvent(1L, "P", 10L), PcEvent(1L, "C", 20L)), s1)
    assert(m1 == Seq(PcMatcher.Matched(1L, 10L, 20L, "matched")))
    assert(!s1.exists)

    // P alone -> state persists with a timeout armed
    val s2 = TestGroupState.create[PcMatcher.Pending](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout, 0L, Optional.of(0L), false)
    assert(run(2L, Seq(PcEvent(2L, "P", 11L)), s2).isEmpty)
    assert(s2.exists && s2.get.prewriteTs == 11L)

    // rollback clears pending
    val m3 = run(2L, Seq(PcEvent(2L, "R", 21L)), s2)
    assert(m3.head.status == "rolled_back" && !s2.exists)

    // commit with no prewrite -> orphan
    val s4 = TestGroupState.create[PcMatcher.Pending](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout, 0L, Optional.of(0L), false)
    assert(run(3L, Seq(PcEvent(3L, "C", 12L)), s4).head.status == "orphan_commit")

    // timed-out group -> unresolved marker, state cleared
    val s5 = TestGroupState.create[PcMatcher.Pending](
      Optional.of(PcMatcher.Pending(9L)), GroupStateTimeout.ProcessingTimeTimeout,
      0L, Optional.of(0L), true)
    val m5 = run(4L, Seq.empty, s5)
    assert(m5 == Seq(PcMatcher.Matched(4L, 9L, -1L, "unresolved")) && !s5.exists)
  }

  test("pc matcher counts a timed-out key whose state is already gone") {
    // a failed task attempt may remove the state before the retry
    // re-processes the timed-out key: nothing to emit, but the matcher's
    // count reads the vacated key, and a live timeout counts nothing
    import org.apache.spark.sql.streaming.TestGroupState
    val m = new PcMatcher(1000L)
    val gone = TestGroupState.create[PcMatcher.Pending](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout, 0L, Optional.of(0L), true)
    assert(m.matchFn(7L, Iterator.empty, gone).isEmpty)
    assert(m.vacatedTimeouts == 1L)
    val pending = TestGroupState.create[PcMatcher.Pending](
      Optional.of(PcMatcher.Pending(9L)), GroupStateTimeout.ProcessingTimeTimeout,
      0L, Optional.of(0L), true)
    assert(m.matchFn(8L, Iterator.empty, pending).toSeq ==
      Seq(PcMatcher.Matched(8L, 9L, -1L, "unresolved")))
    assert(m.vacatedTimeouts == 1L)
  }

  test("pc matcher re-arms the timeout when a batch carries only unknown kinds (T1)") {
    // GroupState clears the stored timeout on EVERY function invocation;
    // a batch delivering only an unrecognized kind for a key with a
    // pending prewrite used to fall through `case _` without re-arming —
    // permanently disarming the unresolved escalation and leaking the
    // state row. The timer must be re-set whenever a prewrite is pending.
    import org.apache.spark.sql.streaming.TestGroupState
    val st = TestGroupState.create[PcMatcher.Pending](
      Optional.of(PcMatcher.Pending(100L)),
      GroupStateTimeout.ProcessingTimeTimeout, 2000L, Optional.of(0L), false)
    val out = new PcMatcher(600000L).matchFn(5L,
      Iterator(PcEvent(5L, "X", 101L)), st).toSeq
    assert(out.isEmpty && st.exists, "unknown kinds neither emit nor clear")
    assert(st.getTimeoutTimestampMs.isPresent,
      "a pending prewrite must leave the invocation with its timeout armed")
  }

  test("schema tracker: versioned lookups mirror the DDL history") {
    val t = new SchemaTracker(historyDepth = 10)
    t.createTable("db", "t1", Seq("a", "b"), version = 1)
    t.addColumn("db", "t1", "c", version = 3)
    t.dropColumn("db", "t1", "a", version = 5)
    assert(t.atVersion("db", "t1", 2).get.columns == Vector("a", "b"))
    assert(t.atVersion("db", "t1", 4).get.columns == Vector("a", "b", "c"))
    assert(t.atVersion("db", "t1", 9).get.columns == Vector("b", "c"))
    t.renameTable("db", "t1", "t2", version = 6)
    assert(t.current("db", "t1").isEmpty)
    assert(t.current("db", "t2").get.columns == Vector("b", "c"))
    t.dropTable("db", "t2", version = 7)
    assert(t.current("db", "t2").isEmpty)
    assert(t.version == 7)
    // reference keeps only the last two versions (drainer/schema.go:211-218)
    val shallow = new SchemaTracker()
    shallow.createTable("db", "t", Seq("a"), 1)
    shallow.addColumn("db", "t", "b", 3)
    shallow.addColumn("db", "t", "c", 5)
    assert(shallow.atVersion("db", "t", 2).isEmpty) // evicted
    assert(shallow.atVersion("db", "t", 4).get.columns == Vector("a", "b"))
  }

  test("schema tracker: recover table, multi-table create, exchange partition") {
    val t = new SchemaTracker(historyDepth = 10)
    // one CreateTables job registers several tables at a single version
    // (drainer/schema.go:499 ActionCreateTables)
    t.createTables(Seq(("db", "a", Seq("x")), ("db", "b", Seq("y", "z"))), version = 1)
    assert(t.current("db", "a").get.columns == Vector("x"))
    assert(t.current("db", "b").get.columns == Vector("y", "z"))
    // drop then recover restores the dropped shape at the new version
    // (drainer/schema.go:435 ActionRecoverTable == CreateTable path)
    t.dropTable("db", "a", version = 2)
    assert(t.current("db", "a").isEmpty)
    t.recoverTable("db", "a", version = 3)
    assert(t.current("db", "a").get.columns == Vector("x"))
    assert(t.current("db", "a").get.version == 3)
    intercept[NoSuchElementException] { t.recoverTable("db", "never_existed", 4) }
    // exchange partition swaps the two shapes
    t.exchangePartition("db", "a", "db", "b", version = 5)
    assert(t.current("db", "a").get.columns == Vector("y", "z"))
    assert(t.current("db", "b").get.columns == Vector("x"))
    assert(t.version == 5)
    // ... WITH their column metadata: a dictionary is metadata of the
    // shape and must follow it through the swap
    t.setDictionary("db", "a", "y", Vector("p", "q"), version = 6)
    t.exchangePartition("db", "a", "db", "b", version = 7)
    assert(t.dictionary("db", "b", "y").contains(Vector("p", "q")))
    assert(t.dictionary("db", "a", "y").isEmpty)
  }

  test("table rename re-homes the versioned history INTACT under the new key") {
    val t = new SchemaTracker(historyDepth = 10)
    t.createTable("db", "t", Seq("a"), version = 1)
    t.addColumn("db", "t", "b", version = 3)
    t.renameTable("db", "t", "u", version = 6)
    // pre-rename shapes stay resolvable at their OWN versions — stamping
    // the whole history with the rename version would make a versioned
    // decode of a pre-rename DML under the new name miss
    assert(t.atVersion("db", "u", 2).get.columns == Vector("a"))
    assert(t.atVersion("db", "u", 4).get.columns == Vector("a", "b"))
    assert(t.current("db", "u").get.version == 6)
    // recovering onto an occupied name is the same corruption class as
    // renaming onto one — loud, never a silent history append
    t.createTable("db", "g", Seq("x"), version = 7)
    t.dropTable("db", "g", version = 8)
    t.createTable("db", "g", Seq("y"), version = 9)
    intercept[IllegalArgumentException] { t.recoverTable("db", "g", 10) }
    assert(t.current("db", "g").get.columns == Vector("y"))
  }

  test("graveyard is bounded: the oldest drop evicts past the cap") {
    val t = new SchemaTracker(historyDepth = 2)
    (0 until 1030).foreach { i =>
      t.createTable("db", s"t$i", Seq("a"), version = i.toLong * 2)
      t.dropTable("db", s"t$i", version = i.toLong * 2 + 1)
    }
    val kept = t.droppedTables("db")
    assert(kept.size == 1024, s"cap not enforced: ${kept.size}")
    assert(!kept.contains("t0"), "the oldest drop must evict first")
    assert(kept.contains("t1029"))
  }

  test("schema tracker: random legal DDL sequences agree with a naive model") {
    // randomized invariants over every DDL action the tracker implements
    // (drainer/schema.go handleDDL breadth) — the hand-written cases above
    // stay as readable anchors, this sweeps orderings they can't enumerate.
    // The model is deliberately naive: a name→columns map plus a drop-time
    // shape map. Checked after EVERY op: current() matches the model,
    // atVersion(current) == current, atVersion never resolves to a newer
    // entry than asked for.
    // TWO schemas so the rename draw can re-home a table across them —
    // the reference follows a rename by table id wherever it lands
    // (schema.go:360-561) — and CHANGE COLUMN joins the swept set
    val rnd = new scala.util.Random(7)
    val t = new SchemaTracker(historyDepth = 4)
    var live = Map.empty[(String, String), Vector[String]]   // (schema, table) -> columns
    var dropped = Map.empty[(String, String), Vector[String]] // drop-time shape
    var v = 0L
    val schemas = Seq("db", "db2")
    val keys = for (s <- schemas; i <- 1 to 6) yield (s, s"t$i")
    var colSeq = 0
    (1 to 400).foreach { _ =>
      v += 1 + rnd.nextInt(3)
      val existing = live.keys.toSeq.sorted
      val free = keys.filterNot(live.contains)
      rnd.nextInt(9) match {
        case 0 | 1 if free.nonEmpty =>
          val k = free(rnd.nextInt(free.size)); colSeq += 1
          val cols = Vector(s"c$colSeq", s"c${colSeq}b")
          t.createTable(k._1, k._2, cols, v); live += k -> cols
          dropped -= k // re-create supersedes any recoverable shape
        case 2 if existing.nonEmpty =>
          val k = existing(rnd.nextInt(existing.size)); colSeq += 1
          t.addColumn(k._1, k._2, s"c$colSeq", v)
          live += k -> (live(k) :+ s"c$colSeq")
        case 3 if existing.nonEmpty && live(existing(rnd.nextInt(existing.size))).nonEmpty =>
          val k = existing(rnd.nextInt(existing.size))
          if (live(k).nonEmpty) {
            val c = live(k)(rnd.nextInt(live(k).size))
            t.dropColumn(k._1, k._2, c, v)
            live += k -> live(k).filterNot(_ == c)
          }
        case 4 if existing.nonEmpty && free.nonEmpty =>
          // target drawn over BOTH schemas: same-schema and cross-schema
          // renames interleave through the one code path
          val from = existing(rnd.nextInt(existing.size))
          val to = free(rnd.nextInt(free.size))
          t.renameTable(from._1, from._2, to._1, to._2, v)
          live = live - from + (to -> live(from))
        case 5 if existing.nonEmpty =>
          val k = existing(rnd.nextInt(existing.size))
          t.truncateTable(k._1, k._2, v) // identity reset, shape unchanged
        case 6 if existing.nonEmpty =>
          val k = existing(rnd.nextInt(existing.size))
          t.dropTable(k._1, k._2, v)
          dropped += k -> live(k); live -= k
        case 7 if dropped.keys.exists(k => !live.contains(k)) =>
          val cand = dropped.keys.filterNot(live.contains).toSeq.sorted
          val k = cand(rnd.nextInt(cand.size))
          t.recoverTable(k._1, k._2, v)
          live += k -> dropped(k); dropped -= k
        case 8 if existing.nonEmpty && live(existing(rnd.nextInt(existing.size))).nonEmpty =>
          // CHANGE COLUMN: rename+retype in place, position preserved
          val k = existing(rnd.nextInt(existing.size))
          if (live(k).nonEmpty) {
            val idx = rnd.nextInt(live(k).size); colSeq += 1
            val bare = live(k)(idx).split(" ", 2)(0)
            t.changeColumn(k._1, k._2, bare, s"c$colSeq BIGINT", v)
            live += k -> live(k).updated(idx, s"c$colSeq BIGINT")
          }
        case _ => () // no legal target for the drawn action this step
      }
      keys.foreach { k =>
        assert(t.current(k._1, k._2).map(_.columns) == live.get(k),
          s"current($k) diverged at v=$v")
        if (live.contains(k)) {
          val at = t.atVersion(k._1, k._2, v)
          assert(at.map(_.columns) == live.get(k), s"atVersion($k, now) at v=$v")
          val past = t.atVersion(k._1, k._2, rnd.nextInt(v.toInt).toLong)
          past.foreach(i => assert(i.version <= v, s"atVersion resolved ahead"))
        }
      }
    }
  }

  test("checkpoint persists commitTs + schemaVersion; restart resumes by ts (K6)") {
    val root = graft.util.Scratch.dir("graft_ckpt_sink")
    val sink = new UpsertSink(root)
    val all = Seq(
      (10L, 1L, "I", 1.0), (20L, 2L, "I", 2.0), (30L, 1L, "U", 3.0),
      (40L, 3L, "I", 4.0), (50L, 2L, "U", 5.0)
    ).toDF("commit_ts", "pk", "op", "value")

    assert(sink.applyBatch(all.filter(col("commit_ts") <= 30), 0L, schemaVersion = 7L))
    assert(sink.lastCommitTs == 30L && sink.lastSchemaVersion == 7L)

    // a fresh instance on the same root reads the durable checkpoint —
    // the ts-addressed resume position survives the restart
    val restarted = new UpsertSink(root)
    assert(restarted.lastCommitTs == 30L && restarted.lastSchemaVersion == 7L)
    val todo = all.filter(col("commit_ts") > restarted.lastCommitTs)
    assert(todo.count() == 2)

    // applying the remainder advances the checkpoint monotonically and
    // keeps the schema version when the batch carries none
    assert(restarted.applyBatch(todo, 1L))
    assert(restarted.lastCommitTs == 50L && restarted.lastSchemaVersion == 7L)
    assert(restarted.lastCommitted == 1L)

    // an empty batch must not regress the commit ts
    assert(restarted.applyBatch(all.filter(col("commit_ts") > 99), 2L))
    assert(restarted.lastCommitTs == 50L)
  }

  test("a state whose every key deleted reads back empty, not a schema error") {
    val root = graft.util.Scratch.dir("graft_vacated_sink")
    val sink = new UpsertSink(root, nBuckets = 4)
    val ins = Seq((10L, 1L, "I", 1.0), (11L, 2L, "I", 2.0))
      .toDF("commit_ts", "pk", "op", "value")
    assert(sink.applyBatch(ins, 0L))
    assert(sink.currentState(spark).count() == 2)
    val dels = Seq((20L, 1L, "D", 0.0), (21L, 2L, "D", 0.0))
      .toDF("commit_ts", "pk", "op", "value")
    assert(sink.applyBatch(dels, 1L))
    // every bucket dir vacated; the state dir itself remains — the read
    // must degrade to the empty frame, never to parquet schema inference
    assert(sink.currentState(spark).count() == 0)
  }

  test("reopening a state with a different bucket modulus fails loudly") {
    val root = graft.util.Scratch.dir("graft_modulus_sink")
    val sink = new UpsertSink(root, nBuckets = 4)
    assert(sink.applyBatch(Seq((10L, 1L, "I", 1.0))
      .toDF("commit_ts", "pk", "op", "value"), 0L))
    // same modulus reopens fine
    assert(new UpsertSink(root, nBuckets = 4).currentState(spark).count() == 1)
    // a different modulus would route keys to wrong directories silently
    val e = intercept[IllegalArgumentException] {
      new UpsertSink(root, nBuckets = 8).applyBatch(Seq((20L, 2L, "I", 2.0))
        .toDF("commit_ts", "pk", "op", "value"), 1L)
    }
    assert(e.getMessage.contains("laid out with 4 buckets"))
  }

  test("same-commit-ts ops on one key resolve deterministically (D > U > I)") {
    // TiDB stamps a whole txn with one commit ts: an I and its same-txn D
    // share (pk, ts). The merge must not leave the winner to partition
    // timing — D outranks, so the common I→D net effect (nothing) lands.
    val root = graft.util.Scratch.dir("graft_ties_sink")
    val sink = new UpsertSink(root, nBuckets = 4)
    val b = Seq((10L, 1L, "I", 1.0), (10L, 1L, "D", 0.0),
      (10L, 2L, "I", 2.0), (10L, 2L, "U", 2.5))
      .toDF("commit_ts", "pk", "op", "value")
    assert(sink.applyBatch(b, 0L))
    val state = sink.currentState(spark)
      .select("pk", "value").as[(Long, Double)].collect().toMap
    assert(state == Map(2L -> 2.5)) // pk1 netted away; pk2 kept U's image
  }

  test("a frame carrying the T9 seq lands the same-ts delete-then-reinsert") {
    // the one chain the D>U>I tie-break cannot see: within one txn a key
    // is deleted then re-inserted (sequence_iterator.go statement order).
    // With seq, the LAST statement at the ts is the net effect — the
    // reinsert survives with its image, and I→D still nets to nothing.
    val root = graft.util.Scratch.dir("graft_seq_sink")
    val sink = new UpsertSink(root, nBuckets = 4)
    assert(sink.applyBatch(Seq((5L, 1L, "I", 0.5, 1L), (5L, 2L, "I", 0.7, 2L))
      .toDF("commit_ts", "pk", "op", "value", "seq"), 0L))
    val b = Seq((10L, 1L, "D", 0.0, 1L), (10L, 1L, "I", 9.0, 2L),
      (10L, 2L, "I", 2.0, 1L), (10L, 2L, "D", 0.0, 2L))
      .toDF("commit_ts", "pk", "op", "value", "seq")
    assert(sink.applyBatch(b, 1L))
    val state = sink.currentState(spark)
      .select("pk", "value").as[(Long, Double)].collect().toMap
    assert(state == Map(1L -> 9.0)) // pk1 reinserted; pk2 netted away
    // an incoming same-ts statement still beats the materialized row
    assert(sink.applyBatch(Seq((10L, 1L, "U", 9.5, 1L))
      .toDF("commit_ts", "pk", "op", "value", "seq"), 2L))
    assert(sink.currentState(spark).select("pk", "value")
      .as[(Long, Double)].collect().toMap == Map(1L -> 9.5))
  }

  test("compact sizes a PARTITIONED directory from its recursive listing") {
    // the sink's own bucket=N layout is the documented compact input — a
    // top-level listing would size it at 0 bytes and repartition(1)
    val root = graft.util.Scratch.dir("graft_compact_part")
    val sink = new UpsertSink(root, nBuckets = 4)
    assert(sink.applyBatch((1L to 400L).map(i => (i, i, "I", i.toDouble))
      .toDF("commit_ts", "pk", "op", "value"), 0L))
    val out = graft.util.Scratch.dir("graft_compact_part_out")
    // a tiny target must yield MORE than one output file, proving the
    // recursive byte count saw the bucket dirs
    val n = graft.ops.Layout.compact(spark, s"$root/state", out, targetBytes = 2048L)
    assert(n > 1, s"expected >1 output files from a partitioned input, got $n")
    assert(spark.read.parquet(out).count() == 400)
  }

  test("update-while-add/drop-column: each row decodes at its own schema version") {
    // dailytest analog (ref: tests/dailytest/case.go:386-485 runs DML
    // concurrently with ADD/DROP COLUMN): rows carry the schema version
    // they were written under; decode must use atVersion, not the current
    // catalog, and missing columns default-fill (T5 + T6 + T7 composed).
    // depth 3 so all versions stay inspectable here — the reference keeps 2
    // because its syncer barriers DDL until older DMLs drain; widening
    // retention is the test's window into every version at once.
    val t = new SchemaTracker(historyDepth = 3)
    t.createTable("db", "u", Seq("pk", "v"), version = 1)
    t.addColumn("db", "u", "extra", version = 2)
    t.dropColumn("db", "u", "v", version = 3)
    val rows = Seq(
      (10L, 1L, Map("pk" -> "1", "v" -> "10")),
      (20L, 2L, Map("pk" -> "2", "v" -> "20", "extra" -> "7")),
      (30L, 3L, Map("pk" -> "3", "extra" -> "8"))
    ).toDF("commit_ts", "schema_version", "cells")
    def decodeAt(v: Long) = {
      val cols = t.atVersion("db", "u", v).get.columns
      rows.filter(col("schema_version") === v)
        .select(col("commit_ts") +: cols.map(c =>
          coalesce(element_at(col("cells"), lit(c)), lit("0")).as(c)): _*)
    }
    // v1 row: no `extra` in its schema even though the catalog has moved on
    assert(decodeAt(1).columns.toSeq == Seq("commit_ts", "pk", "v"))
    // v2 row: all three columns, the new one populated
    val r2 = decodeAt(2).head()
    assert(decodeAt(2).columns.toSeq == Seq("commit_ts", "pk", "v", "extra"))
    assert(r2.getAs[String]("extra") == "7")
    // v3 row: `v` is gone; a v2-written row replayed at v3 would default-fill
    assert(decodeAt(3).columns.toSeq == Seq("commit_ts", "pk", "extra"))
    // default fill: a v1 row decoded against v2 (drop-column in flight
    // upstream writes old-image rows) gets the type zero value
    val filled = rows.filter(col("schema_version") === 1)
      .select(t.atVersion("db", "u", 2).get.columns.map(c =>
        coalesce(element_at(col("cells"), lit(c)), lit("0")).as(c)): _*)
    assert(filled.head().getAs[String]("extra") == "0")
  }

  test("incremental SCD2 history equals the batch materialization (streaming twin)") {
    val root = graft.util.Scratch.dir("graft_history_sink")
    val sink = new graft.sinks.HistorySink(root)
    val changes = graft.ops.Cdc.changes(spark, sf)
      .select("pk", "commit_ts", "op", "value")
    // three ts-ordered micro-batches (the ordered-merge delivery guarantee)
    val cuts = changes.stat.approxQuantile("commit_ts", Array(0.33, 0.66), 0.0)
    val (c1, c2) = (cuts(0).toLong, cuts(1).toLong)
    assert(sink.applyBatch(changes.filter(col("commit_ts") <= c1), 0L))
    assert(sink.applyBatch(
      changes.filter(col("commit_ts") > c1 && col("commit_ts") <= c2), 1L))
    assert(sink.applyBatch(changes.filter(col("commit_ts") > c2), 2L))
    // replay is skipped
    assert(!sink.applyBatch(changes.limit(1), 2L))

    val streamed = sink.history(spark)
      .select("pk", "valid_from", "valid_to", "value", "is_current")
    val batch = graft.ops.Transforms.scd2(spark, sf)
      .select(col("pk"), col("valid_from"), col("valid_to"), col("value"),
        col("is_current"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("bucketed state: a micro-batch rewrites only the buckets it touches") {
    val root = graft.util.Scratch.dir("graft_bucket_sink")
    val sink = new UpsertSink(root, nBuckets = 8)
    // batch 1 spreads keys over many buckets
    val b1 = (1L to 64L).map(pk => (pk * 10, pk, "I", pk.toDouble))
      .toDF("commit_ts", "pk", "op", "value")
    assert(sink.applyBatch(b1, 0L))
    val stateDir = java.nio.file.Paths.get(s"$root/state")
    import scala.jdk.CollectionConverters._
    def bucketFiles(): Map[String, Set[String]] =
      java.nio.file.Files.list(stateDir).iterator().asScala
        .filter(_.getFileName.toString.startsWith("bucket="))
        .map { d =>
          d.getFileName.toString ->
            java.nio.file.Files.list(d).iterator().asScala
              .map(_.getFileName.toString).toSet
        }.toMap
    val before = bucketFiles()
    assert(before.size > 1, "keys must spread over multiple buckets")
    // batch 2 touches exactly one key — only that key's bucket may change
    val b2 = Seq((9999L, 1L, "U", 42.0)).toDF("commit_ts", "pk", "op", "value")
    assert(sink.applyBatch(b2, 1L))
    val after = bucketFiles()
    val changed = before.keySet.union(after.keySet)
      .filter(b => before.get(b) != after.get(b))
    assert(changed.size == 1, s"expected exactly one rewritten bucket, got $changed")
    // and the merged state is still correct
    val state = sink.currentState(spark).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(state(1L) == 42.0 && state.size == 64)
  }

  /** What one lake-sink apply costs: the jobs `run` submits and the
    * shuffle count of each staging write (`state_tmp`), in arrival order.
    * Both listeners sit on the one listener bus, which delivers in order:
    * once a marker job submitted after `run` is seen, every job and write
    * of `run` has been counted. */
  private def sinkCost(run: => Unit): (Int, Seq[Int]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val tag = "graft.spec.sink"
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val writeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed match {
          case c: InsertIntoHadoopFsRelationCommand
              if c.outputPath.toString.endsWith("state_tmp") =>
            writes.add(qe.executedPlan.collect { case e: ShuffleExchangeExec => e }.size)
            ()
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag)))
          .foreach(jobs.add)
    }
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(writeListener)
    try {
      spark.sparkContext.setLocalProperty(tag, "apply")
      try run finally spark.sparkContext.setLocalProperty(tag, null)
      spark.sparkContext.setLocalProperty(tag, "marker")
      try spark.range(1).count() finally spark.sparkContext.setLocalProperty(tag, null)
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.contains("marker"), "the listener bus never delivered the marker job")
      (jobs.asScala.count(_ == "apply"), writes.asScala.toSeq)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(writeListener)
    }
  }

  /** Parquet files per bucket directory of a lake sink's state. */
  private def filesPerBucket(root: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    Files.list(Paths.get(s"$root/state")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("bucket="))
      .map(d => d.getFileName.toString -> Files.list(d).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet")))
      .toMap
  }

  /** The per-key model of a change stream: each key's last row by commit
    * ts, a final D removing the key. */
  private def lastImages(rows: Seq[(Long, Long, String, Double)]): Map[Long, Double] =
    rows.sortBy(_._1).foldLeft(Map.empty[Long, Double]) {
      case (m, (_, _, "DDL", _)) => m
      case (m, (_, pk, "D", _)) => m - pk
      case (m, (_, pk, _, v)) => m + (pk -> v)
    }

  test("upsert sink: a no-DDL batch costs a bounded job count and writes one file per touched bucket") {
    // the micro-batch engine runs a foreachBatch sink with adaptive
    // execution off, so the frame keeps every shuffle's partition count;
    // the spec applies under both settings and counts jobs under the
    // streaming one
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqe0 = spark.conf.get(aqeKey)
    try Seq(false, true).foreach { aqe =>
      spark.conf.set(aqeKey, aqe.toString)
      val root = graft.util.Scratch.dir(s"graft_one_file_sink_$aqe")
      val sink = new UpsertSink(root, nBuckets = 8)
      // 4 input partitions, keys over every bucket
      val b0 = (1L to 400L).map(pk => (pk, pk, "I", pk.toDouble))
        .toDF("commit_ts", "pk", "op", "value").repartition(4)
      val (_, writes0) = sinkCost(assert(sink.applyBatch(b0, 0L)))
      val first = filesPerBucket(root)
      assert(first.size == 8 && first.values.forall(_ == 1),
        s"aqe=$aqe: expected one parquet file in each of 8 buckets, got $first")
      // batch 1 merges against the stored state: updates, deletes, inserts
      val b1 = (1L to 600L by 3L).map(pk =>
          (1000L + pk, pk, if (pk % 2 == 0) "D" else if (pk <= 400) "U" else "I",
            -pk.toDouble))
        .toDF("commit_ts", "pk", "op", "value").repartition(4)
      val (n, writes) = sinkCost(assert(sink.applyBatch(b1, 1L)))
      val second = filesPerBucket(root)
      assert(second.size == 8 && second.values.forall(_ == 1),
        s"aqe=$aqe: expected one parquet file in each of 8 buckets, got $second")
      if (!aqe) {
        assert(n <= 3, s"a no-DDL batch ran $n jobs")
        // one exchange serves the merge window and the bucket writer
        assert(writes0 ++ writes == Seq(1, 1),
          s"shuffles per staging write: ${writes0 ++ writes}")
      }
      val state = sink.currentState(spark).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      val expect = (1L to 400L).map(pk => pk -> pk.toDouble).toMap ++
        (1L to 600L by 3L).filter(_ % 2 == 1).map(pk => pk -> -pk.toDouble) --
        (1L to 600L by 3L).filter(_ % 2 == 0)
      assert(state == expect)
      info(s"aqe=$aqe: $n jobs for the merge batch")
    } finally spark.conf.set(aqeKey, aqe0)
  }

  test("upsert sink: a batch with DDL rows merges once, writes one file per touched bucket and a marker per DDL") {
    // the lake state has no shape a DDL changes: a DDL row leaves a marker,
    // it does not cut the batch into merges of their own
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqe0 = spark.conf.get(aqeKey)
    spark.conf.set(aqeKey, "false")
    try {
      val root = graft.util.Scratch.dir("graft_ddl_one_merge_sink")
      val sink = new UpsertSink(root, nBuckets = 8)
      val r0 = (1L to 400L).map(pk => (pk, pk, "I", pk.toDouble))
      assert(sink.applyBatch(r0.toDF("commit_ts", "pk", "op", "value"), 0L))
      // keys straddle both barriers: updated, deleted, deleted then
      // re-inserted, inserted then deleted
      val before = (1L to 600L by 3L).map(pk =>
        (1000L + pk, pk, if (pk % 2 == 0) "D" else if (pk <= 400) "U" else "I",
          -pk.toDouble))
      val ddl = Seq((1700L, 0L, "DDL", 0.0), (1800L, 0L, "DDL", 0.0))
      val after = (1L to 600L by 5L).map(pk =>
        (2000L + pk, pk, if (pk % 4 == 0) "D" else "U", pk * 10.0))
      val r1 = before ++ ddl ++ after
      val (n, writes) = sinkCost(assert(sink.applyBatch(
        r1.toDF("commit_ts", "pk", "op", "value").repartition(4), 1L)))
      assert(n <= 3, s"a batch with two DDL rows ran $n jobs")
      assert(writes == Seq(1), s"shuffles per staging write: $writes")
      val files = filesPerBucket(root)
      assert(files.size == 8 && files.values.forall(_ == 1),
        s"expected one parquet file in each of 8 buckets, got $files")
      Seq(1700L, 1800L).foreach { ts =>
        val marker = f"$root/_ddl_log/${1L}%020d-$ts%020d"
        assert(graft.util.MetaFs.exists(marker), s"missing DDL marker $marker")
      }
      // markers are written without checksum sidecars
      def crcs(d: String) = new java.io.File(d).list().filter(_.endsWith(".crc")).toSeq
      assert(crcs(s"$root/_ddl_log").isEmpty && crcs(root).isEmpty,
        s"marker checksum sidecars: ${crcs(s"$root/_ddl_log") ++ crcs(root)}")
      val state = sink.currentState(spark).collect()
        .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(state == lastImages(r0 ++ r1))
      info(s"$n jobs for a batch with two DDL rows")
    } finally spark.conf.set(aqeKey, aqe0)
  }

  test("lake sinks resolve scheme-qualified URIs through the Hadoop FileSystem") {
    // the portability contract behind the MetaFs port: checkpoint marker,
    // DDL log, bucket swap and open-table swap must all work through a
    // scheme-qualified root (file: here; hdfs:/s3a: on a cluster) —
    // java.nio-era code treated the scheme as local path characters
    val root = graft.util.Scratch.dir("graft_uri_sink")
    val sink = new UpsertSink(s"file:$root", nBuckets = 4)
    val b0 = Seq((1L, 1L, "I", 10.0), (2L, 2L, "I", 20.0))
      .toDF("commit_ts", "pk", "op", "value")
    val b1 = Seq((3L, 1L, "U", 11.0), (4L, 0L, "DDL", 0.0), (5L, 2L, "D", 0.0))
      .toDF("commit_ts", "pk", "op", "value")
    assert(sink.applyBatch(b0, 0L))
    assert(sink.applyBatch(b1, 1L)) // DDL barrier + delete: swap under URI
    assert(!sink.applyBatch(b1, 1L), "replay skip must read the URI marker")
    val st = new UpsertSink(s"file:$root").currentState(spark)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(st == Map(1L -> 11.0))
    // state and marker physically landed under the URI's local path
    assert(new java.io.File(s"$root/state").exists())
    assert(new java.io.File(s"$root/_committed_batch").exists())
    assert(new java.io.File(s"$root/_ddl_log").listFiles().nonEmpty,
      "the DDL barrier must leave a durable log entry under the URI root")

    val hroot = graft.util.Scratch.dir("graft_uri_hist")
    val hist = new graft.sinks.HistorySink(s"file:$hroot")
    assert(hist.applyBatch(b0, 0L))
    assert(hist.applyBatch(b1.filter(col("op") =!= "DDL"), 1L))
    val h = hist.history(spark)
      .select("pk", "valid_from", "valid_to", "is_current")
      .as[(Long, Long, Option[Long], Boolean)].collect().toSet
    // pk 1: closed [1,3) then open at 3; pk 2: closed [2,5) by the delete
    assert(h == Set((1L, 1L, Some(3L), false), (1L, 3L, None, true),
      (2L, 2L, Some(5L), false)))
    assert(new java.io.File(s"$hroot/open").exists(),
      "the open-table swap must land under the URI's local path")
  }

  test("upsert sink: a crash between the swap renames heals on replay (no lost keys)") {
    // the r10 verdict's weak mark: vacate(dst→old) then promote(src→dst) —
    // a crash between the renames leaves the ONLY copy of the bucket at
    // `old`, and the replayed batch used to start by deleting it, silently
    // losing every pre-existing key of the bucket. The swap is now
    // self-healing: per-bucket old names, healed before any state read,
    // old deleted only after the promote.
    import graft.util.MetaFs
    val root = graft.util.Scratch.dir("graft_crash_sink")
    val sink = new UpsertSink(root, nBuckets = 1) // one bucket holds all keys
    val b0 = (1L to 20L).map(pk => (pk, pk, "I", pk.toDouble))
      .toDF("commit_ts", "pk", "op", "value")
    assert(sink.applyBatch(b0, 0L))
    // simulate the crash: batch 1's swap vacated the bucket but never
    // promoted the staging dir (kill between the renames) — on disk the
    // only copy of the state sits at bucket_old=0, checkpoint still at 0
    MetaFs.rename(s"$root/state/bucket=0", s"$root/bucket_old=0")
    assert(!MetaFs.exists(s"$root/state/bucket=0"))
    val b1 = Seq((100L, 1L, "U", 42.0), (101L, 21L, "I", 21.0))
      .toDF("commit_ts", "pk", "op", "value")
    assert(new UpsertSink(root, nBuckets = 1).applyBatch(b1, 1L))
    val state = new UpsertSink(root, nBuckets = 1).currentState(spark)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(state.size == 21, s"pre-existing keys lost: got ${state.size} keys")
    assert(state(1L) == 42.0 && state(2L) == 2.0 && state(21L) == 21.0)
    // a read-only open after the same crash must also heal
    MetaFs.rename(s"$root/state/bucket=0", s"$root/bucket_old=0")
    assert(new UpsertSink(root, nBuckets = 1).currentState(spark).count() == 21)
    assert(MetaFs.exists(s"$root/state/bucket=0"))
    // a stale old left AFTER a completed promote (crash before the final
    // delete) is dropped, never restored over the live bucket
    MetaFs.mkdirs(s"$root/bucket_old=0")
    val b2 = Seq((200L, 2L, "U", 7.0)).toDF("commit_ts", "pk", "op", "value")
    assert(new UpsertSink(root, nBuckets = 1).applyBatch(b2, 2L))
    assert(!MetaFs.exists(s"$root/bucket_old=0"))
    val st2 = new UpsertSink(root, nBuckets = 1).currentState(spark)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(st2.size == 21 && st2(2L) == 7.0)
  }

  test("history sink: a crash between the open-swap renames heals on read and replay") {
    import graft.util.MetaFs
    val root = graft.util.Scratch.dir("graft_crash_hist")
    val sink = new graft.sinks.HistorySink(root)
    val b0 = Seq((1L, 1L, "I", 1.0), (2L, 2L, "I", 2.0))
      .toDF("commit_ts", "pk", "op", "value")
    assert(sink.applyBatch(b0, 0L))
    // crash between the renames while batch 1 was applying: the only copy
    // of the open table sits at open_old, checkpoint still at 0
    MetaFs.rename(s"$root/open", s"$root/open_old")
    // a pure READ after the crash must still see the live intervals
    assert(new graft.sinks.HistorySink(root).history(spark)
      .filter(col("is_current")).count() == 2)
    // crash again, then the replay of batch 1 merges against healed state
    MetaFs.rename(s"$root/open", s"$root/open_old")
    val b1 = Seq((10L, 1L, "U", 1.5)).toDF("commit_ts", "pk", "op", "value")
    assert(new graft.sinks.HistorySink(root).applyBatch(b1, 1L))
    val h = new graft.sinks.HistorySink(root).history(spark)
      .select("pk", "valid_from", "valid_to", "is_current")
      .as[(Long, Long, Option[Long], Boolean)].collect().toSet
    assert(h == Set((1L, 1L, Some(10L), false), (1L, 10L, None, true),
      (2L, 2L, None, true)))
  }

  test("history sink: the batch marker rides the open swap — a lost root marker cannot replay a swapped batch") {
    import graft.util.MetaFs
    val root = graft.util.Scratch.dir("graft_hist_marker")
    val hs = new graft.sinks.HistorySink(root)
    val b0 = Seq((1L, 1L, "I", 1.0)).toDF("pk", "commit_ts", "op", "value")
    val b1 = Seq((1L, 5L, "U", 2.0), (1L, 9L, "U", 3.0))
      .toDF("pk", "commit_ts", "op", "value")
    assert(hs.applyBatch(b0, 0L))
    assert(hs.applyBatch(b1, 1L))
    // crash after the swap but before the root-marker write: the root
    // marker regresses to batch 0, but the open table carries batch 1's
    // marker from the atomic swap — the replay MUST be skipped (pre-fix
    // it recomputed closes against the already-advanced open table and
    // appended an INVERTED interval (9, 5), not the mere duplicate the
    // old doc claimed)
    MetaFs.writeString(s"$root/_committed_batch", "0")
    assert(!new graft.sinks.HistorySink(root).applyBatch(b1, 1L))
    val h = new graft.sinks.HistorySink(root).history(spark)
      .select("pk", "valid_from", "valid_to", "is_current")
      .as[(Long, Long, Option[Long], Boolean)].collect().toSet
    assert(h == Set((1L, 1L, Some(5L), false), (1L, 5L, Some(9L), false),
      (1L, 9L, None, true)))
  }

  test("history sink: a crash between the closed write and the open swap replays exactly") {
    // sibling of the lost-root-marker spec, closing the LAST crash window:
    // batch N's closed rows land under closed/batch=N with overwrite
    // semantics, so a crash after the closed write but before the swap
    // replays into the SAME directory — recomputed from the unchanged open
    // table — instead of appending a duplicate of every closed row
    val rootA = graft.util.Scratch.dir("graft_hist_closeA")
    val rootB = graft.util.Scratch.dir("graft_hist_closeB")
    val b0 = Seq((1L, 1L, "I", 1.0), (2L, 2L, "I", 2.0))
      .toDF("pk", "commit_ts", "op", "value")
    val b1 = Seq((1L, 5L, "U", 1.5), (2L, 6L, "D", 0.0), (3L, 7L, "I", 3.0))
      .toDF("pk", "commit_ts", "op", "value")
    val clean = new graft.sinks.HistorySink(rootA)
    assert(clean.applyBatch(b0, 0L) && clean.applyBatch(b1, 1L))
    val crashed = new graft.sinks.HistorySink(rootB)
    assert(crashed.applyBatch(b0, 0L))
    // simulate the crash point: batch 1's closed rows fully written (byte
    // twins of the committed run's), open table and markers still at 0
    spark.read.parquet(s"$rootA/closed/batch=1")
      .write.parquet(s"$rootB/closed/batch=1")
    assert(new graft.sinks.HistorySink(rootB).applyBatch(b1, 1L))
    val hA = clean.history(spark)
      .select("pk", "valid_from", "valid_to", "value", "is_current")
    val hB = new graft.sinks.HistorySink(rootB).history(spark)
      .select("pk", "valid_from", "valid_to", "value", "is_current")
    // exceptAll respects multiplicity: a duplicated closed interval fails
    assert(hA.exceptAll(hB).isEmpty && hB.exceptAll(hA).isEmpty)
    assert(hB.count() == hA.count())
  }

  test("history sink reads see only COMMITTED closed batches — an uncommitted (even torn) dir is invisible, not dirty or wedging") {
    import graft.util.MetaFs
    // between a crashed closed write and its replay, closed/batch=N exists
    // with no marker advance; pre-fix, partition discovery surfaced its
    // rows (dirty read) and a torn parquet file in it wedged history()
    // until the replay — the committed-batch filter + explicit schema
    // keep the dir entirely out of the scan
    val root = graft.util.Scratch.dir("graft_hist_committed_read")
    val sink = new graft.sinks.HistorySink(root)
    val b0 = Seq((1L, 1L, "I", 1.0), (2L, 2L, "I", 2.0))
      .toDF("pk", "commit_ts", "op", "value")
    val b1 = Seq((1L, 5L, "U", 1.5)).toDF("pk", "commit_ts", "op", "value")
    assert(sink.applyBatch(b0, 0L) && sink.applyBatch(b1, 1L))
    val committed = sink.history(spark).collect().toSet
    // crash mid-closed-write of batch 2: a wrong-content row AND a torn
    // file (garbage bytes, no parquet footer) under the uncommitted dir
    Seq((99L, -1L, Some(-1L), 0.0)).toDF("pk", "valid_from", "valid_to", "value")
      .write.parquet(s"$root/closed/batch=2")
    MetaFs.writeString(s"$root/closed/batch=2/part-torn.parquet", "not parquet")
    val dirty = new graft.sinks.HistorySink(root)
    assert(dirty.history(spark).collect().toSet == committed,
      "uncommitted closed batch leaked into a read before its replay")
    // the replay overwrites the dir and commits; its rows then appear
    val b2 = Seq((2L, 9L, "D", 0.0)).toDF("pk", "commit_ts", "op", "value")
    assert(dirty.applyBatch(b2, 2L))
    val h = new graft.sinks.HistorySink(root).history(spark)
    assert(h.filter(col("pk") === 99L).isEmpty, "torn write survived the replay")
    assert(h.filter(col("pk") === 2L && !col("is_current")).count() == 1)
  }

  test("loader merge window tolerates a non-orderable (map) payload column riding the frame") {
    import graft.sinks.JdbcSchemaLoader
    // the payload tie-break orders SCALAR columns only: a MapType column in
    // the frame (e.g. the envelope's props riding along to a sink that
    // ignores it) fails window analysis if included — pre-fix this apply
    // threw; the scalar columns still break (key, ts, op)-identical ties
    val loader = new JdbcSchemaLoader(
      graft.util.Scratch.derbyMemUrl("graft_map_payload"), applyPartitions = 2)
    loader.createTable(
      "CREATE TABLE MAPP (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, VAL DOUBLE)")
    val f = Seq((1L, 10L, "I", 1.0, Map("a" -> "b")),
        (1L, 10L, "I", 2.0, Map("c" -> "d")), (2L, 11L, "I", 3.0, Map.empty[String, String]))
      .toDF("pk", "commit_ts", "op", "val", "props")
    assert(loader.applyBatch(Map("MAPP" -> f), 0L))
    val got = loader.readTable(spark, "MAPP", Some("PK"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // the scalar tie-break (VAL desc) still picks the deterministic winner
    assert(got == Map(1L -> 2.0, 2L -> 3.0))
  }

  test("JDBC state read is fail-loud: a never-booted database throws, not an empty answer") {
    import graft.sinks.JdbcUpsertSink
    // the read path strips ;create=true (JdbcMeta.readUrl): a wrong URL
    // must throw Derby XJ004 instead of silently booting an empty database
    // and answering "no state, consistent" — the Reparo standalone-read
    // trap the r18 sweep named
    val sink = new JdbcUpsertSink("jdbc:derby:memory:graft_never_booted_r19;create=true")
    val e = intercept[java.sql.SQLException] { sink.currentState(spark) }
    assert(e.getSQLState == "XJ004", s"expected XJ004, got ${e.getSQLState}")
  }

  test("same-commit-ts txn chains resolve by T9 seq across the JDBC and history sinks") {
    import graft.sinks.{HistorySink, JdbcSchemaLoader, JdbcUpsertSink}
    // JdbcUpsertSink merge window: the txn's highest seq wins at a tied ts
    // (TiDB stamps a whole txn with one commit ts — the same chain
    // UpsertSink.mergeSlice resolves; these paths used a bare ts order,
    // picking a shuffle-dependent winner)
    val url = freshDerbyUrl("seqtie")
    val sink = new JdbcUpsertSink(url)
    sink.ensureTables()
    // delete-then-reinsert at one commit ts: the reinsert (higher seq) wins
    val b0 = Seq((1L, 100L, "D", 0.0, 1L), (1L, 100L, "I", 5.0, 2L))
      .toDF("pk", "commit_ts", "op", "value", "seq")
    assert(sink.applyBatch(b0, 0L))
    assert(sink.currentState(spark).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap == Map(1L -> 5.0))
    // ...and the mirrored chain ends deleted
    val b1 = Seq((1L, 200L, "I", 6.0, 1L), (1L, 200L, "D", 0.0, 2L))
      .toDF("pk", "commit_ts", "op", "value", "seq")
    assert(sink.applyBatch(b1, 1L))
    assert(sink.currentState(spark).count() == 0)
    // without seq the D>U>I net-effect tie-break stands (deterministic,
    // never shuffle order)
    val b2 = Seq((2L, 300L, "I", 7.0), (2L, 300L, "D", 0.0))
      .toDF("pk", "commit_ts", "op", "value")
    assert(sink.applyBatch(b2, 2L))
    assert(sink.currentState(spark).count() == 0)

    // the schema loader's SEQUENCE path applies a same-ts I-then-U chain
    // in statement order (it previously ordered same-ts statements by
    // content hash), landing the update...
    val loader = new JdbcSchemaLoader(freshDerbyUrl("seqtie2"))
    loader.createTable(
      "CREATE TABLE SEQT (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, VAL DOUBLE)")
    val s0 = Seq((10L, 100L, "I", 1.0, 1L), (10L, 100L, "U", 2.0, 2L))
      .toDF("pk", "commit_ts", "op", "val", "seq")
    loader.applyBatch(Map("SEQT" -> s0), 0L, merge = false, safeMode = true)
    assert(loader.readTable(spark, "SEQT", Some("PK")).collect()
      .map(r => r.getAs[Long]("PK") -> r.getAs[Double]("VAL")).toMap ==
      Map(10L -> 2.0))
    // ...and the MERGED path's window picks the same net effect
    val loader2 = new JdbcSchemaLoader(freshDerbyUrl("seqtie3"))
    loader2.createTable(
      "CREATE TABLE SEQM (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, VAL DOUBLE)")
    val s1 = Seq((20L, 100L, "I", 1.0, 1L), (20L, 100L, "U", 2.0, 2L))
      .toDF("pk", "commit_ts", "op", "val", "seq")
    loader2.applyBatch(Map("SEQM" -> s1), 0L, merge = true, safeMode = false)
    assert(loader2.readTable(spark, "SEQM", Some("PK")).collect()
      .map(r => r.getAs[Long]("PK") -> r.getAs[Double]("VAL")).toMap ==
      Map(20L -> 2.0))

    // HistorySink: a same-ts U-then-D txn ends the key deleted with its
    // chain closed; the mirrored D-then-U order leaves the update current
    val root = graft.util.Scratch.dir("graft_hist_seqtie")
    val hs = new HistorySink(root)
    val hb = Seq((1L, 10L, "I", 1.0, 1L), (1L, 50L, "U", 5.0, 1L),
        (1L, 50L, "D", 0.0, 2L), (2L, 50L, "D", 0.0, 1L),
        (2L, 50L, "U", 9.0, 2L))
      .toDF("pk", "commit_ts", "op", "value", "seq")
    assert(hs.applyBatch(hb, 0L))
    val h = hs.history(spark)
      .select("pk", "valid_from", "valid_to", "is_current")
      .as[(Long, Long, Option[Long], Boolean)].collect().toSet
    assert(h == Set((1L, 10L, Some(50L), false), (1L, 50L, Some(50L), false),
      (2L, 50L, None, true)), s"got $h")
  }

  test("a corrupted checkpoint marker names itself instead of a bare parse error") {
    // MetaFs.writeString keeps torn writes in a .tmp sibling, so a corrupt
    // marker means external damage — the error must say which file and how
    // to recover, not wedge restarts on a NumberFormatException
    val root = graft.util.Scratch.dir("graft_corrupt_marker")
    val sink = new UpsertSink(root)
    assert(sink.applyBatch(
      Seq((1L, 1L, "I", 1.0)).toDF("commit_ts", "pk", "op", "value"), 0L))
    graft.util.MetaFs.writeString(s"$root/_committed_batch", "garbage")
    val e = intercept[IllegalStateException](new UpsertSink(root).lastCommitted)
    assert(e.getMessage.contains("_committed_batch"))
    val hroot = graft.util.Scratch.dir("graft_corrupt_hist_marker")
    graft.util.MetaFs.writeString(s"$hroot/_committed_batch", "not a number")
    val eh = intercept[IllegalStateException](
      new graft.sinks.HistorySink(hroot).lastCommitted)
    assert(eh.getMessage.contains("_committed_batch"))
  }

  /** Stage the single events parquet file into a directory for the file
    * stream source (it requires a directory basePath). */
  private def stageEventsDir(): String = {
    val dir = java.nio.file.Paths.get(graft.util.Scratch.dir("graft_stream_in"))
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("upsert sink: batch apply, idempotent replay, ddl barrier, delete suppression") {
    val root = graft.util.Scratch.dir("graft_sink")
    val sink = new UpsertSink(root)
    val b0 = Seq(
      (1L, 1L, "I", 10.0), (2L, 1L, "U", 11.0),
      (3L, 2L, "I", 20.0),
      (4L, 3L, "I", 30.0), (5L, 3L, "D", 0.0)
    ).toDF("commit_ts", "pk", "op", "value")
    assert(sink.applyBatch(b0, 0L))
    val s0 = sink.currentState(spark).collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s0 == Map(1L -> 11.0, 2L -> 20.0)) // pk 3 deleted
    // replay the same batch id -> skipped
    assert(!sink.applyBatch(b0, 0L))
    // ddl barrier splits the batch; both sides apply in order
    val b1 = Seq(
      (6L, 1L, "U", 12.0),
      (7L, 0L, "DDL", 0.0),
      (8L, 2L, "D", 0.0)
    ).toDF("commit_ts", "pk", "op", "value")
    assert(sink.applyBatch(b1, 1L))
    val s1 = sink.currentState(spark).collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(s1 == Map(1L -> 12.0))
    assert(sink.lastCommitted == 1L)
  }

  test("streaming apply == batch compaction (flagship streaming path)") {
    val stateRoot = graft.util.Scratch.dir("graft_state")
    val ckpt = graft.util.Scratch.dir("graft_ckpt")
    val changes = CdcStream.changeStream(spark, stageEventsDir())
    val q = CdcStream.applyToState(changes, stateRoot, ckpt)
    try q.processAllAvailable() finally q.stop()
    val streamed = new UpsertSink(stateRoot).currentState(spark)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val batch = graft.ops.Cdc.compactByPk(graft.ops.Cdc.changes(spark, sf))
      .filter(col("op") =!= "D")
      .select("pk", "value").as[(Long, Double)].collect().toMap
    assert(streamed == batch)
  }

  /** Write one parquet file (single part) with a deterministic name into a
    * watched stream-input directory. */
  private def addFile(df: org.apache.spark.sql.DataFrame, dir: String, name: String): Unit = {
    val tmp = graft.util.Scratch.dir("graft_stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, java.nio.file.Paths.get(dir, s"$name.parquet"))
  }

  test("relay restart (S5): resume from checkpoint applies only new files, exactly once") {
    // ref: drainer/relay/reader.go:50-121 — after a crash the relay log is
    // re-read from the persisted position, never re-applying old entries.
    // Spark twin: file stream + checkpointLocation + batch-id-idempotent sink.
    val in = graft.util.Scratch.dir("graft_relay_in")
    val stateRoot = graft.util.Scratch.dir("graft_relay_state")
    val ckpt = graft.util.Scratch.dir("graft_relay_ckpt")
    val raw = spark.read.parquet(s"$sf/events.parquet")

    addFile(raw.filter(col("event_id") < 500), in, "a")
    val q1 = CdcStream.applyToState(CdcStream.changeStream(spark, in), stateRoot, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    val sink = new UpsertSink(stateRoot)
    val afterFirst = sink.lastCommitted

    // "crash", new relay entries arrive, restart from the same checkpoint
    addFile(raw.filter(col("event_id") >= 500), in, "b")
    val q2 = CdcStream.applyToState(CdcStream.changeStream(spark, in), stateRoot, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(sink.lastCommitted > afterFirst, "restart must apply the new file")

    val streamed = sink.currentState(spark)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val batch = graft.ops.Cdc.compactByPk(graft.ops.Cdc.changes(spark, sf))
      .filter(col("op") =!= "D")
      .select("pk", "value").as[(Long, Double)].collect().toMap
    assert(streamed == batch, "state after restart == batch compaction of everything")

    // a third restart with nothing new must be a no-op
    val before = sink.lastCommitted
    val q3 = CdcStream.applyToState(CdcStream.changeStream(spark, in), stateRoot, ckpt)
    try q3.processAllAvailable() finally q3.stop()
    assert(sink.lastCommitted == before)
  }

  test("streaming repeated-binlog skip drops at-least-once redelivery (F10 twin)") {
    // the same batch of events delivered twice (two files, same content) —
    // the dedup stream must emit each commit id exactly once
    val in = graft.util.Scratch.dir("graft_dedup_in")
    val raw = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_id") < 300)
    addFile(raw, in, "delivery1")
    addFile(raw, in, "delivery2")
    val q = CdcStream.dedupStream(CdcStream.changeStream(spark, in))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("dedup_out")
    assert(out.count() == raw.count(), "each redelivered event emitted once")
    assert(out.groupBy("commit_ts").count().filter(col("count") > 1).count() == 0)
  }

  test("watermarked counts run over the stream") {
    val changes = CdcStream.changeStream(spark, stageEventsDir())
    val q = CdcStream.watermarkedCounts(changes)
      .writeStream.format("memory").queryName("wm_out").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("wm_out").count() > 0)
  }

  private def freshDerbyUrl(tag: String): String = {
    // derby.log + db dirs stay in /tmp; embedded Derby boots on first connect
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home",
        graft.util.Scratch.dir("graft_derby_home"))
    val db = graft.util.Scratch.dir(s"graft_derby_$tag") + "/db"
    s"jdbc:derby:$db;create=true"
  }

  test("JDBC upsert sink (K1): merge-by-pk, delete-first, batched replace, checkpoint parity") {
    import graft.sinks.JdbcUpsertSink
    import spark.implicits._
    val url = freshDerbyUrl("batch")
    val sink = new JdbcUpsertSink(url)
    sink.ensureTables()
    val b0 = Seq((1L, 1L, "I", 10.0), (2L, 2L, "I", 20.0), (3L, 3L, "I", 30.0))
      .toDF("pk", "commit_ts", "op", "value")
    assert(sink.applyBatch(b0, 0L, schemaVersion = 5L))
    // batch 1 exercises all three DML classes plus intra-batch merge-by-pk:
    // pk 4 is inserted then updated — only the final image may reach the DB
    val b1 = Seq((1L, 4L, "U", 11.0), (2L, 5L, "D", 0.0),
        (4L, 6L, "I", 40.0), (4L, 7L, "U", 44.0))
      .toDF("pk", "commit_ts", "op", "value")
    assert(sink.applyBatch(b1, 1L))
    def state() = sink.currentState(spark)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(state() == Map(1L -> 11.0, 3L -> 30.0, 4L -> 44.0))
    // the read-back is a pk-strided parallel scan, not one connection
    // (Spark clamps partition count to the key-range width on tiny tables)
    assert(sink.currentState(spark).rdd.getNumPartitions > 1)
    // checkpoint row lives IN the target DB with the reference's fields
    // (ref: drainer/checkpoint/mysql.go:34-51)
    val ck = sink.lastCheckpoint
    assert(ck.batchId == 1L && ck.commitTs == 7L &&
      ck.schemaVersion == 5L && ck.consistent)
    // batch-id replay is skipped without touching the DB
    assert(!sink.applyBatch(b1, 1L))
    assert(state() == Map(1L -> 11.0, 3L -> 30.0, 4L -> 44.0))

    // crash replay: checkpoint lost (fresh cluster id), source replays from
    // batch 0 — the batched REPLACE apply is idempotent end-state
    // (ref: executor.go:206-244 bulkReplace)
    val recovered = new JdbcUpsertSink(url, clusterId = 99L)
    assert(recovered.applyBatch(b0, 0L))
    assert(recovered.applyBatch(b1, 1L))
    assert(state() == Map(1L -> 11.0, 3L -> 30.0, 4L -> 44.0))

    // the loader's per-DML path with safe mode off (the reference's
    // non-batched, non-safe statement path): replaying an insert batch hits
    // the real engine's duplicate-key error — the exact failure the
    // reference's post-restart safe-mode window exists to absorb, and the
    // batched REPLACE path never produces
    intercept[Exception] {
      new graft.sinks.JdbcSchemaLoader(url, clusterId = 100L).applyBatch(
        Map("GRAFT_STATE" -> b0.withColumnRenamed("value", "val")), 0L,
        merge = false, safeMode = false)
    }
  }

  test("JDBC sink binds NULL values as SQL NULL, not a crash") {
    import graft.sinks.JdbcUpsertSink
    import spark.implicits._
    val url = freshDerbyUrl("nulls")
    val sink = new JdbcUpsertSink(url)
    sink.ensureTables()
    val b = Seq((1L, 1L, "I", Some(10.0)), (2L, 2L, "I", None))
      .toDF("pk", "commit_ts", "op", "value")
    assert(sink.applyBatch(b, 0L))
    val state = sink.currentState(spark)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(state == Map(1L -> Some(10.0), 2L -> None))
  }

  test("JDBC sink DDL barrier (P3): schema change executes alone, in order, for real") {
    import graft.sinks.JdbcUpsertSink
    import spark.implicits._
    val url = freshDerbyUrl("ddl")
    val sink = new JdbcUpsertSink(url)
    sink.ensureTables()
    val b0 = Seq((1L, 1L, "I", 10.0)).toDF("pk", "commit_ts", "op", "value")
    assert(sink.applyBatch(b0, 0L))
    // one batch, three phases: DML before the barrier, a widening DDL that
    // must execute ALONE between the sub-batches, DML after it (ref:
    // pkg/loader/load.go:845-866)
    val b1 = Seq(
      (2L, 2L, "I", 20.0, null.asInstanceOf[String]),
      (0L, 3L, "DDL", 0.0, "ALTER TABLE GRAFT_STATE ADD COLUMN extra BIGINT DEFAULT 7"),
      (3L, 4L, "I", 30.0, null.asInstanceOf[String])
    ).toDF("pk", "commit_ts", "op", "value", "ddl_sql")
    assert(sink.applyBatch(b1, 1L))
    val rows = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "GRAFT_STATE")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()
    // the post-barrier insert landed into the WIDENED table; the new
    // column exists and carries its default on every row
    assert(rows.columns.toSeq == Seq("PK", "COMMIT_TS", "VAL", "EXTRA"))
    assert(rows.count() == 3)
    assert(rows.filter(col("EXTRA") === 7L).count() == 3)
    // the ddl log records the executed statement, not a placeholder
    val logged = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "GRAFT_DDL_LOG")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()
      .select("STMT").as[String].collect()
    assert(logged.exists(_.contains("ADD COLUMN extra")))
  }

  test("JDBC schema loader: two shapes, composite key, mid-batch DDL widening, NULL-safe keyless delete") {
    import graft.sinks.JdbcSchemaLoader
    import spark.implicits._
    val url = freshDerbyUrl("schema")
    val loader = new JdbcSchemaLoader(url)
    loader.createTable(
      "CREATE TABLE T_NARROW (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, VAL DOUBLE)")
    loader.createTable(
      """CREATE TABLE T_WIDE (K1 BIGINT NOT NULL, K2 VARCHAR(8) NOT NULL,
        | COMMIT_TS BIGINT, NOTE VARCHAR(32),
        | CONSTRAINT WIDE_UK UNIQUE (K1, K2))""".stripMargin)
    // no key at all: the loader falls back to all-columns matching with
    // NULL-safe comparisons on the nullable ones (ref: model.go:253-257)
    loader.createTable(
      "CREATE TABLE T_KEYLESS (A BIGINT, B VARCHAR(8), COMMIT_TS BIGINT)")

    // batch 0 spans all three shapes in one apply
    val narrow0 = Seq((1L, 1L, "I", 10.0), (2L, 2L, "I", 20.0))
      .toDF("pk", "commit_ts", "op", "val")
    val wide0 = Seq((7L, "a", 3L, "U", "first"), (7L, "b", 4L, "I", "second"),
        (7L, "a", 5L, "U", "newer")) // same composite key twice: newest wins
      .toDF("k1", "k2", "commit_ts", "op", "note")
    val keyless0 = Seq((Some(1L), None: Option[String], 6L, "I"),
        (Some(2L), Some("x"), 7L, "I"))
      .toDF("a", "b", "commit_ts", "op")
    assert(loader.applyBatch(Map("T_NARROW" -> narrow0, "T_WIDE" -> wide0,
      "T_KEYLESS" -> keyless0), 0L))

    def rows(t: String) = loader.readTable(spark, t)
    assert(rows("T_NARROW").count() == 2)
    val wide = rows("T_WIDE").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getString(3)).toMap
    assert(wide == Map((7L, "a") -> "newer", (7L, "b") -> "second"),
      "composite-key merge keeps the newest image per (k1,k2)")

    // batch 1: DML before a widening DDL barrier, DML after it. The
    // pre-barrier row must land in the OLD shape (the frame's extra column
    // is not yet in the catalog and is skipped); the post-barrier row lands
    // in the widened table because the column list is re-read after the
    // barrier (ref: pkg/loader/load.go:845-866 + table-info cache eviction)
    val narrow1 = Seq(
      (3L, 10L, "I", 30.0, null.asInstanceOf[String], Some(333L)),
      (0L, 11L, "DDL", 0.0, "ALTER TABLE T_NARROW ADD COLUMN EXTRA BIGINT", None),
      (4L, 12L, "I", 40.0, null.asInstanceOf[String], Some(444L))
    ).toDF("pk", "commit_ts", "op", "val", "ddl_sql", "extra")
    assert(loader.applyBatch(Map("T_NARROW" -> narrow1), 1L))
    val after = rows("T_NARROW").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(after(4L) == Some(444L), "post-barrier row carries the new column")
    assert(after(3L) == None, "pre-barrier row applied against the old shape")
    assert(after.keySet == Set(1L, 2L, 3L, 4L))

    // batch 2: delete the keyless row whose key contains a NULL. With no
    // unique key the WHERE matches ALL columns of the row's OLD IMAGE
    // (ref: model.go:303-322 — a keyless delete carries the full old row),
    // and the NULL-safe comparison must match the stored NULL rather than
    // silently no-op; the non-null row survives
    val keyless1 = Seq((Some(1L), None: Option[String], 6L, "D"))
      .toDF("a", "b", "commit_ts", "op")
    assert(loader.applyBatch(Map("T_KEYLESS" -> keyless1), 2L))
    val kl = rows("T_KEYLESS").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kl.toSeq == Seq((2L, "x")), "NULL-keyed row deleted, other row kept")

    // batch 3: a router that fans the change stream into several table
    // frames replicates the SAME DDL row into each slice — it must
    // collapse to ONE barrier: a second execution of the ALTER would
    // throw (column already exists) and wedge every replay of the batch
    val ddlSql = "ALTER TABLE T_WIDE ADD COLUMN TAG INT"
    val narrow3 = Seq((0L, 20L, "DDL", 0.0, ddlSql))
      .toDF("pk", "commit_ts", "op", "val", "ddl_sql")
    val wide3 = Seq(
      (0L, "z", 20L, "DDL", null.asInstanceOf[String], ddlSql,
        None: Option[Int]),
      (8L, "c", 21L, "I", "tagged", null.asInstanceOf[String], Some(9))
    ).toDF("k1", "k2", "commit_ts", "op", "note", "ddl_sql", "tag")
    assert(loader.applyBatch(Map("T_NARROW" -> narrow3, "T_WIDE" -> wide3), 3L))
    val tagged = rows("T_WIDE").collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (if (r.isNullAt(4)) None else Some(r.getInt(4)))).toMap
    assert(tagged((8L, "c")) == Some(9), "post-barrier row carries TAG")

    // replay of an applied batch id is a no-op (checkpoint skip)
    assert(!loader.applyBatch(Map("T_KEYLESS" -> keyless0), 2L))
    assert(rows("T_KEYLESS").count() == 1)
  }

  test("schema loader: one exchange and one checkpoint per table per batch, one JDBC pass per segment (two with a secondary key), one INSERT text per column list") {
    // A has one unique key, B a secondary one; the batch carries two DDL
    // barriers (each widening one table) and deletes mixed into ~1000
    // rows. The frames are parquet scans, like a streaming decode's
    // written batch, so adaptive execution applies to the loader's plans
    // when it is on — there each shuffle map stage is its own job
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.sinks.JdbcSchemaLoader
    import spark.implicits._
    object Plans extends AdaptiveSparkPlanHelper {
      def shuffles(p: SparkPlan): Int = collect(p) { case e: ShuffleExchangeExec => e }.size
    }
    val tag = "graft.spec.loader"
    // (action, table, shuffles) of every loader query, in arrival order
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Int)]()
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        // a JDBC pass's own output is the deserialized row object; its
        // leaf, the merge checkpoint, names the columns
        val cols = (qe.analyzed.output ++ qe.analyzed.collectLeaves().flatMap(_.output))
          .map(_.name.toLowerCase).toSet
        if (cols.contains("_seg"))
          actions.add((f, if (cols.contains("uk")) "B" else "A",
            Plans.shuffles(qe.executedPlan)))
        ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(tag)).foreach(jobs.add)
    }
    // the job group is a local property the loader's worker pool carries;
    // the listener bus delivers in order, so once the marker job is seen
    // every job of the apply has been counted
    def jobsOf(run: => Unit): Int = {
      jobs.clear()
      spark.sparkContext.setJobGroup(s"$tag.apply", "loader apply")
      try run finally spark.sparkContext.clearJobGroup()
      spark.sparkContext.setJobGroup(s"$tag.marker", "marker")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.contains(s"$tag.marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.contains(s"$tag.marker"), "the listener bus never delivered the marker job")
      jobs.asScala.count(_ == s"$tag.apply")
    }
    def scan(df: org.apache.spark.sql.DataFrame, name: String) = {
      val p = graft.util.Scratch.dir(s"graft_loader_jobs_$name") + "/f"
      df.repartition(2).write.parquet(p)
      spark.read.parquet(p)
    }
    val addA = "ALTER TABLE A ADD COLUMN EXTRA BIGINT"
    val addB = "ALTER TABLE B ADD COLUMN NOTE VARCHAR(16)"
    val (b1, b2) = (1150L, 1350L)
    // per table: 500 rows at distinct ts over 350 keys; every fifth a
    // delete; a DML row at each barrier's ts belongs before the barrier
    def rowsOf(off: Long) = (1001L to 1500L).map { ts =>
      val pk = (ts * 7 + off) % 350 + 1
      (ts, pk, if (ts % 5 == 0) "D" else if (pk <= 300) "U" else "I")
    }
    // the model: per segment, the last op per key wins; a segment's
    // upserts bind the columns the table has at that point
    def model(rows: Seq[(Long, Long, String)], widenAt: Long): Map[Long, (Long, Boolean)] = {
      val base = (1L to 300L).map(pk => pk -> ((pk, false))).toMap
      rows.sortBy(_._1).foldLeft(base) { case (st, (ts, pk, op)) =>
        if (op == "D") st - pk else st + (pk -> ((ts, ts > widenAt)))
      }
    }
    val rowsA = rowsOf(0L); val rowsB = rowsOf(11L)
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqe0 = spark.conf.get(aqeKey)
    try Seq(false, true).foreach { aqe =>
      spark.conf.set(aqeKey, aqe.toString)
      val url = freshDerbyUrl(s"loader_jobs_$aqe")
      val loader = new JdbcSchemaLoader(url, applyPartitions = 4)
      loader.createTable("CREATE TABLE A (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, VAL DOUBLE)")
      loader.createTable("""CREATE TABLE B (PK BIGINT PRIMARY KEY, UK BIGINT NOT NULL,
        | COMMIT_TS BIGINT, VAL DOUBLE, CONSTRAINT B_UK UNIQUE (UK))""".stripMargin)
      val seed = (1L to 300L).map(pk => (pk, pk, "I", pk.toDouble))
      assert(loader.applyBatch(Map(
        "A" -> seed.toDF("pk", "commit_ts", "op", "val"),
        "B" -> seed.toDF("pk", "commit_ts", "op", "val")
          .withColumn("uk", col("pk") + 10000L)), 0L))
      val frameA = scan((rowsA.map { case (ts, pk, op) =>
          (ts, pk, op, ts.toDouble, ts, null: String) } :+
          ((b1, 0L, "DDL", 0.0, 0L, addA)))
        .toDF("commit_ts", "pk", "op", "val", "extra", "ddl_sql"), s"a_$aqe")
      val frameB = scan((rowsB.map { case (ts, pk, op) =>
          (ts, pk, pk + 10000L, op, ts.toDouble, s"n$ts", null: String) } :+
          ((b2, 0L, 0L, "DDL", 0.0, "", addB)))
        .toDF("commit_ts", "pk", "uk", "op", "val", "note", "ddl_sql"), s"b_$aqe")
      actions.clear()
      val n = jobsOf(assert(loader.applyBatch(Map("A" -> frameA, "B" -> frameB), 1L)))
      val deadline = System.nanoTime() + 30000000000L
      while (actions.size < 11 && System.nanoTime() < deadline) Thread.sleep(10)
      val acts = actions.asScala.toSeq
      val merges = acts.filter(_._1 == "localCheckpoint")
      val passes = acts.filter(_._1 == "foreachPartition").groupBy(_._2).view
        .mapValues(_.size).toMap
      val inserts = {
        val c = java.sql.DriverManager.getConnection(url)
        try {
          val rs = c.createStatement().executeQuery(
            "SELECT SQL_TEXT FROM SYSCS_DIAG.STATEMENT_CACHE")
          val out = scala.collection.mutable.ArrayBuffer[String]()
          while (rs.next()) out += rs.getString(1)
          out.filter(s => s.startsWith("INSERT INTO A ") || s.startsWith("INSERT INTO B ")).toSeq
        } finally c.close()
      }
      val insertTexts = inserts.groupBy(s => s.substring(0, s.indexOf(") VALUES")))
        .view.mapValues(_.size).toMap
      info(s"aqe=$aqe: $n jobs; merge shuffles ${merges.map(m => m._2 -> m._3)}; " +
        s"JDBC passes $passes; INSERT texts per (table, column list) ${insertTexts.values}")
      // the end state
      val a = loader.readTable(spark, "A").collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), !r.isNullAt(3)))).toMap
      assert(a == model(rowsA, b1))
      val bRows = loader.readTable(spark, "B").collect()
      val b = bRows.map(r => r.getLong(0) -> ((r.getLong(2), !r.isNullAt(4)))).toMap
      assert(b == model(rowsB, b2))
      assert(bRows.forall(r => r.getLong(1) == r.getLong(0) + 10000L))
      // the work
      assert(n <= (if (aqe) 14 else 12), s"aqe=$aqe: the batch ran $n jobs")
      assert(merges.map(_._2).sorted == Seq("A", "B") && merges.forall(_._3 == 1),
        s"aqe=$aqe: merge plans (table, shuffles) ${merges.map(m => m._2 -> m._3)}")
      assert(passes == Map("A" -> 3, "B" -> 6), s"aqe=$aqe: JDBC passes $passes")
      assert(insertTexts.size == 4 && insertTexts.values.forall(_ == 1),
        s"aqe=$aqe: INSERT texts in the statement cache: $inserts")
    } finally {
      spark.conf.set(aqeKey, aqe0)
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
  }

  test("schema loader: a secondary key a delete frees is reusable in the same segment, whichever partitions hold the two rows") {
    import graft.sinks.JdbcSchemaLoader
    import spark.implicits._
    val parts = 4
    // the merge hash-partitions on the primary key: pick a pk whose
    // partition differs from pk 1's
    def partOf(pk: Long): Int = Seq(pk).toDF("pk")
      .select(pmod(hash(col("pk")), lit(parts))).head().getInt(0)
    val p2 = (2L to 64L).find(partOf(_) != partOf(1L)).get
    val loader = new JdbcSchemaLoader(freshDerbyUrl("uk_reuse"), applyPartitions = parts)
    loader.createTable("""CREATE TABLE B (PK BIGINT PRIMARY KEY, UK BIGINT NOT NULL,
      | COMMIT_TS BIGINT, VAL DOUBLE, CONSTRAINT B_UK UNIQUE (UK))""".stripMargin)
    assert(loader.applyBatch(Map("B" -> Seq((1L, 7L, 1L, "I", 1.0))
      .toDF("pk", "uk", "commit_ts", "op", "val")), 0L))
    // pk 1 releases uk 7 and pk p2 takes it, in one segment
    val b1 = Seq((1L, 7L, 10L, "D", 1.0), (p2, 7L, 11L, "I", 2.0))
      .toDF("pk", "uk", "commit_ts", "op", "val")
    assert(loader.applyBatch(Map("B" -> b1), 1L))
    val state = loader.readTable(spark, "B").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(state.toSeq == Seq((p2, 7L)))
    assert(!loader.applyBatch(Map("B" -> b1), 1L), "a replayed batch id applies nothing")
  }

  test("schema loader: a barrier that changes a table's key re-merges its later segments under the new key") {
    import graft.sinks.JdbcSchemaLoader
    import spark.implicits._
    val loader = new JdbcSchemaLoader(freshDerbyUrl("key_change"), applyPartitions = 4)
    loader.createTable("CREATE TABLE K (A BIGINT NOT NULL, B VARCHAR(8), COMMIT_TS BIGINT)")
    // before the barrier the table is keyless (all-columns key), after it
    // keyed on A: two images of A = 1 after the barrier fold into one
    val b0 = Seq((1L, "x", 1L, "I", null: String),
        (0L, "", 5L, "DDL", "ALTER TABLE K ADD CONSTRAINT K_PK PRIMARY KEY (A)"),
        (1L, "y", 6L, "U", null: String), (1L, "z", 7L, "U", null: String),
        (2L, "w", 8L, "I", null: String))
      .toDF("a", "b", "commit_ts", "op", "ddl_sql")
    assert(loader.applyBatch(Map("K" -> b0), 0L))
    val state = loader.readTable(spark, "K").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(state.toSeq == Seq((1L, "z"), (2L, "w")))
  }

  test("schema loader: a barrier sees every row committed before it, including a key's earlier image") {
    // the end state alone cannot tell a per-segment merge from one across
    // segments (the last image replaces the row either way); a barrier
    // that reads the data can. Before the barrier pk 1 holds VAL 6 and
    // pk 2 VAL 5, so the unique constraint holds; a merge that let pk 1's
    // post-barrier image stand in for its pre-barrier one would leave
    // VAL 5 twice and the ALTER would fail
    import graft.sinks.JdbcSchemaLoader
    import spark.implicits._
    val loader = new JdbcSchemaLoader(freshDerbyUrl("barrier_view"), applyPartitions = 4)
    loader.createTable("CREATE TABLE V (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, VAL BIGINT)")
    assert(loader.applyBatch(Map("V" -> Seq((1L, 1L, "I", 5L, null: String))
      .toDF("pk", "commit_ts", "op", "val", "ddl_sql")), 0L))
    val b1 = Seq((1L, 10L, "U", 6L, null: String), (2L, 11L, "I", 5L, null: String),
        (0L, 12L, "DDL", 0L, "ALTER TABLE V ADD CONSTRAINT V_VAL UNIQUE (VAL)"),
        (1L, 13L, "U", 7L, null: String))
      .toDF("pk", "commit_ts", "op", "val", "ddl_sql")
    assert(loader.applyBatch(Map("V" -> b1), 1L))
    val state = loader.readTable(spark, "V").collect()
      .map(r => (r.getLong(0), r.getLong(2))).sorted
    assert(state.toSeq == Seq((1L, 7L), (2L, 5L)))
  }

  test("schema loader: a CREATE TABLE barrier and that table's rows after it apply in one batch") {
    import graft.sinks.JdbcSchemaLoader
    import spark.implicits._
    val loader = new JdbcSchemaLoader(freshDerbyUrl("create_then_dml"), applyPartitions = 4)
    // N is not in the catalog before the barrier; its rows all come after it
    val b0 = Seq(
        (0L, 5L, "DDL", 0.0, "CREATE TABLE N (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, VAL DOUBLE)"),
        (1L, 6L, "I", 1.0, null: String), (2L, 7L, "I", 2.0, null: String),
        (1L, 8L, "U", 3.0, null: String))
      .toDF("pk", "commit_ts", "op", "val", "ddl_sql")
    assert(loader.applyBatch(Map("N" -> b0), 0L))
    val state = loader.readTable(spark, "N").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).sorted
    assert(state.toSeq == Seq((1L, 3.0), (2L, 2.0)))
    assert(!loader.applyBatch(Map("N" -> b0), 0L), "a replayed batch id applies nothing")
    // rows of a table no barrier creates still fail the batch
    val orphan = Seq((1L, 9L, "I", 1.0)).toDF("pk", "commit_ts", "op", "val")
    val e = intercept[IllegalArgumentException](loader.applyBatch(Map("M" -> orphan), 1L))
    assert(e.getMessage.contains("table M not found in catalog"))
  }

  test("schema loader: rows ahead of a DROP or RENAME TABLE barrier apply, and the old name is not read after it") {
    import graft.sinks.JdbcSchemaLoader
    import spark.implicits._
    val url = freshDerbyUrl("dml_then_drop")
    val loader = new JdbcSchemaLoader(url, applyPartitions = 4)
    loader.createTable("CREATE TABLE D (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, VAL DOUBLE)")
    loader.createTable("CREATE TABLE R (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, VAL DOUBLE)")
    // D: a row, then DROP; R: a row, then RENAME to R2, then a row under
    // the new name (R2 is not in the catalog before the rename)
    val drop = (0L, 11L, "DDL", 0.0, "DROP TABLE D")
    val rename = (0L, 12L, "DDL", 0.0, "RENAME TABLE R TO R2")
    def frame(rows: (Long, Long, String, Double, String)*) =
      rows.toDF("pk", "commit_ts", "op", "val", "ddl_sql")
    val b0 = Map(
      "D" -> frame((1L, 10L, "I", 1.0, null), drop),
      "R" -> frame((1L, 10L, "I", 1.0, null), (2L, 11L, "I", 2.0, null), rename),
      "R2" -> frame(rename, (2L, 13L, "U", 5.0, null), (3L, 14L, "I", 3.0, null)))
    assert(loader.applyBatch(b0, 0L))
    val c = java.sql.DriverManager.getConnection(url)
    val tables = try {
      val rs = c.getMetaData.getTables(null, null, null, Array("TABLE"))
      val out = scala.collection.mutable.ArrayBuffer[String]()
      while (rs.next()) out += rs.getString("TABLE_NAME")
      out.toSet
    } finally c.close()
    assert(!tables("D") && !tables("R") && tables("R2"), s"tables: $tables")
    val state = loader.readTable(spark, "R2").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).sorted
    assert(state.toSeq == Seq((1L, 1.0), (2L, 5.0), (3L, 3.0)))
    assert(!loader.applyBatch(b0, 0L), "a replayed batch id applies nothing")
  }

  test("JDBC sink streaming (K1): restart from checkpoint applies only new files, exactly once") {
    import graft.sinks.JdbcUpsertSink
    import spark.implicits._
    val in = graft.util.Scratch.dir("graft_jdbc_in")
    val ckpt = graft.util.Scratch.dir("graft_jdbc_ckpt")
    val url = freshDerbyUrl("stream")
    val raw = spark.read.parquet(s"$sf/events.parquet")

    addFile(raw.filter(col("event_id") < 500), in, "a")
    val q1 = CdcStream.applyToJdbc(CdcStream.changeStream(spark, in), url, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    val sink = new JdbcUpsertSink(url)
    val afterFirst = sink.lastCommitted

    addFile(raw.filter(col("event_id") >= 500), in, "b")
    val q2 = CdcStream.applyToJdbc(CdcStream.changeStream(spark, in), url, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(sink.lastCommitted > afterFirst, "restart must apply the new file")

    val streamed = sink.currentState(spark)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val batch = graft.ops.Cdc.compactByPk(graft.ops.Cdc.changes(spark, sf))
      .filter(col("op") =!= "D")
      .select("pk", "value").as[(Long, Double)].collect().toMap
    assert(streamed == batch, "DB state after restart == batch compaction of everything")

    // a third restart with nothing new must be a no-op
    val before = sink.lastCommitted
    val q3 = CdcStream.applyToJdbc(CdcStream.changeStream(spark, in), url, ckpt)
    try q3.processAllAvailable() finally q3.stop()
    assert(sink.lastCommitted == before)
  }

  test("multi-table JDBC streaming: routed slices apply atomically per batch across restarts") {
    import graft.sinks.JdbcSchemaLoader
    import spark.implicits._
    val in = graft.util.Scratch.dir("graft_mtstream_in")
    val ckpt = graft.util.Scratch.dir("graft_mtstream_ckpt")
    val url = freshDerbyUrl("mtstream")
    // two differently-shaped targets: EVEN keeps only the value, ODD also
    // records the op text — per-table catalog column lists drive each bind
    val loader = new JdbcSchemaLoader(url, applyPartitions = 4)
    loader.createTable(
      "CREATE TABLE T_EVEN (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, VALUE DOUBLE)")
    loader.createTable(
      """CREATE TABLE T_ODD (PK BIGINT NOT NULL, COMMIT_TS BIGINT,
        | VALUE DOUBLE, OP VARCHAR(4), CONSTRAINT ODD_UK UNIQUE (PK))""".stripMargin)
    val routes = Map(
      "T_EVEN" -> (col("pk") % 2 === 0),
      "T_ODD"  -> (col("pk") % 2 === 1))
    val raw = spark.read.parquet(s"$sf/events.parquet")

    addFile(raw.filter(col("event_id") < 500), in, "a")
    val q1 = CdcStream.applyToJdbcTables(
      CdcStream.changeStream(spark, in), url, ckpt, routes, applyPartitions = 4)
    try q1.processAllAvailable() finally q1.stop()
    val afterFirst = loader.lastCommitted

    // restart: a new file arrives; the checkpoint replays only it, and the
    // loader's single batch-id row guards BOTH tables at once
    addFile(raw.filter(col("event_id") >= 500), in, "b")
    val q2 = CdcStream.applyToJdbcTables(
      CdcStream.changeStream(spark, in), url, ckpt, routes, applyPartitions = 4)
    try q2.processAllAvailable() finally q2.stop()
    assert(loader.lastCommitted > afterFirst, "restart must apply the new file")

    val expect = graft.ops.Cdc.compactByPk(graft.ops.Cdc.changes(spark, sf))
      .filter(col("op") =!= "D")
      .select("pk", "value").as[(Long, Double)].collect().toMap
    val even = loader.readTable(spark, "T_EVEN", Some("PK")).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val odd = loader.readTable(spark, "T_ODD", Some("PK")).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(even.keySet.forall(_ % 2 == 0) && odd.keySet.forall(_ % 2 == 1))
    assert(even ++ odd == expect,
      "union of routed tables == batch compaction of the whole stream")

    // a third restart with nothing new must be a no-op
    val before = loader.lastCommitted
    val q3 = CdcStream.applyToJdbcTables(
      CdcStream.changeStream(spark, in), url, ckpt, routes, applyPartitions = 4)
    try q3.processAllAvailable() finally q3.stop()
    assert(loader.lastCommitted == before)
  }

  test("streaming sequence apply: UK-swap chain with old images lands exactly across a restart (T8∘P1∘K1)") {
    // ref: pkg/loader/model.go:216-251 — getKeys unions OLD and NEW key
    // images, so a migration chain serializes into one causality group.
    // This routes an update-with-key-change through the STREAMING
    // multi-table path (CdcStream.applyToJdbcTables, merge = false): two
    // tables, a swap chain arriving after a restart, a live UNIQUE index
    // refereeing every intermediate state, and a final no-op restart
    // proving the batch-id guard.
    import graft.sinks.JdbcSchemaLoader
    import spark.implicits._
    val in = graft.util.Scratch.dir("graft_swapstream_in")
    val ckpt = graft.util.Scratch.dir("graft_swapstream_ckpt")
    val url = freshDerbyUrl("swapstream")
    val loader = new JdbcSchemaLoader(url, applyPartitions = 4)
    loader.createTable(
      """CREATE TABLE SW_A (PK BIGINT PRIMARY KEY, UK BIGINT NOT NULL,
        | COMMIT_TS BIGINT, VAL DOUBLE, CONSTRAINT SWA_UK UNIQUE (UK))""".stripMargin)
    loader.createTable(
      "CREATE TABLE SW_B (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, VAL DOUBLE)")
    val routes = Map(
      "SW_A" -> (col("tbl") === "A"),
      "SW_B" -> (col("tbl") === "B"))
    def frame(rows: Seq[(String, Long, Long, Long, String, Double,
        Option[Long], Option[Long])]) =
      rows.toDF("tbl", "pk", "uk", "commit_ts", "op", "val", "old_pk", "old_uk")
    def stream = spark.readStream
      .schema(frame(Seq(("A", 0L, 0L, 0L, "I", 0.0, None, None))).schema)
      .parquet(in)
    def run() = CdcStream.applyToJdbcTables(stream, url, ckpt, routes,
      applyPartitions = 4, merge = false, safeMode = true)

    addFile(frame(Seq(
      ("A", 1L, 10L, 1L, "I", 1.0, None, None),
      ("A", 2L, 20L, 2L, "I", 2.0, None, None),
      ("B", 7L, 0L, 3L, "I", 7.0, None, None))), in, "a")
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    val afterFirst = loader.lastCommitted

    // "crash", then the swap chain arrives: pk1 and pk2 exchange uks
    // through a temp slot — only legal replayed in order with old images
    addFile(frame(Seq(
      ("A", 1L, 99L, 10L, "U", 1.1, Some(1L), Some(10L)), // 10 → 99
      ("A", 2L, 10L, 11L, "U", 2.1, Some(2L), Some(20L)), // 20 → 10
      ("A", 1L, 20L, 12L, "U", 1.2, Some(1L), Some(99L)), // 99 → 20
      ("B", 8L, 0L, 13L, "I", 8.0, None, None))), in, "b")
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    assert(loader.lastCommitted > afterFirst, "restart must apply the new file")

    val a = loader.readTable(spark, "SW_A", Some("PK"))
      .select("PK", "UK", "VAL").as[(Long, Long, Double)].collect()
      .map { case (pk, uk, v) => pk -> ((uk, v)) }.toMap
    assert(a == Map(1L -> ((20L, 1.2)), 2L -> ((10L, 2.1))),
      "swapped end state must be exact under the live unique index")
    val b = loader.readTable(spark, "SW_B", Some("PK"))
      .select("PK", "VAL").as[(Long, Double)].collect().toMap
    assert(b == Map(7L -> 7.0, 8L -> 8.0))

    // a third restart with nothing new must change nothing
    val before = loader.lastCommitted
    val q3 = run()
    try q3.processAllAvailable() finally q3.stop()
    assert(loader.lastCommitted == before)
  }

  test("arbiter restart (K1/S7): re-delivered frames at or below checkpoint commitTs are dropped") {
    import graft.pipeline.Arbiter
    import graft.sinks.JdbcUpsertSink
    val in = graft.util.Scratch.dir("graft_arbiter_in")
    val ckpt = graft.util.Scratch.dir("graft_arbiter_ckpt")
    val url = freshDerbyUrl("arbiter")
    def frameStream = spark.readStream.schema(CdcStream.kafkaFrameSchema).parquet(in)
    val changes = graft.ops.Cdc.changes(spark, sf)
    val mid = changes.agg(expr("max(commit_ts) div 2")).head.getLong(0)
    // sentinel key outside the data: applied once pre-crash with value 1.0
    val sentinel = Seq((1L, 424242L, "I", 1.0))
      .toDF("commit_ts", "pk", "op", "value")

    // phase 1: first half + sentinel arrive; arbiter applies, then "crashes"
    addFile(CdcStream.toKafkaFrame(
      changes.filter(col("commit_ts") <= mid).select("commit_ts", "pk", "op", "value")
        .unionByName(sentinel), "cdc"), in, "a")
    val q1 = Arbiter.run(frameStream, url, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    val sink = new JdbcUpsertSink(url)
    val ts0 = sink.lastCommitTs
    assert(ts0 >= mid)

    // phase 2: the at-least-once transport re-delivers EVERYTHING in a new
    // file the streaming checkpoint has never seen — including a POISONED
    // duplicate of the sentinel (same old commitTs, different value). Only
    // the commit-ts restart filter (ref: arbiter/server.go:293-298) can
    // drop these; the batch-id skip sees a brand-new batch.
    val poisoned = Seq((1L, 424242L, "I", -999.0))
      .toDF("commit_ts", "pk", "op", "value")
    addFile(CdcStream.toKafkaFrame(
      changes.select("commit_ts", "pk", "op", "value").unionByName(poisoned), "cdc"),
      in, "b")
    val q2 = Arbiter.run(frameStream, url, ckpt)
    try q2.processAllAvailable() finally q2.stop()

    val state = sink.currentState(spark)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(state(424242L) == 1.0,
      "poisoned re-delivery below checkpoint commitTs must be dropped")
    val batch = graft.ops.Cdc.compactByPk(changes)
      .filter(col("op") =!= "D")
      .select("pk", "value").as[(Long, Double)].collect().toMap
    assert(state - 424242L == batch, "restart state == exactly-once end state")
  }

  test("relay stream over the real wire format (S5): binlog files stream, restart resumes") {
    import graft.sources.PbBinlogFile
    import spark.implicits._
    val dir = graft.util.Scratch.dir("graft_relay_pb")
    val ckpt = graft.util.Scratch.dir("graft_relay_pb_ckpt")
    val stateRoot = graft.util.Scratch.dir("graft_relay_pb_state")
    val changes = graft.ops.Cdc.changes(spark, sf)
    val mid = changes.agg(expr("max(commit_ts) div 2")).head.getLong(0)

    // relay file 1 appears; the stream consumes and applies it
    PbBinlogFile.write(changes.filter(col("commit_ts") <= mid), dir, nFiles = 1)
    val q1 = CdcStream.applyToState(PbBinlogFile.readStream(spark, dir), stateRoot, ckpt)
    try {
      q1.processAllAvailable()
      // the relay stream rides the DSv2 pbbinlog table (MICRO_BATCH_READ),
      // not a schema-duplicating binaryFile stream
      assert(q1.lastProgress.sources.head.description.contains("PbBinlog"),
        s"relay stream must ride the v2 source, got ${q1.lastProgress.sources.head.description}")
    } finally q1.stop()
    val sink = new UpsertSink(stateRoot)
    val afterFirst = sink.lastCommitted

    // "crash"; a second relay file lands (promoted under its own
    // interval-carrying name); restart from the same checkpoint must
    // decode only the new file, exactly once
    val staging = graft.util.Scratch.dir("graft_relay_pb_stage")
    PbBinlogFile.write(changes.filter(col("commit_ts") > mid), staging, nFiles = 1)
    val late = new java.io.File(staging).listFiles().head
    Files.move(late.toPath, java.nio.file.Paths.get(dir, late.getName))
    val q2 = CdcStream.applyToState(PbBinlogFile.readStream(spark, dir), stateRoot, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    assert(sink.lastCommitted > afterFirst)

    val streamed = sink.currentState(spark)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val batch = graft.ops.Cdc.compactByPk(changes)
      .filter(col("op") =!= "D")
      .select("pk", "value").as[(Long, Double)].collect().toMap
    assert(streamed == batch, "wire-format relay replay == batch compaction")
  }

  test("streaming loopback (F4): injected marks break the replication cycle on re-ingest") {
    import graft.pipeline.{DrainerConfig, DrainerPipeline}
    val in = graft.util.Scratch.dir("graft_loop_in")
    val stateRoot = graft.util.Scratch.dir("graft_loop_state")
    val ckpt = graft.util.Scratch.dir("graft_loop_ckpt")
    val raw = spark.read.parquet(s"$sf/events.parquet").filter(col("event_id") < 300)
    addFile(raw, in, "a")
    val q = DrainerPipeline.streaming(spark, in, stateRoot, ckpt,
      DrainerConfig(loopbackChannel = Some(42L)))
    try q.processAllAvailable() finally q.stop()

    // outbinlog is the downstream binlog a counterpart drainer re-ingests
    val back = spark.read.parquet(s"$stateRoot/outbinlog")
    val markRows = back.filter(col("pk") < 0 && col("value") === 42.0)
    assert(markRows.count() == back.select("commit_ts").distinct().count(),
      "every applied txn carries exactly one of our marks")
    // our own channel drops every round-tripped txn — the cycle break
    assert(Filters.dropMarkedTxns(back, 42L).count() == 0)
    // a foreign channel's drainer passes all of it through untouched
    assert(Filters.dropMarkedTxns(back, 7L).count() == back.count())
  }

  test("streaming loopback break survives config filters (F4∘F1 ordering)") {
    // regression: the streaming drainer used to apply minValue UPSTREAM of
    // the per-batch mark scan — mark rows carry value = channelId, so a
    // threshold above the channel id stripped the marks, the cycle break
    // found nothing, and every looped-back transaction re-applied. The
    // fixed order (drop marked txns → config filters → inject) matches
    // batch(); this feeds the drainer a stream where EVERY txn carries our
    // channel's mark and asserts nothing at all survives.
    import graft.pipeline.{DrainerConfig, DrainerPipeline}
    val in = graft.util.Scratch.dir("graft_loopf1_in")
    val stateRoot = graft.util.Scratch.dir("graft_loopf1_state")
    val ckpt = graft.util.Scratch.dir("graft_loopf1_ckpt")
    val raw = spark.read.parquet(s"$sf/events.parquet").filter(col("event_id") < 200)
    // the envelope image of a channel-42 mark row, in RAW event space:
    // user_id lands in the reserved negative pk keyspace, value = channel.
    // ts shifted +1ms so the F10 (commit_ts, ts) dedup keeps mark AND row.
    val markRaw = raw.select(col("event_id"),
      (col("ts") + expr("INTERVAL 1 MILLISECOND")).as("ts"),
      (-(col("event_id") % lit(graft.ops.Filters.LoopbackWorkers)) - 1).as("user_id"),
      lit("mark").as("event_type"), lit(42.0).as("value"),
      lit(null).cast("string").as("props"))
    addFile(raw.unionByName(markRaw)
      .select("event_id", "ts", "user_id", "event_type", "value", "props"),
      in, "looped")
    val q = DrainerPipeline.streaming(spark, in, stateRoot, ckpt,
      DrainerConfig(minValue = Some(50.0), loopbackChannel = Some(42L)))
    try q.processAllAvailable() finally q.stop()
    val state = new UpsertSink(stateRoot).currentState(spark)
    assert(state.count() == 0,
      "every txn carried our mark: the cycle break must drop them ALL, " +
        "even with a minValue filter above the channel id")
  }

  test("streaming session windows match batch sessionization totals") {
    val changes = CdcStream.changeStream(spark, stageEventsDir())
    val q = CdcStream.sessionCounts(changes)
      .writeStream.format("memory").queryName("sess_out").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sess_out")
    // same number of events overall, and same number of sessions per the
    // 30-minute-gap definition (session_window merges exactly at gap<=30m,
    // batch sessionize splits at gap>30m — identical partitions)
    val batchSessions = graft.ops.Transforms.sessionize(spark, sf)
    assert(streamed.agg(sum("n_events")).head.getLong(0) ==
      graft.model.Tables.events(spark, sf).count())
    assert(streamed.count() == batchSessions.count())
  }

  test("flow control (P4): maxFilesPerTrigger drains a backlog in bounded batches") {
    // ref: pkg/loader/load.go:880-963 bounds the in-flight DML buffer —
    // the Spark analog is source-side trigger caps. Three backlogged files
    // with a cap of 1 must produce three micro-batches (bounded catch-up),
    // and the result must equal the uncapped drain exactly.
    val in = graft.util.Scratch.dir("graft_p4_in")
    val raw = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_id") < 300)
    addFile(raw.filter(col("event_id") < 100), in, "backlog1")
    addFile(raw.filter(col("event_id") >= 100 && col("event_id") < 200), in, "backlog2")
    addFile(raw.filter(col("event_id") >= 200), in, "backlog3")
    val q = CdcStream.changeStream(spark, in, maxFilesPerTrigger = 1)
      .writeStream.format("memory").queryName("p4_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 3,
        s"cap=1 over 3 files must take 3 batches, took ${batches.length}")
      assert(batches.forall(_.numInputRows < raw.count()),
        "no batch may swallow the whole backlog")
    } finally q.stop()
    assert(spark.table("p4_out").count() == raw.count(),
      "bounded drain must deliver exactly the uncapped content")
  }

  test("flow control on the wire source (P4∘S5): maxFilesPerTrigger caps segment admission") {
    // the same bounded-catch-up contract as the parquet case above, but on
    // the v2 pbbinlog source's admission control: a backlogged relay
    // directory of 3 segments with a cap of 1 must drain in 3 micro-batches
    // of one segment each, in commit-ts order, equal to the uncapped drain
    import graft.sources.PbBinlogFile
    val dir = graft.util.Scratch.dir("graft_p4_wire")
    val ckpt = graft.util.Scratch.dir("graft_p4_wire_ckpt")
    val changes = graft.ops.Cdc.changes(spark, sf).filter(col("commit_ts") < 900)
    // three write invocations → three independently named segments
    Seq((0L, 300L), (300L, 600L), (600L, 900L)).foreach { case (lo, hi) =>
      PbBinlogFile.write(
        changes.filter(col("commit_ts") >= lo && col("commit_ts") < hi),
        dir, nFiles = 1)
    }
    val q = PbBinlogFile.readStream(spark, dir, maxFilesPerTrigger = 1)
      .writeStream.format("memory").queryName("p4_wire_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 3,
        s"cap=1 over 3 segments must take 3 batches, took ${batches.length}")
    } finally q.stop()
    val got = spark.table("p4_wire_out")
    assert(got.count() == changes.count(),
      "bounded drain must deliver exactly the uncapped content")
    // ts-ordered admission: batch boundaries follow segment intervals
    assert(got.select(max("commit_ts")).head.getLong(0) ==
      changes.agg(max("commit_ts")).head.getLong(0))
  }

  test("wire stream offset compacts after retention gc (S5∘P7)") {
    // the offset is a retention-bounded set, not unbounded consumption
    // history: once gc reclaims a consumed segment its name leaves the
    // checkpointed offset, and new segments still deliver exactly once
    import graft.sources.PbBinlogFile
    val dir = graft.util.Scratch.dir("graft_s5_compact")
    val ckpt = graft.util.Scratch.dir("graft_s5_compact_ckpt")
    val changes = graft.ops.Cdc.changes(spark, sf).filter(col("commit_ts") < 900)
    PbBinlogFile.write(changes.filter(col("commit_ts") < 300), dir, nFiles = 1)
    PbBinlogFile.write(
      changes.filter(col("commit_ts") >= 300 && col("commit_ts") < 600), dir, nFiles = 1)
    val batchCounts = scala.collection.mutable.ArrayBuffer[Long]()
    def drain(): Unit = {
      val q = PbBinlogFile.readStream(spark, dir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          batchCounts += b.count(); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    drain()
    val afterFirst = batchCounts.sum
    assert(afterFirst == changes.filter(col("commit_ts") < 600).count())
    // reclaim the wholly-consumed first segment (the newest is always kept)
    val victims = PbBinlogFile.gc(spark, dir, safeTs = 599L)
    assert(victims.nonEmpty)
    PbBinlogFile.write(changes.filter(col("commit_ts") >= 600), dir, nFiles = 1)
    drain()
    // the restart neither re-reads live segments nor loses the new one
    assert(batchCounts.sum - afterFirst ==
      changes.filter(col("commit_ts") >= 600).count())
    // and the newest checkpointed offset no longer carries the reclaimed name
    val offFiles = new java.io.File(s"$ckpt/offsets").listFiles()
      .filter(_.getName.forall(_.isDigit))
    val latest = offFiles.maxBy(_.getName.toLong)
    val text = new String(java.nio.file.Files.readAllBytes(latest.toPath))
    victims.foreach(v =>
      assert(!text.contains(v), s"reclaimed $v must leave the offset"))
  }

  test("streaming k-way merge (T2): a stalled pump holds the min-watermark frontier until it resumes") {
    // ref: drainer/merge.go:236-335 — the merger emits only when EVERY live
    // source has contributed past the frontier; a lagging pump pauses the
    // merge. Spark twin: per-source watermarks + union, query watermark =
    // min across sources (multipleWatermarkPolicy=min, the default).
    val root = graft.util.Scratch.dir("graft_kway_stall")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val pumps = (0 until 4).map { i =>
      val d = s"$root/pump$i"
      Files.createDirectories(java.nio.file.Paths.get(d)); d
    }
    def slice(i: Int) = raw.filter(pmod(col("user_id"), lit(4)) === i)
    val stallTs = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    // phase 1: pumps 0-2 deliver fully; pump 3 stalls at Jan 15
    (0 until 3).foreach(i => addFile(slice(i), pumps(i), "full"))
    addFile(slice(3).filter(col("ts") < lit(stallTs)), pumps(3), "head")
    // the scenario only tests anything if the healthy pumps carry data past
    // the stall point and the stalled pump has data on both sides of it
    assert((0 until 3).forall(i =>
      slice(i).filter(col("ts") >= lit(stallTs)).count() > 0))
    assert(slice(3).filter(col("ts") < lit(stallTs)).count() > 0 &&
      slice(3).filter(col("ts") >= lit(stallTs)).count() > 0)

    val ckpt = graft.util.Scratch.dir("graft_kway_stall_ckpt")
    val sinkDir = graft.util.Scratch.dir("graft_kway_stall_sink")
    // append-mode aggregate through foreachBatch (the memory sink cannot
    // recover from a checkpoint): each batch carries only newly-FINALIZED
    // windows; overwrite per batch id keeps a replayed batch idempotent
    def run(): Unit = {
      val agg = CdcStream.mergedPumpStream(spark, pumps)
        .groupBy(window(col("ts"), "1 day")).agg(count(lit(1)).as("n"))
      val q = agg.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          val flat = b.select(col("window.start").as("ws"),
            col("window.end").as("we"), col("n"))
          if (!flat.isEmpty) flat.write.mode("overwrite").parquet(s"$sinkDir/batch=$id")
          ()
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    def emitted(): Set[(java.sql.Timestamp, java.sql.Timestamp, Long)] = {
      val dirs = new java.io.File(sinkDir).listFiles()
      if (dirs == null || dirs.isEmpty) Set.empty
      else spark.read.parquet(sinkDir).select("ws", "we", "n").collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2))).toSet
    }
    run()
    val phase1 = emitted()
    assert(phase1.nonEmpty, "windows below the stalled pump's frontier must emit")
    // pumps 0-2 are done through Jan 30, yet NO window past pump 3's last
    // delivery may emit: the min across sources holds the merge
    val maxEmittedEnd = phase1.map(_._2.getTime).max
    assert(maxEmittedEnd <= stallTs.getTime,
      s"stalled pump must hold the frontier, emitted through ${new java.sql.Timestamp(maxEmittedEnd)}")

    // phase 2: pump 3 resumes; every pump then ships a far-future flush row
    // (the pump fake-binlog, ref: pump/server.go:467-527 — traffic-free
    // pumps still advance the downstream frontier) so every real window
    // finalizes
    addFile(slice(3).filter(col("ts") >= lit(stallTs)), pumps(3), "tail")
    val flushTs = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    pumps.foreach(d => addFile(raw.limit(1).withColumn("ts", lit(flushTs)), d, "flush"))
    run() // same checkpoint: the restart resumes, already-emitted windows stay emitted
    val all = emitted()
    // the union across phases equals the BATCH merge of the union of all
    // four pumps (the flush rows' own window stays open), every window once
    val expected = raw.groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("window.end").as("we"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(phase1.subsetOf(all))
    assert(all.groupBy(_._1).forall(_._2.size == 1), "no window may emit twice")
    assert(all == expected,
      "streaming merge must equal the batch merge of the union")
  }

  test("streaming k-way merge (T2): a pump joins mid-stream via a new directory") {
    // ref: drainer/merge.go:153-170 AddSource — membership changes at
    // runtime. Spark twin: a glob source is the membership slot; a pump
    // joining is a new directory matching the glob. A REGISTERED but
    // silent source holds the frontier at epoch (the reference blocks
    // until every live source has an item), so phase 1 emits NOTHING even
    // though the fixed pumps are done. The joining pump delivers at/above
    // the glob slot's current frontier (epoch here — the slot was silent),
    // per mergedPumpStream's membership contract: a joiner streams from
    // the frontier forward, like a newly registered pump in the reference.
    val root = graft.util.Scratch.dir("graft_kway_join")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    def slice(i: Int) = raw.filter(pmod(col("user_id"), lit(4)) === i)
    val fixed = (0 until 3).map { i =>
      val d = s"$root/pump$i"
      Files.createDirectories(java.nio.file.Paths.get(d)); d
    }
    Files.createDirectories(java.nio.file.Paths.get(s"$root/dyn/seed"))
    val dirs = fixed :+ s"$root/dyn/*"
    (0 until 3).foreach(i => addFile(slice(i), fixed(i), "full"))

    val ckpt = graft.util.Scratch.dir("graft_kway_join_ckpt")
    val sinkDir = graft.util.Scratch.dir("graft_kway_join_sink")
    def run(): Unit = {
      val agg = CdcStream.mergedPumpStream(spark, dirs)
        .groupBy(window(col("ts"), "1 day")).agg(count(lit(1)).as("n"))
      val q = agg.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          val flat = b.select(col("window.start").as("ws"), col("n"))
          if (!flat.isEmpty) flat.write.mode("overwrite").parquet(s"$sinkDir/batch=$id")
          ()
        }.start()
      try { q.processAllAvailable(); Thread.sleep(500); q.processAllAvailable() }
      finally q.stop()
    }
    def emitted(): Set[(java.sql.Timestamp, Long)] = {
      val dirs0 = new java.io.File(sinkDir).listFiles()
      if (dirs0 == null || dirs0.isEmpty) Set.empty
      else spark.read.parquet(sinkDir).select("ws", "n").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    }
    run()
    assert(emitted().isEmpty,
      "a registered-but-silent source must hold the merge at epoch")

    // the 4th pump joins: a NEW directory under the glob, no restart of
    // anything but the harness's stop/start around the same checkpoint
    val joined = s"$root/dyn/pump3"
    Files.createDirectories(java.nio.file.Paths.get(joined))
    addFile(slice(3), joined, "full")
    val flushTs = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    (fixed :+ joined).foreach(d =>
      addFile(raw.limit(1).withColumn("ts", lit(flushTs)), d, "flush"))
    run()
    val expected = raw.groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    assert(emitted() == expected,
      "after the join, output must equal the batch merge of the union")
  }

  test("drainer streaming over multiple pumps: merged apply equals batch compaction") {
    // the reference drainer's full topology in one composition: pumps →
    // T2 streaming merge → dedup → apply (drainer/merge.go feeding
    // drainer/syncer.go); the final materialized state must equal the
    // batch compaction of the union of the pump slices
    val root = graft.util.Scratch.dir("graft_drain_merge")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val pumps = (0 until 2).map { i =>
      val d = s"$root/pump$i"
      Files.createDirectories(java.nio.file.Paths.get(d))
      addFile(raw.filter(pmod(col("user_id"), lit(2)) === i), d, "full")
      d
    }
    val stateRoot = graft.util.Scratch.dir("graft_drain_merge_state")
    val ckpt = graft.util.Scratch.dir("graft_drain_merge_ckpt")
    val q = graft.pipeline.DrainerPipeline.streamingMerged(
      spark, pumps, stateRoot, ckpt)
    try q.processAllAvailable() finally q.stop()
    val streamed = new UpsertSink(stateRoot).currentState(spark)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val batch = graft.ops.Cdc.compactByPk(graft.ops.Cdc.changes(spark, sf))
      .filter(col("op") =!= "D")
      .select("pk", "value").as[(Long, Double)].collect().toMap
    assert(streamed == batch)
  }

  test("streaming T5∘T6: a wire DDL re-types the decode of later frames, mid-batch and cross-batch") {
    // ref: drainer/syncer.go:393-397 (each DML decodes at the schema in
    // force at its commit ts), drainer/schema.go:293-331 (DDL replay up to
    // that version). The SAME wire bytes must decode differently based
    // purely on the DDL's position in the stream.
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_t5t6_wire")
    val outDir = graft.util.Scratch.dir("graft_t5t6_out")
    val ckpt = graft.util.Scratch.dir("graft_t5t6_ckpt")

    def dml(ids: Seq[Long]) = wireDml("row", ids, concat(lit("{\"k\": "),
      (col("commit_ts").cast("double") + 0.25).cast("string"), lit("}")))
    def ddl(ts: Long, sql: String) = wireDdl(ts, sql)
    val ddlAt50 = ddl(50L, "ALTER TABLE app.events MODIFY COLUMN k DECIMAL(10,1)")
    // a FOREIGN table's DDL on the shared wire — same column name, different
    // table: it must neither crash the decode nor re-type app.events' view
    val foreignAt60 = ddl(60L, "ALTER TABLE app.users MODIFY COLUMN k VARCHAR(10)")

    // phase 1 on the wire: frames 1..70 with the DDL at 50 — rows 51..70
    // land in the SAME micro-batch as the DDL and must already decode v2
    PbBinlogFile.write(dml(1L to 70L).unionByName(ddlAt50).unionByName(foreignAt60),
      wireDir, nFiles = 1)
    val tracker = new SchemaTracker()
    tracker.createTable("app", "events", Seq("k DOUBLE"), version = 0)
    val q1 = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireDir), tracker, outDir, ckpt,
      "app", lit("events"), writeDecoded(outDir))
    try q1.processAllAvailable() finally q1.stop()

    // phase 2 is a REAL restart: a fresh process loses the driver-memory
    // tracker, so a FRESH tracker is rebuilt from the durable DDL log
    // (recoverDecodeTracker) before the query resumes from the same
    // checkpoint — the DDL's effect must survive into the later batch
    val tracker2 = new SchemaTracker()
    tracker2.createTable("app", "events", Seq("k DOUBLE"), version = 0)
    CdcStream.recoverDecodeTracker(spark, outDir, ckpt, tracker2)
    assert(tracker2.version == 50L, "the logged DDL must replay into the fresh tracker")
    PbBinlogFile.write(dml(71L to 100L), wireDir, nFiles = 1)
    val q2 = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireDir), tracker2, outDir, ckpt,
      "app", lit("events"), writeDecoded(outDir))
    try q2.processAllAvailable() finally q2.stop()

    val out = spark.read.parquet(s"$outDir/data")
      .select(col("commit_ts"), col("k_str"), col("schema_version"), col("batch"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getInt(3)))).toMap
    assert(out.size == 100)
    (1L to 100L).foreach { n =>
      val (kStr, version, batch) = out(n)
      if (n <= 50L) {
        // v1 DOUBLE decode; the frame AT the DDL's commit ts still decodes
        // old-schema (the DDL takes effect after its own commit)
        assert(version == 0L && kStr == s"$n.25", s"row $n: ($kStr, v$version)")
      } else {
        // v2 DECIMAL(10,1): the same 0.25 payload now rounds to one place
        assert(version == 50L && kStr == s"$n.3", s"row $n: ($kStr, v$version)")
      }
      assert(if (n <= 70L) batch == 0 else batch == 1,
        s"row $n landed in batch $batch")
    }
  }

  test("streaming T5∘T6 shape DDL: ADD/DROP/RENAME COLUMN re-shape the decode, restart-safe") {
    // the harder half of the wire-DDL grammar: MODIFY re-types values, but
    // ADD/DROP/RENAME change the decode SHAPE — later frames carry
    // more/fewer/renamed columns, earlier frames must show NULL where a
    // column did not exist yet, later frames NULL where it was dropped
    // (ref: drainer/schema.go:360-561 handles exactly these job types;
    // tests/dailytest/case.go:386-485 runs DML concurrently with
    // add/drop-column)
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_shape_wire")
    val outDir = graft.util.Scratch.dir("graft_shape_out")
    val ckpt = graft.util.Scratch.dir("graft_shape_ckpt")

    def dml(ids: Seq[Long], props: Long => String) = wireDml("row", ids, props)
    def ddl(ts: Long, sql: String) = wireDdl(ts, sql)

    // batch 0: frames 1..40, ADD COLUMN at 20 — frames 21..40 carry `extra`
    PbBinlogFile.write(
      dml(1L to 20L, n => s"""{"k": ${n}.25}""")
        .unionByName(dml(21L to 40L, n => s"""{"k": ${n}.25, "extra": ${n * 10}}"""))
        .unionByName(ddl(20L, "ALTER TABLE app.events ADD COLUMN extra BIGINT")),
      wireDir, nFiles = 1)
    val tracker = new SchemaTracker()
    tracker.createTable("app", "events", Seq("k DOUBLE"), version = 0)
    val q1 = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireDir), tracker, outDir, ckpt,
      "app", lit("events"), writeDecoded(outDir))
    try q1.processAllAvailable() finally q1.stop()
    assert(tracker.current("app", "events").get.columns ==
      Vector("k DOUBLE", "extra BIGINT"))

    // restart: a fresh tracker replays the action-tagged DDL log, then
    // batch 1 DROPs k at 60 and RENAMEs extra→extra2 at 70
    val tracker2 = new SchemaTracker()
    tracker2.createTable("app", "events", Seq("k DOUBLE"), version = 0)
    CdcStream.recoverDecodeTracker(spark, outDir, ckpt, tracker2)
    assert(tracker2.version == 20L &&
      tracker2.current("app", "events").get.columns ==
        Vector("k DOUBLE", "extra BIGINT"),
      "the logged ADD must replay into the fresh tracker")
    PbBinlogFile.write(
      dml(41L to 60L, n => s"""{"k": ${n}.25, "extra": ${n * 10}}""")
        .unionByName(dml(61L to 70L, n => s"""{"extra": ${n * 10}}"""))
        .unionByName(dml(71L to 80L, n => s"""{"extra2": ${n * 10}}"""))
        .unionByName(ddl(60L, "ALTER TABLE app.events DROP COLUMN k"))
        .unionByName(ddl(70L, "ALTER TABLE app.events RENAME COLUMN extra TO extra2")),
      wireDir, nFiles = 1)
    val q2 = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireDir), tracker2, outDir, ckpt,
      "app", lit("events"), writeDecoded(outDir))
    try q2.processAllAvailable() finally q2.stop()
    assert(tracker2.current("app", "events").get.columns == Vector("extra2 BIGINT"))

    val out = spark.read.option("mergeSchema", "true").parquet(s"$outDir/data")
    val byTs = out.collect().map(r => r.getAs[Long]("commit_ts") -> r).toMap
    assert(byTs.size == 80)
    def s(r: org.apache.spark.sql.Row, c: String): Option[String] =
      Option(r.getAs[String](c))
    (1L to 80L).foreach { n =>
      val r = byTs(n)
      // k: present until the DROP at 60 (the frame AT the barrier ts still
      // decodes with the old shape), NULL after
      assert(s(r, "k_str") == (if (n <= 60L) Some(s"$n.25") else None),
        s"row $n k_str=${s(r, "k_str")}")
      // extra: NULL before the ADD at 20, value until the RENAME at 70
      assert(s(r, "extra_str") ==
        (if (n > 20L && n <= 70L) Some((n * 10).toString) else None),
        s"row $n extra_str=${s(r, "extra_str")}")
      // extra2: value only after the RENAME
      assert(s(r, "extra2_str") ==
        (if (n > 70L) Some((n * 10).toString) else None),
        s"row $n extra2_str=${s(r, "extra2_str")}")
      val v = r.getAs[Long]("schema_version")
      assert(v == (if (n <= 20L) 0L else if (n <= 60L) 20L
        else if (n <= 70L) 60L else 70L), s"row $n version=$v")
    }

    // forward-only contract: a frame redelivered BELOW the applied DDL
    // frontier (commit_ts 55 < version 70) must be counted as a violation,
    // not silently decoded with the new schema and trusted
    PbBinlogFile.write(dml(Seq(55L), n => s"""{"extra2": 1}"""), wireDir, nFiles = 1)
    val q3 = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireDir), tracker2, outDir, ckpt,
      "app", lit("events"), writeDecoded(outDir))
    try q3.processAllAvailable() finally q3.stop()
    // q1..q3 share one checkpoint, hence one query id and one running
    // total: only q3's redelivered frame sits below a frontier
    val below = CdcStream.decodeCounts(q3.id)("below_frontier_frames_total")
    assert(below == 1L, s"below-frontier frame must be counted, got $below")
  }

  test("streaming multi-table T5∘T6: independent histories per table; TRUNCATE/CREATE/DROP TABLE") {
    // the drainer's real shape (ref: drainer/syncer.go:374-397,
    // drainer/schema.go:293-331): N tables' frames on ONE shared wire,
    // each decoding against its own schema history — a DDL cuts and
    // reshapes only ITS table's decode — plus the table-level grammar:
    // TRUNCATE drops in-flight frames of the old incarnation (streamed F6,
    // ref: drainer/syncer.go:744-762), CREATE registers a new table
    // mid-stream, DROP ends a table's decode. All restart-safe through the
    // one shared action-tagged DDL log.
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_multi_wire")
    val outDir = graft.util.Scratch.dir("graft_multi_out")
    val ckpt = graft.util.Scratch.dir("graft_multi_ckpt")

    def dml(tbl: String, ids: Seq[Long], props: Long => String) =
      wireDml(tbl, ids, props)
    def ddl(ts: Long, sql: String) = wireDdl(ts, sql)

    // batch 0: ta on odd ts, tb on even ts, interleaved with ta's ADD at
    // 40 and tb's MODIFY at 50 — each must reshape only its own decode
    PbBinlogFile.write(
      dml("ta", (1L to 39L by 2), n => s"""{"k": ${n}.25}""")
        .unionByName(dml("ta", (41L to 79L by 2),
          n => s"""{"k": ${n}.25, "extra": ${n * 10}}"""))
        .unionByName(dml("tb", (2L to 80L by 2), n => s"""{"k": ${n}.25}"""))
        .unionByName(ddl(40L, "ALTER TABLE app.ta ADD COLUMN extra BIGINT"))
        .unionByName(ddl(50L, "ALTER TABLE app.tb MODIFY COLUMN k DECIMAL(10,1)")),
      wireDir, nFiles = 1)
    val tracker = new SchemaTracker()
    tracker.createTable("app", "ta", Seq("k DOUBLE"), version = 0)
    tracker.createTable("app", "tb", Seq("k DOUBLE"), version = 0)
    val q1 = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireDir), tracker, outDir, ckpt,
      "app", col("event_type"), writeDecoded(outDir))
    try q1.processAllAvailable() finally q1.stop()
    assert(tracker.current("app", "ta").get.columns ==
      Vector("k DOUBLE", "extra BIGINT"))
    assert(tracker.current("app", "tb").get.columns == Vector("k DECIMAL(10,1)"))

    // per-table output purity: tb's file carries NO trace of ta's ADD
    val tb0 = spark.read.parquet(s"$outDir/data/batch=0/schema=app/table=tb")
    assert(tb0.columns.toSeq.sorted == Seq("commit_ts", "k_str", "op", "pk", "schema_version"),
      s"ta's DDL leaked into tb's decode: ${tb0.columns.toSeq}")
    val tbRows = tb0.collect()
      .map(r => r.getAs[Long]("commit_ts") ->
        ((r.getAs[String]("k_str"), r.getAs[Long]("schema_version")))).toMap
    assert(tbRows.size == 40)
    (2L to 80L by 2).foreach { n =>
      val expect = if (n <= 50L) (s"$n.25", 0L) else (s"$n.3", 50L)
      assert(tbRows(n) == expect, s"tb row $n: ${tbRows(n)}")
    }
    val taRows = spark.read.parquet(s"$outDir/data/batch=0/schema=app/table=ta").collect()
      .map(r => r.getAs[Long]("commit_ts") ->
        ((Option(r.getAs[String]("extra_str")), r.getAs[Long]("schema_version")))).toMap
    assert(taRows.size == 40)
    (1L to 79L by 2).foreach { n =>
      val expect = if (n <= 40L) (None, 0L) else (Some((n * 10).toString), 40L)
      assert(taRows(n) == expect, s"ta row $n: ${taRows(n)}")
    }
    // ta decodes in two legs (before and after its barrier) over a
    // one-partition batch: the writer sink writes it as one file, not one
    // per leg
    val taFiles = new java.io.File(s"$outDir/data/batch=0/schema=app/table=ta").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(taFiles == 1, s"ta wrote $taFiles files")

    // restart: both tables' histories replay from the ONE shared DDL log
    val tracker2 = new SchemaTracker()
    tracker2.createTable("app", "ta", Seq("k DOUBLE"), version = 0)
    tracker2.createTable("app", "tb", Seq("k DOUBLE"), version = 0)
    CdcStream.recoverDecodeTracker(spark, outDir, ckpt, tracker2)
    assert(tracker2.current("app", "ta").get.columns ==
      Vector("k DOUBLE", "extra BIGINT") &&
      tracker2.current("app", "tb").get.columns == Vector("k DECIMAL(10,1)"))

    // batch 1: the table-level grammar — TRUNCATE tb at 100 (in-flight
    // frames <= 100 drop, later ones decode at the new version), CREATE tc
    // at 104 (decodes from its create forward), DROP ta at 108 (in-flight
    // frames decode, later ones drop)
    PbBinlogFile.write(
      dml("tb", Seq(82L, 96L, 100L, 112L, 120L), n => s"""{"k": ${n}.25}""")
        .unionByName(dml("tc", Seq(102L, 106L, 114L), n => s"""{"v": ${n}}"""))
        .unionByName(dml("ta", Seq(101L, 107L, 115L),
          n => s"""{"k": ${n}.25, "extra": ${n * 10}}"""))
        .unionByName(ddl(100L, "TRUNCATE TABLE app.tb"))
        .unionByName(ddl(104L, "CREATE TABLE app.tc (v BIGINT)"))
        .unionByName(ddl(108L, "DROP TABLE app.ta")),
      wireDir, nFiles = 1)
    val q2 = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireDir), tracker2, outDir, ckpt,
      "app", col("event_type"), writeDecoded(outDir))
    try q2.processAllAvailable() finally q2.stop()

    assert(tracker2.tablesOf("app") == Seq("tb", "tc"))
    assert(tracker2.current("app", "tb").get.version == 100L)
    assert(tracker2.current("app", "tc").get.columns == Vector("v BIGINT"))
    val tb1 = spark.read.parquet(s"$outDir/data/batch=1/schema=app/table=tb").collect()
      .map(r => r.getAs[Long]("commit_ts") ->
        ((r.getAs[String]("k_str"), r.getAs[Long]("schema_version")))).toMap
    assert(tb1 == Map(112L -> (("112.3", 100L)), 120L -> (("120.3", 100L))),
      s"truncate must drop in-flight frames <= 100, got $tb1")
    val tc1 = spark.read.parquet(s"$outDir/data/batch=1/schema=app/table=tc").collect()
      .map(r => r.getAs[Long]("commit_ts") ->
        ((r.getAs[String]("v_str"), r.getAs[Long]("schema_version")))).toMap
    assert(tc1 == Map(106L -> (("106", 104L)), 114L -> (("114", 104L))),
      s"created table must decode from its create forward, got $tc1")
    val ta1 = spark.read.parquet(s"$outDir/data/batch=1/schema=app/table=ta")
      .select("commit_ts").as[Long].collect().toSet
    assert(ta1 == Set(101L, 107L),
      s"drop must keep in-flight frames and drop later ones, got $ta1")

    // second restart: create/drop/truncate replay from the durable log
    val tracker3 = new SchemaTracker()
    tracker3.createTable("app", "ta", Seq("k DOUBLE"), version = 0)
    tracker3.createTable("app", "tb", Seq("k DOUBLE"), version = 0)
    CdcStream.recoverDecodeTracker(spark, outDir, ckpt, tracker3)
    assert(tracker3.tablesOf("app") == Seq("tb", "tc"))
    assert(tracker3.current("app", "tb").get.version == 100L &&
      tracker3.current("app", "tb").get.columns == Vector("k DECIMAL(10,1)"))
    assert(tracker3.current("app", "tc").get.columns == Vector("v BIGINT"))

    // batch 2: RENAME TABLE tb→td at 130 — in-flight frames under the OLD
    // name decode now, later frames arrive under the NEW name and continue
    // the SAME schema history (the modify'd DECIMAL shape survives the
    // rename; ref: drainer/schema.go renameTable keeps the table id)
    PbBinlogFile.write(
      dml("tb", Seq(122L, 126L), n => s"""{"k": ${n}.25}""")
        .unionByName(dml("td", Seq(134L, 140L), n => s"""{"k": ${n}.25}"""))
        .unionByName(ddl(130L, "RENAME TABLE app.tb TO app.td")),
      wireDir, nFiles = 1)
    val q3 = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireDir), tracker3, outDir, ckpt,
      "app", col("event_type"), writeDecoded(outDir))
    try q3.processAllAvailable() finally q3.stop()
    assert(tracker3.tablesOf("app") == Seq("tc", "td"))
    assert(tracker3.current("app", "td").get.columns == Vector("k DECIMAL(10,1)") &&
      tracker3.current("app", "td").get.version == 130L)
    val tb2 = spark.read.parquet(s"$outDir/data/batch=2/schema=app/table=tb").collect()
      .map(r => r.getAs[Long]("commit_ts") ->
        ((r.getAs[String]("k_str"), r.getAs[Long]("schema_version")))).toMap
    assert(tb2 == Map(122L -> (("122.3", 100L)), 126L -> (("126.3", 100L))),
      s"in-flight frames under the old name must decode, got $tb2")
    val td2 = spark.read.parquet(s"$outDir/data/batch=2/schema=app/table=td").collect()
      .map(r => r.getAs[Long]("commit_ts") ->
        ((r.getAs[String]("k_str"), r.getAs[Long]("schema_version")))).toMap
    assert(td2 == Map(134L -> (("134.3", 130L)), 140L -> (("140.3", 130L))),
      s"the renamed table must keep the DECIMAL shape, got $td2")
    // the sparse-batch layout contract: tc is tracked but carries no DML
    // in batch 2 — per-batch work scales with the TOUCHED set, so it must
    // not write a (or even an empty) batch dir
    assert(!Files.exists(java.nio.file.Paths.get(s"$outDir/data/batch=2/schema=app/table=tc")),
      "untouched tracked table wrote a batch dir")

    // third restart: the rename replays from the durable log
    val tracker4 = new SchemaTracker()
    tracker4.createTable("app", "ta", Seq("k DOUBLE"), version = 0)
    tracker4.createTable("app", "tb", Seq("k DOUBLE"), version = 0)
    CdcStream.recoverDecodeTracker(spark, outDir, ckpt, tracker4)
    assert(tracker4.tablesOf("app") == Seq("tc", "td"))
    assert(tracker4.current("app", "td").get.columns == Vector("k DECIMAL(10,1)"))
  }

  test("wire DDL parser: unit anchors for the grammar's sharp edges") {
    import CdcStream._
    import graft.streaming.DdlGrammar._
    // quoted literals carry commas and parens the def split must not
    // count; the tail normalizer strips each DEFAULT into the origin-
    // default map (quote-aware: the captured literal keeps its comma)
    assert(parseWireDdl(
      "CREATE TABLE s.t (a VARCHAR(5) DEFAULT 'x,y', b INT DEFAULT ')', c DECIMAL(10,2))") ==
      CreateDdl("s", "t", Seq("a STRING", "b INT", "c DECIMAL(10,2)"),
        ifNotExists = false, defaults = Map("a" -> "'x,y'", "b" -> "')'")))
    // trailing options with parens stay OUT of the def list; IF NOT
    // EXISTS is captured (the tracked-name dispatch differs on it)
    assert(parseWireDdl(
      "create table if not exists `s`.`t` (a INT, b BIGINT) PARTITION BY HASH(a) PARTITIONS 4") ==
      CreateDdl("s", "t", Seq("a INT", "b BIGINT"), ifNotExists = true))
    // column-option tails normalize: NOT NULL survives (Spark's DDL
    // parser accepts it), constraint entries drop as decode-neutral
    assert(parseWireDdl(
      "CREATE TABLE s.t (id BIGINT NOT NULL AUTO_INCREMENT, `v` INT DEFAULT 5, PRIMARY KEY (id), KEY i_v (v))") ==
      CreateDdl("s", "t", Seq("id BIGINT NOT NULL", "v INT"),
        ifNotExists = false, defaults = Map("v" -> "5")))
    // a generic Spark type carries commas inside <> that must not split
    // the def list (the wire's type domain is Spark's)
    assert(parseWireDdl(
      "CREATE TABLE s.t (c STRUCT<a: INT, b: STRING>, d ARRAY<INT>)") ==
      CreateDdl("s", "t", Seq("c STRUCT<a: INT, b: STRING>", "d ARRAY<INT>")))
    // an unbalanced def list parses as unknown, never as a garbage create
    assert(parseWireDdl("CREATE TABLE s.t (a INT") == UnknownDdl("CREATE TABLE s.t (a INT"))
    // COLUMN-less ADD is a column def; ADD INDEX/KEY stays administrative,
    // and a backticked column named `key` routes past the keyword
    assert(parseWireDdl("ALTER TABLE s.t ADD extra BIGINT") ==
      ColumnDdl("s", "t", "add", "extra", "BIGINT", native = "BIGINT"))
    assert(parseWireDdl("ALTER TABLE s.t ADD INDEX i (k)") == AdminDdl)
    assert(parseWireDdl("ALTER TABLE s.t ADD `key` BIGINT") ==
      ColumnDdl("s", "t", "add", "key", "BIGINT", native = "BIGINT"))
    // the decode-neutral option tails real traffic carries on column DDL:
    // position / charset / collation / ON UPDATE strip, DEFAULT strips
    // AND captures as the origin default, unknown junk stays (loud later)
    assert(parseWireDdl("ALTER TABLE s.t ADD COLUMN c INT DEFAULT 5 AFTER k") ==
      ColumnDdl("s", "t", "add", "c", "INT", Some("5"), native = "INT"))
    // a parenthesized expression default may carry comparisons — the bare
    // '>' must not count as generic-type nesting
    assert(parseWireDdl("ALTER TABLE s.t ADD COLUMN c INT DEFAULT (a > 0) AFTER k") ==
      ColumnDdl("s", "t", "add", "c", "INT", Some("(a > 0)"), native = "INT"))
    assert(parseWireDdl("ALTER TABLE s.t ADD COLUMN c INT DEFAULT (a < 0) NOT NULL AFTER k") ==
      ColumnDdl("s", "t", "add", "c", "INT NOT NULL", Some("(a < 0)"), native = "INT"))
    assert(parseWireDdl("ALTER TABLE s.t ADD COLUMN c STRUCT<a: INT, b: STRING> AFTER k") ==
      ColumnDdl("s", "t", "add", "c", "STRUCT<a: INT, b: STRING>",
        native = "STRUCT<a: INT, b: STRING>"))
    // UNSIGNED widens to the Spark type holding the full range (M9 type
    // domain); ZEROFILL and display widths are display-only
    assert(parseWireDdl("ALTER TABLE s.t ADD COLUMN id BIGINT UNSIGNED NOT NULL DEFAULT 0") ==
      ColumnDdl("s", "t", "add", "id", "DECIMAL(20,0) NOT NULL", Some("0"),
        native = "BIGINT"))
    assert(parseWireDdl("ALTER TABLE s.t ADD COLUMN n INT(10) UNSIGNED ZEROFILL") ==
      ColumnDdl("s", "t", "add", "n", "BIGINT", native = "INT(10)"))
    assert(parseWireDdl("ALTER TABLE s.t MODIFY COLUMN n TINYINT UNSIGNED") ==
      ColumnDdl("s", "t", "modify", "n", "SMALLINT", native = "TINYINT"))
    // SIGNED display widths are formatting too (the mysqldump spelling);
    // MEDIUMINT maps to the Spark type that holds it; a bare ZEROFILL
    // implies UNSIGNED in MySQL and widens exactly once
    assert(parseWireDdl("ALTER TABLE s.t ADD COLUMN flag TINYINT(1) DEFAULT 0") ==
      ColumnDdl("s", "t", "add", "flag", "TINYINT", Some("0"), native = "TINYINT(1)"))
    assert(parseWireDdl("ALTER TABLE s.t ADD COLUMN n INT(11) NOT NULL") ==
      ColumnDdl("s", "t", "add", "n", "INT NOT NULL", native = "INT(11)"))
    assert(parseWireDdl("ALTER TABLE s.t ADD COLUMN m MEDIUMINT") ==
      ColumnDdl("s", "t", "add", "m", "INT", native = "MEDIUMINT"))
    assert(parseWireDdl("ALTER TABLE s.t ADD COLUMN z INT ZEROFILL") ==
      ColumnDdl("s", "t", "add", "z", "BIGINT", native = "INT"))
    assert(parseWireDdl("ALTER TABLE s.t ADD COLUMN c DECIMAL(10, 2) NOT NULL DEFAULT -1.5 FIRST") ==
      ColumnDdl("s", "t", "add", "c", "DECIMAL(10, 2) NOT NULL", Some("-1.5"),
        native = "DECIMAL(10, 2)"))
    assert(parseWireDdl("ALTER TABLE s.t ADD COLUMN c STRING DEFAULT 'a b' COMMENT 'keep me'") ==
      ColumnDdl("s", "t", "add", "c", "STRING COMMENT 'keep me'", Some("'a b'"),
        native = "STRING"))
    assert(parseWireDdl(
      "ALTER TABLE s.t MODIFY COLUMN c TIMESTAMP NULL DEFAULT CURRENT_TIMESTAMP ON UPDATE CURRENT_TIMESTAMP") ==
      ColumnDdl("s", "t", "modify", "c", "TIMESTAMP", Some("CURRENT_TIMESTAMP"),
        native = "TIMESTAMP"))
    assert(parseWireDdl(
      "ALTER TABLE s.t MODIFY COLUMN c STRING CHARACTER SET utf8mb4 COLLATE utf8mb4_bin") ==
      ColumnDdl("s", "t", "modify", "c", "STRING", native = "STRING"))
    assert(parseWireDdl("ALTER TABLE s.t FROBNICATE NONSENSE") ==
      UnknownDdl("ALTER TABLE s.t FROBNICATE NONSENSE"))
    // CHANGE = rename+retype; both rename-table spellings converge
    assert(parseWireDdl("alter table s.t change column a b DECIMAL(10,1)") ==
      ColumnDdl("s", "t", "change", "a", "b DECIMAL(10,1)", native = "DECIMAL(10,1)"))
    assert(parseWireDdl("alter table s.t change a b BIGINT DEFAULT 9 AFTER z") ==
      ColumnDdl("s", "t", "change", "a", "b BIGINT", Some("9"), native = "BIGINT"))
    assert(parseWireDdl("RENAME TABLE s.t TO s2.u") ==
      RenameDdl("s", "t", Some("s2"), "u"))
    assert(parseWireDdl("ALTER TABLE s.t RENAME TO u") ==
      RenameDdl("s", "t", None, "u"))
    // shape-neutral ALTER forms and lock/placement statements are admin
    assert(parseWireDdl("ALTER TABLE s.t ALTER COLUMN k SET DEFAULT 5") == AdminDdl)
    assert(parseWireDdl("ALTER TABLE s.t TRUNCATE PARTITION p0") == AdminDdl)
    assert(parseWireDdl("ALTER TABLE s.t DROP PRIMARY KEY") == AdminDdl)
    assert(parseWireDdl("CREATE PLACEMENT POLICY p FOLLOWERS=2") == AdminDdl)
    // IF EXISTS forms; TRUNCATE without TABLE; null statement text
    assert(parseWireDdl("DROP TABLE IF EXISTS s.t") == DropTableDdl("s", "t"))
    assert(parseWireDdl("TRUNCATE s.t") == TruncateDdl("s", "t"))
    assert(parseWireDdl("DROP DATABASE IF EXISTS s") == DropSchemaDdl("s"))
    assert(parseWireDdl(null) == UnknownDdl("<missing ddl_sql>"))
    // legal multi-table lists expand to per-table actions (the
    // reference's TiDB jobs are per-table anyway)…
    assert(parseWireDdls("RENAME TABLE a.x TO a.y, s.t TO s2.u") ==
      Seq(RenameDdl("a", "x", Some("a"), "y"), RenameDdl("s", "t", Some("s2"), "u")))
    assert(parseWireDdls("DROP TABLE IF EXISTS a.x, s.t") ==
      Seq(DropTableDdl("a", "x"), DropTableDdl("s", "t")))
    // …including CHAINED lists (the online-schema-change cutover shape):
    // parts apply in statement order, preserved through the log's seq
    assert(parseWireDdls("RENAME TABLE s.t TO s._t_old, s._t_new TO s.t") ==
      Seq(RenameDdl("s", "t", Some("s"), "_t_old"),
        RenameDdl("s", "_t_new", Some("s"), "t")))
    // single statements pass through the list parser unchanged
    assert(parseWireDdls("TRUNCATE TABLE s.t") == Seq(TruncateDdl("s", "t")))
    // backslash-escaped quotes inside a literal stay inside the literal —
    // through the def split AND the captured origin default
    assert(parseWireDdl(
      "CREATE TABLE s.t (a VARCHAR(9) DEFAULT 'x\\'y', b INT)") ==
      CreateDdl("s", "t", Seq("a STRING", "b INT"),
        ifNotExists = false, defaults = Map("a" -> "'x\\'y'")))
    // FLASHBACK (plain and renamed) and CREATE LIKE
    assert(parseWireDdl("FLASHBACK TABLE s.t") == FlashbackDdl("s", "t", None))
    assert(parseWireDdl("flashback table s.t TO t9") ==
      FlashbackDdl("s", "t", Some("t9")))
    assert(parseWireDdl("CREATE TABLE s.t2 LIKE s.t") ==
      CreateLikeDdl("s", "t2", "s", "t"))
    assert(parseWireDdl("CREATE TABLE IF NOT EXISTS s.t2 LIKE s.t") ==
      CreateLikeDdl("s", "t2", "s", "t", ifNotExists = true))
    // r18 review fixes: multi-action ALTER (TiDB multi-schema change),
    // online-DDL suffix clauses, the no-space CREATE head, and the
    // empty-string ENUM member
    assert(parseWireDdls("ALTER TABLE s.t ADD COLUMN a INT, ADD COLUMN b BIGINT") ==
      Seq(ColumnDdl("s", "t", "add", "a", "INT", native = "INT"),
          ColumnDdl("s", "t", "add", "b", "BIGINT", native = "BIGINT")))
    assert(parseWireDdls(
      "ALTER TABLE s.t MODIFY COLUMN c INT, ALGORITHM=INPLACE, LOCK=NONE") ==
      Seq(ColumnDdl("s", "t", "modify", "c", "INT", native = "INT")))
    assert(parseWireDdls("ALTER TABLE s.t ADD INDEX i (k, v), ALGORITHM=INPLACE") ==
      Seq(AdminDdl))
    assert(parseWireDdls("ALTER TABLE s.t ALGORITHM=INPLACE, LOCK=SHARED") ==
      Seq(AdminDdl))
    // a DEFAULT literal's comma is not an action boundary
    assert(parseWireDdls(
      "ALTER TABLE s.t ADD COLUMN c VARCHAR(9) DEFAULT 'a,b', LOCK NONE") ==
      Seq(ColumnDdl("s", "t", "add", "c", "STRING", Some("'a,b'"),
        native = "VARCHAR(9)")))
    // a half-understood list falls back to ONE unknown of the whole text —
    // the dispatch's tracked-qual scan decides loud-vs-skip, and partial
    // application never happens
    assert(parseWireDdls("ALTER TABLE s.t ORDER BY c, ADD COLUMN a INT") ==
      Seq(UnknownDdl("ALTER TABLE s.t ORDER BY c, ADD COLUMN a INT")))
    // MySQL applies non-RENAME clauses to the ORIGINAL table regardless of
    // position — the rename must dispatch LAST or the ADD addresses an
    // already-re-homed name and counted-skips, leaving the shape stale
    assert(parseWireDdls("ALTER TABLE s.t RENAME TO u, ADD COLUMN c INT") ==
      Seq(ColumnDdl("s", "t", "add", "c", "INT", native = "INT"),
          RenameDdl("s", "t", None, "u")))
    assert(parseWireDdls("ALTER TABLE s.t ADD COLUMN c INT, RENAME TO s2.u") ==
      Seq(ColumnDdl("s", "t", "add", "c", "INT", native = "INT"),
          RenameDdl("s", "t", Some("s2"), "u")))
    // two renames in one ALTER is not legal MySQL — half-understood, one
    // UnknownDdl of the whole text (loud-vs-skip at dispatch)
    assert(parseWireDdls("ALTER TABLE s.t RENAME TO u, RENAME TO v") ==
      Seq(UnknownDdl("ALTER TABLE s.t RENAME TO u, RENAME TO v")))
    // the common no-space spelling of the column-def paren
    assert(parseWireDdl("CREATE TABLE s.t(a INT)") ==
      CreateDdl("s", "t", Seq("a INT")))
    // '' is a legal ENUM member with ordinal 1 — the dictionary keeps it
    assert(parseWireDdl("ALTER TABLE s.t ADD COLUMN e ENUM('','a') NOT NULL") ==
      ColumnDdl("s", "t", "add", "e", "STRING NOT NULL",
        dict = Some(Vector("", "a")), native = "ENUM('','a')"))
  }

  test("tail normalizer property sweep: any legal option-tail permutation yields a decodable def") {
    // randomized (fixed seed) MySQL/TiDB column tails: type + a shuffled
    // subset of option clauses in any order — the normalized def must
    // ALWAYS parse under Spark's DDL parser (the decodability invariant
    // the stream's validateDecodable enforces), the DEFAULT expression
    // must be captured verbatim, and NOT NULL must survive when present
    import CdcStream._
    import graft.streaming.DdlGrammar._
    import org.apache.spark.sql.types.StructType
    val rnd = new scala.util.Random(13)
    // Spark-native spellings AND the MySQL-native domain real wire DDL
    // carries (ref kafka.go:227-294) — every normalized def must decode
    val types = Seq("INT", "BIGINT", "DOUBLE", "DECIMAL(10,2)", "STRING",
      "TIMESTAMP", "STRUCT<a: INT, b: STRING>",
      "VARCHAR(255)", "CHAR(4)", "TEXT", "MEDIUMTEXT", "LONGTEXT",
      "DATETIME", "DATETIME(6)", "DATE", "TIME", "TIME(3)", "YEAR",
      "ENUM('a','b,c','it''s')", "SET('x','y')", "JSON",
      "BLOB", "TINYBLOB", "VARBINARY(16)", "BINARY(8)", "BIT(64)",
      "BOOLEAN", "BOOL", "MEDIUMINT(9)", "INT(11)", "TINYINT(1)",
      "NUMERIC(10,2)", "REAL", "DOUBLE PRECISION",
      // multi-token native spellings and the space-before-paren forms
      "NATIONAL CHAR(5)", "NATIONAL VARCHAR(32)",
      "NATIONAL CHARACTER VARYING(8)", "CHARACTER VARYING(20)",
      "CHAR VARYING(7)", "NCHAR VARYING(6)", "CHARACTER(4)",
      "ENUM ('p','q')", "INT (11)", "DECIMAL(10, 2)")
    val intTypes = Set("INT", "BIGINT", "MEDIUMINT(9)", "INT(11)",
      "TINYINT(1)", "INT (11)")
    val defaults = Seq("5", "-1.5", "'x,y'", "'a b'", "(a > 0)", "(a < 0)",
      "CURRENT_TIMESTAMP", "'it\\'s'",
      // hex/bit literal spellings (the T7 fill evaluates these through
      // the wire type; here they must capture raw and strip clean)
      "0x1F", "X'1f'", "b'101'", "0b0110")
    val options: Seq[String => Seq[String]] = Seq(
      _ => Seq("NOT NULL"), _ => Seq("NULL"), _ => Seq("AFTER k"),
      _ => Seq("FIRST"), _ => Seq("ON UPDATE CURRENT_TIMESTAMP"),
      _ => Seq("COLLATE utf8mb4_bin"), _ => Seq("CHARACTER SET utf8mb4"),
      _ => Seq("CHARSET latin1"), _ => Seq("AUTO_INCREMENT"),
      _ => Seq("UNIQUE"), _ => Seq("UNIQUE KEY"), _ => Seq("PRIMARY KEY"),
      _ => Seq("KEY"), _ => Seq("COMMENT 'note'"), _ => Seq("ZEROFILL"),
      _ => Seq("CHECK (c > 0)"), _ => Seq("CHECK (c > 0) ENFORCED"),
      _ => Seq("CONSTRAINT chk1 CHECK (c > 0) NOT ENFORCED"),
      _ => Seq("GENERATED ALWAYS AS (k + 1) VIRTUAL"),
      _ => Seq("AS (k * 2) STORED"))
    // direct anchors for the CHECK / GENERATED tail classes (routine MySQL
    // 8 / TiDB DDL shapes that must strip as decode-neutral)
    assert(normalizeColumnTail("INT CHECK (c > 0)")._1 == "INT")
    assert(normalizeColumnTail(
      "INT CONSTRAINT c1 CHECK (c > 0) NOT ENFORCED NOT NULL")._1 == "INT NOT NULL")
    assert(normalizeColumnTail("INT GENERATED ALWAYS AS (a + b) STORED")._1 == "INT")
    assert(normalizeColumnTail("INT AS (a + b) VIRTUAL NOT NULL")._1 == "INT NOT NULL")
    // MySQL-native type mapping anchors (SURVEY §1.3; ref kafka.go:227-294)
    assert(normalizeColumnTail("VARCHAR(255) NOT NULL")._1 == "STRING NOT NULL")
    assert(normalizeColumnTail("DATETIME(6)")._1 == "TIMESTAMP")
    assert(normalizeColumnTail("TIME(3)")._1 == "STRING")
    assert(normalizeColumnTail("YEAR")._1 == "INT")
    assert(normalizeColumnTail("ENUM('red','green','blue') DEFAULT 'red'") ==
      (("STRING", Some("'red'"), Some(Vector("red", "green", "blue")),
        "ENUM('red','green','blue')")))
    assert(normalizeColumnTail("SET('a','b,c','it''s')")._3 ==
      Some(Vector("a", "b,c", "it's")))
    assert(normalizeColumnTail("JSON")._1 == "STRING")
    assert(normalizeColumnTail("VARBINARY(16)")._1 == "BINARY")
    assert(normalizeColumnTail("BIT(64)")._1 == "BIGINT")
    assert(normalizeColumnTail("BOOL")._1 == "BOOLEAN")
    assert(normalizeColumnTail("DOUBLE PRECISION NOT NULL")._1 == "DOUBLE NOT NULL")
    assert(normalizeColumnTail("NUMERIC(10,2)")._1 == "DECIMAL(10,2)")
    // UNSIGNED still widens the MAPPED integer spelling exactly once
    assert(normalizeColumnTail("INT(10) UNSIGNED")._1 == "BIGINT")
    (1 to 300).foreach { i =>
      val ty = types(rnd.nextInt(types.length))
      // UNSIGNED is only legal immediately after the type
      val unsigned = intTypes(ty) && rnd.nextBoolean()
      val dflt = if (rnd.nextBoolean())
        Some(defaults(rnd.nextInt(defaults.length))) else None
      val opts = rnd.shuffle(options).take(rnd.nextInt(4))
        .flatMap(f => f(ty)) ++ dflt.map(d => s"DEFAULT $d").toSeq
      val tail = (Seq(ty) ++ (if (unsigned) Seq("UNSIGNED") else Nil) ++
        rnd.shuffle(opts)).mkString(" ")
      val (clean, captured, _, _) = normalizeColumnTail(tail)
      val parsed = scala.util.Try(StructType.fromDDL(s"c $clean"))
      assert(parsed.isSuccess,
        s"[#$i] tail '$tail' normalized to undecodable '$clean': $parsed")
      assert(captured == dflt,
        s"[#$i] tail '$tail' captured default $captured, expected $dflt")
      if (tail.contains("NOT NULL"))
        assert(clean.contains("NOT NULL"), s"[#$i] '$tail' lost NOT NULL → '$clean'")
    }
  }

  test("ENUM/SET dictionaries: captured from the wire, re-keyed by rename, cleared by retype/drop") {
    import CdcStream._
    import graft.streaming.DdlGrammar._
    // wire capture: the type maps to STRING, the value list rides as the
    // dictionary, the DEFAULT is still the origin default
    assert(parseWireDdl("ALTER TABLE s.t ADD COLUMN e ENUM('a','b') DEFAULT 'a'") ==
      ColumnDdl("s", "t", "add", "e", "STRING", Some("'a'"), Some(Vector("a", "b")),
        native = "ENUM('a','b')"))
    assert(parseWireDdl("CREATE TABLE s.t2 (e ENUM('x','y') DEFAULT 'x', k INT(11))") ==
      CreateDdl("s", "t2", Seq("e STRING", "k INT"),
        defaults = Map("e" -> "'x'"), dicts = Map("e" -> Vector("x", "y"))))
    val tr = new SchemaTracker()
    tr.createTable("s", "t", Seq("k DOUBLE"), 0)
    tr.addColumn("s", "t", "e STRING", 1)
    tr.setDictionary("s", "t", "e", Vector("a", "b"), 1)
    assert(tr.dictionary("s", "t", "e").contains(Vector("a", "b")))
    tr.renameColumn("s", "t", "e", "e2", 2)
    assert(tr.dictionary("s", "t", "e2").contains(Vector("a", "b")) &&
      tr.dictionary("s", "t", "e").isEmpty)
    tr.setDictionary("s", "t", "e2", Vector.empty, 3) // retype off enum clears
    assert(tr.dictionary("s", "t", "e2").isEmpty)
    tr.addColumn("s", "t", "f STRING", 4)
    tr.setDictionary("s", "t", "f", Vector("x"), 4)
    tr.dropColumn("s", "t", "f", 5)
    assert(tr.current("s", "t").get.dicts.isEmpty)
  }

  test("streamed wire DDL grammar: admin/unknown statements skip counted; case and backticks lex; tracked-shape unknowns throw") {
    // the reference SKIPS administrative / unsupported DDL with a log line
    // and keeps replicating (ref: drainer/schema.go:333-353 skip list,
    // drainer/syncer.go:436-462) — a CREATE INDEX on the wire must not
    // kill the stream. Keywords lex case-insensitively, identifiers take
    // backticks but stay case-sensitive (MySQL-on-Linux table names), and
    // the loud throw survives for exactly one class: an unparseable
    // statement that addresses a TRACKED table's shape.
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_gram_wire")
    val outDir = graft.util.Scratch.dir("graft_gram_out")
    val ckpt = graft.util.Scratch.dir("graft_gram_ckpt")

    def dml(ids: Seq[Long], props: Long => String) = wireDml("t", ids, props)
    def ddl(ts: Long, sql: String) = wireDdl(ts, sql)

    PbBinlogFile.write(
      dml(Seq(1L, 3L, 5L, 7L, 9L), n => s"""{"k": ${n}.25}""")
        // applies: lowercase keywords + backticked identifiers
        .unionByName(ddl(10L, "alter table `app`.`t` add column extra BIGINT"))
        .unionByName(dml(Seq(11L, 13L, 15L, 17L),
          n => s"""{"k": ${n}.25, "extra": ${n * 10}}"""))
        // the skip set: index/lock/analyze admin statements, a
        // case-variant (hence untracked) table, a foreign table's DDL,
        // and a statement outside the grammar aimed at no tracked shape
        .unionByName(ddl(4L, "CREATE INDEX i_k ON app.t (k)"))
        .unionByName(ddl(6L, "LOCK TABLES app.t WRITE"))
        .unionByName(ddl(8L, "Analyze Table app.t"))
        .unionByName(ddl(12L, "ALTER TABLE APP.T MODIFY COLUMN k BIGINT"))
        .unionByName(ddl(14L, "ALTER TABLE other.x DROP COLUMN y"))
        .unionByName(ddl(16L, "OPTIMIZE TABLE app.t"))
        // applies: MySQL CHANGE COLUMN = rename + retype in one statement
        .unionByName(ddl(18L, "alter table app.t change column k k2 DECIMAL(10,1)"))
        .unionByName(dml(Seq(19L), n => s"""{"k2": ${n}.25}"""))
        // applies: COLUMN-less ADD (legal MySQL; ADD INDEX stays admin)
        .unionByName(ddl(20L, "ALTER TABLE app.t ADD extra2 BIGINT"))
        .unionByName(dml(Seq(21L), n => s"""{"k2": ${n}.25, "extra2": 7}"""))
        // more skips: default change, partition maintenance, a DDL frame
        // with no statement text at all
        .unionByName(ddl(22L, "ALTER TABLE app.t ALTER COLUMN k2 SET DEFAULT 5"))
        .unionByName(ddl(24L, "ALTER TABLE app.t TRUNCATE PARTITION p0"))
        .unionByName(ddl(26L, null))
        // applies: CREATE TABLE whose trailing options carry parens — the
        // balanced-paren cut must keep the def list exact
        .unionByName(ddl(28L,
          "CREATE TABLE app.tnew (v BIGINT) PARTITION BY HASH(v) PARTITIONS 4"))
        .unionByName(dml(Seq(29L), n => s"""{"v": ${n}}""")
          .withColumn("event_type", lit("tnew"))),
      wireDir, nFiles = 1)

    val tracker = new SchemaTracker()
    tracker.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    val q = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireDir), tracker, outDir, ckpt,
      "app", col("event_type"), writeDecoded(outDir))
    try q.processAllAvailable() finally q.stop()

    val skipped = CdcStream.decodeCounts(q.id)("skipped_ddl_total")
    assert(skipped == 9L, s"expected 9 skipped wire DDLs, got $skipped")
    assert(tracker.current("app", "t").get.columns ==
      Vector("k2 DECIMAL(10,1)", "extra BIGINT", "extra2 BIGINT"))
    assert(tracker.current("app", "tnew").get.columns == Vector("v BIGINT"),
      "paren-bearing CREATE TABLE options corrupted the def list")
    val rows = spark.read.parquet(s"$outDir/data/batch=0/schema=app/table=t").collect()
      .map(r => r.getAs[Long]("commit_ts") ->
        ((Option(r.getAs[String]("k_str")), Option(r.getAs[String]("extra_str")),
          Option(r.getAs[String]("k2_str")), Option(r.getAs[String]("extra2_str")),
          r.getAs[Long]("schema_version"))))
      .toMap
    assert(rows.size == 11)
    // the skipped statements neither cut slices nor bumped versions
    assert(rows(9L) == ((Some("9.25"), None, None, None, 0L)))
    assert(rows(17L) == ((Some("17.25"), Some("170"), None, None, 10L)))
    // CHANGE COLUMN: post-barrier frames decode the NEW name at the NEW type
    assert(rows(19L) == ((None, None, Some("19.3"), None, 18L)))
    // COLUMN-less ADD applied; the three later skips left version at 20
    assert(rows(21L) == ((None, None, Some("21.3"), Some("7"), 20L)))
    val tnew = spark.read.parquet(s"$outDir/data/batch=0/schema=app/table=tnew").collect()
      .map(r => (r.getAs[Long]("commit_ts"), r.getAs[String]("v_str"),
        r.getAs[Long]("schema_version")))
    assert(tnew.toSeq == Seq((29L, "29", 28L)))

    // the change action replays from the durable log like any other
    val tracker2 = new SchemaTracker()
    tracker2.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    CdcStream.recoverDecodeTracker(spark, outDir, ckpt, tracker2)
    assert(tracker2.current("app", "t").get.columns ==
      Vector("k2 DECIMAL(10,1)", "extra BIGINT", "extra2 BIGINT"))
    assert(tracker2.current("app", "tnew").get.columns == Vector("v BIGINT"))

    // a legal multi-table RENAME list applies per part: the untracked
    // part skips (counted), the tracked part re-homes the table
    val wire2 = graft.util.Scratch.dir("graft_gram_wire2")
    val out2 = graft.util.Scratch.dir("graft_gram_out2")
    val ckpt2 = graft.util.Scratch.dir("graft_gram_ckpt2")
    PbBinlogFile.write(
      dml(Seq(31L), n => s"""{"k": ${n}.25}""")
        .unionByName(ddl(32L,
          "RENAME TABLE other.x TO other.y, app.t TO app.t2"))
        .unionByName(dml(Seq(33L), n => s"""{"k": ${n}.25}""")
          .withColumn("event_type", lit("t2"))),
      wire2, nFiles = 1)
    val tracker3 = new SchemaTracker()
    tracker3.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    val q2 = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wire2), tracker3, out2, ckpt2,
      "app", col("event_type"), writeDecoded(out2))
    try q2.processAllAvailable() finally q2.stop()
    val skipped2 = CdcStream.decodeCounts(q2.id)("skipped_ddl_total")
    assert(skipped2 == 1L && tracker3.tablesOf("app") == Seq("t2"),
      s"multi-rename list must apply per part: ${tracker3.tablesOf("app")}")
    assert(spark.read.parquet(s"$out2/data/batch=0/schema=app/table=t2")
      .select("commit_ts").as[Long].collect().toSet == Set(33L))

    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    def loudCase(tag: String, sql: String, needle: String): Unit = {
      val w = graft.util.Scratch.dir(s"graft_gram_w$tag")
      PbBinlogFile.write(
        dml(Seq(41L), n => s"""{"k": ${n}.25}""").unionByName(ddl(42L, sql)),
        w, nFiles = 1)
      val tr = new SchemaTracker()
      tr.createTable("app", "t", Seq("k DOUBLE"), version = 0)
      val qq = CdcStream.ddlDrivenDecodeTables(
        PbBinlogFile.readStream(spark, w), tr,
        graft.util.Scratch.dir(s"graft_gram_o$tag"),
        graft.util.Scratch.dir(s"graft_gram_c$tag"),
        "app", col("event_type"),
        writeDecoded(graft.util.Scratch.dir(s"graft_gram_o$tag")))
      val e = intercept[Exception] { try qq.processAllAvailable() finally qq.stop() }
      assert(causes(e).exists(c => String.valueOf(c.getMessage).contains(needle)),
        s"[$tag] expected '$needle' in the failure chain, got $e")
    }
    // loud-fail preserved for the statement classes that cannot skip: an
    // unknown statement addressing a tracked table, a DDL whose resulting
    // defs Spark's parser rejects, a FLASHBACK with no recoverable shape,
    // and a CREATE LIKE off an untracked source — each must kill the
    // stream AT the statement, never skip or durably log a broken shape
    loudCase("unk", "ALTER TABLE app.t FROBNICATE NONSENSE",
      "unappliable wire DDL")
    loudCase("badtype", "ALTER TABLE app.t MODIFY COLUMN k NOTATYPE(3)",
      "undecodable")
    loudCase("fb", "FLASHBACK TABLE app.never_dropped",
      "no recoverable drop-time shape")
    loudCase("like", "CREATE TABLE app.t9 LIKE app.missing_src",
      "source is not tracked")
    // the already-tracked dispatch: a plain CREATE of a tracked name is
    // illegal upstream and unappliable — explicit throw, not the default
    // skip (a silent drop would leave the decode blind to a divergence)
    loudCase("crdup", "CREATE TABLE app.t (z INT)", "already-tracked")
    loudCase("likedup", "CREATE TABLE app.t LIKE app.t", "already tracked")
    // FLASHBACK whose recovery target is occupied: illegal upstream,
    // explicit loud dispatch (was a silent counted skip)
    loudCase("fbocc", "FLASHBACK TABLE app.was_dropped TO t", "already tracked")
    // unrecognized FLASHBACK variants RECREATE tracked state — loud even
    // though they sit outside the grammar: FLASHBACK DATABASE of a
    // tracked schema, and an unqualified FLASHBACK TABLE of a tracked
    // bare name (the qual scan alone cannot see either)
    loudCase("fbdb", "FLASHBACK DATABASE app", "addresses tracked state")
    loudCase("fbbare", "FLASHBACK TABLE t", "addresses tracked state")
    // …and a QUALIFIED tracked-schema operand the grammar rejects (e.g. a
    // qualified TO target) — the live-catalog scan alone would miss a
    // dropped table's qual
    loudCase("fbqual", "FLASHBACK TABLE app.gone TO app.t2",
      "addresses tracked state")
    // an unparseable CREATE TABLE of a NEW name in a TRACKED schema (CTAS)
    // is fatal in dynamic mode — the new table's frames would silently drop
    loudCase("ctas", "CREATE TABLE app.ctas AS SELECT 1 FROM dual",
      "unparseable wire CREATE TABLE in tracked schema")
    // RENAME of an untracked source INTO the tracked schema: the renamed-in
    // table's frames would silently drop — loud, like the CREATE…LIKE
    // unknown-source contract (r18 review fix)
    loudCase("renamein", "RENAME TABLE ext.x TO app.y",
      "renamed-in table's shape is unknown")

    // …while the legal no-op and foreign forms still SKIP counted: CREATE
    // IF NOT EXISTS of a tracked name, a foreign-schema CTAS, an
    // unqualified FLASHBACK of a fully-foreign name, and a CREATE VIEW
    // reading a tracked table (not a table-verb statement)
    val wire3 = graft.util.Scratch.dir("graft_gram_wire3")
    val out3 = graft.util.Scratch.dir("graft_gram_out3")
    val ckpt3 = graft.util.Scratch.dir("graft_gram_ckpt3")
    PbBinlogFile.write(
      dml(Seq(51L), n => s"""{"k": ${n}.25}""")
        .unionByName(ddl(52L, "CREATE TABLE IF NOT EXISTS app.t (z INT)"))
        .unionByName(ddl(54L, "CREATE TABLE IF NOT EXISTS app.t LIKE app.t"))
        .unionByName(ddl(56L, "CREATE TABLE foreign_db.x AS SELECT 1 FROM dual"))
        .unionByName(ddl(58L, "FLASHBACK TABLE completely_foreign"))
        .unionByName(ddl(60L, "CREATE VIEW app.v AS SELECT k FROM app.t"))
        // a FOREIGN CTAS that merely READS a tracked schema creates
        // nothing this decode owns — only the first qual (the target)
        // decides; and a fully-foreign qualified FLASHBACK stays foreign
        .unionByName(ddl(62L,
          "CREATE TABLE foreign_db.y AS SELECT k FROM app.unregistered"))
        .unionByName(ddl(64L, "FLASHBACK TABLE foreign_db.x TO foreign_db.y"))
        // tokens inside a quoted literal are DATA, not operands: 't' and
        // 'app' collide with tracked names but must not arm the loud gate
        .unionByName(ddl(66L,
          "FLASHBACK TABLE completely_foreign TO TIMESTAMP '2024-01-01 t app'"))
        // a tracked QUAL inside a literal is data too: this foreign CTAS
        // must skip, not trip the unknown-statement qual scan (r18 fix)
        .unionByName(ddl(68L,
          "CREATE TABLE foreign_db.z AS SELECT 1 FROM dual WHERE n = 'app.t'"))
        // a fully-foreign table rename stays a counted skip — the
        // rename-in loud case fires only when the TARGET schema is tracked
        .unionByName(ddl(70L, "RENAME TABLE foreign_db.a TO foreign_db.b")),
      wire3, nFiles = 1)
    val tracker5 = new SchemaTracker()
    tracker5.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    val q3 = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wire3), tracker5, out3, ckpt3,
      "app", col("event_type"), writeDecoded(out3))
    try q3.processAllAvailable() finally q3.stop()
    val skipped3 = CdcStream.decodeCounts(q3.id)("skipped_ddl_total")
    assert(skipped3 == 10L, s"expected 10 counted skips, got $skipped3")
    assert(tracker5.current("app", "t").get.columns == Vector("k DOUBLE") &&
      tracker5.current("app", "t").get.version == 0L,
      "a skipped statement must neither reshape nor bump the version")
  }

  test("opt-in decode-time origin-default fill: pre-barrier rows read the default, explicit nulls survive") {
    // reference parity point: translator.go:169-227 fills origin defaults
    // for columns missing from the row data AT DECODE TIME; the fill is
    // version-gated, so a post-barrier row that carries an EXPLICIT null
    // keeps it (it does not predate the column)
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_fill_wire")
    val outDir = graft.util.Scratch.dir("graft_fill_out")
    val ckpt = graft.util.Scratch.dir("graft_fill_ckpt")
    def row(ts: Long, op: String, props: String, sql: String) =
      Seq(ts).toDF("commit_ts").select(
        col("commit_ts"), lit(ts).as("pk"), lit(op).as("op"),
        lit(if (op == "DDL") "ddl" else "t").as("event_type"),
        timestamp_micros(col("commit_ts") * 1000000L).as("ts"),
        lit(null).cast("double").as("value"),
        (if (props == null) lit(null).cast("string") else lit(props)).as("props"),
        (if (sql == null) lit(null).cast("string") else lit(sql)).as("ddl_sql"))
    PbBinlogFile.write(
      row(1L, "U", """{"k": 1.25}""", null)
        .unionByName(row(3L, "U", """{"k": 3.25}""", null))
        .unionByName(row(5L, "DDL", null,
          "ALTER TABLE app.t ADD COLUMN c DECIMAL(10,1) DEFAULT 1.5 AFTER k"))
        .unionByName(row(7L, "U", """{"k": 7.25, "c": 7.5}""", null))
        .unionByName(row(9L, "U", """{"k": 9.25, "c": null}""", null)),
      wireDir, nFiles = 1)
    val tracker = new SchemaTracker()
    tracker.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    val q = CdcStream.ddlDrivenDecodeTables(PbBinlogFile.readStream(spark, wireDir),
      tracker, outDir, ckpt, "app", col("event_type"), writeDecoded(outDir),
      fillOriginDefaults = true)
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(s"$outDir/data")
      .select(col("commit_ts"), col("c_str")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    assert(got == Map(1L -> "1.5", 3L -> "1.5", 7L -> "7.5", 9L -> null),
      s"decode-time fill mismatch: $got")
  }

  test("wire DDL parser: multi-token native type spellings normalize to the mapped Spark type") {
    import CdcStream._
    import graft.streaming.DdlGrammar._
    def ty(tail: String) = normalizeColumnTail(tail)._1
    // NATIONAL prefix drops; VARYING folds its head into VARCHAR — every
    // string spelling lands on STRING, option tails unaffected
    assert(ty("NATIONAL CHAR(5)") == "STRING")
    assert(ty("NATIONAL VARCHAR(10) NOT NULL") == "STRING NOT NULL")
    assert(ty("NATIONAL CHARACTER(3)") == "STRING")
    assert(ty("CHARACTER VARYING(20)") == "STRING")
    assert(ty("CHAR VARYING (7)") == "STRING")
    assert(ty("CHARACTER(4)") == "STRING")
    assert(ty("NATIONAL CHARACTER VARYING(8)") == "STRING")
    assert(ty("NCHAR VARYING(6)") == "STRING")
    // MySQL admits a space before the type's paren args (the paren token
    // folds back onto the word — the NATIVE spelling carries the fold)
    assert(normalizeColumnTail("ENUM ('a','b') DEFAULT 'a'") ==
      (("STRING", Some("'a'"), Some(Vector("a", "b")), "ENUM('a','b')")))
    assert(ty("INT (11) UNSIGNED") == "BIGINT")
    // CHECK with no space before its paren strips like the spaced form
    assert(ty("INT CHECK(c>0)") == "INT")
    // DATE is already a Spark type — untouched pass-through
    assert(ty("DATE") == "DATE")
  }

  test("decode-time fill: constants cast through the wire type, expression defaults skip, absence-gated across add/drop/re-add") {
    // three reference-parity sharp edges (translator.go:169-227
    // getDefaultOrZeroValue evaluates defaults through the column type):
    // (a) a literal whose SPELLING differs from the decode's cast output
    //     (`DEFAULT 2.50` on DECIMAL(10,1)) fills the decode's own `2.5`;
    // (b) a non-constant default (CURRENT_TIMESTAMP) never fills — the
    //     expression text is not a value;
    // (c) the fill gates on the row's own slice LACKING the column: an
    //     explicit payload null from between an add and a drop survives a
    //     later re-add-with-default in the same batch
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_fill2_wire")
    val outDir = graft.util.Scratch.dir("graft_fill2_out")
    val ckpt = graft.util.Scratch.dir("graft_fill2_ckpt")
    def row(ts: Long, op: String, props: String, sql: String) =
      Seq(ts).toDF("commit_ts").select(
        col("commit_ts"), lit(ts).as("pk"), lit(op).as("op"),
        lit(if (op == "DDL") "ddl" else "t").as("event_type"),
        timestamp_micros(col("commit_ts") * 1000000L).as("ts"),
        lit(null).cast("double").as("value"),
        (if (props == null) lit(null).cast("string") else lit(props)).as("props"),
        (if (sql == null) lit(null).cast("string") else lit(sql)).as("ddl_sql"))
    PbBinlogFile.write(
      row(1L, "U", """{"k": 1.25}""", null)
        // THREE same-ts adds: the intermediate (2,2] slices are empty but
        // share the final slice's schema_version — they must not leak
        // into a later column's absence set (b's explicit ts-3 null)
        .unionByName(row(2L, "DDL", null,
          "ALTER TABLE app.t ADD COLUMN b INT DEFAULT 9"))
        .unionByName(row(2L, "DDL", null,
          "ALTER TABLE app.t ADD COLUMN c DECIMAL(10,1) DEFAULT 1.5"))
        .unionByName(row(2L, "DDL", null,
          "ALTER TABLE app.t ADD COLUMN cts TIMESTAMP DEFAULT CURRENT_TIMESTAMP"))
        // boolean and leading-dot constant spellings: both are constants
        // the reference evaluates through the column type (TRUE on a
        // TINYINT fills 1, .5 on a DOUBLE fills 0.5)
        .unionByName(row(2L, "DDL", null,
          "ALTER TABLE app.t ADD COLUMN f TINYINT DEFAULT TRUE"))
        .unionByName(row(2L, "DDL", null,
          "ALTER TABLE app.t ADD COLUMN r DOUBLE DEFAULT .5"))
        // a fractional default on an INTEGRAL type must round through the
        // numeric domain (ANSI's string→int cast of '1.5' throws), and a
        // QUOTED 'TRUE' is literal text, never a boolean
        .unionByName(row(2L, "DDL", null,
          "ALTER TABLE app.t ADD COLUMN i INT DEFAULT 1.5"))
        .unionByName(row(2L, "DDL", null,
          "ALTER TABLE app.t ADD COLUMN s2 VARCHAR(8) DEFAULT 'TRUE'"))
        .unionByName(row(3L, "U", """{"k": 3.25, "c": 3.5, "b": null}""", null))
        .unionByName(row(5L, "U", """{"k": 5.25, "c": null, "b": 55}""", null))
        .unionByName(row(6L, "DDL", null, "ALTER TABLE app.t DROP COLUMN c"))
        .unionByName(row(7L, "U", """{"k": 7.25}""", null))
        // the re-add's type carries a SPACE inside its paren args — the
        // fill's cast must read the whole type token, not split-on-space
        .unionByName(row(8L, "DDL", null,
          "ALTER TABLE app.t ADD COLUMN c DECIMAL(10, 1) DEFAULT 2.50"))
        .unionByName(row(9L, "U", """{"k": 9.25, "c": 9.5, "b": 99}""", null))
        .unionByName(row(10L, "U", """{"k": 10.25, "c": null, "b": 100}""", null)),
      wireDir, nFiles = 1)
    val tracker = new SchemaTracker()
    tracker.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    val q = CdcStream.ddlDrivenDecodeTables(PbBinlogFile.readStream(spark, wireDir),
      tracker, outDir, ckpt, "app", col("event_type"), writeDecoded(outDir),
      fillOriginDefaults = true)
    try q.processAllAvailable() finally q.stop()
    val rows = spark.read.parquet(s"$outDir/data")
      .select(col("commit_ts"), col("c_str"), col("cts_str"), col("b_str"))
      .collect()
    val c = rows.map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    // ts 1 and ts 7 predate the (re-)added column → the re-add's default,
    // CAST-NORMALIZED (2.50 → 2.5); ts 5's explicit null came from a slice
    // where the column EXISTED → survives; ts 10's explicit null likewise
    assert(c == Map(1L -> "2.5", 3L -> "3.5", 5L -> null, 7L -> "2.5",
      9L -> "9.5", 10L -> null), s"fill mismatch: $c")
    // the CURRENT_TIMESTAMP family evaluates at the DDL frame's own
    // commit-ts (ts=2 on the UTC clock) for rows predating the add;
    // post-add rows keep their explicit/absent NULLs
    val cts = rows.map(r =>
      r.getLong(0) -> (if (r.isNullAt(2)) null else r.getString(2))).toMap
    assert(cts == Map(1L -> "1970-01-01 00:00:02", 3L -> null, 5L -> null,
      7L -> null, 9L -> null, 10L -> null),
      s"CURRENT_TIMESTAMP commit-ts fill mismatch: $cts")
    val b = rows.map(r =>
      r.getLong(0) -> (if (r.isNullAt(3)) null else r.getString(3))).toMap
    // ts 3's explicit null rides a version shared with the same-ts DDL
    // chain's empty intermediate slices — it must survive the fill
    assert(b == Map(1L -> "9", 3L -> null, 5L -> "55", 7L -> null,
      9L -> "99", 10L -> "100"), s"same-ts chain fill mismatch: $b")
    val fr = spark.read.parquet(s"$outDir/data")
      .select(col("commit_ts"), col("f_str"), col("r_str"), col("i_str"),
        col("s2_str"))
      .where(col("commit_ts") === 1L).head
    assert(fr.getString(1) == "1" && fr.getString(2) == "0.5",
      s"boolean/dot-literal fill mismatch: $fr")
    assert(fr.getString(3) == "2" && fr.getString(4) == "TRUE",
      s"integral-rounding / quoted-text fill mismatch: $fr")
  }

  test("decode-time fill: a same-batch rename keeps pre-rename rows' values out of the fill") {
    // rows decoded while the column wore its OLD name carry their value
    // in the old-name output column; the re-keyed fill must not treat the
    // new-name column's structural NULL there as missing data
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_fill3_wire")
    val outDir = graft.util.Scratch.dir("graft_fill3_out")
    val ckpt = graft.util.Scratch.dir("graft_fill3_ckpt")
    def row(ts: Long, op: String, props: String, sql: String) =
      Seq(ts).toDF("commit_ts").select(
        col("commit_ts"), lit(ts).as("pk"), lit(op).as("op"),
        lit(if (op == "DDL") "ddl" else "t").as("event_type"),
        timestamp_micros(col("commit_ts") * 1000000L).as("ts"),
        lit(null).cast("double").as("value"),
        (if (props == null) lit(null).cast("string") else lit(props)).as("props"),
        (if (sql == null) lit(null).cast("string") else lit(sql)).as("ddl_sql"))
    PbBinlogFile.write(
      row(1L, "U", """{"k": 1.0}""", null)
        .unionByName(row(2L, "DDL", null,
          "ALTER TABLE app.t ADD COLUMN c INT DEFAULT 7"))
        .unionByName(row(3L, "U", """{"k": 3.0, "c": 5}""", null))
        .unionByName(row(4L, "U", """{"k": 4.0, "c": null}""", null))
        .unionByName(row(5L, "DDL", null,
          "ALTER TABLE app.t RENAME COLUMN c TO d"))
        .unionByName(row(6L, "U", """{"k": 6.0, "d": 8}""", null)),
      wireDir, nFiles = 1)
    val tracker = new SchemaTracker()
    tracker.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    val q = CdcStream.ddlDrivenDecodeTables(PbBinlogFile.readStream(spark, wireDir),
      tracker, outDir, ckpt, "app", col("event_type"), writeDecoded(outDir),
      fillOriginDefaults = true)
    try q.processAllAvailable() finally q.stop()
    val rows = spark.read.parquet(s"$outDir/data")
      .select(col("commit_ts"), col("c_str"), col("d_str")).collect()
    def m(i: Int) = rows.map(r =>
      r.getLong(0) -> (if (r.isNullAt(i)) null else r.getString(i))).toMap
    // pre-rename rows keep their value (or explicit null) under the OLD
    // name; only the truly-pre-column ts-1 row reads the fill under the
    // new name (same as the pre-rework version gate gave)
    assert(m(1) == Map(1L -> null, 3L -> "5", 4L -> null, 6L -> null),
      s"old-name column mismatch: ${m(1)}")
    assert(m(2) == Map(1L -> "7", 3L -> null, 4L -> null, 6L -> "8"),
      s"new-name column mismatch: ${m(2)}")
  }

  test("decode-time fill survives a same-batch RENAME TABLE and DROP TABLE for the old key's rows") {
    // the pre-rename/pre-drop slices fold and emit under the OLD key at
    // batch end — their pre-add rows still read the fill (the reference
    // translated each row, defaults included, before the table-level
    // statement arrived)
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_fill4_wire")
    val outDir = graft.util.Scratch.dir("graft_fill4_out")
    val ckpt = graft.util.Scratch.dir("graft_fill4_ckpt")
    def row(tbl: String, ts: Long, props: String, sql: String) =
      Seq(ts).toDF("commit_ts").select(
        col("commit_ts"), lit(ts).as("pk"),
        lit(if (sql == null) "U" else "DDL").as("op"),
        lit(if (sql == null) tbl else "ddl").as("event_type"),
        timestamp_micros(col("commit_ts") * 1000000L).as("ts"),
        lit(null).cast("double").as("value"),
        (if (props == null) lit(null).cast("string") else lit(props)).as("props"),
        (if (sql == null) lit(null).cast("string") else lit(sql)).as("ddl_sql"))
    PbBinlogFile.write(
      row("t", 1L, """{"k": 1.0}""", null)
        .unionByName(row("t", 2L, null,
          "ALTER TABLE app.t ADD COLUMN c INT DEFAULT 7"))
        .unionByName(row("t", 3L, """{"k": 3.0, "c": 5}""", null))
        .unionByName(row("t", 4L, null, "RENAME TABLE app.t TO app.u"))
        .unionByName(row("u", 5L, """{"k": 5.0, "c": 6}""", null))
        .unionByName(row("g", 11L, """{"k": 11.0}""", null))
        .unionByName(row("g", 12L, null,
          "ALTER TABLE app.g ADD COLUMN c INT DEFAULT 7"))
        .unionByName(row("g", 13L, """{"k": 13.0, "c": 5}""", null))
        .unionByName(row("g", 14L, null, "DROP TABLE app.g"))
        // same-batch recreate that RE-ADDS the same column with a
        // DIFFERENT default: each incarnation's pre-add rows must read
        // their OWN default (the per-add version buckets)
        .unionByName(row("g", 15L, null, "CREATE TABLE app.g (k DOUBLE)"))
        .unionByName(row("g", 16L, """{"k": 16.0}""", null))
        .unionByName(row("g", 17L, null,
          "ALTER TABLE app.g ADD COLUMN c INT DEFAULT 9"))
        .unionByName(row("g", 18L, """{"k": 18.0, "c": 3}""", null)),
      wireDir, nFiles = 1)
    val tracker = new SchemaTracker()
    tracker.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    tracker.createTable("app", "g", Seq("k DOUBLE"), version = 0)
    val q = CdcStream.ddlDrivenDecodeTables(PbBinlogFile.readStream(spark, wireDir),
      tracker, outDir, ckpt, "app", col("event_type"), writeDecoded(outDir),
      fillOriginDefaults = true)
    try q.processAllAvailable() finally q.stop()
    def m(tbl: String) = spark.read.parquet(s"$outDir/data/batch=0/schema=app/table=$tbl")
      .select(col("commit_ts"), col("c_str")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    assert(m("t") == Map(1L -> "7", 3L -> "5"),
      s"renamed-away table lost its fill: ${m("t")}")
    assert(m("u") == Map(5L -> "6"), s"post-rename rows mismatch: ${m("u")}")
    assert(m("g") == Map(11L -> "7", 13L -> "5", 16L -> "9", 18L -> "3"),
      s"per-incarnation fill mismatch: ${m("g")}")
  }

  test("wire segment name collision with DIFFERENT content throws; an identical retry stays idempotent") {
    import graft.sources.PbBinlogFile
    val dir = graft.util.Scratch.dir("graft_collide")
    def one(pk: Long) = Seq(10L).toDF("commit_ts").select(
      col("commit_ts"), lit(pk).as("pk"), lit("I").as("op"),
      lit("t").as("event_type"),
      timestamp_micros(col("commit_ts") * 1000000L).as("ts"),
      lit(1.0).as("value"), lit("{}").as("props"),
      lit(null).cast("string").as("ddl_sql"))
    PbBinlogFile.write(one(1L), dir, nFiles = 1)
    // same (pid, seg, ts-interval) name, same byte LENGTH, different pk:
    // the length-only heuristic used to silently drop this batch
    intercept[Exception] { PbBinlogFile.write(one(2L), dir, nFiles = 1) }
    assert(PbBinlogFile.read(spark, dir).select("pk")
      .collect().map(_.getLong(0)).toSeq == Seq(1L),
      "the first batch's content must survive the refused promote")
    // a TRUE retry (identical bytes) still promotes idempotently
    PbBinlogFile.write(one(1L), dir, nFiles = 1)
    assert(PbBinlogFile.read(spark, dir).count() == 1)
  }

  test("per-trigger driver init scales with the touched set, not the registration") {
    // at 100k tracked tables and sparse traffic, rebuilding the full
    // catalog view (and seeding per-table slice maps) every trigger is
    // O(registration) driver CPU for a batch that touches one table —
    // the view must build from (touched ∪ DDL-addressed) only
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_tchd_wire")
    val outDir = graft.util.Scratch.dir("graft_tchd_out")
    val ckpt = graft.util.Scratch.dir("graft_tchd_ckpt")
    PbBinlogFile.write(
      wireDml("t007", Seq(1L, 3L),
        concat(lit("{\"k\": "), col("commit_ts").cast("string"), lit("}")))
        // one foreign-table DDL rides along: addressed-but-untracked keys
        // stay out of the view; a TRACKED addressed table would add one
        .unionByName(wireDdl(4L, "ALTER TABLE other.x ADD COLUMN y INT")),
      wireDir, nFiles = 1)
    val tracker = new SchemaTracker()
    (0 until 200).foreach(i =>
      tracker.createTable("app", f"t$i%03d", Seq("k DOUBLE"), version = 0))
    val q = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireDir), tracker, outDir, ckpt,
      "app", col("event_type"), writeDecoded(outDir))
    try q.processAllAvailable() finally q.stop()
    val viewSize = CdcStream.lastDriverCatalogSizes.get(outDir)
    assert(viewSize != null && viewSize.intValue == 1,
      s"driver catalog view must hold only the touched table, got $viewSize of 200")
    assert(spark.read.parquet(s"$outDir/data/batch=0/schema=app/table=t007")
      .select("commit_ts").as[Long].collect().toSet == Set(1L, 3L))
    // a DDL addressing a REGISTERED-but-untouched table still enters the
    // view (the dispatch needs its shape) and applies
    val wire2 = graft.util.Scratch.dir("graft_tchd_wire2")
    PbBinlogFile.write(
      wireDml("t007", Seq(11L),
        concat(lit("{\"k\": "), col("commit_ts").cast("string"), lit("}")))
        .unionByName(wireDdl(12L, "ALTER TABLE app.t123 ADD COLUMN extra BIGINT"))
        // a frame whose ROUTING EXPRESSION evaluates to null (a `when`
        // with no otherwise, below) matches no table: it must drop, not
        // poison the touched-set key sort
        .unionByName(wireDml("unrouted", Seq(14L), lit("{\"k\": 14}"))),
      wire2, nFiles = 1)
    val q2 = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wire2), tracker, outDir,
      graft.util.Scratch.dir("graft_tchd_ckpt2"), "app",
      when(col("event_type") =!= "unrouted", col("event_type")), writeDecoded(outDir))
    try q2.processAllAvailable() finally q2.stop()
    assert(CdcStream.lastDriverCatalogSizes.get(outDir).intValue == 2,
      "touched + DDL-addressed must both be in the view")
    assert(tracker.current("app", "t123").get.columns ==
      Vector("k DOUBLE", "extra BIGINT"))
    // a NULL-ts DML frame drops like a NULL-routed one, but a DDL frame
    // with a NULL commit ts has no place in the walk's order: the batch
    // fails loudly instead of decoding later rows at a stale shape
    val tracker3 = new SchemaTracker()
    tracker3.createTable("app", "t007", Seq("k DOUBLE"), version = 0)
    tracker3.createTable("app", "t123", Seq("k DOUBLE"), version = 0)
    val q3 = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wire2)
        .withColumn("commit_ts", when(col("op") === "DDL", lit(null).cast("long"))
          .otherwise(col("commit_ts"))),
      tracker3, graft.util.Scratch.dir("graft_tchd_out3"),
      graft.util.Scratch.dir("graft_tchd_ckpt3"), "app",
      when(col("event_type") =!= "unrouted", col("event_type")),
      writeDecoded(graft.util.Scratch.dir("graft_tchd_out3")))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    val e = intercept[Exception] { try q3.processAllAvailable() finally q3.stop() }
    assert(causes(e).exists(c => String.valueOf(c.getMessage)
        .contains("wire DDL frame without a commit ts")),
      s"a NULL-ts DDL frame must fail the batch, got $e")
    assert(tracker3.current("app", "t123").get.columns == Vector("k DOUBLE"),
      "a failed batch must not advance the tracker")
  }

  test("opt-in case folding: mixed-case schema/table identifiers land on one table") {
    // MySQL lower_case_table_names-style deployments (TiDB's default
    // semantics) write mixed-case names that mean ONE table — under
    // SchemaTracker(foldCase = true) registration, routing columns and
    // the wire grammar all fold schema/table to lower case, while column
    // identifiers stay exact (from_json must match the JSON keys). The
    // default policy stays case-sensitive (the existing grammar test pins
    // APP.T skipping as a case-variant foreign table).
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_fold_wire")
    val outDir = graft.util.Scratch.dir("graft_fold_out")
    val ckpt = graft.util.Scratch.dir("graft_fold_ckpt")
    def dml(ids: Seq[Long], route: String, props: Long => String) =
      wireDml(route, ids, props)
    def ddl(ts: Long, sql: String) = wireDdl(ts, sql)
    PbBinlogFile.write(
      // three spellings of the SAME table on the routing column
      dml(Seq(1L), "App:T", n => s"""{"k": ${n}.25}""")
        .unionByName(dml(Seq(3L), "APP:t", n => s"""{"k": ${n}.25}"""))
        .unionByName(ddl(10L, "ALTER TABLE `APP`.`T` ADD COLUMN extra BIGINT"))
        .unionByName(dml(Seq(11L), "app:t",
          n => s"""{"k": ${n}.25, "extra": $n}""")),
      wireDir, nFiles = 1)
    val tracker = new SchemaTracker(foldCase = true)
    tracker.createTable("App", "T", Seq("k DOUBLE"), version = 0)
    assert(tracker.current("APP", "t").get.columns == Vector("k DOUBLE"),
      "folded registration must resolve under any case")
    val q = CdcStream.ddlDrivenDecodeSchemas(
      PbBinlogFile.readStream(spark, wireDir), tracker, outDir, ckpt,
      Seq("APP"),
      substring_index(col("event_type"), ":", 1),
      substring_index(col("event_type"), ":", -1), writeDecoded(outDir))
    try q.processAllAvailable() finally q.stop()
    // one folded table: all three spellings decoded, the mixed-case DDL
    // applied, the layout dir carries the folded name
    assert(tracker.current("app", "t").get.columns ==
      Vector("k DOUBLE", "extra BIGINT"))
    val rows = spark.read
      .parquet(s"$outDir/data/batch=0/schema=app/table=t").collect()
      .map(r => r.getAs[Long]("commit_ts") ->
        ((Option(r.getAs[String]("extra_str")), r.getAs[Long]("schema_version"))))
      .toMap
    assert(rows.keySet == Set(1L, 3L, 11L), s"got ${rows.keySet}")
    assert(rows(11L) == ((Some("11"), 10L)) && rows(1L) == ((None, 0L)),
      s"got $rows")

    // contrast: the default policy keeps the spellings distinct
    val strict = new SchemaTracker()
    strict.createTable("App", "T", Seq("k DOUBLE"), version = 0)
    assert(strict.current("app", "t").isEmpty && strict.current("App", "T").isDefined)
  }

  test("decode metrics ride query progress: observed event counts merged with skip/frontier counters") {
    // A4 through the engine's own telemetry: the decode's observe() node
    // puts ddl/dml frame counts and the max commit ts into each progress
    // event, and DecodeMetricsListener merges the query's two driver-side
    // counts (skipped admin DDL, below-frontier frames) into the same
    // per-query map — the operator-facing surface the reference serves
    // from drainer/metrics.go, without reading the Spark UI
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_met_wire")
    val outDir = graft.util.Scratch.dir("graft_met_out")
    val ckpt = graft.util.Scratch.dir("graft_met_ckpt")
    def dml(ids: Seq[Long]) =
      wireDml("t", ids,
        concat(lit("{\"k\": "), col("commit_ts").cast("string"), lit("}")))
    def ddl(ts: Long, sql: String) = wireDdl(ts, sql)
    // TWO wire segments drained one per trigger → a multi-batch stream,
    // so the per-event DELTA fields are exercised across batches (each
    // segment carries one administrative skip)
    PbBinlogFile.write(
      dml(Seq(1L, 3L, 5L))
        .unionByName(ddl(6L, "CREATE INDEX i_k ON app.t (k)")),
      wireDir, nFiles = 1)
    PbBinlogFile.write(
      ddl(8L, "OPTIMIZE TABLE app.t")
        .unionByName(ddl(10L, "ALTER TABLE app.t ADD COLUMN c BIGINT"))
        .unionByName(dml(Seq(11L))),
      wireDir, nFiles = 1)
    val tracker = new SchemaTracker()
    tracker.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    val listener = new CdcStream.DecodeMetricsListener()
    // a second listener with a depth-1 history on the SAME stream: the
    // two-batch run must evict one increment and SAY SO via the
    // snapshot's deltas_dropped_total — truncation is never silent
    val shallow = new CdcStream.DecodeMetricsListener(maxDeltaDepth = 1)
    spark.streams.addListener(listener)
    spark.streams.addListener(shallow)
    try {
      val q = CdcStream.ddlDrivenDecodeTables(
        PbBinlogFile.readStream(spark, wireDir, maxFilesPerTrigger = 1),
        tracker, outDir, ckpt,
        "app", col("event_type"), writeDecoded(outDir))
      try q.processAllAvailable() finally q.stop()
      // progress events are asynchronous — poll until the last batch's
      // metrics land (its observed dml count is 1: the ts-11 frame)
      val deadline = System.currentTimeMillis + 30000
      var snap = listener.snapshot(q.id)
      while (snap.get("skipped_ddl_total") != Some(2L) &&
          System.currentTimeMillis < deadline) {
        Thread.sleep(100); snap = listener.snapshot(q.id)
      }
      assert(snap.get("dml_frames") == Some(1L), s"snapshot=$snap")
      assert(snap.get("ddl_frames") == Some(2L), s"snapshot=$snap")
      assert(snap.get("max_commit_ts") == Some(11L), s"snapshot=$snap")
      assert(snap.get("skipped_ddl_total") == Some(2L), s"snapshot=$snap")
      assert(snap.get("below_frontier_frames_total") == Some(0L), s"snapshot=$snap")
      // per-batch-exact deltas: the published increments TELESCOPE — their
      // field-wise sum equals the snapshot totals exactly, and each batch's
      // one admin skip shows as its own increment
      val ds = listener.deltas(q.id)
      assert(ds.map(_.getOrElse("skipped_ddl_delta", 0L)).sum ==
        snap("skipped_ddl_total"), s"deltas=$ds snap=$snap")
      assert(ds.map(_.getOrElse("below_frontier_frames_delta", 0L)).sum ==
        snap("below_frontier_frames_total"), s"deltas=$ds snap=$snap")
      assert(ds.count(_.getOrElse("skipped_ddl_delta", 0L) == 1L) == 2,
        s"each of the two batches must publish its own skip: $ds")
      assert(snap.get("skipped_ddl_delta").contains(
        ds.last("skipped_ddl_delta")), s"snapshot carries the latest delta")
      // the full-depth history dropped nothing; the depth-1 one dropped
      // exactly one of the two increments and reports it
      assert(snap.get("deltas_dropped_total") == Some(0L), s"snapshot=$snap")
      var snap2 = shallow.snapshot(q.id)
      val deadline2 = System.currentTimeMillis + 30000
      while (snap2.get("deltas_dropped_total") != Some(1L) &&
          System.currentTimeMillis < deadline2) {
        Thread.sleep(100); snap2 = shallow.snapshot(q.id)
      }
      assert(snap2.get("deltas_dropped_total") == Some(1L), s"snapshot=$snap2")
      assert(shallow.deltas(q.id).size == 1, s"depth-1 history must hold 1")
    } finally {
      spark.streams.removeListener(listener)
      spark.streams.removeListener(shallow)
    }
  }

  test("decode counts are per query: two concurrent decodes each read only their own skips") {
    // the counts live in one record per streaming query id, so two decode
    // queries running at once in one session never mix their totals —
    // neither through decodeCounts nor through one shared listener
    import graft.sources.PbBinlogFile
    def wire(tag: String, admin: Seq[String]): String = {
      val d = graft.util.Scratch.dir(s"graft_cnt_${tag}_wire")
      PbBinlogFile.write(
        (wireDml("t", Seq(1L, 3L), lit("""{"k": 1}""")) +:
          admin.zipWithIndex.map { case (sql, i) => wireDdl(4L + 2 * i, sql) })
          .reduce(_ unionByName _),
        d, nFiles = 1)
      d
    }
    val wires = Seq(
      wire("a", Seq("CREATE INDEX i_k ON app.t (k)")),
      wire("b", Seq("CREATE INDEX i_k ON app.t (k)", "OPTIMIZE TABLE app.t",
        "ANALYZE TABLE app.t")))
    val listener = new CdcStream.DecodeMetricsListener()
    spark.streams.addListener(listener)
    try {
      val qs = wires.map { w =>
        val tracker = new SchemaTracker()
        tracker.createTable("app", "t", Seq("k DOUBLE"), version = 0)
        CdcStream.ddlDrivenDecodeTables(PbBinlogFile.readStream(spark, w),
          tracker, graft.util.Scratch.dir("graft_cnt_out"),
          graft.util.Scratch.dir("graft_cnt_ckpt"), "app", col("event_type"),
          writeDecoded(graft.util.Scratch.dir("graft_cnt_out")))
      }
      try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
      val totals = qs.map(q => CdcStream.decodeCounts(q.id)("skipped_ddl_total"))
      assert(totals == Seq(1L, 3L), s"totals=$totals")
      val deadline = System.currentTimeMillis + 30000
      def snaps = qs.map(q => listener.snapshot(q.id).get("skipped_ddl_total"))
      while (snaps != Seq(Some(1L), Some(3L)) && System.currentTimeMillis < deadline)
        Thread.sleep(100)
      assert(snaps == Seq(Some(1L), Some(3L)), s"snapshots=$snaps")
    } finally spark.streams.removeListener(listener)
  }

  test("decode counts continue across a restart from the same checkpoint; deltas still sum to the totals") {
    // the checkpoint persists the query id, so the restarted query keys
    // the same record: its totals continue, and the listener's per-query
    // last-seen values keep the published deltas telescoping across the
    // restart
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_cntr_wire")
    val outDir = graft.util.Scratch.dir("graft_cntr_out")
    val ckpt = graft.util.Scratch.dir("graft_cntr_ckpt")
    def dml(ids: Seq[Long]) = wireDml("t", ids, lit("""{"k": 1}"""))
    PbBinlogFile.write(
      dml(Seq(1L, 3L)).unionByName(wireDdl(4L, "CREATE INDEX i_k ON app.t (k)")),
      wireDir, nFiles = 1)
    def start(tracker: SchemaTracker) = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireDir), tracker, outDir, ckpt,
      "app", col("event_type"), writeDecoded(outDir))
    def fresh() = {
      val t = new SchemaTracker()
      t.createTable("app", "t", Seq("k DOUBLE"), version = 0)
      t
    }
    val listener = new CdcStream.DecodeMetricsListener()
    spark.streams.addListener(listener)
    try {
      val q1 = start(fresh())
      try q1.processAllAvailable() finally q1.stop()
      assert(CdcStream.decodeCounts(q1.id)("skipped_ddl_total") == 1L)

      PbBinlogFile.write(
        wireDdl(6L, "OPTIMIZE TABLE app.t")
          .unionByName(wireDdl(8L, "ANALYZE TABLE app.t"))
          .unionByName(dml(Seq(9L))),
        wireDir, nFiles = 1)
      val tracker2 = fresh()
      CdcStream.recoverDecodeTracker(spark, outDir, ckpt, tracker2)
      val q2 = start(tracker2)
      try q2.processAllAvailable() finally q2.stop()
      assert(q2.id == q1.id, "the restart must resume the checkpoint's query id")
      val totals = CdcStream.decodeCounts(q2.id)
      assert(totals("skipped_ddl_total") == 3L &&
        totals("below_frontier_frames_total") == 0L, s"totals=$totals")

      val deadline = System.currentTimeMillis + 30000
      var snap = listener.snapshot(q2.id)
      while (snap.get("skipped_ddl_total") != Some(3L) &&
          System.currentTimeMillis < deadline) {
        Thread.sleep(100); snap = listener.snapshot(q2.id)
      }
      assert(snap.get("skipped_ddl_total") == Some(3L), s"snapshot=$snap")
      val ds = listener.deltas(q2.id)
      assert(ds.map(_("skipped_ddl_delta")).sum == 3L, s"deltas=$ds")
      assert(ds.map(_("below_frontier_frames_delta")).sum == 0L, s"deltas=$ds")
      assert(ds.size >= 2, s"one delta per run at least: $ds")
      assert(snap.get("deltas_dropped_total") == Some(0L), s"snapshot=$snap")
    } finally spark.streams.removeListener(listener)
  }

  test("decode metrics listener: forget drops a query's state; its next progress starts a fresh history") {
    // forget is the long-lived listener's cleanup after a query's final
    // read: snapshot and deltas empty at once, and the query's next
    // progress event (here a restart from the same checkpoint, so the same
    // id) publishes against no stale last-seen value — its first delta is
    // the whole cumulative total, and the fresh history sums to it
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_fgt_wire")
    val outDir = graft.util.Scratch.dir("graft_fgt_out")
    val ckpt = graft.util.Scratch.dir("graft_fgt_ckpt")
    def dml(ids: Seq[Long]) = wireDml("t", ids, lit("""{"k": 1}"""))
    PbBinlogFile.write(
      dml(Seq(1L, 3L)).unionByName(wireDdl(4L, "CREATE INDEX i_k ON app.t (k)")),
      wireDir, nFiles = 1)
    def start(tracker: SchemaTracker) = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireDir), tracker, outDir, ckpt,
      "app", col("event_type"), writeDecoded(outDir))
    def fresh() = {
      val t = new SchemaTracker()
      t.createTable("app", "t", Seq("k DOUBLE"), version = 0)
      t
    }
    val listener = new CdcStream.DecodeMetricsListener()
    def await(q: java.util.UUID, total: Long): Map[String, Long] = {
      val deadline = System.currentTimeMillis + 30000
      var snap = listener.snapshot(q)
      while (snap.get("skipped_ddl_total") != Some(total) &&
          System.currentTimeMillis < deadline) {
        Thread.sleep(100); snap = listener.snapshot(q)
      }
      snap
    }
    spark.streams.addListener(listener)
    try {
      val q1 = start(fresh())
      try q1.processAllAvailable() finally q1.stop()
      assert(await(q1.id, 1L).get("skipped_ddl_total") == Some(1L))
      assert(listener.deltas(q1.id).nonEmpty)
      listener.forget(q1.id)
      assert(listener.snapshot(q1.id).isEmpty)
      assert(listener.deltas(q1.id).isEmpty)

      PbBinlogFile.write(
        wireDdl(6L, "OPTIMIZE TABLE app.t")
          .unionByName(wireDdl(8L, "ANALYZE TABLE app.t"))
          .unionByName(dml(Seq(9L))),
        wireDir, nFiles = 1)
      val tracker2 = fresh()
      CdcStream.recoverDecodeTracker(spark, outDir, ckpt, tracker2)
      val q2 = start(tracker2)
      try q2.processAllAvailable() finally q2.stop()
      assert(q2.id == q1.id, "the restart must resume the checkpoint's query id")
      val snap = await(q2.id, 3L)
      assert(snap.get("skipped_ddl_total") == Some(3L), s"snapshot=$snap")
      val ds = listener.deltas(q2.id)
      assert(ds.nonEmpty && ds.head("skipped_ddl_delta") == 3L,
        s"the first delta after forget reads the whole total: $ds")
      assert(ds.map(_("skipped_ddl_delta")).sum == 3L, s"deltas=$ds")
      assert(snap.get("deltas_dropped_total") == Some(0L), s"snapshot=$snap")
    } finally spark.streams.removeListener(listener)
  }

  test("no LongAccumulator in the decode or replication pipeline sources") {
    // the decode keeps its counts in one per-query record (decodeCounts);
    // a counter parameter on these signatures would split that home again
    val files = Seq("src/main/scala/graft/streaming/CdcStream.scala",
      "src/main/scala/graft/pipeline/DrainerPipeline.scala").map(Paths.get(_))
    files.foreach(f => assert(Files.isRegularFile(f), s"$f: run from the project root"))
    val hits = files.filter(f => Files.readString(f).contains("LongAccumulator"))
    assert(hits.isEmpty, s"LongAccumulator found in ${hits.mkString(", ")}")
  }

  test("origin default reaches the target: ADD COLUMN … DEFAULT backfills pre-barrier rows") {
    // T7∘K1 parity: the reference fills origin defaults for rows that
    // predate a column (translator.go:169-227). In the replication loop
    // the fill comes from the TARGET's own ADD COLUMN … DEFAULT backfill,
    // so replicateEmit folds the origin_default record into its paired
    // add — the translated barrier statement carries the default, and
    // rows inserted BEFORE the barrier read back the default, not NULL
    import graft.pipeline.DrainerPipeline
    import graft.sinks.JdbcSchemaLoader
    import graft.sources.PbBinlogFile
    val root = graft.util.Scratch.dir("graft_odef_pump")
    val outDir = graft.util.Scratch.dir("graft_odef_out")
    val ckpt = graft.util.Scratch.dir("graft_odef_ckpt")
    def dml(ids: Seq[Long], props: Long => String) = wireDml("ta", ids, props)
    val addDdl = wireDdl(10L, "ALTER TABLE app.ta ADD COLUMN extra BIGINT DEFAULT 5 AFTER k")
    PbBinlogFile.write(
      dml(Seq(1L, 3L), n => s"""{"k": ${n}.25}""")
        .unionByName(addDdl)
        .unionByName(dml(Seq(11L, 13L),
          n => s"""{"k": ${n}.25, "extra": ${n * 10}}""")),
      s"$root/p0", nFiles = 1)
    val tracker = new SchemaTracker()
    tracker.createTable("app", "ta", Seq("k DOUBLE"), version = 0)
    val url = freshDerbyUrl("odef")
    val loader = new JdbcSchemaLoader(url, applyPartitions = 4)
    loader.createTable(
      "CREATE TABLE TA_STATE (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, K DOUBLE)")
    val q = DrainerPipeline.streamingReplicated(spark, Seq(s"$root/p0"),
      tracker, loader, outDir, ckpt, "app", col("event_type"),
      tableMap = t => t.toUpperCase + "_STATE",
      ddlToTarget = {
        // arg arrives as "BIGINT DEFAULT 5" — the folded form
        case (t, "add", c, ty) =>
          Some(s"ALTER TABLE ${t.toUpperCase}_STATE ADD COLUMN ${c.toUpperCase} $ty")
        case _ => None
      })
    try q.processAllAvailable() finally q.stop()
    val rows = loader.readTable(spark, "TA_STATE", Some("PK")).collect()
      .map(r => r.getAs[Long]("PK") ->
        Option(r.getAs[java.lang.Long]("EXTRA")).map(_.longValue)).toMap
    assert(rows.keySet == Set(1L, 3L, 11L, 13L), s"got ${rows.keySet}")
    assert(rows(1L) == Some(5L) && rows(3L) == Some(5L),
      s"pre-barrier rows must read the origin default back, got $rows")
    assert(rows(11L) == Some(110L) && rows(13L) == Some(130L), s"got $rows")
  }

  test("wire column DDL option tails: add-column-with-default decodes; origin default survives restart") {
    // the verdict-r12 robustness gap: `ALTER TABLE s.t ADD COLUMN c INT
    // DEFAULT 5 AFTER k` is ROUTINE real traffic (ref:
    // tests/dailytest/case.go:386-485 runs add-column-with-default under
    // load) and used to fail loudly at the decodability check — the
    // normalizer must strip the decode-neutral tail, the decode must ride
    // on, and the stripped DEFAULT must survive as the column's ORIGIN
    // default (ref: drainer/translator/translator.go:169-227), including
    // across a restart replay of the durable log
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_tail_wire")
    val outDir = graft.util.Scratch.dir("graft_tail_out")
    val ckpt = graft.util.Scratch.dir("graft_tail_ckpt")
    def dml(ids: Seq[Long], props: Long => String) = wireDml("t", ids, props)
    def ddl(ts: Long, sql: String) = wireDdl(ts, sql)
    PbBinlogFile.write(
      dml(Seq(1L, 3L), n => s"""{"k": ${n}.25}""")
        .unionByName(ddl(10L,
          "ALTER TABLE app.t ADD COLUMN c INT DEFAULT 5 AFTER k"))
        .unionByName(dml(Seq(11L, 13L), n => s"""{"k": ${n}.25, "c": $n}"""))
        // a MODIFY with charset junk applies the retype and DISCARDS its
        // default tail — the origin default is the ADD-time value
        .unionByName(ddl(14L,
          "ALTER TABLE app.t MODIFY COLUMN c BIGINT CHARACTER SET utf8mb4 COLLATE utf8mb4_bin DEFAULT 99"))
        .unionByName(dml(Seq(15L), n => s"""{"k": ${n}.25, "c": $n}""")),
      wireDir, nFiles = 1)
    val tracker = new SchemaTracker()
    tracker.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    val q = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireDir), tracker, outDir, ckpt,
      "app", col("event_type"), writeDecoded(outDir))
    try q.processAllAvailable() finally q.stop()
    assert(tracker.current("app", "t").get.columns ==
      Vector("k DOUBLE", "c BIGINT"))
    assert(tracker.originDefault("app", "t", "c") == Some("5"),
      "the ADD-time DEFAULT is the origin default; MODIFY must not change it")
    val rows = spark.read.parquet(s"$outDir/data/batch=0/schema=app/table=t").collect()
      .map(r => r.getAs[Long]("commit_ts") ->
        ((Option(r.getAs[String]("c_str")), r.getAs[Long]("schema_version"))))
      .toMap
    assert(rows.size == 5)
    assert(rows(3L) == ((None, 0L)), "pre-add frames carry no c")
    assert(rows(11L) == ((Some("11"), 10L)) && rows(13L) == ((Some("13"), 10L)),
      s"post-add frames must decode c, got $rows")
    assert(rows(15L) == ((Some("15"), 14L)), "post-modify frames at the retype version")

    // restart: the origin_default record replays from the durable log
    val tracker2 = new SchemaTracker()
    tracker2.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    CdcStream.recoverDecodeTracker(spark, outDir, ckpt, tracker2)
    assert(tracker2.current("app", "t").get.columns ==
      Vector("k DOUBLE", "c BIGINT"))
    assert(tracker2.originDefault("app", "t", "c") == Some("5"),
      "origin default must survive the restart replay")

    // and a wire CREATE TABLE's per-column defaults register the same way
    val wire2 = graft.util.Scratch.dir("graft_tail_wire2")
    val out2 = graft.util.Scratch.dir("graft_tail_out2")
    val ckpt2 = graft.util.Scratch.dir("graft_tail_ckpt2")
    PbBinlogFile.write(
      ddl(20L, "CREATE TABLE app.tn (id BIGINT NOT NULL, v INT DEFAULT 7, PRIMARY KEY (id))")
        .unionByName(dml(Seq(21L), n => s"""{"id": $n, "v": $n}""")
          .withColumn("event_type", lit("tn"))),
      wire2, nFiles = 1)
    val tracker3 = new SchemaTracker()
    tracker3.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    val q2 = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wire2), tracker3, out2, ckpt2,
      "app", col("event_type"), writeDecoded(out2))
    try q2.processAllAvailable() finally q2.stop()
    assert(tracker3.current("app", "tn").get.columns ==
      Vector("id BIGINT NOT NULL", "v INT"),
      "NOT NULL survives in the def; constraints and DEFAULT drop out")
    assert(tracker3.originDefault("app", "tn", "v") == Some("7"))
    val tn = spark.read.parquet(s"$out2/data/batch=0/schema=app/table=tn").collect()
      .map(r => (r.getAs[Long]("commit_ts"), r.getAs[String]("id_str"),
        r.getAs[String]("v_str")))
    assert(tn.toSeq == Seq((21L, "21", "21")),
      "a NOT NULL def must still decode through from_json")
  }

  test("online-schema-change cutover: CREATE LIKE + chained atomic RENAME follow through the decode") {
    // the gh-ost/pt-osc flow on the wire: create the ghost table LIKE the
    // original, reshape it, then the atomic chained cutover
    // `RENAME TABLE t TO _t_old, _t_new TO t` — the decode must follow
    // every step, and a RESTART must replay the chain in STATEMENT order
    // (the log's seq column: sorted by name, `_t_new TO t` would replay
    // first and hit an occupied target)
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_osc_wire")
    val outDir = graft.util.Scratch.dir("graft_osc_out")
    val ckpt = graft.util.Scratch.dir("graft_osc_ckpt")
    def dml(tbl: String, ids: Seq[Long], props: Long => String) =
      wireDml(tbl, ids, props)
    def ddl(ts: Long, sql: String) = wireDdl(ts, sql)
    PbBinlogFile.write(
      dml("t", Seq(2L, 4L), n => s"""{"k": ${n}.25}""")
        .unionByName(ddl(6L, "CREATE TABLE app._t_new LIKE app.t"))
        .unionByName(ddl(8L, "ALTER TABLE app._t_new ADD COLUMN extra BIGINT"))
        .unionByName(dml("_t_new", Seq(10L),
          n => s"""{"k": ${n}.25, "extra": $n}"""))
        .unionByName(ddl(14L,
          "RENAME TABLE app.t TO app._t_old, app._t_new TO app.t"))
        .unionByName(dml("t", Seq(16L),
          n => s"""{"k": ${n}.25, "extra": $n}""")),
      wireDir, nFiles = 1)
    val tracker = new SchemaTracker()
    tracker.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    val q = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireDir), tracker, outDir, ckpt,
      "app", col("event_type"), writeDecoded(outDir))
    try q.processAllAvailable() finally q.stop()
    assert(tracker.tablesOf("app") == Seq("_t_old", "t"))
    assert(tracker.current("app", "t").get.columns ==
      Vector("k DOUBLE", "extra BIGINT") &&
      tracker.current("app", "t").get.version == 14L,
      "post-cutover t must carry the ghost table's widened shape")
    assert(tracker.current("app", "_t_old").get.columns == Vector("k DOUBLE"))
    val tRows = spark.read.parquet(s"$outDir/data/batch=0/schema=app/table=t").collect()
      .map(r => r.getAs[Long]("commit_ts") ->
        ((Option(r.getAs[String]("extra_str")), r.getAs[Long]("schema_version"))))
      .toMap
    // pre-cutover frames decode as the ORIGINAL table, post-cutover ones
    // as the renamed-in ghost (same name-keyed dir, disambiguated by
    // schema_version)
    assert(tRows == Map(2L -> ((None, 0L)), 4L -> ((None, 0L)),
      16L -> ((Some("16"), 14L))), s"cutover decode window wrong: $tRows")

    // the restart is where statement order matters: replayed by seq the
    // chain applies t→_t_old then _t_new→t; name-sorted it would wedge
    val tracker2 = new SchemaTracker()
    tracker2.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    CdcStream.recoverDecodeTracker(spark, outDir, ckpt, tracker2)
    assert(tracker2.tablesOf("app") == Seq("_t_old", "t") &&
      tracker2.current("app", "t").get.columns ==
        Vector("k DOUBLE", "extra BIGINT"))
  }

  test("multi-schema decode: two databases on one wire, per-schema histories, cross-schema rename, DROP DATABASE") {
    // the reference catalog tracks EVERY schema on the wire at once
    // (ref: drainer/schema.go:43-62 `schemas` map; drainer/syncer.go:374-397
    // routes by (schema, table)): two databases may carry the same table
    // NAME, each schema's DDL reshapes only its own tables, a RENAME may
    // re-home a table ACROSS schemas (schema.go:360-561 follows the table
    // id), and DROP DATABASE ends every table of that schema — all
    // restart-safe through the one shared DDL log.
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_msch_wire")
    val outDir = graft.util.Scratch.dir("graft_msch_out")
    val ckpt = graft.util.Scratch.dir("graft_msch_ckpt")

    def dml(route: String, ids: Seq[Long], props: Long => String) =
      wireDml(route, ids, props)
    def ddl(ts: Long, sql: String) = wireDdl(ts, sql)
    // route column carries "schema:table"
    val schemaOf = substring_index(col("event_type"), ":", 1)
    val tableOf = substring_index(col("event_type"), ":", -1)
    def freshTracker() = {
      val t = new SchemaTracker()
      t.createTable("sa", "t", Seq("k DOUBLE"), version = 0)
      t.createTable("sb", "t", Seq("k DOUBLE"), version = 0)
      t
    }

    // batch 0: same table NAME in both schemas; sa's ADD at 40 and sb's
    // MODIFY at 50 must each reshape only their OWN schema's table
    PbBinlogFile.write(
      dml("sa:t", (1L to 39L by 2), n => s"""{"k": ${n}.25}""")
        .unionByName(dml("sa:t", (41L to 79L by 2),
          n => s"""{"k": ${n}.25, "extra": ${n * 10}}"""))
        .unionByName(dml("sb:t", (2L to 80L by 2), n => s"""{"k": ${n}.25}"""))
        .unionByName(ddl(40L, "ALTER TABLE sa.t ADD COLUMN extra BIGINT"))
        .unionByName(ddl(50L, "ALTER TABLE sb.t MODIFY COLUMN k DECIMAL(10,1)")),
      wireDir, nFiles = 1)
    val tracker = freshTracker()
    val q1 = CdcStream.ddlDrivenDecodeSchemas(
      PbBinlogFile.readStream(spark, wireDir), tracker, outDir, ckpt,
      Seq("sa", "sb"), schemaOf, tableOf, writeDecoded(outDir))
    try q1.processAllAvailable() finally q1.stop()
    assert(tracker.current("sa", "t").get.columns ==
      Vector("k DOUBLE", "extra BIGINT"))
    assert(tracker.current("sb", "t").get.columns == Vector("k DECIMAL(10,1)"))
    val sb0 = spark.read.parquet(s"$outDir/data/batch=0/schema=sb/table=t")
    assert(sb0.columns.toSeq.sorted ==
      Seq("commit_ts", "k_str", "op", "pk", "schema_version"),
      s"sa's DDL leaked into sb's decode: ${sb0.columns.toSeq}")
    val sbRows = sb0.collect().map(r => r.getAs[Long]("commit_ts") ->
      ((r.getAs[String]("k_str"), r.getAs[Long]("schema_version")))).toMap
    assert(sbRows.size == 40)
    (2L to 80L by 2).foreach { n =>
      val expect = if (n <= 50L) (s"$n.25", 0L) else (s"$n.3", 50L)
      assert(sbRows(n) == expect, s"sb.t row $n: ${sbRows(n)}")
    }
    val saRows = spark.read.parquet(s"$outDir/data/batch=0/schema=sa/table=t")
      .collect().map(r => r.getAs[Long]("commit_ts") ->
        ((Option(r.getAs[String]("extra_str")), r.getAs[Long]("schema_version")))).toMap
    assert(saRows.size == 40)
    (1L to 79L by 2).foreach { n =>
      val expect = if (n <= 40L) (None, 0L) else (Some((n * 10).toString), 40L)
      assert(saRows(n) == expect, s"sa.t row $n: ${saRows(n)}")
    }

    // restart: both schemas' histories replay from the one shared log
    val tracker2 = freshTracker()
    CdcStream.recoverDecodeTracker(spark, outDir, ckpt, tracker2)
    assert(tracker2.current("sa", "t").get.columns ==
      Vector("k DOUBLE", "extra BIGINT") &&
      tracker2.current("sb", "t").get.columns == Vector("k DECIMAL(10,1)"))

    // batch 1: RENAME TABLE sa.t TO sb.t2 — the history re-homes ACROSS
    // schemas; in-flight frames under the old (schema, name) decode now,
    // later frames arrive under the new one and continue the widened shape
    PbBinlogFile.write(
      dml("sa:t", Seq(96L, 98L), n => s"""{"k": ${n}.25, "extra": ${n * 10}}""")
        .unionByName(ddl(100L, "RENAME TABLE sa.t TO sb.t2"))
        .unionByName(dml("sb:t2", Seq(104L, 108L),
          n => s"""{"k": ${n}.25, "extra": ${n * 10}}"""))
        .unionByName(dml("sb:t", Seq(102L), n => s"""{"k": ${n}.25}""")),
      wireDir, nFiles = 1)
    val q2 = CdcStream.ddlDrivenDecodeSchemas(
      PbBinlogFile.readStream(spark, wireDir), tracker2, outDir, ckpt,
      Seq("sa", "sb"), schemaOf, tableOf, writeDecoded(outDir))
    try q2.processAllAvailable() finally q2.stop()
    assert(tracker2.tablesOf("sa") == Seq() &&
      tracker2.tablesOf("sb") == Seq("t", "t2"))
    assert(tracker2.current("sb", "t2").get.columns ==
      Vector("k DOUBLE", "extra BIGINT") &&
      tracker2.current("sb", "t2").get.version == 100L)
    val saOld = spark.read.parquet(s"$outDir/data/batch=1/schema=sa/table=t")
      .select("commit_ts").as[Long].collect().toSet
    assert(saOld == Set(96L, 98L), s"in-flight frames under the old home: $saOld")
    val t2Rows = spark.read.parquet(s"$outDir/data/batch=1/schema=sb/table=t2")
      .collect().map(r => r.getAs[Long]("commit_ts") ->
        ((r.getAs[String]("extra_str"), r.getAs[Long]("schema_version")))).toMap
    assert(t2Rows == Map(104L -> (("1040", 100L)), 108L -> (("1080", 100L))),
      s"re-homed table must keep the widened shape: $t2Rows")

    // second restart: the cross-schema rename replays from the log
    val tracker3 = freshTracker()
    CdcStream.recoverDecodeTracker(spark, outDir, ckpt, tracker3)
    assert(tracker3.tablesOf("sa") == Seq() &&
      tracker3.tablesOf("sb") == Seq("t", "t2") &&
      tracker3.current("sb", "t2").get.columns == Vector("k DOUBLE", "extra BIGINT"))

    // batch 2: DROP DATABASE sb ends BOTH of sb's tables — in-flight
    // frames at/below the drop decode, later ones are unaddressable
    PbBinlogFile.write(
      dml("sb:t", Seq(106L), n => s"""{"k": ${n}.25}""")
        .unionByName(dml("sb:t2", Seq(109L),
          n => s"""{"k": ${n}.25, "extra": ${n * 10}}"""))
        .unionByName(ddl(110L, "DROP DATABASE sb"))
        .unionByName(dml("sb:t2", Seq(112L),
          n => s"""{"k": ${n}.25, "extra": ${n * 10}}""")),
      wireDir, nFiles = 1)
    val q3 = CdcStream.ddlDrivenDecodeSchemas(
      PbBinlogFile.readStream(spark, wireDir), tracker3, outDir, ckpt,
      Seq("sa", "sb"), schemaOf, tableOf, writeDecoded(outDir))
    try q3.processAllAvailable() finally q3.stop()
    assert(tracker3.tablesOf("sb") == Seq())
    val sbT = spark.read.parquet(s"$outDir/data/batch=2/schema=sb/table=t")
      .select("commit_ts").as[Long].collect().toSet
    val sbT2 = spark.read.parquet(s"$outDir/data/batch=2/schema=sb/table=t2")
      .select("commit_ts").as[Long].collect().toSet
    assert(sbT == Set(106L) && sbT2 == Set(109L),
      s"drop database must keep in-flight frames and drop later ones: $sbT / $sbT2")

    // third restart: the whole multi-schema history (rename + schema drop)
    // replays into the same end state
    val tracker4 = freshTracker()
    CdcStream.recoverDecodeTracker(spark, outDir, ckpt, tracker4)
    assert(tracker4.tablesOf("sa") == Seq() && tracker4.tablesOf("sb") == Seq())

    // a rename whose target schema is OUTSIDE the decode's set still
    // fails loudly — skipping it would silently detach replication
    val wireX = graft.util.Scratch.dir("graft_msch_wirex")
    PbBinlogFile.write(
      dml("sa:t", Seq(1L), n => s"""{"k": ${n}.25}""")
        .unionByName(ddl(2L, "RENAME TABLE sa.t TO sc.t")),
      wireX, nFiles = 1)
    val trackerX = new SchemaTracker()
    trackerX.createTable("sa", "t", Seq("k DOUBLE"), version = 0)
    val qx = CdcStream.ddlDrivenDecodeSchemas(
      PbBinlogFile.readStream(spark, wireX), trackerX,
      graft.util.Scratch.dir("graft_msch_outx"),
      graft.util.Scratch.dir("graft_msch_ckptx"),
      Seq("sa"), schemaOf, tableOf,
      writeDecoded(graft.util.Scratch.dir("graft_msch_outx")))
    val ex = intercept[Exception] { try qx.processAllAvailable() finally qx.stop() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c => String.valueOf(c.getMessage)
      .contains("outside the decode's schema set")), s"got $ex")
  }

  test("multi-schema decode over one schema keeps the schema match: a foreign schema's same-name table stays out") {
    // the single-schema decode matches legs on the table alone; the
    // multi-schema decode must not, even when its set holds one schema —
    // its routed schema can name a foreign database's table of that name
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_one_schema_wire")
    val outDir = graft.util.Scratch.dir("graft_one_schema_out")
    val ckpt = graft.util.Scratch.dir("graft_one_schema_ckpt")
    PbBinlogFile.write(
      wireDml("sa:t", (1L to 9L by 2), n => s"""{"k": ${n}.25}""")
        .unionByName(wireDml("sb:t", (2L to 10L by 2), n => s"""{"k": ${n}.5}""")),
      wireDir, nFiles = 1)
    val tracker = new SchemaTracker()
    tracker.createTable("sa", "t", Seq("k DOUBLE"), version = 0)
    val q = CdcStream.ddlDrivenDecodeSchemas(
      PbBinlogFile.readStream(spark, wireDir), tracker, outDir, ckpt,
      Seq("sa"), substring_index(col("event_type"), ":", 1),
      substring_index(col("event_type"), ":", -1), writeDecoded(outDir))
    try q.processAllAvailable() finally q.stop()
    val rows = spark.read.parquet(s"$outDir/data/batch=0/schema=sa/table=t")
      .select("commit_ts", "k_str").as[(Long, String)].collect().sorted.toSeq
    assert(rows == (1L to 9L by 2).map(n => n -> s"$n.25"))
    assert(!new java.io.File(s"$outDir/data/batch=0/schema=sb").exists())
  }

  test("streamed FLASHBACK TABLE and CREATE TABLE LIKE: recovery and shape-copy on the wire") {
    // TiDB FLASHBACK recovers a dropped table inside the GC window (ref:
    // drainer/schema.go:435 — ActionRecoverTable handled like a create
    // with the dropped shape): same-batch recovery reads the batch-local
    // graveyard, cross-batch recovery the tracker's; CREATE LIKE registers
    // with the source's CURRENT shape. All restart-safe through the log
    // (the recover_table action, the LIKE resolved to plain defs).
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_fb_wire")
    val outDir = graft.util.Scratch.dir("graft_fb_out")
    val ckpt = graft.util.Scratch.dir("graft_fb_ckpt")
    def dml(tbl: String, ids: Seq[Long]) =
      wireDml(tbl, ids, concat(lit("{\"k\": "), col("commit_ts"), lit(".25}")))
    def ddl(ts: Long, sql: String) = wireDdl(ts, sql)

    // batch 0: drop + SAME-batch flashback (batch-local graveyard), then
    // CREATE LIKE off the recovered table
    PbBinlogFile.write(
      dml("t", Seq(2L, 4L, 8L, 12L))
        .unionByName(ddl(6L, "DROP TABLE app.t"))
        .unionByName(ddl(10L, "FLASHBACK TABLE app.t"))
        .unionByName(ddl(14L, "CREATE TABLE app.t2 LIKE app.t"))
        .unionByName(dml("t2", Seq(16L))),
      wireDir, nFiles = 1)
    val tracker = new SchemaTracker()
    tracker.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    val q1 = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireDir), tracker, outDir, ckpt,
      "app", col("event_type"), writeDecoded(outDir))
    try q1.processAllAvailable() finally q1.stop()
    assert(tracker.tablesOf("app") == Seq("t", "t2"))
    assert(tracker.current("app", "t").get.version == 10L &&
      tracker.current("app", "t2").get.columns == Vector("k DOUBLE"))
    val t0 = spark.read.parquet(s"$outDir/data/batch=0/schema=app/table=t").collect()
      .map(r => r.getAs[Long]("commit_ts") -> r.getAs[Long]("schema_version"))
      .toMap
    // 8 fell between drop and flashback: unaddressable, dropped
    assert(t0 == Map(2L -> 0L, 4L -> 0L, 12L -> 10L),
      s"flashback decode window wrong: $t0")
    assert(spark.read.parquet(s"$outDir/data/batch=0/schema=app/table=t2").collect()
      .map(r => (r.getAs[Long]("commit_ts"), r.getAs[Long]("schema_version")))
      .toSeq == Seq((16L, 14L)))

    // restart: drop + recover + resolved LIKE all replay from the log
    val tracker2 = new SchemaTracker()
    tracker2.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    CdcStream.recoverDecodeTracker(spark, outDir, ckpt, tracker2)
    assert(tracker2.tablesOf("app") == Seq("t", "t2"))

    // batch 1: drop t2; batch 2: CROSS-batch FLASHBACK … TO a new name
    // (shape from the tracker's graveyard, replayed by the restart)
    PbBinlogFile.write(ddl(20L, "DROP TABLE app.t2"), wireDir, nFiles = 1)
    val q2 = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireDir), tracker2, outDir, ckpt,
      "app", col("event_type"), writeDecoded(outDir))
    try q2.processAllAvailable() finally q2.stop()
    assert(tracker2.tablesOf("app") == Seq("t"))
    PbBinlogFile.write(
      ddl(24L, "FLASHBACK TABLE app.t2 TO t3")
        .unionByName(dml("t3", Seq(26L))),
      wireDir, nFiles = 1)
    val q3 = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireDir), tracker2, outDir, ckpt,
      "app", col("event_type"), writeDecoded(outDir))
    try q3.processAllAvailable() finally q3.stop()
    assert(tracker2.tablesOf("app") == Seq("t", "t3") &&
      tracker2.current("app", "t3").get.columns == Vector("k DOUBLE"))
    assert(spark.read.parquet(s"$outDir/data/batch=2/schema=app/table=t3").collect()
      .map(r => (r.getAs[Long]("commit_ts"), r.getAs[Long]("schema_version")))
      .toSeq == Seq((26L, 24L)))

    // full-history restart: drop → recover-as-t3 replays end to end
    val tracker3 = new SchemaTracker()
    tracker3.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    CdcStream.recoverDecodeTracker(spark, outDir, ckpt, tracker3)
    assert(tracker3.tablesOf("app") == Seq("t", "t3"))

    // duplicated FLASHBACK: the first consumes the batch-local shape; the
    // second must fail LOUDLY at the statement — a STALE older
    // incarnation in the tracker's graveyard (from a drop committed long
    // ago) must not serve it, which would durably log a recover the
    // commit walk can never apply
    val wireD = graft.util.Scratch.dir("graft_fb_dup_wire")
    val trackerD = new SchemaTracker()
    trackerD.createTable("app", "t", Seq("old DOUBLE"), version = 0)
    trackerD.dropTable("app", "t", version = 1) // stale graveyard incarnation
    trackerD.createTable("app", "z", Seq("k DOUBLE"), version = 0)
    PbBinlogFile.write(
      dml("z", Seq(48L))
        .unionByName(ddl(40L, "CREATE TABLE app.t (b BIGINT)"))
        .unionByName(ddl(42L, "DROP TABLE app.t"))
        .unionByName(ddl(44L, "FLASHBACK TABLE app.t TO t5"))
        .unionByName(ddl(46L, "FLASHBACK TABLE app.t TO t6")),
      wireD, nFiles = 1)
    val qd = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireD), trackerD,
      graft.util.Scratch.dir("graft_fb_dup_out"),
      graft.util.Scratch.dir("graft_fb_dup_ckpt"),
      "app", col("event_type"),
      writeDecoded(graft.util.Scratch.dir("graft_fb_dup_out")))
    val ed = intercept[Exception] { try qd.processAllAvailable() finally qd.stop() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ed).exists(c => String.valueOf(c.getMessage)
      .contains("no recoverable drop-time shape")),
      s"stale graveyard incarnation served a duplicated FLASHBACK: $ed")
  }

  test("FLASHBACK restores a dropped table's ENUM dictionary, so a MODIFY off the enum clears it") {
    // regression: the walk once recovered a dropped table with its columns
    // only, so a later MODIFY of the ENUM column logged no dictionary
    // clear — while the commit's recoverTable restored the dictionary and
    // kept it forever, live and on every restart from the log. Checked
    // within one batch and across two (DROP, then FLASHBACK + MODIFY).
    import graft.sources.PbBinlogFile
    def ddl(ts: Long, sql: String) = wireDdl(ts, sql)
    def seeded(): SchemaTracker = {
      val t = new SchemaTracker()
      t.createTable("app", "t", Seq("k DOUBLE", "e STRING"), version = 0)
      t.setDictionary("app", "t", "e", Vector("a", "b"), version = 0)
      t
    }
    def check(tag: String, batches: Seq[org.apache.spark.sql.DataFrame]): Unit = {
      val wireDir = graft.util.Scratch.dir(s"graft_fbdict_wire_$tag")
      val outDir = graft.util.Scratch.dir(s"graft_fbdict_out_$tag")
      val ckpt = graft.util.Scratch.dir(s"graft_fbdict_ckpt_$tag")
      val tracker = seeded()
      batches.foreach { b =>
        PbBinlogFile.write(b, wireDir, nFiles = 1)
        val q = CdcStream.ddlDrivenDecodeTables(
          PbBinlogFile.readStream(spark, wireDir), tracker, outDir, ckpt,
          "app", col("event_type"), writeDecoded(outDir))
        try q.processAllAvailable() finally q.stop()
      }
      val restarted = seeded()
      CdcStream.recoverDecodeTracker(spark, outDir, ckpt, restarted)
      Seq("live" -> tracker, "restarted" -> restarted).foreach { case (who, t) =>
        assert(t.current("app", "t").isDefined, s"$tag/$who: not recovered")
        assert(t.dictionary("app", "t", "e").isEmpty,
          s"$tag/$who: stale dictionary ${t.dictionary("app", "t", "e")}")
      }
    }
    val drop = ddl(2L, "DROP TABLE app.t")
    val flashbackModify = ddl(4L, "FLASHBACK TABLE app.t")
      .unionByName(ddl(6L, "ALTER TABLE app.t MODIFY COLUMN e VARCHAR(10)"))
    check("one_batch", Seq(drop.unionByName(flashbackModify)))
    check("two_batches", Seq(drop, flashbackModify))
  }

  test("TRUNCATE clears batch-local defs: a column dropped earlier in the batch cannot poison emit") {
    // regression: DROP COLUMN then TRUNCATE in ONE micro-batch — the drop
    // leaves `e` in the batch's def accumulator (pre-barrier values stay
    // addressable), but the truncate then discards every pre-truncate
    // slice, so an emit selecting `e_str` by those defs would throw an
    // AnalysisException on every replay and wedge the stream. The defs
    // must clear WITH the slices.
    import graft.sources.PbBinlogFile
    val wireDir = graft.util.Scratch.dir("graft_trdef_wire")
    val outDir = graft.util.Scratch.dir("graft_trdef_out")
    val ckpt = graft.util.Scratch.dir("graft_trdef_ckpt")
    def dml(ids: Seq[Long], props: Long => String) = wireDml("t", ids, props)
    def ddl(ts: Long, sql: String) = wireDdl(ts, sql)
    PbBinlogFile.write(
      dml(Seq(2L), n => s"""{"k": ${n}.25, "e": $n}""")
        .unionByName(ddl(4L, "ALTER TABLE app.t DROP COLUMN e"))
        .unionByName(dml(Seq(6L), n => s"""{"k": ${n}.25}"""))
        .unionByName(ddl(8L, "TRUNCATE TABLE app.t"))
        .unionByName(dml(Seq(10L), n => s"""{"k": ${n}.25}""")),
      wireDir, nFiles = 1)
    val tracker = new SchemaTracker()
    tracker.createTable("app", "t", Seq("k DOUBLE", "e BIGINT"), version = 0)
    var emitted = Map.empty[String, (Seq[String], Set[Long])]
    val q = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, wireDir), tracker, outDir, ckpt,
      "app", col("event_type"),
      emit = { case (_, frames, _) =>
        emitted = frames.map { case ((_, t), (defs, df)) =>
          // select strictly BY THE DEFS, the composing-sink contract —
          // a stale def of the dropped column would throw right here
          val cols = defs.map(d => col(d.split(" ", 2)(0) + "_str"))
          t -> ((defs, df.select(col("commit_ts") +: cols: _*)
            .collect().map(_.getLong(0)).toSet))
        }
      })
    try q.processAllAvailable() finally q.stop()
    val (defs, rows) = emitted("t")
    assert(defs == Seq("k DOUBLE"),
      s"defs of the pre-truncate incarnation survived the truncate: $defs")
    assert(rows == Set(10L), s"pre-truncate rows survived: $rows")
    assert(tracker.current("app", "t").get.columns == Vector("k DOUBLE"))
  }

  test("per-touched-table batch work fans out on the bounded worker pool") {
    // the reference applies tables across 16 parallel workers
    // (pkg/loader/load.go:508-527); the loader's between-barrier applies
    // ride graft.util.Par the same way — a batch touching N tables must
    // overlap their jobs, not serialize N driver submissions. The peak
    // gauge is the machine-checkable witness of real overlap.
    import graft.sinks.JdbcSchemaLoader
    import spark.implicits._
    val loader = new JdbcSchemaLoader(freshDerbyUrl("par"), applyPartitions = 2)
    val tables = (1 to 6).map(i => s"T${i}_STATE")
    tables.foreach(t => loader.createTable(
      s"CREATE TABLE $t (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, K DOUBLE)"))
    // per table: two inserts, then an update of pk 1 — one merged image
    // per key lands
    val slices = tables.zipWithIndex.map { case (t, i) =>
      t -> Seq((1L, 10L + i, "I", 1.25), (2L, 20L + i, "I", 2.25),
        (1L, 30L + i, "U", 3.25)).toDF("pk", "commit_ts", "op", "k")
    }.toMap
    graft.util.Par.resetPeak()
    assert(loader.applyBatch(slices, 0L))
    assert(graft.util.Par.peakObserved >= 2,
      s"6 tables' applies never overlapped (peak ${graft.util.Par.peakObserved})")
    tables.zipWithIndex.foreach { case (t, i) =>
      val rows = loader.readTable(spark, t, Some("PK"))
        .select("PK", "COMMIT_TS", "K").as[(Long, Long, Double)].collect().sorted.toSeq
      assert(rows == Seq((1L, 30L + i, 3.25), (2L, 20L + i, 2.25)), s"$t: $rows")
    }
    // failure contract: every task awaited, FIRST failure (item order)
    // rethrown — deterministic under replay
    val e = intercept[IllegalStateException] {
      graft.util.Par.mapPar(1 to 4)(i =>
        if (i % 2 == 0) throw new IllegalStateException(s"boom$i") else i)
    }
    assert(e.getMessage == "boom2")
  }

  test("T2∘T5∘T6: the multi-pump merged wire keeps the decode frontier clean") {
    // ties the k-way merge's min-frontier delivery guarantee (the
    // streamingMerged topology's per-pump watermarks) to the versioned
    // decode that depends on it: across the full multi-pump composition,
    // no frame arrives below the applied DDL frontier — the query's
    // below_frontier_frames_total must stay ZERO end-to-end, and every
    // frame decodes at its correct version
    import graft.sources.PbBinlogFile
    val root = graft.util.Scratch.dir("graft_t2t5_pumps")
    val outDir = graft.util.Scratch.dir("graft_t2t5_out")
    val ckpt = graft.util.Scratch.dir("graft_t2t5_ckpt")
    def dml(ids: Seq[Long]) = wireDml("row", ids, concat(lit("{\"k\": "),
      (col("commit_ts").cast("double") + 0.25).cast("string"), lit("}")))
    val ddl50 = wireDdl(50L, "ALTER TABLE app.events MODIFY COLUMN k DECIMAL(10,1)")
    val pumps = Seq(s"$root/p0", s"$root/p1")
    // stage 1: both pumps deliver up to ts 60, the DDL rides pump 0
    PbBinlogFile.write(dml((1L to 59L by 2)).unionByName(ddl50), pumps(0), nFiles = 1)
    PbBinlogFile.write(dml((2L to 60L by 2)), pumps(1), nFiles = 1)
    val tracker = new SchemaTracker()
    tracker.createTable("app", "events", Seq("k DOUBLE"), version = 0)
    // the product topology: mergedWireStream (one watermark PER pump
    // before the union, min frontier), then the versioned decode over it
    val merged = CdcStream.mergedWireStream(spark, pumps, delay = "1 hour")
    val q = CdcStream.ddlDrivenDecodeTables(merged, tracker, outDir, ckpt,
      "app", lit("events"), writeDecoded(outDir))
    try {
      q.processAllAvailable()
      // stage 2: both pumps deliver PAST the applied frontier (ts 50) —
      // the ordered-delivery contract the merge guarantees
      PbBinlogFile.write(dml((61L to 99L by 2)), pumps(0), nFiles = 1)
      PbBinlogFile.write(dml((62L to 100L by 2)), pumps(1), nFiles = 1)
      q.processAllAvailable()
    } finally q.stop()
    val below = CdcStream.decodeCounts(q.id)("below_frontier_frames_total")
    assert(below == 0L,
      s"the merged topology must never deliver below the frontier: $below")
    val out = spark.read.parquet(s"$outDir/data").collect()
      .map(r => r.getAs[Long]("commit_ts") -> r.getAs[Long]("schema_version")).toMap
    assert(out.size == 100)
    (1L to 100L).foreach(n =>
      assert(out(n) == (if (n <= 50L) 0L else 50L), s"row $n at v${out(n)}"))
  }

  test("streamingReplicated: merged pumps → versioned decode → JDBC target, DDL barrier included") {
    // the drainer's COMPLETE loop as one streaming query: two pump binlog
    // dirs → min-frontier merge → multi-table versioned decode → the
    // schema-driven loader. The wire ADD COLUMN re-types the decode AND
    // (translated) executes on the Derby target at the loader's global
    // barrier, so post-barrier rows of the SAME batch insert the new
    // column while pre-barrier rows insert without it (pkg/loader/
    // load.go:845-866 column refresh on DDL).
    import graft.pipeline.DrainerPipeline
    import graft.sinks.JdbcSchemaLoader
    import graft.sources.PbBinlogFile
    val root = graft.util.Scratch.dir("graft_repl_pumps")
    val outDir = graft.util.Scratch.dir("graft_repl_out")
    val ckpt = graft.util.Scratch.dir("graft_repl_ckpt")
    def dml(tbl: String, ids: Seq[Long], props: Long => String) =
      wireDml(tbl, ids, props)
    val addDdl = wireDdl(40L, "ALTER TABLE app.ta ADD COLUMN extra BIGINT")
    // ta rides pump 0 (odd ts, the DDL with it), tb rides pump 1 (even ts)
    PbBinlogFile.write(
      dml("ta", (1L to 39L by 2), n => s"""{"k": ${n}.25}""")
        .unionByName(dml("ta", (41L to 79L by 2),
          n => s"""{"k": ${n}.25, "extra": ${n * 10}}"""))
        .unionByName(addDdl),
      s"$root/p0", nFiles = 1)
    PbBinlogFile.write(dml("tb", (2L to 80L by 2), n => s"""{"k": ${n}.25}"""),
      s"$root/p1", nFiles = 1)

    val tracker = new SchemaTracker()
    tracker.createTable("app", "ta", Seq("k DOUBLE"), version = 0)
    tracker.createTable("app", "tb", Seq("k DOUBLE"), version = 0)
    val url = freshDerbyUrl("repl")
    val loader = new JdbcSchemaLoader(url, applyPartitions = 4)
    loader.createTable(
      "CREATE TABLE TA_STATE (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, K DOUBLE)")
    loader.createTable(
      "CREATE TABLE TB_STATE (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, K DOUBLE)")
    val q = DrainerPipeline.streamingReplicated(spark, Seq(s"$root/p0", s"$root/p1"),
      tracker, loader, outDir, ckpt, "app", col("event_type"),
      tableMap = t => t.toUpperCase + "_STATE",
      ddlToTarget = {
        case (t, "add", c, ty) =>
          Some(s"ALTER TABLE ${t.toUpperCase}_STATE ADD COLUMN ${c.toUpperCase} $ty")
        case _ => None
      })
    try {
      q.processAllAvailable()
      // stage 2: continuation past the checkpoint — later rows land on the
      // widened table through the SAME query
      PbBinlogFile.write(dml("ta", Seq(81L, 83L),
        n => s"""{"k": ${n}.25, "extra": ${n * 10}}"""), s"$root/p0", nFiles = 1)
      PbBinlogFile.write(dml("tb", Seq(82L, 84L), n => s"""{"k": ${n}.25}"""),
        s"$root/p1", nFiles = 1)
      q.processAllAvailable()
    } finally q.stop()

    // stage 3: RESTART the loop (tracker recovered from the shared DDL
    // log) and deliver a DDL-ONLY batch — no DML anywhere on the wire —
    // the translated statement must still execute on the target, through
    // the direct logged-replay-guard path; then one more row lands on the
    // widened table through the same restarted query
    val tracker2 = new SchemaTracker()
    tracker2.createTable("app", "ta", Seq("k DOUBLE"), version = 0)
    tracker2.createTable("app", "tb", Seq("k DOUBLE"), version = 0)
    CdcStream.recoverDecodeTracker(spark, outDir, ckpt, tracker2)
    assert(tracker2.current("app", "ta").get.columns ==
      Vector("k DOUBLE", "extra BIGINT"))
    def ddlAt(ts: Long, sql: String) = wireDdl(ts, sql)
    // wire types live in SPARK's domain (STRING, not VARCHAR — the
    // decode builds from_json schemas from them); the target dialect
    // mapping is ddlToTarget's job, M8 in miniature
    PbBinlogFile.write(ddlAt(90L, "ALTER TABLE app.tb ADD COLUMN note STRING"),
      s"$root/p1", nFiles = 1)
    val ckBefore = loader.lastCheckpoint
    val q2 = DrainerPipeline.streamingReplicated(spark, Seq(s"$root/p0", s"$root/p1"),
      tracker2, loader, outDir, ckpt, "app", col("event_type"),
      tableMap = t => t.toUpperCase + "_STATE",
      ddlToTarget = {
        case (t, "add", c, ty) =>
          val target = if (ty == "STRING") "VARCHAR(32)" else ty
          Some(s"ALTER TABLE ${t.toUpperCase}_STATE ADD COLUMN ${c.toUpperCase} $target")
        case _ => None
      })
    try {
      q2.processAllAvailable()
      // the DDL-only batch saves the loader checkpoint past its DDL, as an
      // applied batch does (ref: drainer/syncer.go:253-259 saves a
      // checkpoint on DDL)
      val ckDdl = loader.lastCheckpoint
      assert(ckDdl.batchId > ckBefore.batchId && ckDdl.commitTs == 90L,
        (ckBefore, ckDdl))
      PbBinlogFile.write(dml("tb", Seq(92L),
        n => s"""{"k": ${n}.25, "note": "n$n"}"""), s"$root/p1", nFiles = 1)
      q2.processAllAvailable()
      // stage 5: mid-batch DROP COLUMN — the pre-barrier row's value must
      // still reach the target (the emit frame casts by EVERY def the
      // batch decoded with, not just the final shape); the target keeps
      // its column (ddlToTarget drops nothing), so the pre-barrier value
      // lands and the post-barrier row backfills NULL
      PbBinlogFile.write(
        dml("tb", Seq(94L), n => s"""{"k": ${n}.25, "note": "n$n"}""")
          .unionByName(dml("tb", Seq(96L), n => s"""{"k": ${n}.25}"""))
          .unionByName(ddlAt(95L, "ALTER TABLE app.tb DROP COLUMN note")),
        s"$root/p1", nFiles = 1)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(tracker2.current("app", "tb").get.columns == Vector("k DOUBLE"))

    val ta = loader.readTable(spark, "TA_STATE", Some("PK")).collect()
      .map(r => r.getAs[Long]("PK") ->
        ((r.getAs[Double]("K"), Option(r.getAs[java.lang.Long]("EXTRA"))
          .map(_.longValue)))).toMap
    assert(ta.size == 42, s"TA_STATE rows: ${ta.size}")
    ((1L to 39L by 2)).foreach(n =>
      assert(ta(n) == ((n + 0.25, None)), s"pre-DDL ta row $n: ${ta(n)}"))
    ((41L to 83L by 2)).foreach(n =>
      assert(ta(n) == ((n + 0.25, Some(n * 10))), s"post-DDL ta row $n: ${ta(n)}"))
    val tbDf = loader.readTable(spark, "TB_STATE", Some("PK"))
    assert(!tbDf.columns.contains("EXTRA"), "ta's DDL leaked into TB_STATE")
    assert(tbDf.columns.contains("NOTE"),
      "the DDL-only batch must execute its translated statement on the target")
    val tb = tbDf.collect()
      .map(r => r.getAs[Long]("PK") ->
        ((r.getAs[Double]("K"), Option(r.getAs[String]("NOTE"))))).toMap
    assert(tb.size == 45 && tb(2L) == ((2.25, None)) &&
      tb(84L) == ((84.25, None)) && tb(92L) == ((92.25, Some("n92"))),
      s"TB_STATE: ${tb.size} / ${tb.get(92L)}")
    assert(tb(94L) == ((94.25, Some("n94"))),
      s"pre-barrier value of a mid-batch-dropped column lost: ${tb(94L)}")
    assert(tb(96L) == ((96.25, None)), s"post-drop row: ${tb(96L)}")
  }

  test("streamingReplicated: a union that decodes to zero rows is still emitted and applied") {
    // t's only DML sits at or below a same-batch TRUNCATE, so its union is
    // empty; the emitted frame decodes to zero rows and must still
    // carry the union's columns, or the typed projection of the composing
    // sink fails to resolve. The truncate translates to a target DELETE
    // that rides t's empty frame as the batch's one barrier.
    import graft.pipeline.DrainerPipeline
    import graft.sinks.JdbcSchemaLoader
    import graft.sources.PbBinlogFile
    val root = graft.util.Scratch.dir("graft_zero_pump")
    val k = (n: Long) => s"""{"k": ${n}.25}"""
    PbBinlogFile.write(
      wireDml("t", Seq(5L, 10L), k)
        .unionByName(wireDdl(10L, "TRUNCATE TABLE app.t"))
        .unionByName(wireDml("u", Seq(7L, 30L), k)),
      s"$root/p0", nFiles = 1)
    def tracker() = {
      val tr = new SchemaTracker()
      tr.createTable("app", "t", Seq("k DOUBLE"), version = 0)
      tr.createTable("app", "u", Seq("k DOUBLE"), version = 0)
      tr
    }
    // the emitted frames, seen through a plain decode of the same wire
    var emitted = Map.empty[String, (Seq[String], Long)]
    val qd = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(spark, s"$root/p0"), tracker(),
      graft.util.Scratch.dir("graft_zero_dec"),
      graft.util.Scratch.dir("graft_zero_dec_ckpt"), "app", col("event_type"),
      emit = { case (_, frames, _) =>
        emitted ++= frames.map { case ((_, t), (_, df)) =>
          t -> ((df.columns.toSeq, df.count()))
        }
      })
    try qd.processAllAvailable() finally qd.stop()
    assert(emitted.keySet == Set("t", "u"), s"emitted: $emitted")
    assert(emitted("t")._2 == 0L && emitted("u")._2 == 2L, s"emitted: $emitted")
    assert(emitted("t")._1 == emitted("u")._1 && emitted("t")._1.contains("k_str"),
      s"the empty union lost its columns: $emitted")

    val url = freshDerbyUrl("zero")
    val loader = new JdbcSchemaLoader(url, applyPartitions = 4)
    loader.createTable(
      "CREATE TABLE T_STATE (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, K DOUBLE)")
    loader.createTable(
      "CREATE TABLE U_STATE (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, K DOUBLE)")
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.executeUpdate("INSERT INTO T_STATE VALUES (99, 1, 99.5)")
      st.close()
    } finally c.close()
    val q = DrainerPipeline.streamingReplicated(spark, Seq(s"$root/p0"),
      tracker(), loader, graft.util.Scratch.dir("graft_zero_out"),
      graft.util.Scratch.dir("graft_zero_ckpt"), "app", col("event_type"),
      tableMap = t => t.toUpperCase + "_STATE",
      ddlToTarget = {
        case (t, "truncate", _, _) => Some(s"DELETE FROM ${t.toUpperCase}_STATE")
        case _ => None
      })
    val dataBatches = try {
      q.processAllAvailable()
      q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
    } finally q.stop()
    assert(dataBatches == Seq(0L), s"batches with input: $dataBatches")
    assert(loader.lastCheckpoint.batchId == 0L,
      s"loader checkpoint: ${loader.lastCheckpoint}")
    assert(loader.readTable(spark, "T_STATE").count() == 0L,
      "the truncate barrier must run on the target")
    val u = loader.readTable(spark, "U_STATE").collect()
      .map(r => r.getAs[Long]("PK") -> r.getAs[Double]("K")).toMap
    assert(u == Map(7L -> 7.25, 30L -> 30.25), s"U_STATE: $u")
  }

  test("replicated DDL barriers: a mid-batch ADD COLUMN … DEFAULT and a DDL shared by two slices each execute once") {
    // the loader gathers every slice's DDL rows in one job; a barrier must
    // still split the batch exactly where it did, and a DDL row present in
    // several slices must stay ONE barrier (a second ALTER would throw)
    import graft.pipeline.DrainerPipeline
    import graft.sinks.JdbcSchemaLoader
    import graft.sources.PbBinlogFile
    def ddlLog(loader: JdbcSchemaLoader): Seq[String] =
      loader.readTable(spark, "GRAFT_DDL_LOG").collect()
        .map(_.getAs[String]("STMT")).toSeq

    // form 1: the replicated composition, ta's ADD COLUMN … DEFAULT between
    // its own rows and tb's, all in one batch
    val root = graft.util.Scratch.dir("graft_bar_pump")
    PbBinlogFile.write(
      wireDml("ta", Seq(1L, 3L), (n: Long) => s"""{"k": ${n}.25}""")
        .unionByName(wireDdl(10L,
          "ALTER TABLE app.ta ADD COLUMN extra BIGINT DEFAULT 5 AFTER k"))
        .unionByName(wireDml("ta", Seq(11L, 13L),
          (n: Long) => s"""{"k": ${n}.25, "extra": ${n * 10}}"""))
        .unionByName(wireDml("tb", Seq(2L, 12L), (n: Long) => s"""{"k": ${n}.25}""")),
      s"$root/p0", nFiles = 1)
    val tracker = new SchemaTracker()
    tracker.createTable("app", "ta", Seq("k DOUBLE"), version = 0)
    tracker.createTable("app", "tb", Seq("k DOUBLE"), version = 0)
    val loader = new JdbcSchemaLoader(freshDerbyUrl("bar"), applyPartitions = 4)
    loader.createTable(
      "CREATE TABLE TA_STATE (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, K DOUBLE)")
    loader.createTable(
      "CREATE TABLE TB_STATE (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, K DOUBLE)")
    val out = graft.util.Scratch.dir("graft_bar_out")
    val q = DrainerPipeline.streamingReplicated(spark, Seq(s"$root/p0"),
      tracker, loader, out, graft.util.Scratch.dir("graft_bar_ckpt"), "app",
      col("event_type"),
      tableMap = t => t.toUpperCase + "_STATE",
      ddlToTarget = {
        case (t, "add", c, ty) =>
          Some(s"ALTER TABLE ${t.toUpperCase}_STATE ADD COLUMN ${c.toUpperCase} $ty")
        case _ => None
      })
    try q.processAllAvailable() finally q.stop()
    val ta = loader.readTable(spark, "TA_STATE").collect()
      .map(r => r.getAs[Long]("PK") ->
        ((r.getAs[Double]("K"), Option(r.getAs[java.lang.Long]("EXTRA")).map(_.longValue))))
      .toMap
    assert(ta == Map(1L -> ((1.25, Some(5L))), 3L -> ((3.25, Some(5L))),
      11L -> ((11.25, Some(110L))), 13L -> ((13.25, Some(130L)))), s"TA_STATE: $ta")
    val tb = loader.readTable(spark, "TB_STATE").collect()
      .map(r => r.getAs[Long]("PK") -> r.getAs[Double]("K")).toMap
    assert(tb == Map(2L -> 2.25, 12L -> 12.25), s"TB_STATE: $tb")
    assert(ddlLog(loader) == Seq("ALTER TABLE TA_STATE ADD COLUMN EXTRA BIGINT DEFAULT 5"),
      s"DDL log: ${ddlLog(loader)}")
    assert(loader.lastCheckpoint.batchId == 0L)
    // the loader is the decode's sink: the replicated loop writes its DDL
    // log and no per-table data
    assert(new java.io.File(s"$out/ddl/batch=0").isDirectory)
    assert(!new java.io.File(s"$out/data").exists(),
      "the replicated decode wrote a per-table data copy")

    // form 2: a router replicated the SAME DDL row into both slices, each
    // slice a scan of written parquet like the decode's emitted frames
    val loader2 = new JdbcSchemaLoader(freshDerbyUrl("bar2"), applyPartitions = 4)
    loader2.createTable("CREATE TABLE A2 (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, V BIGINT)")
    loader2.createTable("CREATE TABLE B2 (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, V BIGINT)")
    val alter = "ALTER TABLE A2 ADD COLUMN TAG BIGINT"
    def written(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val d = graft.util.Scratch.dir("graft_bar_slice")
      df.write.mode("overwrite").parquet(d)
      spark.read.schema(df.schema).parquet(d)
    }
    val a2 = written(Seq(
      (1L, 5L, "I", Some(10L), null.asInstanceOf[String], None: Option[Long]),
      (0L, 20L, "DDL", None: Option[Long], alter, None: Option[Long]),
      (2L, 25L, "I", Some(20L), null.asInstanceOf[String], Some(7L))
    ).toDF("pk", "commit_ts", "op", "v", "ddl_sql", "tag"))
    val b2 = written(Seq(
      (0L, 20L, "DDL", None: Option[Long], alter),
      (3L, 30L, "I", Some(30L), null.asInstanceOf[String])
    ).toDF("pk", "commit_ts", "op", "v", "ddl_sql"))
    assert(loader2.applyBatch(Map("A2" -> a2, "B2" -> b2), 0L))
    val a2rows = loader2.readTable(spark, "A2").collect()
      .map(r => r.getAs[Long]("PK") ->
        ((r.getAs[Long]("V"), Option(r.getAs[java.lang.Long]("TAG")).map(_.longValue))))
      .toMap
    assert(a2rows == Map(1L -> ((10L, None)), 2L -> ((20L, Some(7L)))), s"A2: $a2rows")
    val b2rows = loader2.readTable(spark, "B2").collect()
      .map(r => r.getAs[Long]("PK") -> r.getAs[Long]("V")).toMap
    assert(b2rows == Map(3L -> 30L), s"B2: $b2rows")
    assert(ddlLog(loader2) == Seq(alter), s"DDL log: ${ddlLog(loader2)}")
    assert(!loader2.applyBatch(Map("A2" -> a2, "B2" -> b2), 0L))
    assert(ddlLog(loader2) == Seq(alter))
  }

  test("streamingReplicated: a loader failing past its first barrier replays the batch from the wire, exactly once") {
    // the loader is the decode's sink and nothing durable holds the
    // decoded rows: a batch the loader fails must be recomputed from the
    // wire on restart. The first attempt executes and logs the ADD COLUMN
    // … DEFAULT barrier, then fails; the restarted query (same checkpoint,
    // tracker recovered from the DDL log) decodes the batch again, the
    // loader skips the sub-batch below its logged barrier and the ALTER,
    // and the target ends equal to a plain fold of the wire
    import graft.pipeline.DrainerPipeline
    import graft.sinks.JdbcSchemaLoader
    import graft.sources.PbBinlogFile
    import org.apache.spark.sql.streaming.StreamingQueryException
    val root = graft.util.Scratch.dir("graft_replay_pump")
    val outDir = graft.util.Scratch.dir("graft_replay_out")
    val ckpt = graft.util.Scratch.dir("graft_replay_ckpt")
    // (commit ts, pk, op, table, k, extra); the ADD COLUMN sits at ts 10
    val dmls = Seq(
      (2L, 1L, "U", "ta", 2.25, None), (3L, 11L, "U", "tb", 3.25, None),
      (4L, 2L, "U", "ta", 4.25, None), (6L, 3L, "U", "ta", 6.25, None),
      (8L, 1L, "U", "ta", 8.25, None), (9L, 12L, "U", "tb", 9.25, None),
      (12L, 2L, "U", "ta", 12.25, Some(120L)), (13L, 11L, "U", "tb", 13.25, None),
      (14L, 3L, "D", "ta", 6.25, None), (15L, 12L, "D", "tb", 9.25, None),
      (16L, 4L, "U", "ta", 16.25, Some(160L)))
    val alter = "ALTER TABLE TA_STATE ADD COLUMN EXTRA BIGINT DEFAULT 5"
    PbBinlogFile.write(
      dmls.map { case (ts, pk, op, t, k, extra) =>
        val props = (s""""k": $k""" +: extra.map(e => s""""extra": $e""").toSeq)
        (ts, pk, op, t, props.mkString("{", ", ", "}"))
      }.toDF("commit_ts", "pk", "op", "event_type", "props").select(
        col("commit_ts"), col("pk"), col("op"), col("event_type"),
        timestamp_micros(col("commit_ts") * 1000000L).as("ts"),
        col("commit_ts").cast("double").as("value"), col("props"),
        lit(null).cast("string").as("ddl_sql"))
        .unionByName(wireDdl(10L, "ALTER TABLE app.ta ADD COLUMN extra BIGINT DEFAULT 5")),
      s"$root/p0", nFiles = 1)
    // the plain model: each key's last image; ta rows that never change
    // after the barrier read the column's default, later ones their own
    val model = dmls.groupBy(r => (r._4, r._2)).values.map(_.maxBy(_._1))
      .filter(_._3 != "D").map { case (ts, pk, _, t, k, extra) =>
        (t, pk) -> ((ts, k, if (t == "ta" && ts < 10L) Some(5L) else extra))
      }.toMap
    def tracker() = {
      val tr = new SchemaTracker()
      tr.createTable("app", "ta", Seq("k DOUBLE"), version = 0)
      tr.createTable("app", "tb", Seq("k DOUBLE"), version = 0)
      tr
    }
    // its first batch also routes one row just past the barrier to a table
    // the target lacks: the apply fails there, after the barrier executed
    // and was logged, before the batch's checkpoint
    val stray = Seq((11L, "I")).toDF("commit_ts", "op")
    val loader = new JdbcSchemaLoader(freshDerbyUrl("replay"), applyPartitions = 4) {
      @volatile var armed = true
      override def applyBatch(slices: Map[String, org.apache.spark.sql.DataFrame],
          batchId: Long, schemaVersion: Long, merge: Boolean,
          safeMode: Boolean): Boolean = {
        val in = if (armed) slices + ("NOWHERE" -> stray) else slices
        armed = false
        super.applyBatch(in, batchId, schemaVersion, merge, safeMode)
      }
    }
    loader.createTable("CREATE TABLE TA_STATE (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, K DOUBLE)")
    loader.createTable("CREATE TABLE TB_STATE (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, K DOUBLE)")
    def run(tr: SchemaTracker) = DrainerPipeline.streamingReplicated(spark,
      Seq(s"$root/p0"), tr, loader, outDir, ckpt, "app", col("event_type"),
      tableMap = t => t.toUpperCase + "_STATE",
      ddlToTarget = {
        case (t, "add", c, ty) =>
          Some(s"ALTER TABLE ${t.toUpperCase}_STATE ADD COLUMN ${c.toUpperCase} $ty")
        case _ => None
      })
    def ddlLog(): Seq[String] = loader.readTable(spark, "GRAFT_DDL_LOG").collect()
      .map(_.getAs[String]("STMT")).toSeq

    val q = run(tracker())
    val e = try intercept[StreamingQueryException](q.processAllAvailable())
      finally q.stop()
    assert(e.getMessage.contains("NOWHERE not found in catalog"), e.getMessage)
    assert(ddlLog() == Seq(alter), s"DDL log after the failure: ${ddlLog()}")
    assert(loader.lastCheckpoint.batchId < 0L, s"checkpoint: ${loader.lastCheckpoint}")
    assert(new java.io.File(s"$outDir/ddl/batch=0").isDirectory)
    assert(!new java.io.File(s"$outDir/data").exists())

    // restart on the same checkpoint: the failed batch never committed, so
    // the recovered tracker holds none of its DDL and the decode replays it
    val tr2 = tracker()
    CdcStream.recoverDecodeTracker(spark, outDir, ckpt, tr2)
    assert(tr2.current("app", "ta").get.columns == Vector("k DOUBLE"))
    val q2 = run(tr2)
    try q2.processAllAvailable() finally q2.stop()
    assert(tr2.current("app", "ta").get.columns.map(_.split(" ")(0)) ==
      Vector("k", "extra"))
    assert(loader.lastCheckpoint.batchId == 0L, s"checkpoint: ${loader.lastCheckpoint}")
    assert(ddlLog() == Seq(alter), s"the ALTER ran more than once: ${ddlLog()}")
    val target =
      loader.readTable(spark, "TA_STATE").collect().map(r =>
        ("ta", r.getAs[Long]("PK")) -> ((r.getAs[Long]("COMMIT_TS"), r.getAs[Double]("K"),
          Option(r.getAs[java.lang.Long]("EXTRA")).map(_.longValue)))).toMap ++
      loader.readTable(spark, "TB_STATE").collect().map(r =>
        ("tb", r.getAs[Long]("PK")) -> ((r.getAs[Long]("COMMIT_TS"), r.getAs[Double]("K"),
          None: Option[Long]))).toMap
    assert(target == model, s"target $target\nmodel  $model")
    assert(!new java.io.File(s"$outDir/data").exists())
  }

  test("streamingReplicatedSchemas: two databases on one wire replicate into distinct targets") {
    // the reference drainer replicates EVERY database its catalog tracks
    // (drainer/schema.go:43-62 feeding syncer.go:374-397): schemas sa and
    // sb carry the SAME table name t on one wire, so target routing must
    // take the schema dimension — and sa's translated ADD COLUMN must
    // reach only sa's target
    import graft.pipeline.DrainerPipeline
    import graft.sinks.JdbcSchemaLoader
    import graft.sources.PbBinlogFile
    val root = graft.util.Scratch.dir("graft_rsch_pumps")
    val outDir = graft.util.Scratch.dir("graft_rsch_out")
    val ckpt = graft.util.Scratch.dir("graft_rsch_ckpt")
    def dml(route: String, ids: Seq[Long], props: Long => String) =
      wireDml(route, ids, props)
    val addDdl = wireDdl(10L, "ALTER TABLE sa.t ADD COLUMN extra BIGINT")
    PbBinlogFile.write(
      dml("sa:t", (1L to 9L by 2), n => s"""{"k": ${n}.25}""")
        .unionByName(dml("sa:t", (11L to 19L by 2),
          n => s"""{"k": ${n}.25, "extra": ${n * 10}}"""))
        .unionByName(dml("sb:t", (2L to 20L by 2), n => s"""{"k": ${n}.25}"""))
        .unionByName(addDdl),
      s"$root/p0", nFiles = 1)

    val tracker = new SchemaTracker()
    tracker.createTable("sa", "t", Seq("k DOUBLE"), version = 0)
    tracker.createTable("sb", "t", Seq("k DOUBLE"), version = 0)
    val loader = new JdbcSchemaLoader(freshDerbyUrl("rsch"), applyPartitions = 4)
    loader.createTable(
      "CREATE TABLE SA_T (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, K DOUBLE)")
    loader.createTable(
      "CREATE TABLE SB_T (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, K DOUBLE)")
    val q = DrainerPipeline.streamingReplicatedSchemas(spark, Seq(s"$root/p0"),
      tracker, loader, outDir, ckpt, Seq("sa", "sb"),
      substring_index(col("event_type"), ":", 1),
      substring_index(col("event_type"), ":", -1),
      tableMap = (s, t) => s"${s.toUpperCase}_${t.toUpperCase}",
      ddlToTarget = {
        case (s, t, "add", c, ty) =>
          Some(s"ALTER TABLE ${s.toUpperCase}_${t.toUpperCase} " +
            s"ADD COLUMN ${c.toUpperCase} $ty")
        case _ => None
      })
    try q.processAllAvailable() finally q.stop()

    val sa = loader.readTable(spark, "SA_T", Some("PK")).collect()
      .map(r => r.getAs[Long]("PK") ->
        ((r.getAs[Double]("K"), Option(r.getAs[java.lang.Long]("EXTRA"))
          .map(_.longValue)))).toMap
    assert(sa.size == 10, s"SA_T rows: ${sa.size}")
    (1L to 9L by 2).foreach(n =>
      assert(sa(n) == ((n + 0.25, None)), s"pre-DDL sa row $n: ${sa(n)}"))
    (11L to 19L by 2).foreach(n =>
      assert(sa(n) == ((n + 0.25, Some(n * 10))), s"post-DDL sa row $n: ${sa(n)}"))
    val sbDf = loader.readTable(spark, "SB_T", Some("PK"))
    assert(!sbDf.columns.contains("EXTRA"),
      "sa's translated DDL leaked into sb's target")
    val sb = sbDf.collect()
      .map(r => r.getAs[Long]("PK") -> r.getAs[Double]("K")).toMap
    assert(sb.size == 10 && sb(2L) == 2.25 && sb(20L) == 20.25,
      s"SB_T: ${sb.size} / ${sb.get(20L)}")
  }

  test("pc matcher streams on RocksDB: custom state class survives the store round trip (T1)") {
    // The dedup case pins the BUILT-IN dedup state on RocksDB; this pins
    // the CUSTOM flatMapGroupsWithState path — PcMatcher.Pending must
    // round-trip through RocksDB's serialized store, where the default
    // provider keeps deserialized objects in heap and would mask an
    // encoder defect. Events arrive in two files (P's first, then C/R),
    // so pairing crosses a micro-batch boundary: the state genuinely
    // persists in the store between batches.
    val in = graft.util.Scratch.dir("graft_pcrocks_in")
    val ps = Seq(
      PcEvent(1L, "P", 10L), PcEvent(2L, "P", 11L), PcEvent(3L, "P", 12L))
    // every prewrite resolves in phase 2: a still-pending key would hold a
    // processing-time timeout open and processAllAvailable would block on
    // it (the timeout path is unit-tested with TestGroupState above)
    val rest = Seq(
      PcEvent(1L, "C", 20L),  // matched
      PcEvent(2L, "R", 21L),  // rolled back
      PcEvent(3L, "C", 23L),  // matched across the batch boundary
      PcEvent(9L, "C", 22L))  // orphan commit
    addFile(ps.toDF(), in, "phase1")
    addFile(rest.toDF(), in, "phase2")
    // the file source orders batches by mod time: pin phase1 strictly
    // earlier so the P's really arrive one batch before their C/R
    assert(new java.io.File(in, "phase1.parquet")
      .setLastModified(System.currentTimeMillis() - 60000),
      "mtime pin must stick or batch ordering is undefined")
    val (key, provider) = CdcStream.RocksDbStateStore
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, provider)
    try {
      val events = spark.readStream
        .schema(ps.toDF().schema)
        .option("maxFilesPerTrigger", 1) // force the cross-batch pairing
        .parquet(in)
        .as[PcEvent]
      // Poll the sink, don't wait for quiescence: a processing-time-timeout
      // operator keeps the query scheduling batches to re-check timeouts,
      // so processAllAvailable (and even an available-now drain) never
      // report "done" while a timeout is registered
      val q = new PcMatcher(600000L).matched(events)
        .toDF().writeStream.format("memory").queryName("pc_rocks")
        .outputMode("append")
        .start()
      try {
        val deadline = System.currentTimeMillis() + 120000
        while (spark.table("pc_rocks").count() < 4 && q.exception.isEmpty &&
               System.currentTimeMillis() < deadline) Thread.sleep(200)
        // surface the real failure, not a downstream assert, if the query died
        q.exception.foreach(throw _)
        val withState = q.recentProgress.filter(_.stateOperators.nonEmpty)
        assert(withState.nonEmpty &&
          withState.last.stateOperators.head.customMetrics.keySet.toArray
            .exists(_.toString.toLowerCase.contains("rocksdb")),
          "matcher state must live in RocksDB")
      } finally q.stop()
      val out = spark.table("pc_rocks").as[PcMatcher.Matched].collect().toSet
      assert(out == Set(
        PcMatcher.Matched(1L, 10L, 20L, "matched"),
        PcMatcher.Matched(2L, 11L, 21L, "rolled_back"),
        PcMatcher.Matched(3L, 12L, 23L, "matched"),
        PcMatcher.Matched(9L, -1L, 22L, "orphan_commit")))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("stateful streaming runs on the RocksDB state store (cluster-scale state path)") {
    // The heap-backed default state store caps dedup state at executor
    // memory; CdcStream.RocksDbStateStore is the off-heap/local-disk
    // configuration a 100 TB deployment needs. Pin that the dedup operator
    // (F10 twin) produces identical output under it AND that the state
    // operator really ran on RocksDB (provider-specific metrics present) —
    // a misspelled provider class silently falls back to nothing; a
    // mis-serialized state row would break dedup correctness.
    val in = graft.util.Scratch.dir("graft_rocks_in")
    val raw = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_id") < 300)
    addFile(raw, in, "delivery1")
    addFile(raw, in, "delivery2")
    val (key, provider) = CdcStream.RocksDbStateStore
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, provider)
    try {
      val q = CdcStream.dedupStream(CdcStream.changeStream(spark, in))
        .writeStream.format("memory").queryName("rocks_out")
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val withState = q.recentProgress.filter(_.stateOperators.nonEmpty)
        assert(withState.nonEmpty, "dedup must report a state operator")
        val metrics = withState.last.stateOperators.head.customMetrics
        assert(metrics.keySet.toArray.exists(
          _.toString.toLowerCase.contains("rocksdb")),
          s"state operator must run on RocksDB, metrics: ${metrics.keySet}")
      } finally q.stop()
      val out = spark.table("rocks_out")
      assert(out.count() == raw.count(), "each redelivered event emitted once")
      assert(out.groupBy("commit_ts").count()
        .filter(col("count") > 1).count() == 0)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
