package graft

import org.apache.spark.sql.functions._

import graft.ops.{Cdc, Skew}
import graft.pipeline.{Arbiter, DrainerConfig, DrainerPipeline, Reparo}

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("drainer pipeline composition == hand-chained operators") {
    val cfg = DrainerConfig(ignoreCommitTs = Seq(7L, 42L),
      dropEventTypes = Seq("click"), minValue = Some(1.0))
    val viaPipeline = DrainerPipeline.batch(spark, sf, cfg)
      .select("pk", "op", "value").as[(Long, String, Double)].collect().toSet
    val manual = Cdc.compactByPk(
        Cdc.changes(spark, sf)
          .filter(!col("commit_ts").isin(7L, 42L))
          .filter(col("event_type") =!= "click")
          .filter(col("value") >= 1.0))
      .select("pk", "op", "value").as[(Long, String, Double)].collect().toSet
    assert(viaPipeline == manual && viaPipeline.nonEmpty)
  }

  test("loopback marks round-trip: own-channel txns dropped, marks injected, foreign marks pass") {
    import graft.ops.Filters
    val ch = 42L
    val changes = Cdc.changes(spark, sf)
    // simulate one replication hop: everything this drainer applied carries
    // its mark; a downstream replica sends the stream back
    val outgoing = Filters.injectLoopbackMarks(changes, ch)
    // the returning stream must be dropped ENTIRELY (every txn is marked)
    assert(Filters.dropMarkedTxns(outgoing, ch).count() == 0)
    // a foreign channel's marks do not trigger the drop and pass through
    val foreign = Filters.injectLoopbackMarks(changes, 7L)
    val kept = Filters.dropMarkedTxns(foreign, ch)
    assert(kept.count() == foreign.count())
    assert(kept.filter(col("event_type") === "mark").count() ==
      changes.select("commit_ts").distinct().count())
    // mark rows land in the reserved negative keyspace, one per worker max
    val pks = outgoing.filter(col("event_type") === "mark")
      .select("pk").distinct().as[Long].collect()
    assert(pks.forall(p => p < 0 && p >= -Filters.LoopbackWorkers))
    // pipeline wiring: a marked stream fed back through the pipeline with
    // the same channel produces only this hop's fresh marks
    val cfg = DrainerConfig(compact = false, loopbackChannel = Some(ch))
    val out = DrainerPipeline.batch(spark, sf, cfg)
    assert(out.filter(col("event_type") === "mark").count() ==
      changes.select("commit_ts").distinct().count())
    // and the mark-table state query agrees with the injected mark volume
    val stateSum = Filters.loopbackMarkState(spark, sf, ch)
      .agg(sum(col("val") - 1L)).as[Long].head()
    assert(stateSum == changes.select("commit_ts").distinct().count())
  }

  test("uncompacted pipeline preserves every surviving event") {
    val cfg = DrainerConfig(compact = false)
    val n = DrainerPipeline.batch(spark, sf, cfg).count()
    assert(n == graft.model.Tables.events(spark, sf).count())
  }

  test("streaming pipeline state == batch pipeline state") {
    import java.nio.file.Files
    val in = java.nio.file.Paths.get(graft.util.Scratch.dir("graft_pipe_in"))
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      in.resolve("events.parquet"))
    val stateRoot = graft.util.Scratch.dir("graft_pipe_state")
    val ckpt = graft.util.Scratch.dir("graft_pipe_ckpt")
    val q = DrainerPipeline.streaming(spark, in.toString, stateRoot, ckpt)
    try q.processAllAvailable() finally q.stop()
    val streamed = new graft.sinks.UpsertSink(stateRoot).currentState(spark)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val batch = DrainerPipeline.batch(spark, sf)
      .filter(col("op") =!= "D")
      .select("pk", "value").as[(Long, Double)].collect().toMap
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("salted join == plain join, spread over salt buckets") {
    val fact = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i.toLong))
      .toDF("k", "fact_id") // key 1 holds 90% of rows: the hot key
    val dim = Seq((1L, "hot"), (950L, "cold")).toDF("k", "name")
    val plain = fact.join(dim, "k").select("fact_id", "name")
      .as[(Long, String)].collect().toSet
    val salted = Skew.saltedJoin(fact, dim, "k", col("fact_id"), factor = 8)
      .select("fact_id", "name").as[(Long, String)].collect().toSet
    assert(salted == plain && plain.size == 901)
    // hot key's rows really spread over multiple salt buckets
    val buckets = fact.filter(col("k") === 1L)
      .select(pmod(hash(col("fact_id")), lit(8)).as("s"))
      .distinct().count()
    assert(buckets > 4)
  }

  test("salted-join query equals the unsalted twin on real tables") {
    val salted = Skew.saltedJoinQuery(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val dim = Seq("signup", "error", "click", "view", "purchase")
      .map(t => (t, t.length.toLong)).toDF("event_type", "boost")
    val plain = graft.model.Tables.events(spark, sf).join(dim, "event_type")
      .groupBy("event_type", "boost")
      .agg(count(lit(1)).as("n_rows"),
        count(when(col("value") * col("boost") > 600.0, 1)).as("n_hi"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(salted == plain && salted.nonEmpty)
  }

  test("pitr replay: no deletes, nothing past the recovery point, state matches rebuild") {
    val out = graft.ops.Cdc.pitrReplay(spark, sf)
    val maxTs = graft.ops.Cdc.changes(spark, sf)
      .agg(max("commit_ts")).head().getLong(0)
    val stop = maxTs * 6 / 10
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("op") != "D"))
    assert(rows.forall(_.getAs[Long]("commit_ts") <= stop))
    // equals compacting the explicitly truncated stream
    val rebuilt = graft.ops.Cdc.compactByPk(
        graft.ops.Cdc.changes(spark, sf).filter(col("commit_ts") <= stop))
      .filter(col("op") =!= "D").collect()
      .map(r => (r.getAs[Long]("pk"), r.getAs[Long]("commit_ts"))).toSet
    assert(rows.map(r => (r.getAs[Long]("pk"), r.getAs[Long]("commit_ts"))).toSet == rebuilt)
  }

  private def freshDerbyUrl(tag: String): String = {
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home",
        graft.util.Scratch.dir("graft_derby_home"))
    val db = graft.util.Scratch.dir(s"graft_derby_$tag") + "/db"
    s"jdbc:derby:$db;create=true"
  }

  test("causality sequence apply: a unique-key migration replays legally under a live UNIQUE index") {
    // the reason the reference loader defaults to causality + singleExec
    // (load.go:144, 529-575): a unique-key value migrating between rows is
    // only replayable step by step, in source order, serialized with every
    // DML it conflicts with — the merged path jumps keys to final states in
    // parallel and can transiently violate the index. This pins the whole
    // composition P1∘K1: old+new key images (model.go:216-251 getKeys)
    // merge the migration chain into ONE conflict group, unrelated rows
    // stay parallel, and Derby's real UNIQUE constraint referees every
    // intermediate state.
    val url = freshDerbyUrl("causeq")
    val loader = new graft.sinks.JdbcSchemaLoader(url, applyPartitions = 4)
    loader.createTable(
      """CREATE TABLE SWAP_T (PK BIGINT PRIMARY KEY, UK BIGINT,
        | COMMIT_TS BIGINT, VAL DOUBLE,
        | CONSTRAINT SWAP_UK UNIQUE (UK))""".stripMargin)
    val seed = Seq((1L, 10L, 1L, "I", 1.0), (2L, 20L, 2L, "I", 2.0))
      .toDF("pk", "uk", "commit_ts", "op", "val")
    assert(loader.applyBatch(Map("SWAP_T" -> seed), 0L))

    // pk1 and pk2 SWAP uks through a temp slot — legal at every step, and
    // exactly the history a source engine under unique constraints would
    // emit; old images carried per the T8 update-image contract. Two
    // unrelated updates ride along in the same batch.
    val swap = Seq(
      (1L, 99L, 10L, "U", 1.1, 1L, 10L),  // pk1: 10 → 99 (frees 10)
      (2L, 10L, 11L, "U", 2.1, 2L, 20L),  // pk2: 20 → 10 (frees 20)
      (1L, 20L, 12L, "U", 1.2, 1L, 99L),  // pk1: 99 → 20
      (5L, 50L, 13L, "I", 5.0, 5L, 50L),
      (6L, 60L, 14L, "I", 6.0, 6L, 60L))
      .toDF("pk", "uk", "commit_ts", "op", "val", "old_pk", "old_uk")

    // the conflict closure: the migration trio is ONE group (linked through
    // the old-image keys: uk10 ties r1↔r2, uk20 ties r2↔r3), the two
    // unrelated inserts keep their own groups — parallelism survives
    val grp = loader.conflictGroupsFor(swap, "SWAP_T")
    assert(grp.filter(col("pk").isin(1L, 2L)).select("_grp").distinct().count() == 1)
    assert(grp.select("_grp").distinct().count() == 3)

    // the replay executes — UPDATE-by-before-image in commit-ts order under
    // the live index — and lands on the swapped end state
    assert(loader.applyBatch(Map("SWAP_T" -> swap), 1L, merge = false))
    val state = loader.readTable(spark, "SWAP_T")
      .select("PK", "UK", "VAL").as[(Long, Long, Double)].collect()
      .map { case (pk, uk, v) => pk -> ((uk, v)) }.toMap
    assert(state == Map(1L -> ((20L, 1.2)), 2L -> ((10L, 2.1)),
      5L -> ((50L, 5.0)), 6L -> ((60L, 6.0))))
    // replayed batch id is refused (exactly-once guard holds in this mode too)
    assert(!loader.applyBatch(Map("SWAP_T" -> swap), 1L, merge = false))
  }

  test("sequence apply on a table whose key covers every column routes U as REPLACE") {
    // setCols is empty when the key spans every frame column (the same
    // shape a keyless table's all-columns pseudo-key produces) — an
    // in-place UPDATE has nothing to SET and "UPDATE t SET WHERE" does
    // not even prepare; U must take the delete-image + INSERT path
    val url = freshDerbyUrl("allkey")
    val loader = new graft.sinks.JdbcSchemaLoader(url, applyPartitions = 2)
    loader.createTable(
      """CREATE TABLE AK_T (PK BIGINT NOT NULL, COMMIT_TS BIGINT NOT NULL,
        | CONSTRAINT AK_PK PRIMARY KEY (PK, COMMIT_TS))""".stripMargin)
    val seed = Seq((1L, 5L, "I"), (2L, 6L, "I"))
      .toDF("pk", "commit_ts", "op")
    assert(loader.applyBatch(Map("AK_T" -> seed), 0L, merge = false))
    val next = Seq((1L, 5L, "U"), (2L, 6L, "D"))
      .toDF("pk", "commit_ts", "op")
    assert(loader.applyBatch(Map("AK_T" -> next), 1L, merge = false))
    val state = loader.readTable(spark, "AK_T")
      .select("PK", "COMMIT_TS").as[(Long, Long)].collect().toSet
    assert(state == Set((1L, 5L)))
  }

  test("sequence apply counts a non-safe UPDATE that matches no row") {
    // the post-crash replay window (the addressed row is already gone)
    // must stay countable: the loader reads it back after the job
    val url = freshDerbyUrl("zerorow")
    val loader = new graft.sinks.JdbcSchemaLoader(url, applyPartitions = 2)
    loader.createTable(
      "CREATE TABLE ZR_T (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, VAL DOUBLE)")
    val seed = Seq((1L, 1L, "I", 1.0)).toDF("pk", "commit_ts", "op", "val")
    assert(loader.applyBatch(Map("ZR_T" -> seed), 0L, merge = false))
    assert(loader.zeroRowUpdates == 0L)
    val next = Seq((1L, 2L, "U", 1.5), (7L, 3L, "U", 7.0))
      .toDF("pk", "commit_ts", "op", "val")
    assert(loader.applyBatch(Map("ZR_T" -> next), 1L, merge = false))
    assert(loader.zeroRowUpdates == 1L)
    val state = loader.readTable(spark, "ZR_T")
      .select("PK", "VAL").as[(Long, Double)].collect().toMap
    assert(state == Map(1L -> 1.5))
  }

  test("sequence apply rejects an unknown op loudly instead of replacing it") {
    val url = freshDerbyUrl("badop")
    val loader = new graft.sinks.JdbcSchemaLoader(url, applyPartitions = 2)
    loader.createTable(
      "CREATE TABLE OP_T (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, VAL DOUBLE)")
    val bad = Seq((1L, 1L, "X", 1.0)).toDF("pk", "commit_ts", "op", "val")
    val e = intercept[Exception] {
      loader.applyBatch(Map("OP_T" -> bad), 0L, merge = false)
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("unknown op")), chain(e).mkString(" | "))
  }

  test("catalog read is exact-name: an underscore sibling never merges its columns in") {
    // DatabaseMetaData.getColumns takes a LIKE pattern where '_' is a
    // wildcard: without escaping, reading T_X's catalog also returns
    // TYX's columns and the INSERT lists duplicates
    val url = freshDerbyUrl("likeptn")
    val loader = new graft.sinks.JdbcSchemaLoader(url, applyPartitions = 2)
    loader.createTable(
      "CREATE TABLE T_X (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, VAL DOUBLE)")
    loader.createTable(
      """CREATE TABLE TYX (PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT,
        | VAL DOUBLE, EXTRA BIGINT)""".stripMargin)
    val rows = Seq((1L, 1L, "I", 1.5)).toDF("pk", "commit_ts", "op", "val")
    assert(loader.applyBatch(Map("T_X" -> rows), 0L))
    val state = loader.readTable(spark, "T_X")
      .select("PK", "VAL").as[(Long, Double)].collect().toSet
    assert(state == Set((1L, 1.5)))
  }

  test("MERGED apply splits a key-changing update into DELETE(old)+REPLACE(new)") {
    // ref: pkg/loader/merge.go:48-77 — the merge fold splits an update
    // whose unique key changed BEFORE compacting; without it the old-key
    // row is stranded in the target (the gap the value oracle can't see
    // unless a query migrates a key — this one does, directly).
    val url = freshDerbyUrl("migmerge")
    val loader = new graft.sinks.JdbcSchemaLoader(url, applyPartitions = 4)
    loader.createTable(
      """CREATE TABLE MIG_T (K1 BIGINT NOT NULL, K2 BIGINT NOT NULL,
        | COMMIT_TS BIGINT, VAL DOUBLE,
        | CONSTRAINT MIG_UK UNIQUE (K1, K2))""".stripMargin)
    val seed = Seq((1L, 1L, 1L, "I", 1.0), (2L, 1L, 2L, "I", 2.0))
      .toDF("k1", "k2", "commit_ts", "op", "val")
    assert(loader.applyBatch(Map("MIG_T" -> seed), 0L))
    // row (1,1) migrates its composite key to (1,2), then a later insert
    // REUSES the vacated (1,1); row (2,1) updates in place (old == new).
    val batch = Seq(
      (1L, 2L, 10L, "U", 1.1, Some(1L), Some(1L)), // (1,1) → (1,2)
      (2L, 1L, 11L, "U", 2.1, Some(2L), Some(1L)), // key unchanged
      (1L, 1L, 12L, "I", 9.0, None, None))         // re-insert vacated key
      .toDF("k1", "k2", "commit_ts", "op", "val", "old_k1", "old_k2")
    assert(loader.applyBatch(Map("MIG_T" -> batch), 1L)) // merge = true
    val state = loader.readTable(spark, "MIG_T")
      .select("K1", "K2", "VAL").as[(Long, Long, Double)].collect().toSet
    // the stranded-row failure mode would leave (1,1) at val 1.0
    assert(state == Set((1L, 2L, 1.1), (2L, 1L, 2.1), (1L, 1L, 9.0)))
  }

  test("merged fold == sequence replay == model on random legal key-migration histories") {
    // The reference ships two apply modes — the compacting merge fold
    // (pkg/loader/merge.go:48-77) and the causality-serialized per-DML
    // replay (load.go:529-575 singleExec). For any LEGAL history (every op
    // valid at its commit-ts under the live composite unique key) both must
    // land on the same final state — which is also the state of the
    // in-memory model that generated the history. Random key-migrating
    // histories exercise vacate/reuse chains, cross-batch migrations, and
    // delete-then-reinsert sequences the hand-written cases can't
    // enumerate; the hand-written tests above stay as readable anchors.
    val rnd = new scala.util.Random(2024)
    (0 until 4).foreach { iter =>
      val model = scala.collection.mutable.Map[(Long, Long), Double]()
      val hist = scala.collection.mutable.ArrayBuffer[
        (Long, Long, Long, String, Double, Option[Long], Option[Long])]()
      val keys = for (a <- 1L to 4L; b <- 1L to 6L) yield (a, b)
      (1 to 60).foreach { ts =>
        val free = keys.filterNot(model.contains)
        val used = model.keys.toSeq.sorted
        val v = rnd.nextInt(1000) / 10.0
        val a = rnd.nextInt(10)
        if (used.isEmpty || (a < 3 && free.nonEmpty)) {
          val k = free(rnd.nextInt(free.size))
          model(k) = v
          hist += ((k._1, k._2, ts.toLong, "I", v, None, None))
        } else if (a < 5) {
          val k = used(rnd.nextInt(used.size))
          model -= k
          hist += ((k._1, k._2, ts.toLong, "D", 0.0, Some(k._1), Some(k._2)))
        } else if (a < 7 && free.nonEmpty) { // key-migrating update
          val k = used(rnd.nextInt(used.size))
          val nk = free(rnd.nextInt(free.size))
          model -= k; model(nk) = v
          hist += ((nk._1, nk._2, ts.toLong, "U", v, Some(k._1), Some(k._2)))
        } else { // in-place update
          val k = used(rnd.nextInt(used.size))
          model(k) = v
          hist += ((k._1, k._2, ts.toLong, "U", v, Some(k._1), Some(k._2)))
        }
      }
      val df = hist.toSeq
        .toDF("k1", "k2", "commit_ts", "op", "val", "old_k1", "old_k2")
      def applyVia(tag: String, merge: Boolean): Set[(Long, Long, Double)] = {
        val url = freshDerbyUrl(s"prop$tag$iter")
        val loader = new graft.sinks.JdbcSchemaLoader(url, applyPartitions = 4)
        loader.createTable(
          """CREATE TABLE PROP_T (K1 BIGINT NOT NULL, K2 BIGINT NOT NULL,
            | COMMIT_TS BIGINT, VAL DOUBLE,
            | CONSTRAINT PROP_UK UNIQUE (K1, K2))""".stripMargin)
        // three ts-bounded batches: migrations cross batch borders, so the
        // second and third replays run against state carried in the target
        val lastSlice = Seq((0L, 20L), (20L, 40L), (40L, 60L)).zipWithIndex.map {
          case ((lo, hi), i) =>
            val slice = df.filter(
              col("commit_ts") > lo && col("commit_ts") <= hi)
            loader.applyBatch(Map("PROP_T" -> slice), i.toLong, merge = merge)
            slice
        }.last
        def state() = loader.readTable(spark, "PROP_T").select("K1", "K2", "VAL")
          .as[(Long, Long, Double)].collect().toSet
        val applied = state()
        // un-checkpointed redelivery of the last batch (a fresh cluster id
        // skips the batch-id guard — the crash-after-apply recovery window)
        // must converge: merged replay is REPLACE-idempotent including its
        // synthetic old-key deletes; the sequence replay runs in safe mode,
        // the reference's half-recovered-target contract
        new graft.sinks.JdbcSchemaLoader(url, clusterId = 9L,
            applyPartitions = 4)
          .applyBatch(Map("PROP_T" -> lastSlice), 2L,
            merge = merge, safeMode = true)
        assert(state() == applied, s"redelivery must be a no-op, $tag iter=$iter")
        applied
      }
      val expected = model.map { case ((a, b), v) => (a, b, v) }.toSet
      assert(applyVia("m", merge = true) == expected, s"merged vs model, iter=$iter")
      assert(applyVia("s", merge = false) == expected, s"sequence vs model, iter=$iter")
    }
  }

  test("crash replay is idempotent: re-applying a committed batch lands on the identical state") {
    // the reference's recovery guarantee: a loader that crashed AFTER
    // applying but BEFORE saving its savepoint re-applies the whole batch
    // on restart, and REPLACE semantics make that replay a no-op
    // (merge path: delete-by-key + insert; sequence path: safe-mode
    // REPLACE, reparo's half-recovered-target mode). A second loader with
    // its own cluster id simulates exactly that un-checkpointed redelivery.
    val url = freshDerbyUrl("replayid")
    val mk = (cid: Long) => new graft.sinks.JdbcSchemaLoader(url,
      clusterId = cid, applyPartitions = 4)
    val loader = mk(1L)
    loader.createTable(
      """CREATE TABLE RP_T (PK BIGINT PRIMARY KEY, UK BIGINT NOT NULL,
        | COMMIT_TS BIGINT, VAL DOUBLE, CONSTRAINT RP_UK UNIQUE (UK))""".stripMargin)
    val batch = Seq(
      (1L, 10L, 1L, "I", 1.0, None, None),
      (2L, 20L, 2L, "I", 2.0, None, None),
      (1L, 11L, 3L, "U", 1.1, Some(1L), Some(10L)), // key-migrating update
      (3L, 30L, 4L, "I", 3.0, None, None),
      (3L, 30L, 5L, "D", 0.0, Some(3L), Some(30L)))
      .toDF("pk", "uk", "commit_ts", "op", "val", "old_pk", "old_uk")
    def state() = loader.readTable(spark, "RP_T")
      .select("PK", "UK", "VAL").as[(Long, Long, Double)].collect().toSet

    // merged path: apply, then redeliver un-checkpointed
    assert(mk(1L).applyBatch(Map("RP_T" -> batch), 0L))
    val afterMerge = state()
    assert(afterMerge == Set((1L, 11L, 1.1), (2L, 20L, 2.0)))
    assert(mk(2L).applyBatch(Map("RP_T" -> batch), 0L))
    assert(state() == afterMerge, "merged replay must be a no-op")

    // sequence path in safe mode over the already-applied state (the mode
    // reparo uses into a half-recovered target): same end state, no
    // duplicate-key failure from the plain INSERTs
    assert(mk(3L).applyBatch(Map("RP_T" -> batch), 0L,
      merge = false, safeMode = true))
    assert(state() == afterMerge, "safe-mode sequence replay must converge")
  }

  test("reparo: pb binlog files replayed into a SQL database up to a recovery point") {
    val changes = Cdc.changes(spark, sf)
    val pbDir = graft.util.Scratch.dir("graft_reparo_pb")
    graft.sources.PbBinlogFile.write(changes, pbDir, nFiles = 4)
    val stop = changes.agg(expr("max(commit_ts) * 6 div 10")).head.getLong(0)
    val url = freshDerbyUrl("reparo")

    val n = Reparo.replay(spark, pbDir, 0L, stop, url)
    assert(n == changes.filter(col("commit_ts") <= stop).count())

    // the recovered table == the pitr_replay batch query's live state
    val recovered = new graft.sinks.JdbcUpsertSink(url).currentState(spark)
      .select("pk", "value").as[(Long, Double)].collect().toSet
    val expected = Cdc.pitrReplay(spark, sf)
      .select("pk", "value").as[(Long, Double)].collect().toSet
    assert(recovered == expected)

    // replaying again (idempotent-recovery rerun) changes nothing: safe
    // mode re-applies, batch-id advances, end state identical
    Reparo.replay(spark, pbDir, 0L, stop, url)
    val again = new graft.sinks.JdbcUpsertSink(url).currentState(spark)
      .select("pk", "value").as[(Long, Double)].collect().toSet
    assert(again == expected)
  }

  test("reparo replays wire-carried DDL at its commit-ts barrier") {
    import graft.sources.PbBinlogFile
    // the reference's pb binlog interleaves DDL entries with DML
    // (proto/pb_binlog.proto Binlog tp=DDL/ddl_query) and reparo executes
    // them at their commit-ts position; this pins the whole path — a DDL
    // record rides the wire, splits the replay at its barrier, and its
    // statement runs FOR REAL against the target engine between the DML
    // slices (ref: reparo/syncer/mysql.go DDL-alone execution)
    val changes = Cdc.changes(spark, sf)
    val maxTs = changes.agg(max("commit_ts")).head.getLong(0)
    val mid = maxTs / 2
    val ddlRow = Seq((mid, 0L, "DDL", "ddl",
        new java.sql.Timestamp(0L), Option.empty[Double], null: String,
        "ALTER TABLE GRAFT_STATE ADD COLUMN NOTE VARCHAR(8) DEFAULT 'x'"))
      .toDF("commit_ts", "pk", "op", "event_type", "ts", "value", "props",
        "ddl_sql")
    val withDdl = changes.withColumn("ddl_sql", lit(null).cast("string"))
      .unionByName(ddlRow)
    val pbDir = graft.util.Scratch.dir("graft_reparo_ddl")
    PbBinlogFile.write(withDdl, pbDir, nFiles = 4)
    val url = freshDerbyUrl("reparoddl")

    val n = Reparo.replay(spark, pbDir, 0L, maxTs, url)
    assert(n == changes.count() + 1, "DML and the DDL record all replay")

    // DML correctness across the barrier: end state == full compaction
    val expect = Cdc.compactByPk(changes).filter(col("op") =!= "D")
      .select("pk", "value").as[(Long, Double)].collect().toMap
    val got = new graft.sinks.JdbcUpsertSink(url).currentState(spark)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got == expect)

    // the DDL executed for real — the widened column exists with its
    // default — and the ddl log pins it at its barrier ts
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT NOTE FROM GRAFT_STATE FETCH FIRST ROW ONLY")
      assert(rs.next() && rs.getString(1) == "x")
      val lg = c.createStatement().executeQuery(
        "SELECT COMMIT_TS, STMT FROM GRAFT_DDL_LOG")
      assert(lg.next() && lg.getLong(1) == mid &&
        lg.getString(2).startsWith("ALTER TABLE"))
      assert(!lg.next(), "exactly one ddl-log row")
    } finally c.close()
  }

  test("typed chain: envelope → wire files → decode → schema loader → read-back, bit-exact") {
    import graft.sources.PbBinlogFile
    // the full fidelity chain in ONE composed path: each stage is
    // oracle-proven alone (wire_typed_roundtrip, k1_multi_table); this
    // pins that they COMPOSE — the typed envelope survives wire encode →
    // file → decode → catalog-driven JDBC apply → partitioned read-back
    // with every M9 domain bit intact (ref: the reference's dailytest
    // round-trips exactly this chain end-to-end, tests/dailytest/case.go:97-146)
    val typed = graft.ops.TypeDomain.typedEnvelope(Cdc.changes(spark, sf))
    val wireDir = graft.util.Scratch.dir("graft_chain_wire")
    PbBinlogFile.write(typed, wireDir, nFiles = 4)
    val decoded = PbBinlogFile.read(spark, wireDir)

    val loader = new graft.sinks.JdbcSchemaLoader(freshDerbyUrl("chain"),
      applyPartitions = 4)
    loader.createTable(
      """CREATE TABLE TYPED_CHAIN (K1 BIGINT NOT NULL, K2 VARCHAR(8) NOT NULL,
        | COMMIT_TS BIGINT, VAL DOUBLE, DEC38 VARCHAR(45), UDEC DECIMAL(20,0),
        | BITS BIGINT, ENUM_ORD INT,
        | CONSTRAINT CHAIN_UK UNIQUE (K1, K2))""".stripMargin)
    val frame = decoded.select(
      col("pk").as("k1"), (col("commit_ts") % 5).cast("string").as("k2"),
      col("commit_ts"), col("op"), col("value").as("val"),
      col("dec38"), col("udec").cast("decimal(20,0)").as("udec"),
      col("bits"), col("enum_ord"))
    assert(loader.applyBatch(Map("TYPED_CHAIN" -> frame), 0L))

    def canon(df: org.apache.spark.sql.DataFrame) = df.collect().toSet
    val back = canon(loader.readTable(spark, "TYPED_CHAIN", Some("K1"))
      .select(col("K1").as("k1"), col("K2").as("k2"),
        col("COMMIT_TS").as("commit_ts"), col("VAL").as("val"),
        col("DEC38").cast("decimal(38,19)").cast("string").as("dec38"),
        col("UDEC").cast("string").as("udec"), col("BITS").as("bits"),
        col("ENUM_ORD").cast("long").as("enum_ord")))
    // expected: the same compaction computed straight from the in-memory
    // envelope — no wire, no JDBC. Any bit dropped by any stage diverges.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pk"), col("commit_ts") % 5)
      .orderBy(col("commit_ts").desc)
    val expected = canon(typed
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("pk").as("k1"), (col("commit_ts") % 5).cast("string").as("k2"),
        col("commit_ts"), col("value").as("val"),
        col("dec38").cast("decimal(38,19)").cast("string").as("dec38"),
        col("udec").cast("decimal(20,0)").cast("string").as("udec"),
        col("bits"), col("enum_ord").cast("long").as("enum_ord")))
    assert(back == expected && back.nonEmpty)
  }

  test("arbiter: kafka-shaped frame stream decoded and applied to a SQL database") {
    import graft.streaming.CdcStream
    val changes = Cdc.changes(spark, sf)
    // stage the Kafka sink's own frames as a file stream — the broker-free
    // transport twin (same shape a readStream.format(\"kafka\") source yields)
    val frameDir = graft.util.Scratch.dir("graft_arbiter_in")
    val ckpt = graft.util.Scratch.dir("graft_arbiter_ckpt")
    CdcStream.toKafkaFrame(changes, "cdc-events")
      .write.mode("overwrite").parquet(frameDir)
    val frames = spark.readStream
      .schema("key BINARY, value BINARY, topic STRING")
      .parquet(frameDir)
    val url = freshDerbyUrl("arbiter")
    val q = Arbiter.run(frames, url, ckpt)
    try q.processAllAvailable() finally q.stop()

    val applied = new graft.sinks.JdbcUpsertSink(url).currentState(spark)
      .select("pk", "value").as[(Long, Double)].collect().toSet
    val expected = Cdc.compactByPk(changes).filter(col("op") =!= "D")
      .select("pk", "value").as[(Long, Double)].collect().toSet
    assert(applied == expected)
  }
}
