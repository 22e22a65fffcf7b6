package graft

import org.apache.spark.sql.functions._

import graft.harness.DecodeQueries.writeDecoded
import graft.streaming.{CdcStream, PcMatcher}
import graft.streaming.PcMatcher.PcEvent

/** Cluster-scale soaks — the evidence behind the "billion-key state off
  * executor heap" and "100k-table registration" claims (the 100 TB
  * question). EXCLUDED from normal test runs and from the bench: set
  * `GRAFT_SOAK=1` to run. The state cases push multi-million-key state
  * through the RocksDB provider and assert from the query's own progress
  * metrics that (a) the state really lives on RocksDB, (b) the row count
  * is exact at soak scale, (c) reported memory stays far below what a
  * heap-backed store would need, and (d) the changelog checkpoint advances
  * version by version (the incremental-commit path a cluster restart
  * recovers from); the registration case bounds the versioned decode's
  * per-trigger driver cost against a 20k-table catalog.
  */
class SoakSpec extends SparkSpec {
  import spark.implicits._

  private val enabled = sys.env.get("GRAFT_SOAK").exists(_.nonEmpty)

  /** Session tuned like a cluster state node: RocksDB provider + changelog
    * checkpointing (incremental commits instead of full snapshot uploads). */
  private def soakSession() = {
    val s = spark.newSession()
    val (k, v) = CdcStream.RocksDbStateStore
    s.conf.set(k, v)
    s.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    s
  }

  private def changelogVersions(ckpt: String): Int = {
    val root = java.nio.file.Paths.get(ckpt, "state")
    if (!java.nio.file.Files.exists(root)) 0
    else {
      val found = java.nio.file.Files.walk(root)
      try found.filter(p => p.toString.endsWith(".changelog")).count().toInt
      finally found.close()
    }
  }

  test("soak: 10M-key dedup state on RocksDB — exact, bounded, changelog-checkpointed") {
    assume(enabled, "set GRAFT_SOAK=1 to run the state soak")
    val s = soakSession()
    val n = 10_000_000L
    val in = graft.util.Scratch.dir("graft_soak_dedup_in")
    val ckpt = graft.util.Scratch.dir("graft_soak_dedup_ckpt")
    // every commit id unique, all event times inside ONE watermark window
    // (1 hour) — nothing evicts, so live state reaches exactly n keys
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    s.range(n).select(
        col("id").as("event_id"),
        timestamp_micros(lit(base) + (col("id") % 3000L) * 1000000L).as("ts"),
        col("id").as("user_id"),
        lit("click").as("event_type"),
        col("id").cast("double").as("value"),
        lit(null).cast("string").as("props"))
      .repartition(20).write.parquet(s"$in/data")

    var total = 0L
    val q = CdcStream.dedupStream(
        CdcStream.changeStream(s, s"$in/data", maxFilesPerTrigger = 5))
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        total += b.count(); ()
      }.start()
    try q.processAllAvailable() finally q.stop()

    assert(total == n, s"every unique key emitted once, got $total")
    val progress = q.recentProgress.filter(_.stateOperators.nonEmpty)
    assert(progress.length >= 3, "the soak must span several micro-batches")
    val last = progress.last.stateOperators.head
    assert(last.numRowsTotal == n, s"state rows ${last.numRowsTotal}")
    assert(last.customMetrics.keySet.toArray
      .exists(_.toString.toLowerCase.contains("rocksdb")),
      "state must live on RocksDB")
    // a heap store would hold ~100 B/key deserialized (≥ 1 GB here);
    // RocksDB reports block cache + memtables, bounded regardless of keys
    assert(last.memoryUsedBytes < 1_500_000_000L,
      s"state memory must stay bounded, got ${last.memoryUsedBytes}")
    assert(changelogVersions(ckpt) >= 2,
      "changelog checkpoint must advance across batches")
  }

  test("soak: 20k-table registration, one-table traffic — trigger cost stays O(touched)") {
    assume(enabled, "set GRAFT_SOAK=1 to run the state soak")
    // the r13 driver-init claim at soak scale: with 20k REGISTERED tables
    // and traffic touching ONE, the per-trigger driver work (catalog
    // view, slice seeds, frontier precheck) must be touched-set-sized —
    // both observably (the view-size hook) and in wall-clock (a trigger
    // that rebuilt 20k map entries plus 20k seeded buffers would not
    // amortize; at 100k+ tables it would dominate every batch)
    import graft.sources.PbBinlogFile
    import graft.streaming.SchemaTracker
    val s = soakSession()
    val nTables = 20000
    val wireDir = graft.util.Scratch.dir("graft_soak_tchd_wire")
    val outDir = graft.util.Scratch.dir("graft_soak_tchd_out")
    val ckpt = graft.util.Scratch.dir("graft_soak_tchd_ckpt")
    val tracker = new SchemaTracker()
    (0 until nTables).foreach(i =>
      tracker.createTable("app", f"t$i%05d", Seq("k DOUBLE"), version = 0))
    def frames(ids: Seq[Long]) = {
      import s.implicits._
      ids.toDF("commit_ts").select(
        col("commit_ts"), col("commit_ts").as("pk"), lit("U").as("op"),
        lit("t00007").as("event_type"),
        timestamp_micros(col("commit_ts") * 1000000L).as("ts"),
        col("commit_ts").cast("double").as("value"),
        concat(lit("{\"k\": "), col("commit_ts").cast("string"), lit("}"))
          .as("props"),
        lit(null).cast("string").as("ddl_sql"))
    }
    PbBinlogFile.write(frames(1L to 50L), wireDir, nFiles = 1)
    val q = CdcStream.ddlDrivenDecodeTables(
      PbBinlogFile.readStream(s, wireDir), tracker, outDir, ckpt,
      "app", col("event_type"), writeDecoded(outDir))
    try {
      q.processAllAvailable()
      // steady-state trigger cost, measured over follow-up batches (the
      // first batch carries stream-start one-time work)
      val t0 = System.nanoTime()
      val followUps = 5
      (1 to followUps).foreach { i =>
        PbBinlogFile.write(frames((50L + i * 10L) to (59L + i * 10L)),
          wireDir, nFiles = 1)
        q.processAllAvailable()
      }
      val perTrigger = (System.nanoTime() - t0) / 1e9 / followUps
      assert(CdcStream.lastDriverCatalogSizes.get(outDir).intValue == 1,
        "the 20k-table registration must not enter the per-batch view")
      // generous bound: a one-table trigger runs in well under 2 s on any
      // machine this suite runs on; an O(registration) rebuild at 20k
      // tables pushed this past the bound in the pre-r13 shape
      assert(perTrigger < 2.0,
        f"steady-state trigger took $perTrigger%.2f s at $nTables tables")
    } finally q.stop()
    val rows = s.read.parquet(s"$outDir/data").count()
    assert(rows == 100L, s"decoded rows $rows")
  }

  test("soak: 5M transactions through the P/C matcher on RocksDB — state fills then drains") {
    assume(enabled, "set GRAFT_SOAK=1 to run the state soak")
    val s = soakSession()
    import s.implicits._
    val n = 5_000_000L
    val in = graft.util.Scratch.dir("graft_soak_pc_in")
    val ckpt = graft.util.Scratch.dir("graft_soak_pc_ckpt")
    // phase file 1: n prewrites; phase file 2: n commits — the matcher's
    // state peaks at n Pending entries, then drains to zero
    s.range(n).select(col("id").as("startTs"), lit("P").as("kind"),
        col("id").as("payloadTs"))
      .coalesce(4).write.parquet(s"$in/p=1")
    s.range(n).select(col("id").as("startTs"), lit("C").as("kind"),
        (col("id") + n).as("payloadTs"))
      .coalesce(4).write.parquet(s"$in/p=2")
    // mtime-order the phases so the P's arrive strictly first
    val d1 = new java.io.File(s"$in/p=1")
    d1.listFiles().foreach(f =>
      f.setLastModified(System.currentTimeMillis() - 120000))

    val events = s.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "startTs BIGINT, kind STRING, payloadTs BIGINT"))
      .option("maxFilesPerTrigger", 4)
      .parquet(s"$in/p=*")
      .as[PcEvent]
    var matchedCount = 0L
    val q = new PcMatcher(3600_000L).matched(events).toDF()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        matchedCount += b.filter(col("status") === "matched").count(); ()
      }.start()
    try {
      val deadline = System.currentTimeMillis() + 1_200_000
      while (matchedCount < n && q.exception.isEmpty &&
             System.currentTimeMillis() < deadline) Thread.sleep(1000)
      q.exception.foreach(throw _)
    } finally q.stop()

    assert(matchedCount == n, s"every transaction matched once, got $matchedCount")
    val progress = q.recentProgress.filter(_.stateOperators.nonEmpty)
    val peak = progress.map(_.stateOperators.head.numRowsTotal).max
    assert(peak >= n, s"pending state must peak at $n entries, saw $peak")
    val last = progress.last.stateOperators.head
    assert(last.numRowsTotal == 0L, "all pending state must drain")
    assert(last.customMetrics.keySet.toArray
      .exists(_.toString.toLowerCase.contains("rocksdb")))
    assert(progress.map(_.stateOperators.head.memoryUsedBytes).max < 1_500_000_000L)
    assert(changelogVersions(ckpt) >= 2)
  }
}
