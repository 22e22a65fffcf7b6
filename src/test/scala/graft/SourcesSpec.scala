package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.sources.InfoSchema
import graft.streaming.CdcStream

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("info-schema catalog read: writable columns, PRIMARY-first unique keys (S8)") {
    val columns = Seq(
      ("app", "events", "pk", 1, ""),
      ("app", "events", "value", 2, ""),
      ("app", "events", "gen_col", 3, "VIRTUAL GENERATED"),
      ("app", "events", "k", 4, ""),
      ("app", "users", "id", 1, "")
    ).toDF("table_schema", "table_name", "column_name", "ordinal_position", "extra")
    val stats = Seq(
      ("app", "events", "uk_k", 0, 1, "k"),
      ("app", "events", "PRIMARY", 0, 1, "pk"),
      ("app", "events", "idx_value", 1, 1, "value"), // non-unique: not a key
      ("app", "users", "PRIMARY", 0, 1, "id")
    ).toDF("table_schema", "table_name", "index_name", "non_unique",
      "seq_in_index", "column_name")

    val info = InfoSchema.tableInfo(columns, stats, "app", "events")
    assert(info.columns == Seq("pk", "value", "k"), "generated column excluded")
    assert(info.uniqueKeys.map(_.name) == Seq("PRIMARY", "uk_k"), "PRIMARY hoisted first")
    assert(info.primaryKey.get.columns == Seq("pk"))

    val tracker = new graft.streaming.SchemaTracker()
    val loaded = InfoSchema.loadInto(tracker, columns, stats, version = 1)
    assert(loaded.size == 2)
    assert(tracker.current("app", "users").get.columns == Vector("id"))
    assert(tracker.current("app", "events").get.columns == Vector("pk", "value", "k"))
  }

  test("kafka transport wiring: stream → (key,value,topic) frame → decode round-trip (S7/K3)") {
    val in = java.nio.file.Paths.get(graft.util.Scratch.dir("graft_kafka_in"))
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      in.resolve("events.parquet"))
    val ckpt = graft.util.Scratch.dir("graft_kafka_ckpt")

    val changes = CdcStream.changeStream(spark, in.toString)
    val q = CdcStream.kafkaTransport(changes, "cdc-events", ckpt,
      brokers = None, queryName = "kafka_wire")
    try q.processAllAvailable() finally q.stop()

    // the frame honors the Kafka sink's exact column contract
    val frame = spark.table("kafka_wire")
    val bySchema = frame.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(bySchema("key") == BinaryType)
    assert(bySchema("value") == BinaryType)
    assert(bySchema("topic") == StringType)
    assert(frame.select("topic").distinct().as[String].collect().toSeq == Seq("cdc-events"))

    // decoding the frame restores the change envelope exactly (S7 inverse)
    val decoded = CdcStream.fromKafkaFrame(frame)
      .select("commit_ts", "pk", "op", "value")
      .as[(Long, Long, String, Double)].collect().toSet
    val batch = graft.ops.Cdc.changes(spark, sf)
      .select("commit_ts", "pk", "op", "value")
      .as[(Long, Long, String, Double)].collect().toSet
    assert(decoded == batch)
  }

  test("pb binlog files (S6/K4 real wire shape): write, read back, ts-range prunes files") {
    import graft.sources.PbBinlogFile
    val dir = graft.util.Scratch.dir("graft_pbfile")
    val changes = graft.ops.Cdc.changes(spark, sf)
    PbBinlogFile.write(changes, dir, nFiles = 4)

    // 4 non-empty range partitions → 4 files, named by first commit ts
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.length == 4 && files.forall(_.startsWith("binlog-")))

    // full round-trip: binary form == parquet-derived envelope, every column
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("commit_ts"), col("pk"), col("op"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("value"), col("props"))
      .as[(Long, Long, String, String, Long, Double, String)].collect().toSet
    assert(key(PbBinlogFile.read(spark, dir)) == key(changes))

    // ts-range scan over the wire form == the same range over parquet, and
    // the file filter reads only the overlapping files (exact interval
    // overlap on the [firstTs, lastTs] endpoints carried in each name)
    val fileTs = files.map(_.split('-')(2).toLong).sorted
    val (lo, hi) = (fileTs(1), fileTs(2) - 1) // covers file 1 only, by name
    val expect = key(changes.filter(col("commit_ts") >= lo && col("commit_ts") <= hi))
    assert(key(PbBinlogFile.read(spark, dir, lo, hi)) == expect)
    val picked = graft.sources.PbBinlogFile.selectFilesBounded(files.toIndexedSeq, lo, hi)
    assert(picked.length <= 2 && picked.contains(files(1)),
      s"range [$lo,$hi] must prune to the overlapping files, got $picked")

    // a flipped payload byte must fail the crc check loudly, like the
    // reference's ErrCRCMismatch — never silently pass corrupt rows
    val victim = java.nio.file.Paths.get(dir, files.head)
    val bytes = Files.readAllBytes(victim)
    bytes(20) = (bytes(20) ^ 0x01).toByte // inside the first payload
    Files.write(victim, bytes)
    intercept[Exception] { PbBinlogFile.read(spark, dir).count() }
  }

  test("pb binlog recovering read: corrupt regions and torn tails skip to the next valid frame") {
    import graft.sources.PbBinlogFile
    val dir = graft.util.Scratch.dir("graft_pbrecover")
    val changes = graft.ops.Cdc.changes(spark, sf).filter(col("commit_ts") < 4000)
    PbBinlogFile.write(changes, dir, nFiles = 2)
    val total = changes.count()
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted

    // flip a byte inside the FIRST payload of file 0: strict read fails
    // (ErrCRCMismatch semantics), recovering read resyncs at the next magic
    // and loses exactly the one damaged frame (ref: binlogger.go:308-321)
    val f0 = java.nio.file.Paths.get(dir, files(0))
    val clean0 = Files.readAllBytes(f0)
    val flipped = clean0.clone()
    flipped(20) = (flipped(20) ^ 0x01).toByte
    Files.write(f0, flipped)
    intercept[Exception] { PbBinlogFile.read(spark, dir).count() }
    assert(PbBinlogFile.read(spark, dir, recover = true).count() == total - 1)

    // a torn trailing frame (writer died mid-frame, no atomic rename — the
    // relay-crash shape) must end the salvage cleanly, keeping every frame
    // before the tear
    Files.write(f0, clean0) // heal file 0
    val f1 = java.nio.file.Paths.get(dir, files(1))
    val clean1 = Files.readAllBytes(f1)
    Files.write(f1, java.util.Arrays.copyOf(clean1, clean1.length - 7))
    intercept[Exception] { PbBinlogFile.read(spark, dir).count() }
    assert(PbBinlogFile.read(spark, dir, recover = true).count() == total - 1)

    // garbage INSERTED between frames (overwritten stretch): resync must
    // recover every intact frame, and the recovered rows must be the
    // originals bit-for-bit, not resynthesized lookalikes
    Files.write(f1, clean1) // heal file 1
    val junk = Array.tabulate[Byte](37)(i => (i * 31 + 7).toByte)
    val spliced = java.nio.ByteBuffer.allocate(clean0.length + junk.length)
    val firstLen = 16 + java.nio.ByteBuffer.wrap(clean0, 4, 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong.toInt
    spliced.put(clean0, 0, firstLen).put(junk)
      .put(clean0, firstLen, clean0.length - firstLen)
    Files.write(f0, spliced.array())
    val recovered = PbBinlogFile.read(spark, dir, recover = true)
      .select("commit_ts", "pk", "op", "value")
      .as[(Long, Long, String, Option[Double])].collect().toSet
    val expect = changes.select("commit_ts", "pk", "op", "value")
      .as[(Long, Long, String, Option[Double])].collect().toSet
    assert(recovered == expect)
  }

  test("pb binlog salvage property: random damage loses exactly the touched frames") {
    // Deterministic fuzz over the three damage families the reference's
    // disaster read survives (binlogger.go:308-321 resync, 504-534 seek):
    // random bit flips, a torn tail, garbage spliced mid-stream. The
    // salvage contract is EXACT: every frame whose bytes are untouched is
    // recovered bit-for-bit, every touched frame is dropped, nothing is
    // fabricated — the property the deterministic cases above pin only at
    // hand-picked offsets.
    import graft.sources.PbBinlogFile
    import java.nio.{ByteBuffer, ByteOrder}
    val dir = graft.util.Scratch.dir("graft_pbfuzz")
    val changes = graft.ops.Cdc.changes(spark, sf).filter(col("commit_ts") < 3000)
    PbBinlogFile.write(changes, dir, nFiles = 1)
    val file = new java.io.File(dir).listFiles()
      .filter(f => !f.getName.startsWith(".")).head.toPath
    val clean = Files.readAllBytes(file)
    val extents = { // [start, end) byte range of every frame, walked clean
      val b = Vector.newBuilder[(Int, Int)]
      var p = 0
      while (p + 16 <= clean.length) {
        val len = ByteBuffer.wrap(clean, p + 4, 8)
          .order(ByteOrder.LITTLE_ENDIAN).getLong.toInt
        b += ((p, p + 16 + len)); p += 16 + len
      }
      b.result()
    }
    def rows() = PbBinlogFile.read(spark, dir, recover = true)
      .select("commit_ts", "pk", "op", "value")
      .as[(Long, Long, String, Option[Double])].collect()
    // one file, one decode iterator: row order IS frame order
    val cleanRows = rows()
    assert(cleanRows.length == extents.length)
    assert(cleanRows.distinct.length == cleanRows.length)
    try for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val (damaged, touched) = rnd.nextInt(3) match {
        case 0 => // random bit flips at DISTINCT offsets (a repeated
          // (offset, bit) draw would revert the byte and falsify `touched`)
          val bytes = clean.clone()
          val hits = LazyList.continually(rnd.nextInt(clean.length))
            .distinct.take(1 + rnd.nextInt(4)).toList
          hits.foreach(o => bytes(o) = (bytes(o) ^ (1 << rnd.nextInt(8))).toByte)
          (bytes, extents.zipWithIndex.collect {
            case ((s, e), i) if hits.exists(o => o >= s && o < e) => i }.toSet)
        case 1 => // torn tail (writer died mid-frame)
          val cut = 1 + rnd.nextInt(clean.length - 1)
          (java.util.Arrays.copyOf(clean, cut),
            extents.zipWithIndex.collect { case ((_, e), i) if e > cut => i }.toSet)
        case _ => // garbage spliced into the stream
          val at = rnd.nextInt(clean.length + 1)
          val junk = Array.fill[Byte](1 + rnd.nextInt(64))(rnd.nextInt().toByte)
          val out = new Array[Byte](clean.length + junk.length)
          System.arraycopy(clean, 0, out, 0, at)
          System.arraycopy(junk, 0, out, at, junk.length)
          System.arraycopy(clean, at, out, at + junk.length, clean.length - at)
          (out, extents.zipWithIndex.collect {
            case ((s, e), i) if at > s && at < e => i }.toSet)
      }
      Files.write(file, damaged)
      val expected = cleanRows.zipWithIndex.collect {
        case (r, i) if !touched(i) => r }.toSet
      assert(rows().toSet == expected,
        s"seed=$seed: salvage must lose exactly frames $touched")
    } finally Files.write(file, clean) // heal even on a mid-loop failure, so
    // a later reader of the scratch dir never compounds the first assertion
    // failure with confusing corrupt-bytes errors of its own
  }

  test("pb binlog write atomicity: a failed task leaves no visible or stranded segment") {
    import graft.sources.PbBinlogFile
    val dir = graft.util.Scratch.dir("graft_pbabort")
    val changes = graft.ops.Cdc.changes(spark, sf).filter(col("commit_ts") < 2000)
    // poison the LAST row of the single sorted partition: the task streams
    // real frames into an open .inprogress temp first, then the encoder
    // throws on the null op — the abort path must delete the temp, never
    // promote it to a readable (truncated) binlog-* segment
    val lastTs = changes.agg(max("commit_ts")).head.getLong(0)
    val poisoned = changes.withColumn("op",
      when(col("commit_ts") === lastTs, lit(null).cast("string"))
        .otherwise(col("op")))
    intercept[Exception] { PbBinlogFile.write(poisoned, dir, nFiles = 1) }
    val left = new java.io.File(dir).listFiles().map(_.getName).toSeq
    assert(left.isEmpty, s"failed write must leave the dir empty, got $left")
    // the same dir accepts the retry and round-trips completely
    PbBinlogFile.write(changes, dir, nFiles = 1)
    assert(PbBinlogFile.read(spark, dir).count() == changes.count())
  }

  test("pb binlog IO resolves scheme-qualified URIs through the Hadoop FileSystem") {
    // the portability contract behind the Hadoop-FS port: the same write /
    // list / scan path must accept a scheme-qualified directory (file: here;
    // hdfs:/s3a: on a cluster) — java.io-era code would have treated the
    // scheme as part of a local path and failed
    import graft.sources.PbBinlogFile
    val dir = graft.util.Scratch.dir("graft_pburi")
    val changes = graft.ops.Cdc.changes(spark, sf).filter(col("commit_ts") < 1500)
    PbBinlogFile.write(changes, s"file:$dir", nFiles = 2)
    val names = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("binlog-"))
    assert(names.length == 2, s"segments must land under the URI's path, got ${names.toSeq}")
    assert(PbBinlogFile.read(spark, s"file:$dir").count() == changes.count())
    assert(PbBinlogFile.gc(spark, s"file:$dir", Long.MaxValue / 2).nonEmpty)
  }

  test("pb binlog reader factories ship a broadcast handle, not the Hadoop configuration") {
    // a task carries its reader factory in its lineage, one per pump source
    // of a merged wire stream: a Configuration serialized there (~1000 keys,
    // ~100 KB) would be deserialized again by every task
    import graft.sources.PbBinlogScanBuilder
    val ser = org.apache.spark.SparkEnv.get.closureSerializer.newInstance()
    val dir = graft.util.Scratch.dir("graft_pbfactory")
    Seq(1, 4).foreach { pumps =>
      val scans = (1 to pumps).map(p =>
        new PbBinlogScanBuilder(s"$dir/pump$p", recover = false).build())
      val streams = scans.map(_.toMicroBatchStream(s"$dir/ckpt"))
      try {
        Seq("stream" -> streams.map(_.createReaderFactory()),
            "scan" -> scans.map(_.toBatch.createReaderFactory())).foreach {
          case (kind, factories) =>
            val bytes = ser.serialize(factories).limit()
            assert(bytes < 4096,
              s"$pumps $kind reader factories serialize to $bytes bytes")
            info(s"$pumps pump(s), $kind factories: $bytes bytes")
        }
      } finally streams.foreach(_.stop())
    }
  }

  test("pb binlog readers resolve filesystems through the driver's Hadoop configuration") {
    // a scheme registered ONLY in the driver's hadoopConfiguration, with
    // the filesystem cache off: a reader holding any other configuration
    // fails with "No FileSystem for scheme"
    import graft.sources.PbBinlogFile
    val hconf = spark.sparkContext.hadoopConfiguration
    val scheme = CountingLocalFs.Scheme
    val keys = Seq(s"fs.$scheme.impl" -> classOf[CountingLocalFs].getName,
      s"fs.$scheme.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => hconf.set(k, v) }
    try {
      val dir = s"$scheme://" + graft.util.Scratch.dir("graft_pbdriverconf")
      val changes = graft.ops.Cdc.changes(spark, sf).filter(col("commit_ts") < 1500)
      val n = changes.count()
      PbBinlogFile.write(changes, dir, nFiles = 2)
      val opens0 = CountingLocalFs.opens.get()
      assert(PbBinlogFile.read(spark, dir).count() == n)
      val q = PbBinlogFile.readStream(spark, dir)
        .writeStream.format("memory").queryName("pb_driver_conf").start()
      try q.processAllAvailable() finally q.stop()
      assert(spark.table("pb_driver_conf").count() == n)
      assert(CountingLocalFs.opens.get() - opens0 >= 4,
        "the batch and stream readers must open each segment through the scheme")
    } finally keys.foreach { case (k, _) => hconf.unset(k) }
  }

  test("pb binlog strict read fails on a sub-header torn tail; recover salvages") {
    // the >16-byte torn-frame case is covered above (the length check
    // trips); this pins the sub-16-byte fragment, which a length-gated
    // iterator would have silently treated as end-of-file — losing the
    // fact that a writer died mid-write (ref: binlogger.go:308-321 surfaces
    // the decode error; salvage is opt-in)
    import graft.sources.PbBinlogFile
    val dir = graft.util.Scratch.dir("graft_pbtorn")
    val changes = graft.ops.Cdc.changes(spark, sf).filter(col("commit_ts") < 1000)
    PbBinlogFile.write(changes, dir, nFiles = 1)
    val total = changes.count()
    val f = new java.io.File(dir).listFiles().map(_.toPath)
      .filter(_.getFileName.toString.startsWith("binlog-")).head
    val clean = Files.readAllBytes(f)
    Files.write(f, clean ++ clean.take(10)) // 10 trailing bytes: < one header
    val err = intercept[Exception] { PbBinlogFile.read(spark, dir).count() }
    assert(err.getMessage.contains("torn binlog tail") ||
      Option(err.getCause).exists(_.getMessage.contains("torn binlog tail")))
    assert(PbBinlogFile.read(spark, dir, recover = true).count() == total,
      "every complete frame before the tear must salvage")
  }

  test("pb binlog gc reaps aged orphaned .inprogress temps, spares young ones") {
    // a crashed or abandoned-speculative writer leaves a dot-prefixed temp:
    // invisible to readers, but accumulating forever without a reaper
    import graft.sources.PbBinlogFile
    val dir = graft.util.Scratch.dir("graft_pbtempgc")
    val changes = graft.ops.Cdc.changes(spark, sf).filter(col("commit_ts") < 1000)
    PbBinlogFile.write(changes, dir, nFiles = 2)
    val old = new java.io.File(dir, ".binlog-0000000100000000.9.deadbeef.inprogress")
    val young = new java.io.File(dir, ".binlog-0000000200000000.9.cafecafe.inprogress")
    Files.write(old.toPath, Array[Byte](1, 2, 3))
    Files.write(young.toPath, Array[Byte](4, 5, 6))
    assert(old.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000))
    val victims = PbBinlogFile.gc(spark, dir, safeTs = 0L)
    assert(victims.isEmpty, "no visible segment is below safeTs=0")
    assert(!old.exists(), "a temp older than the TTL must be reclaimed")
    assert(young.exists(), "a young temp may have a live writer — spared")
    assert(PbBinlogFile.read(spark, dir).count() == changes.count())
  }

  test("pb binlog retention gc: segments wholly below the safe ts reclaim, later reads unchanged") {
    // ref: binlogger.go:354-380 GCByPos — delete everything before the
    // position, always keep the latest file; here the position is a commit
    // ts and the contract is that reads ABOVE it never change
    import graft.sources.PbBinlogFile
    val dir = graft.util.Scratch.dir("graft_pbgc")
    val changes = graft.ops.Cdc.changes(spark, sf).filter(col("commit_ts") < 2000)
    PbBinlogFile.write(changes, dir, nFiles = 2, maxBytesPerFile = 4096)
    def segments() = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("binlog-")).sorted
    val files = segments()
    assert(files.length > 4)
    val safeTs = files(files.length / 2).split('-')(2).toLong
    def above() = PbBinlogFile.read(spark, dir, startTs = safeTs + 1)
      .select("commit_ts", "pk", "op")
      .as[(Long, Long, String)].collect().toSet
    val before = above()
    val reclaimed = PbBinlogFile.gc(spark, dir, safeTs)
    assert(reclaimed.nonEmpty && segments().length == files.length - reclaimed.size)
    // only segments whose whole range sits at or below safeTs were removed
    assert(reclaimed.forall(n => files.dropRight(1).contains(n)))
    assert(above() == before, "the live range must survive the reclaim intact")
    // even a far-future safe ts keeps the newest segment (the open one)
    PbBinlogFile.gc(spark, dir, Long.MaxValue / 2)
    assert(segments().length == 1)

    // parallel-writer layout hazard: a SECOND write invocation interleaves
    // pid prefixes, so segment-NAME order is not commit-ts order — a
    // successor-by-name reclaim rule would here delete the second write's
    // pid-0 segment (all of it above safeTs). The content-verified gc must
    // not lose a single live row on any layout.
    val dir2 = graft.util.Scratch.dir("graft_pbgc_append")
    val all = graft.ops.Cdc.changes(spark, sf)
    def segFirstTs() = new java.io.File(dir2).listFiles().map(_.getName)
      .filter(_.startsWith("binlog-")).map(_.split('-')(2).toLong)
    PbBinlogFile.write(all.filter(col("commit_ts") < 1000), dir2, nFiles = 2)
    // safeTs = the first write's SECOND segment boundary: its first segment
    // is then wholly ≤ safeTs (range partitions are key-disjoint), while a
    // successor-by-name rule at this ts would have deleted the second
    // write's pid-0 segment (whose name sorts before it, all rows live)
    val safe2 = segFirstTs().max
    PbBinlogFile.write(all.filter(col("commit_ts") >= 1000 && col("commit_ts") < 2000),
      dir2, nFiles = 2)
    def live() = PbBinlogFile.read(spark, dir2, startTs = safe2 + 1)
      .select("commit_ts", "pk", "op")
      .as[(Long, Long, String)].collect().toSet
    val liveBefore = live()
    val reclaimed2 = PbBinlogFile.gc(spark, dir2, safe2)
    assert(reclaimed2.nonEmpty, "the first write's wholly-old segment must reclaim")
    assert(live() == liveBefore, "no live row may vanish under the interleaved layout")
  }

  test("pb binlog segment rotation: size-capped files keep naming and pruning invariants") {
    import graft.sources.PbBinlogFile
    val dir = graft.util.Scratch.dir("graft_pbrotate")
    val changes = graft.ops.Cdc.changes(spark, sf).filter(col("commit_ts") < 2000)
    // ~60-byte frames + a 4 KiB cap → many segments per range partition
    PbBinlogFile.write(changes, dir, nFiles = 2, maxBytesPerFile = 4096)
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.length > 4, s"expected rotation, got ${files.length} files")
    // segments sort by name into global commit-ts order: each file's first
    // ts (name suffix) must be non-decreasing across the sorted listing
    val firstTs = files.map(_.split('-')(2).toLong)
    assert(firstTs.zip(firstTs.tail).forall { case (a, b) => a <= b })
    // full round-trip survives rotation
    assert(PbBinlogFile.read(spark, dir).count() == changes.count())
    // and ts-range pruning still selects a strict subset of segments
    val (lo, hi) = (firstTs(files.length / 2), firstTs(files.length / 2) + 50)
    val picked = PbBinlogFile.selectFilesBounded(files.toIndexedSeq, lo, hi)
    assert(picked.length < files.length)
    assert(PbBinlogFile.read(spark, dir, lo, hi).count() ==
      changes.filter(col("commit_ts") >= lo && col("commit_ts") <= hi).count())
  }
}

/** The local disk under a scheme of its own, counting opened files: a
  * reader resolves it only through a configuration that registers it. */
class CountingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${CountingLocalFs.Scheme}:///")
  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    CountingLocalFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingLocalFs {
  val Scheme = "graftcount"
  val opens = new java.util.concurrent.atomic.AtomicLong()
}
