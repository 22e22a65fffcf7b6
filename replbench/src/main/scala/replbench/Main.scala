package replbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.pipeline.DrainerPipeline
import graft.sinks.{JdbcSchemaLoader, UpsertSink}
import graft.sources.PbBinlogFile
import graft.streaming.SchemaTracker

/** The replication benchmark: drives the library's two streaming
  * replication entry points on seeded input and prints one JSON result
  * line. See the README beside this package for the workloads and metrics.
  *
  * Usage: `Main --workload <wire_backlog|lake_waves> --seed <n>
  *   --seconds <n> --trace <0|1> --work <dir> --out <dir> --cores <n>`
  */
object Main {

  // ---- frozen workload constants (changing any of them changes the
  // benchmark, not the program) -------------------------------------------

  /** Wire events in one `wire_backlog` round. */
  val BacklogEvents = 40000
  /** Wire ADD COLUMNs per input, half with a DEFAULT. */
  val WireDdls = 2
  /** Distinct keys per wire table; the cubed draw makes them skewed. */
  val WireKeys = 20000
  /** Events of the wire warm-up input. */
  val WarmEvents = 2000
  /** `lake_waves`: waves per pass and events per wave. */
  val LakeWaves = 8
  val LakePerWave = 24000
  /** A unit not covered this long after its due time is failed. */
  val CatchUpMs = 90000L

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, out: Path, cores: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = req("workload")
    require(Set("wire_backlog", "lake_waves")(w), s"unknown workload $w")
    Args(w, req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      Paths.get(req("work")).toAbsolutePath, Paths.get(req("out")).toAbsolutePath,
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }

  def nowMs: Double = System.nanoTime() / 1e6

  def main(argv: Array[String]): Unit = {
    val entry = nowMs
    val a = parse(argv)
    Files.createDirectories(a.work)
    Files.createDirectories(a.out)
    System.setProperty("derby.system.home", a.work.resolve("derby").toString)
    val line = new Run(a, entry).run()
    println(line)
    System.out.flush()
    sys.exit(0)
  }

  // ---- small helpers ------------------------------------------------------

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile (at most the 95th) with at least ten samples
    * beyond it. */
  def tailQ(n: Int): Double = math.max(0.5, math.min(0.95, 1.0 - 10.0 / n))

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ": " + json(x) }
        .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ", ", "]")
    case p: Product => json(p.productElementNames.zip(p.productIterator).toMap)
    case other => json(other.toString)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally s.close()
  }


  def load1(): Double = scala.util.Try(
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(' ')(0).toDouble
  ).getOrElse(-1.0)
}

/** One staged wire segment: the pump it belongs to, its file name, and its
  * last commit ts. */
final case class Seg(pump: Int, name: String, lastTs: Long, staged: Path)

/** What a drain must produce, computed from the generated input before the
  * drain starts, so the input itself is not live while the drain runs:
  * input events, wire DDLs, distinct event ids, the delivered rows of each
  * lake wave, the end-state digests
  * (per target table; the lake state under `"STATE"`), and the input's
  * profile for the record. */
final case class Expect(events: Long, ddls: Long, distinctIds: Long,
    waveRows: Seq[Long], digests: Map[String, Model.Digest], profile: Map[String, Any])

/** Counts the streaming queries' finished triggers, from their progress
  * events, so the benchmark reads a target's checkpoint once per trigger
  * instead of polling it. */
object Triggers extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  private var n = 0L
  def count: Long = synchronized(n)
  /** Wait up to `ms` for a trigger after the `seen`-th. */
  def await(seen: Long, ms: Long): Unit = synchronized { if (n == seen) wait(ms) }
  private def tick(): Unit = synchronized { n += 1; notifyAll() }
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = tick()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = tick()
}

/** The highest micro-batch of each streaming query that has started a
  * Spark job, from the local properties the engine stamps on the jobs it
  * runs for a batch. A job running for batch b means batch b has listed
  * its input: files published now go to a later batch, whole. */
object Batches extends org.apache.spark.scheduler.SparkListener {
  private val started = scala.collection.mutable.HashMap.empty[String, Long]
  override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
    for (p <- Option(e.properties); q <- Option(p.getProperty("sql.streaming.queryId"));
         b <- Option(p.getProperty("streaming.sql.batchId"))) synchronized {
      started(q) = math.max(started.getOrElse(q, -1L), b.toLong); notifyAll()
    }
  /** Wait up to `ms` for query `q` to start a job of batch `b` or later;
    * whether it has. */
  def await(q: String, b: Long, ms: Long): Boolean = synchronized {
    if (started.getOrElse(q, -1L) < b) wait(ms)
    started.getOrElse(q, -1L) >= b
  }
}

/** The largest heap occupancy right after a collection, over every
  * collection between `start()` and `stop()`, young ones included: the sum
  * over the heap pools of each collection's usage after GC, delivered by
  * the JVM's GC notifications. Nothing here triggers a collection. */
final class GcPeak {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private var peak = 0L
  private var n = 0
  private val listener = new NotificationListener {
    def handleNotification(note: Notification, handback: Any): Unit =
      if (note.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(note.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        GcPeak.this.synchronized { peak = math.max(peak, used); n += 1 }
      }
  }
  def start(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))
  def stop(): Unit = emitters.foreach { e =>
    try e.removeNotificationListener(listener)
    catch { case _: javax.management.ListenerNotFoundException => () }
  }
  /** (peak MB, collections seen); NaN when there was none. */
  def result: (Double, Int) = synchronized {
    (if (n == 0) Double.NaN else peak / 1048576.0, n)
  }
}

/** What one drain (a backlog round or a lake pass) measured: per unit
  * (segment or wave) its reach (covered − due, ms) and publication
  * lateness, the drain's event, DDL and input-byte counts, the input rows
  * of each trigger the query reported, and its heap peak after GC with the
  * number of collections it saw. */
final case class Drain(queryId: String, batchRows: Seq[Long], units: Int, failed: Int,
    events: Long, ddls: Long, inputBytes: Long, drainMs: Double,
    reach: Seq[Double], late: Seq[Double], heapMb: Double, gcs: Int, error: String)

class Run(a: Main.Args, entry: Double) {
  import Main._

  private val wire = a.workload.startsWith("wire")
  private val cfg: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[${a.cores}]",
    "spark.sql.shuffle.partitions" -> a.cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "8000",
    "spark.local.dir" -> a.work.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> a.work.resolve("warehouse").toString)

  private def session(): SparkSession = {
    val b = SparkSession.builder().appName("replbench")
    cfg.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val dirs = new AtomicInteger
  private def fresh(tag: String): Path = {
    val p = a.work.resolve(f"$tag-${dirs.incrementAndGet()}%04d")
    Files.createDirectories(p)
    p
  }
  private val dbs = new AtomicInteger
  private def freshUrl(): String = s"jdbc:derby:memory:replbench_${dbs.incrementAndGet()};create=true"
  private def dropDb(url: String): Unit =
    try { java.sql.DriverManager.getConnection(url.takeWhile(_ != ';') + ";drop=true"); () }
    catch { case _: java.sql.SQLException => () }

  /** Run `fs` on `n` threads, each with `spark` active. */
  private def parallel(spark: SparkSession, n: Int)(fs: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(n)
    try fs.map(f => pool.submit(new Callable[Unit] {
        def call(): Unit = { SparkSession.setActiveSession(spark); f() }
      })).foreach(_.get())
    finally { pool.shutdown(); () }
  }

  // ---- wire input ---------------------------------------------------------

  private val wireSchema = StructType(Seq(
    StructField("commit_ts", LongType), StructField("pk", LongType),
    StructField("op", StringType), StructField("event_type", StringType),
    StructField("ts_us", LongType), StructField("value", DoubleType),
    StructField("props", StringType), StructField("ddl_sql", StringType)))

  private def frameRow(f: Gen.Frame): Row =
    Row(f.commitTs, f.pk, f.op, f.table, f.tsUs,
      if (f.isDdl) null else f.v, f.props, f.ddl)

  /** Write `w` through the library's binlog writer, one segment per pump:
    * a backlog that piled up while the drainer was down. */
  def stageWire(spark: SparkSession, w: Gen.Wire, dir: Path): Vector[Seg] = {
    parallel(spark, a.cores)((0 until Gen.Pumps).map { p => () =>
      val df = spark.createDataFrame(w.pumpFrames(p).map(frameRow).asJava, wireSchema)
        .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
      PbBinlogFile.write(df, dir.resolve(s"p$p").toUri.toString, nFiles = 1)
    })
    (0 until Gen.Pumps).toVector.flatMap { p =>
      val d = dir.resolve(s"p$p")
      Files.list(d).iterator.asScala.map(_.getFileName.toString)
        .filter(_.startsWith("binlog-")).toVector
        .map(n => Seg(p, n, n.split('-')(3).toLong, d.resolve(n)))
    }.sortBy(s => (s.lastTs, s.pump))
  }

  private def pumpDirs(root: Path): Seq[Path] = {
    val ds = (0 until Gen.Pumps).map(p => root.resolve(s"pumps/p$p"))
    ds.foreach(Files.createDirectories(_))
    ds
  }

  private val ddlToTarget: (String, String, String, String) => Option[String] = {
    case (t, "add", c, ty) => Some(s"ALTER TABLE ${Gen.target(t)} ADD COLUMN ${c.toUpperCase} $ty")
    case _ => None
  }

  private def newLoader(url: String): JdbcSchemaLoader =
    if (a.trace) new TracedLoader(url, a.cores)
    else new JdbcSchemaLoader(url, applyPartitions = a.cores)

  private def startWire(spark: SparkSession, root: Path,
      loader: JdbcSchemaLoader): StreamingQuery = {
    val tracker = new SchemaTracker()
    Gen.Tables.foreach { t =>
      tracker.createTable("app", t, Seq("k BIGINT", "v DOUBLE"), version = 0)
      loader.createTable(s"CREATE TABLE ${Gen.target(t)} " +
        "(PK BIGINT PRIMARY KEY, COMMIT_TS BIGINT, K BIGINT, V DOUBLE)")
    }
    DrainerPipeline.streamingReplicated(spark,
      pumpDirs(root).map(_.toUri.toString), tracker, loader,
      root.resolve("out").toUri.toString, root.resolve("ckpt").toUri.toString,
      "app", col("event_type"), tableMap = Gen.target, ddlToTarget = ddlToTarget)
  }

  /** Each target table's digest, read over plain JDBC. */
  private def wireState(url: String): Map[String, Model.Digest] = {
    val c = java.sql.DriverManager.getConnection(url)
    try Gen.Tables.map(Gen.target).map { t =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT * FROM $t")
        val md = rs.getMetaData
        var d = Model.Empty
        while (rs.next()) d = d + Model.row((1 to md.getColumnCount).map { i =>
          md.getColumnLabel(i).toUpperCase -> Option(rs.getObject(i)).map(_.toString).orNull
        })
        t -> d
      } finally st.close()
    }.toMap
    finally c.close()
  }

  /** Wait until the target's checkpoint `ckpt` covers `lastTs`, the query
    * dies, or `deadline` passes. The checkpoint is read once per finished
    * trigger, when [[Triggers]] sees its progress event, not polled: on
    * the wire a read opens a connection to the database the loader is
    * writing. Returns
    * when the unit was covered (NaN: never) and the error, if any. */
  private def settle(q: StreamingQuery, lastTs: Long, deadline: Double,
      ckpt: () => Long): (Double, String) = {
    var covered = Double.NaN
    var err: String = null
    var seen = -1L
    while (covered.isNaN && err == null) {
      val n = Triggers.count
      if (n != seen) {
        seen = n
        if (scala.util.Try(ckpt()).getOrElse(Long.MinValue) >= lastTs) covered = nowMs
      }
      if (covered.isNaN) {
        q.exception.foreach(e => err = s"query failed: ${e.getMessage.take(2000)}")
        if (err == null && !q.isActive) err = "query terminated"
        if (err == null && nowMs > deadline)
          err = s"catch-up missed its deadline waiting for commit ts $lastTs"
        if (err == null) Triggers.await(seen, 100)
      }
    }
    (covered, err)
  }

  /** Let the query finish what it has (a no-data batch may follow the
    * last unit), outside the timing, before it is stopped. */
  private def quiesce(q: StreamingQuery): String =
    try { q.processAllAvailable(); null }
    catch { case e: Exception => s"query failed: ${e.getMessage.take(2000)}" }

  /** The end of a drain: a full collection, outside the timing, so the
    * peak is at least the live heap at the end; then the peak after GC. */
  private def heapPeak(gc: GcPeak): (Double, Int) = {
    val before = gc.result._2
    System.gc()
    val until = nowMs + 2000
    while (gc.result._2 <= before && nowMs < until) Thread.sleep(5)
    gc.stop()
    gc.result
  }

  /** One backlog drain: every segment is on disk before `start()`, which is
    * the due time of all of them. */
  def wireDrain(spark: SparkSession, segs: Vector[Seg], want: Expect): Drain = {
    val root = fresh("wire")
    val url = freshUrl()
    val loader = newLoader(url)
    val pumps = pumpDirs(root)
    val t0 = nowMs
    segs.foreach(s => Files.copy(s.staged, pumps(s.pump).resolve(s.name)))
    val published = nowMs
    val gc = new GcPeak
    gc.start()
    val q = startWire(spark, root, loader)
    val (covered, err0) = settle(q, segs.map(_.lastTs).max, published + CatchUpMs,
      () => loader.lastCheckpoint.commitTs)
    val err = Option(err0).getOrElse(quiesce(q))
    val (heap, gcs) = heapPeak(gc)
    val qid = q.id.toString
    val batchRows = q.recentProgress.toSeq.map(_.numInputRows)
    try q.stop() catch { case _: Exception => () }
    val mismatch = if (err != null) null else {
      val got = wireState(url)
      if (got != want.digests) s"end state mismatch: engine $got model ${want.digests}" else null
    }
    dropDb(url)
    deleteTree(root)
    val error = Option(err).getOrElse(mismatch)
    Drain(qid, batchRows, segs.size, if (error == null) 0 else segs.size, want.events,
      want.ddls, segs.map(s => Files.size(s.staged)).sum, covered - published,
      if (covered.isNaN) Nil else segs.map(_ => covered - published),
      Seq(published - t0), heap, gcs, error)
  }

  // ---- lake input ---------------------------------------------------------

  private val lakeSchema = StructType(Seq(
    StructField("wave", IntegerType), StructField("event_id", LongType),
    StructField("ts_ms", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))

  /** Events-schema parquet, one file per (wave, pump), written once. */
  def stageLake(spark: SparkSession, waves: Vector[Vector[Vector[Gen.Event]]],
      dir: Path): Vector[Vector[Path]] = {
    parallel(spark, a.cores)((0 until Gen.Pumps).map { p => () =>
      val rows = waves.zipWithIndex.flatMap { case (ws, w) =>
        ws(p).map(e => Row(w, e.eventId, e.tsMs, e.userId, e.eventType, e.value))
      }
      spark.createDataFrame(rows.asJava, lakeSchema)
        .select(col("wave"), col("event_id"), timestamp_millis(col("ts_ms")).as("ts"),
          col("user_id"), col("event_type"), col("value"),
          lit(null).cast("string").as("props"))
        .repartition(col("wave"))
        .write.partitionBy("wave").parquet(dir.resolve(s"p$p").toUri.toString)
    })
    waves.indices.toVector.map { w =>
      (0 until Gen.Pumps).toVector.map { p =>
        val d = dir.resolve(s"p$p/wave=$w")
        Files.list(d).iterator.asScala
          .filter(f => f.getFileName.toString.endsWith(".parquet")).toVector match {
          case Vector(f) => f
          case fs => throw new IllegalStateException(s"$d holds ${fs.size} parquet files")
        }
      }
    }
  }

  /** One lake pass, a closed loop with one wave queued: wave 0 is on disk
    * before `start()`; wave w+1 is published as soon as the batch that
    * holds wave w starts its first job, which is after that batch listed
    * its input, so every wave lands whole in the batch after. `maxTs` is
    * each wave's last commit ts. */
  def lakePass(spark: SparkSession, files: Vector[Vector[Path]],
      maxTs: Vector[Long], want: Expect): Drain = {
    val root = fresh("lake")
    val pumps = pumpDirs(root)
    val stage = root.resolve("stage")
    Files.createDirectories(stage)
    val copies = files.zipWithIndex.map { case (ps, w) =>
      ps.zipWithIndex.map { case (f, p) =>
        val c = stage.resolve(f"w$w%04d-p$p.parquet")
        Files.copy(f, c); c
      }
    }
    val stateRoot = root.resolve("state").toUri.toString
    val sink = new UpsertSink(stateRoot)
    val dueAt = Array.fill(files.size)(Double.NaN)
    val pubAt = Array.fill(files.size)(Double.NaN)
    def publish(w: Int): Unit = {
      dueAt(w) = nowMs
      copies(w).zipWithIndex.foreach { case (c, p) =>
        Files.move(c, pumps(p).resolve(f"w$w%04d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      }
      pubAt(w) = nowMs
    }
    val gc = new GcPeak
    gc.start()
    publish(0)
    val startAt = nowMs
    val q = DrainerPipeline.streamingMerged(spark, pumps.map(_.toUri.toString),
      stateRoot, root.resolve("ckpt").toUri.toString)
    val qid = q.id.toString
    var err: String = null
    val covered = Array.fill(files.size)(Double.NaN)
    var w = 0
    while (w < files.size && err == null) {
      if (w + 1 < files.size) {
        val deadline = dueAt(w) + CatchUpMs
        while (err == null && !Batches.await(qid, w, 100)) {
          q.exception.foreach(e => err = s"query failed: ${e.getMessage.take(2000)}")
          if (err == null && !q.isActive) err = "query terminated"
          if (err == null && nowMs > deadline) err = s"batch $w started no job in time"
        }
        if (err == null) publish(w + 1)
      }
      if (err == null) {
        val (cov, e) = settle(q, maxTs(w), dueAt(w) + CatchUpMs,
          () => sink.lastCheckpoint.commitTs)
        covered(w) = cov; err = e
      }
      w += 1
    }
    val last = covered.filterNot(_.isNaN).maxOption.getOrElse(nowMs)
    if (err == null) err = quiesce(q)
    val (heap, gcs) = heapPeak(gc)
    val progress = q.recentProgress
    try q.stop() catch { case _: Exception => () }
    val rows = progress.toSeq.map(_.numInputRows).filter(_ > 0)
    if (err == null && rows != want.waveRows)
      err = s"waves and triggers do not line up: trigger input rows ${rows.mkString(" ")}, " +
        s"wave rows ${want.waveRows.mkString(" ")}"
    if (err == null) {
      val got = sink.currentState(spark).collect().foldLeft(Model.Empty) { (d, r) =>
        d + Model.lakeRow(r.getLong(0), r.getLong(1), r.getDouble(2))
      }
      if (got != want.digests("STATE")) err = s"end state mismatch: engine $got model " +
        s"${want.digests("STATE")}"
    }
    if (err == null) {
      // the end state cannot tell a working dedup from a missing one (a
      // duplicate upserts the same image twice); the dedup's state store can
      val kept = progress.flatMap(_.stateOperators).filter(_.operatorName == "dedupe")
        .map(_.numRowsUpdated).sum
      if (progress.length >= spark.conf.get("spark.sql.streaming.numRecentProgressUpdates").toInt)
        err = s"${progress.length} triggers overflow the progress history the dedup check reads"
      else if (kept != want.distinctIds)
        err = s"dedup kept $kept rows, want ${want.distinctIds} distinct event ids"
    }
    deleteTree(root)
    val reach = files.indices.filter(i => !covered(i).isNaN).map(i => covered(i) - dueAt(i))
    Drain(qid, progress.toSeq.map(_.numInputRows), files.size, if (err == null) 0 else files.size,
      want.events, 0L, files.flatten.map(Files.size).sum, last - startAt, reach,
      files.indices.filter(i => !pubAt(i).isNaN).map(i => pubAt(i) - dueAt(i)),
      heap, gcs, err)
  }

  // ---- the run --------------------------------------------------------------

  def run(): String = {
    val load1Start = load1()
    // inputs are described first, in plain Scala. The warm-up inputs are
    // the timed ones in miniature: one DDL (with a DEFAULT) instead of
    // two, four twelfth-size waves instead of eight.
    val (warmDrain, timedDrain) = {
      // each stages its input, then keeps only what the drains need: the
      // generated frames are garbage before the first drain starts
      def stagedWire(w: Gen.Wire, spark: SparkSession): (Expect, SparkSession => Drain) = {
        val segs = stageWire(spark, w, fresh("stage"))
        val want = Expect(w.dmlCount, w.ddls.size.toLong, 0L, Nil, Model.wire(w),
          Gen.wireProfile(w))
        (want, s => wireDrain(s, segs, want))
      }
      def stagedLake(waves: Vector[Vector[Vector[Gen.Event]]],
          spark: SparkSession): (Expect, SparkSession => Drain) = {
        val files = stageLake(spark, waves, fresh("stage"))
        val all = waves.flatten.flatten
        val want = Expect(all.size.toLong, 0L, all.map(_.eventId).distinct.size.toLong,
          waves.map(_.map(_.size.toLong).sum), Map("STATE" -> Model.lake(all)),
          Gen.lakeProfile(waves))
        val maxTs = waves.map(_.flatten.map(_.eventId).max)
        (want, s => lakePass(s, files, maxTs, want))
      }
      if (wire)
        (stagedWire(Gen.wire(a.seed ^ 0x5eed, WarmEvents, 2000L, 1, WireKeys / 10), _),
          stagedWire(Gen.wire(a.seed, BacklogEvents, 10000L, WireDdls, WireKeys), _))
      else
        (stagedLake(Gen.lake(a.seed ^ 0x5eed, 4, LakePerWave / 12), _),
          stagedLake(Gen.lake(a.seed, LakeWaves, LakePerWave), _))
    }

    // set-up: a session build plus a warm-up drain, from main entry.
    // Staging the warm-up input is not set-up time.
    val spark = session()
    spark.streams.addListener(Triggers)
    spark.sparkContext.addSparkListener(Batches)
    val s0 = nowMs
    val (_, warm) = warmDrain(spark)
    val staging = nowMs - s0
    val warmErr = Option(warm(spark).error)
    val setupS = (nowMs - entry - staging) / 1000.0
    warmErr.foreach { e =>
      return finish(spark, Nil, Map.empty, setupS, load1Start, Some(s"warm-up: $e"))
    }

    if (a.trace) {
      Rec.enabled = true
      spark.sparkContext.addSparkListener(Rec.SparkEvents)
      spark.streams.addListener(Rec.Progress)
    }
    // the timed phase: drains on input staged before it, until --seconds
    // have passed (at least one)
    val (want, drain) = timedDrain(spark)
    val drains = scala.collection.mutable.ArrayBuffer.empty[Drain]
    val t = nowMs
    while (drains.isEmpty || (nowMs - t < a.seconds * 1000.0 && drains.forall(_.error == null)))
      drains += drain(spark)
    finish(spark, drains.toSeq, want.profile, setupS, load1Start, None)
  }

  private def finish(spark: SparkSession, drains: Seq[Drain], input: Map[String, Any],
      setupS: Double, load1Start: Double, fatal: Option[String]): String = {
    val attempted = math.max(1, drains.map(_.units).sum)
    val errors = fatal.toSeq ++ drains.flatMap(d => Option(d.error))
    val failed = if (fatal.isDefined) attempted else drains.map(_.failed).sum

    // end-to-end
    val stats = drains.flatMap(_.reach)
    val q = tailQ(stats.size)
    val e2e: Map[String, (Double, String)] = if (stats.isEmpty) Map.empty else Map(
      "setup_s" -> (setupS, "s"),
      "drain_eps" -> (median(drains.map(d => d.events / (d.drainMs / 1000.0))), "1/s"),
      "reach_p50_ms" -> (quantile(stats, 0.5), "ms"),
      "heap_live_peak_mb" -> (drains.map(_.heapMb).max, "MB"))
    val late = drains.flatMap(_.late)
    val genLate = if (late.isEmpty) 0.0 else quantile(late, 0.95)

    // per-layer, from the traced run's records
    val forks = chmodForks()
    var validity: Seq[String] = Nil
    val (layers, accounting, spanLines) =
      if (!a.trace || drains.isEmpty) (Map.empty[String, (Double, String)], Map.empty[String, Any], Seq.empty[String])
      else {
        Layers.awaitEvents(drains.map(d => d.queryId -> d.batchRows.size).toMap)
        val ts = Layers.triggers(drains.map(_.queryId).toSet)
        val rows = Layers.rows(ts, lake = !wire, forks)
        val n = math.max(1, rows.size).toDouble
        def per(f: Layers.Row => Double) = rows.map(f).sum / n
        def jobSum(js: Seq[Rec.Job], f: Rec.Job => Long) = js.map(f).sum.toDouble
        def allJobs(r: Layers.Row) = r.streamJobs ++ r.sinkJobs
        val dml = rows.map(_.t.observed.getOrElse("dml_frames", 0L)).sum
        val ddl = rows.map(_.t.observed.getOrElse("ddl_frames", 0L)).sum
        if (wire) {
          val wantDml = drains.map(_.events).sum
          val wantDdl = drains.map(_.ddls).sum
          if (dml != wantDml || ddl != wantDdl)
            validity :+= s"observed frames dml=$dml ddl=$ddl, generated dml=$wantDml ddl=$wantDdl"
        }
        val srcBytes = rows.map(r => jobSum(allJobs(r), _.bytesRead)).sum
        val sinkBytes = rows.map(r => jobSum(r.sinkJobs, _.bytesWritten)).sum
        val trig = rows.map(_.t.total)
        val m: Map[String, (Double, String)] = Map(
          "sources.list_ms" -> (per(_.t.ph("latestOffset")), "ms"),
          "sources.get_batch_ms" -> (per(_.t.ph("getBatch")), "ms"),
          "sources.bytes_read" -> (srcBytes / n, "bytes"),
          "sources.records_read" -> (per(r => jobSum(allJobs(r), _.recordsRead)), "count"),
          "streaming.decode_ms" -> (per(_.decodeMs), "ms"),
          "streaming.dml_frames" -> (dml.toDouble, "count"),
          "streaming.ddl_frames" -> (ddl.toDouble, "count"),
          "streaming.jobs_per_trigger" -> (per(_.streamJobs.size.toDouble), "count"),
          "streaming.tasks_per_trigger" -> (per(r => jobSum(r.streamJobs, _.tasks)), "count"),
          "streaming.state_rows" -> (rows.map(_.t.stateRows.toDouble).maxOption.getOrElse(0.0), "count"),
          "streaming.state_mem_bytes" -> (rows.map(_.t.stateMem.toDouble).maxOption.getOrElse(0.0), "bytes"),
          "pipeline.triggers" -> (rows.size.toDouble / drains.size, "count"),
          "pipeline.trigger_ms_p50" -> (if (trig.isEmpty) 0.0 else quantile(trig, 0.5), "ms"),
          "pipeline.trigger_ms_p95" -> (if (trig.isEmpty) 0.0 else quantile(trig, tailQ(trig.size)), "ms"),
          "pipeline.planning_ms" -> (per(_.t.ph("queryPlanning")), "ms"),
          "pipeline.wal_commit_ms" -> (per(_.t.ph("walCommit")), "ms"),
          "pipeline.commit_offsets_ms" -> (per(_.t.ph("commitOffsets")), "ms"),
          "pipeline.driver_gap_ms" -> (per(_.gapMs), "ms"),
          "pipeline.residual_ms" -> (per(_.residualMs), "ms"),
          "pipeline.executor_run_ms" -> (per(r => jobSum(allJobs(r), _.runMs)), "ms"),
          "pipeline.executor_cpu_ms" -> (per(r => jobSum(allJobs(r), _.cpuNs)) / 1e6, "ms"),
          "pipeline.gc_ms" -> (per(r => jobSum(allJobs(r), _.gcMs)), "ms"),
          "sinks.apply_ms" -> (per(_.applyMs), "ms"),
          "sinks.jobs_per_trigger" -> (per(_.sinkJobs.size.toDouble), "count"),
          "sinks.shuffle_write_bytes" -> (per(r => jobSum(r.sinkJobs, _.shuffleWrite)), "bytes"),
          "sinks.bytes_written" -> (sinkBytes / n, "bytes"),
          "sinks.write_amp" -> (sinkBytes / drains.map(_.inputBytes).sum, "ratio"),
          "util.chmod_forks" -> (per(_.forks.toDouble), "count"),
          "gen.late_p95_ms" -> (genLate, "ms")) ++
          e2e.collect { case (k, v) if k != "setup_s" && k != "heap_live_peak_mb" => s"trace.$k" -> v }
        val acc = Map(
          "triggers" -> rows.size,
          "trigger_ms_sum" -> trig.sum,
          "phases_ms_sum" -> rows.map(r => r.t.total - r.residualMs).sum,
          "residual_ms_sum" -> rows.map(_.residualMs).sum,
          "residual_abs_max_ms" -> rows.map(r => math.abs(r.residualMs)).maxOption.getOrElse(0.0),
          "job_busy_ms_sum" -> rows.map(_.busyMs).sum,
          "driver_gap_ms_sum" -> rows.map(_.gapMs).sum,
          "chmod_forks_total" -> forks.size,
          "chmod_forks_in_triggers" -> rows.map(_.forks).sum,
          "per_trigger" -> rows.map(r => Map(
            "query" -> r.t.queryId, "batch" -> r.t.batchId, "trigger_ms" -> r.t.total,
            "phases" -> r.t.phases, "decode_ms" -> r.decodeMs, "apply_ms" -> r.applyMs,
            "stream_jobs" -> r.streamJobs.size, "sink_jobs" -> r.sinkJobs.size,
            "job_busy_ms" -> r.busyMs, "driver_gap_ms" -> r.gapMs,
            "residual_ms" -> r.residualMs, "chmod_forks" -> r.forks,
            "input_rows" -> r.t.inputRows)))
        (m, acc, Layers.spanRecords(rows).map(json))
      }

    val allErrors = errors ++ validity
    val correct = allErrors.isEmpty
    val metrics = if (!correct) Map.empty[String, (Double, String)]
      else if (a.trace) layers else e2e
    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "nproc" -> a.cores, "load1_start" -> load1Start,
      "session_config" -> cfg.toMap, "loader_connections" -> a.cores,
      "drains" -> drains.map(d => Map(
        "units" -> d.units, "failed" -> d.failed, "events" -> d.events,
        "drain_ms" -> d.drainMs, "reach_ms" -> d.reach, "heap_peak_mb" -> d.heapMb,
        "collections" -> d.gcs, "batch_rows" -> d.batchRows, "error" -> d.error)),
      "input" -> input,
      "reach_samples" -> stats.size, "reach_tail_quantile" -> q,
      "reach_tail_ms" -> (if (stats.isEmpty) Double.NaN else quantile(stats, q)),
      "gen_late_p95_ms" -> genLate, "failed_ratio" -> failed.toDouble / attempted,
      "errors" -> allErrors, "metrics" -> (e2e ++ layers).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) },
      "accounting" -> accounting)
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    Files.write(a.out.resolve(s"$tag.json"), json(record).getBytes("UTF-8"))
    if (a.trace) Files.write(a.out.resolve(s"$tag.spans.jsonl"),
      spanLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    allErrors.foreach(e => System.err.println(s"replbench: FAILED: $e"))
    try spark.stop() catch { case _: Exception => () }
    json(Map("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }))
  }

  /** Epoch-ms times at which the counting `chmod` shim ran, converted to
    * this JVM's monotonic clock of [[Rec]]. */
  private def chmodForks(): Seq[Double] =
    sys.env.get("REPLBENCH_CHMOD_LOG").map(Paths.get(_)).filter(Files.exists(_))
      .toSeq.flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => scala.util.Try(l.trim.toDouble * 1000.0).toOption)
}
