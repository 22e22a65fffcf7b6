package replbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The traced run's recorder. It lives on the driver, as a static object:
  * the loader subclass below ships to executors, but only its driver-side
  * calls record. Everything is kept in memory and written when the run
  * ends.
  *
  * Times are epoch milliseconds with a fractional part (the listener bus
  * reports whole milliseconds; the spans here are finer). */
object Rec {

  /** One span: a layer's interval inside trigger `trigger` (-1: none). */
  final case class Span(name: String, start: Double, end: Double,
      parent: String, trigger: Long)

  final class Job(val id: Int, val start: Double) {
    @volatile var end: Double = Double.NaN
    @volatile var tasks = 0L
    @volatile var runMs = 0L
    @volatile var cpuNs = 0L
    @volatile var gcMs = 0L
    @volatile var bytesRead = 0L
    @volatile var recordsRead = 0L
    @volatile var bytesWritten = 0L
    @volatile var shuffleWrite = 0L
  }

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  @volatile var enabled = false

  def span[A](name: String, trigger: Long)(f: => A): A =
    if (!enabled) f
    else {
      val t0 = nowMs
      try f finally spans.add(Span(name, t0, nowMs, "streaming.addBatch", trigger))
    }

  object SparkEvents extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, new Job(e.jobId, e.time.toDouble))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
      if (m != null) j.foreach { j =>
        j.synchronized {
          j.tasks += 1
          j.runMs += m.executorRunTime
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.bytesRead += m.inputMetrics.bytesRead
          j.recordsRead += m.inputMetrics.recordsRead
          j.bytesWritten += m.outputMetrics.bytesWritten
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  object Progress extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      progress.add(e.progress); ()
    }
  }
}

/** The JDBC loader with a span around each call the replication loop makes
  * into it. Serializable like its parent: the spans go to the static
  * driver-side [[Rec]], never into a field. */
class TracedLoader(url: String, applyPartitions: Int)
    extends graft.sinks.JdbcSchemaLoader(url, applyPartitions = applyPartitions) {
  override def applyBatch(slices: Map[String, org.apache.spark.sql.DataFrame],
      batchId: Long, schemaVersion: Long, merge: Boolean,
      safeMode: Boolean): Boolean =
    Rec.span("sinks.apply", batchId)(
      super.applyBatch(slices, batchId, schemaVersion, merge, safeMode))
  override def executeLoggedDdl(batchId: Long, commitTs: Long, sql: String): Unit =
    Rec.span("sinks.apply", batchId)(super.executeLoggedDdl(batchId, commitTs, sql))
}

/** Per-trigger accounting of a traced run, from the recorder's contents.
  *
  * Each trigger that ran a batch is one row. Its window is the progress
  * timestamp plus `triggerExecution`; the `durationMs` phases are laid out
  * inside it in the engine's order (offsets, offset log, batch, planning,
  * addBatch, commit log) — their starts are reconstructed, their lengths
  * are the engine's. Sink spans are exact. A job belongs to the trigger
  * whose window holds its start, and to the sink if a sink span of that
  * trigger holds its start, else to the streaming layer. */
object Layers {
  import Rec._

  final case class Trigger(queryId: String, batchId: Long, start: Double,
      total: Double, phases: Map[String, Double], inputRows: Long,
      stateRows: Long, stateMem: Long, stateMs: Double,
      observed: Map[String, Long]) {
    def end: Double = start + total
    def ph(k: String): Double = phases.getOrElse(k, 0.0)
  }

  final case class Row(t: Trigger, applyMs: Double, decodeMs: Double,
      streamJobs: Seq[Job], sinkJobs: Seq[Job], busyMs: Double,
      gapMs: Double, residualMs: Double, forks: Int)

  private val isoFmt = java.time.format.DateTimeFormatter.ISO_INSTANT

  /** Listener events arrive asynchronously: wait (up to 10 s) until each
    * query's progress events — as many as its `recentProgress` held at
    * stop — and every job's end have been delivered. */
  def awaitEvents(progressOf: Map[String, Int]): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    def done = jobs.values.asScala.forall(!_.end.isNaN) && progressOf.forall {
      case (id, n) => progress.asScala.count(_.id.toString == id) >= n
    }
    while (!done && System.nanoTime() < deadline) Thread.sleep(10)
  }

  def triggers(queryIds: Set[String]): Seq[Trigger] =
    progress.asScala.toSeq
      .filter(p => queryIds(p.id.toString) && p.durationMs.containsKey("addBatch"))
      .map { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
        val obs = Option(p.observedMetrics.get(graft.streaming.CdcStream.DecodeObservationName))
          .map(r => r.schema.fieldNames.zipWithIndex.collect {
            case (n, i) if !r.isNullAt(i) => n -> r.getLong(i)
          }.toMap).getOrElse(Map.empty)
        val ops = p.stateOperators.toSeq
        Trigger(p.id.toString, p.batchId,
          java.time.Instant.from(isoFmt.parse(p.timestamp)).toEpochMilli.toDouble,
          d.getOrElse("triggerExecution", 0.0), d, p.numInputRows,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
          ops.map(o => (o.allUpdatesTimeMs + o.allRemovalsTimeMs + o.commitTimeMs).toDouble).sum,
          obs)
      }.sortBy(_.start)

  /** Length of the union of `[a, b)` intervals clipped to `[lo, hi)`. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var sum = 0.0; var curA = Double.NaN; var curB = Double.NaN
    c.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) sum += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) sum += curB - curA
    sum
  }

  /** `lake` marks the parquet path: there the whole of `addBatch` is the
    * sink (the dedup runs lazily inside the sink's jobs), and the streaming
    * layer's own time is the dedup operator's state-store time. */
  def rows(ts: Seq[Trigger], lake: Boolean, forkTimes: Seq[Double]): Seq[Row] = {
    val allJobs = jobs.values.asScala.toSeq
    val sinkSpans = spans.asScala.toSeq.filter(_.name == "sinks.apply")
    ts.map { t =>
      val own = allJobs.filter(j => j.start >= t.start && j.start < t.end)
      val mySpans = sinkSpans.filter(s => s.trigger == t.batchId &&
        s.start >= t.start - 1 && s.end <= t.end + 1)
      val inSink = (j: Job) => lake || mySpans.exists(s => j.start >= s.start && j.start < s.end)
      val (sinkJ, streamJ) = own.partition(inSink)
      val applyMs = if (lake) t.ph("addBatch") else mySpans.map(s => s.end - s.start).sum
      val decodeMs = if (lake) t.stateMs else math.max(0.0, t.ph("addBatch") - applyMs)
      val busy = covered(own.map(j => (j.start, if (j.end.isNaN) t.end else j.end)),
        t.start, t.end)
      val layered = t.ph("latestOffset") + t.ph("getBatch") + t.ph("queryPlanning") +
        t.ph("walCommit") + t.ph("commitOffsets") + t.ph("addBatch")
      Row(t, applyMs, decodeMs, streamJ, sinkJ, busy, t.total - busy,
        t.total - layered, forkTimes.count(f => f >= t.start && f < t.end))
    }
  }

  /** Spans of the whole traced run, for the trace file: per trigger the
    * trigger itself, its phases, its sink spans, and its jobs. */
  def spanRecords(rs: Seq[Row]): Seq[Span] = rs.flatMap { r =>
    val t = r.t
    val order = Seq("latestOffset" -> "sources", "walCommit" -> "pipeline",
      "getBatch" -> "sources", "queryPlanning" -> "pipeline",
      "addBatch" -> "streaming", "commitOffsets" -> "pipeline")
    var at = t.start
    val phases = order.filter(o => t.phases.contains(o._1)).map { case (p, layer) =>
      val s = Span(s"$layer.$p", at, at + t.ph(p), "trigger", t.batchId)
      at += t.ph(p); s
    }
    val sinks = spans.asScala.toSeq.filter(s => s.name == "sinks.apply" &&
      s.trigger == t.batchId && s.start >= t.start - 1 && s.end <= t.end + 1)
    val js = (r.streamJobs.map(_ -> "streaming.addBatch") ++
      r.sinkJobs.map(_ -> "sinks.apply")).map { case (j, parent) =>
      Span(s"job.${j.id}", j.start, if (j.end.isNaN) t.end else j.end, parent, t.batchId)
    }
    Span("trigger", t.start, t.end, "", t.batchId) +: (phases ++ sinks ++ js)
  }
}
