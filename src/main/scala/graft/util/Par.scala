package graft.util

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

/** Bounded concurrent fan-out for the JDBC loader's per-table applies
  * inside one barrier segment of a micro-batch
  * ([[graft.sinks.JdbcSchemaLoader.applyBatch]]; ref:
  * pkg/loader/load.go:508-527 — the loader applies tables across 16
  * parallel workers; tables are independent between DDL barriers, so only
  * the barrier itself is a sequential point).
  *
  * Spark supports concurrent job submission from multiple driver threads —
  * each table's merge and apply are its own jobs, and without this pool a
  * segment touching hundreds of tables serializes hundreds of small jobs
  * from the driver (the trigger-latency ceiling at wide table counts). The
  * pool is shared, fixed-size and daemon: an idle engine holds no
  * non-daemon threads, and burst concurrency is capped at [[Workers]]
  * regardless of how many tables a batch touches.
  */
object Par {

  /** The reference loader's worker count (pkg/loader/load.go:508). */
  val Workers = 16

  private lazy val pool = Executors.newFixedThreadPool(Workers,
    new ThreadFactory {
      private val n = new AtomicInteger
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-par-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })

  private val active = new AtomicInteger
  private val peak = new AtomicInteger

  /** Test hook: highest overlap observed since the last reset — the
    * machine-checkable witness that fan-outs actually run concurrently. */
  private[graft] def resetPeak(): Unit = peak.set(0)
  private[graft] def peakObserved: Int = peak.get

  /** Spark job properties are thread-local via InheritableThreadLocal: a
    * pool thread freezes whatever the thread that CREATED it carried, so a
    * job submitted later from that pool thread would run under a stale job
    * group — and a streaming query's stop() cancels its job group, which
    * could then kill an unrelated query's jobs. Each task instead carries
    * the SUBMITTER's values for the keys that affect cancellation,
    * scheduling and UI attribution, and clears them afterwards.
    *
    * The ACTIVE SESSION is thread-local the same way, and a `SparkPlan`
    * captures `SparkSession.getActiveSession` when it is built: a pool
    * thread whose inherited value was cleared (or belongs to another
    * session) would plan the task's jobs against the wrong session, or
    * none. Each task therefore runs under the submitter's session
    * (`withActive`, which restores the thread's previous value). */
  private val InheritedProps = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.scheduler.pool")

  /** Run `f` over `items` with bounded parallelism, preserving result
    * order. ALWAYS awaits every task — a failed sibling must not leave
    * stragglers mutating sink state after the caller has thrown — then
    * rethrows the FIRST failure (by item order, so errors are
    * deterministic under replay). Single-item (and empty) calls run
    * inline: no pool hop for the common sparse-batch case. A call FROM a
    * pool thread also runs inline — a nested fan-out blocking on the same
    * fixed pool could starve it into deadlock, and inline is always a
    * correct (merely sequential) execution. */
  def mapPar[T, R](items: Seq[T])(f: T => R): Seq[R] =
    if (items.lengthCompare(2) < 0 ||
        Thread.currentThread().getName.startsWith("graft-par-")) items.map(f)
    else {
      val session = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      // read on the SUBMITTING thread; null values still propagate (they
      // clear whatever the pool thread inherited at creation)
      val props = session.map(s =>
        InheritedProps.map(k => k -> s.sparkContext.getLocalProperty(k)))
      val futures = items.map { it =>
        pool.submit(new Callable[R] {
          def call(): R = {
            val cur = active.incrementAndGet()
            peak.getAndUpdate(p => math.max(p, cur))
            for (s <- session; (k, v) <- props.get)
              s.sparkContext.setLocalProperty(k, v)
            try session.fold(f(it))(_.withActive(f(it))) finally {
              for (s <- session; (k, _) <- props.get)
                s.sparkContext.setLocalProperty(k, null)
              active.decrementAndGet()
              ()
            }
          }
        })
      }
      val results = futures.map(fu => scala.util.Try(fu.get()))
      results.map {
        case scala.util.Success(r) => r
        case scala.util.Failure(e: ExecutionException) => throw e.getCause
        case scala.util.Failure(e) => throw e
      }
    }

  def foreachPar[T](items: Seq[T])(f: T => Unit): Unit = {
    mapPar(items)(f)
    ()
  }
}
