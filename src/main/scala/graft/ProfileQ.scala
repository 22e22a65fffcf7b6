package graft

import java.lang.management.ManagementFactory

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-job profile of named bench queries (not part of the driver
  * contract): runs each query twice (cold, warm) under Bench's session
  * settings and prints each pass's total (`===== q passN total`, the figure
  * a paired timing compares) with two warm-up counters for the pass: the
  * Janino compilations of generated code (`janino=`, the count of Spark's
  * `CodegenMetrics` compilation-time histogram; driver and executors share
  * the local JVM) and the JIT compilers' time (`jit=`, the delta of
  * `CompilationMXBean.getTotalCompilationTime`, summed over the compiler
  * threads, so it can exceed the pass's wall time), then, for the warm pass, every Spark job's
  * wall time and call site from a listener, so a harness-heavy query's cost
  * decomposes into its staging / streaming / read-back jobs. Each stage
  * line sums its tasks' executor run time (`run=`), task wall time
  * (`wall=`) and executor deserialize time (`deser=`, the per-task cost of
  * shipping the task's closure and lineage). Gaps between jobs =
  * driver-side work (planning, JDBC, tracker walks). */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    val jit = ManagementFactory.getCompilationMXBean

    case class Job(id: Int, t0: Long, var t1: Long, site: String,
      stages: Seq[Int])
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.CopyOnWriteArrayList[Int]()
    // per-stage: (name, numTasks, sum executor run ms, sum task wall ms,
    // sum executor deserialize ms)
    case class St(name: String, var tasks: Int, var runMs: Long,
      var wallMs: Long, var deserMs: Long)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
        jobs.put(e.jobId, Job(e.jobId, System.nanoTime(), 0L, site,
          e.stageInfos.map(_.stageId)))
        order.add(e.jobId); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.t1 = System.nanoTime()
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val s = stages.computeIfAbsent(e.stageId,
          _ => St(e.taskType, 0, 0L, 0L, 0L))
        s.tasks += 1
        if (e.taskMetrics != null) {
          s.runMs += e.taskMetrics.executorRunTime
          s.deserMs += e.taskMetrics.executorDeserializeTime
        }
        if (e.taskInfo != null) s.wallMs += e.taskInfo.duration
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val s = stages.computeIfAbsent(e.stageInfo.stageId,
          _ => St("", 0, 0L, 0L, 0L))
        stages.put(e.stageInfo.stageId, s.copy(name = e.stageInfo.name.take(60)))
        ()
      }
    })

    spark.range(1000000L).selectExpr("sum(id)").collect()
    graft.model.Tables.table(spark, dir, "documents").count()
    graft.model.Tables.table(spark, dir, "events").count()

    args.foreach { n =>
      (1 to 2).foreach { pass =>
        jobs.clear(); order.clear()
        val janino0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val jit0 = jit.getTotalCompilationTime
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, dir).count()
        val total = (System.nanoTime() - t0) / 1e9
        val janino = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - janino0
        println(f"===== $n pass$pass total ${total}%.2f s =====" +
          s" janino=$janino jit=${jit.getTotalCompilationTime - jit0} ms")
        if (pass == 2) {
          import scala.jdk.CollectionConverters._
          var prevEnd = t0
          order.asScala.foreach { id =>
            val j = jobs.get(id)
            if (j != null && j.t1 > 0) {
              val gap = (j.t0 - prevEnd) / 1e9
              val dur = (j.t1 - j.t0) / 1e9
              println(f"  job ${j.id}%4d gap=$gap%6.3f dur=$dur%6.3f  ${j.site}")
              j.stages.sorted.foreach { sid =>
                val s = stages.get(sid)
                if (s != null && s.tasks > 0)
                  println(f"      stage $sid%4d tasks=${s.tasks}%3d " +
                    f"run=${s.runMs / 1e3}%6.2f wall=${s.wallMs / 1e3}%6.2f " +
                    f"deser=${s.deserMs / 1e3}%6.2f  ${s.name}")
              }
              prevEnd = math.max(prevEnd, j.t1)
            }
          }
          println(f"  tail gap=${(System.nanoTime() - prevEnd) / 1e9}%6.3f")
        }
      }
    }
    spark.stop()
  }
}
