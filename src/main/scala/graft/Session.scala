package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft harness builds its Spark session: Bench, Verify,
  * ProfileQ, Explain and the test suites all run under these settings, so a
  * profile or a test measures the same engine configuration the benchmark
  * does. */
object Session {

  /** `$SPARK_GRAFT_CPUS` when set, else the JVM's available processors. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // tz-dependent expressions (date_trunc, hour) must plan identically
      // under the bench, the correctness gate and the tests
      .config("spark.sql.session.timeZone", "UTC")
      // driver-written timestamps (`events.ts` is timestamp[us]) carry no
      // UTC flag; Spark 4 would infer TIMESTAMP_NTZ, a type unix_micros and
      // window reject. Read them as plain TIMESTAMP: the stored micros pass
      // through unchanged, matching DuckDB's view.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // the default 100-entry codegen class cache thrashes when ~150
      // queries interleave: every pass recompiles every generated class
      // (the suite is planning/codegen-bound at sf0.1). A long-lived
      // cluster app accumulates exactly this cache; size it with headroom
      // over one suite's classes. Static conf: set before the session
      // starts.
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      // local storage without a `chmod` fork per setPermission
      // (graft.util.NioLocalFs)
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.util.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.util.NioLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
