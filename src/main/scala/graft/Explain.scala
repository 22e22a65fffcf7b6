package graft

/** Plan-audit helper: print the formatted physical plan of named queries
  * (all queries when no names given). Not part of the driver contract —
  * used to keep every query's plan the one we'd want at 100 TB: filters
  * pushed into the scan, dims broadcast, no stray global sorts/windows. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.local()
    val only = args.toSeq
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.exists(name.contains) }
      .foreach { case (name, fn) =>
        println(s"\n===== $name =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
