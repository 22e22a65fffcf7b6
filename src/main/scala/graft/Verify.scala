package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [name-substring …] — extra args restrict the dump
    // to matching queries (local iteration); the driver passes only two.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSeq
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    var nFailed = 0
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.exists(name.contains) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        nFailed += 1
        // e.toString, not getMessage (an NPE's message is null); and the
        // PREVIOUS run's dump must not survive under this name — a failure
        // at plan-construction time happens before mode("overwrite") could
        // delete it, and a stale-but-correct dump would make the oracle
        // compare silently pass over the regression
        System.err.println(s"[verify] $name failed: ${e.toString.take(500)}")
        val stale = Paths.get(s"$outDir/$name")
        if (Files.exists(stale)) {
          val walk = Files.walk(stale)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { Files.deleteIfExists(p); () })
          finally walk.close()
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // nonzero exit on any failed dump: a script gating on the exit code
    // (instead of running the oracle compare) must not see success
    if (nFailed > 0) {
      System.err.println(s"[verify] $nFailed quer${if (nFailed == 1) "y" else "ies"} failed")
      sys.exit(1)
    }
  }
}
