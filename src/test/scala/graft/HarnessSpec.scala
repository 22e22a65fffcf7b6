package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library/harness split, checked over the sources: the oracle
  * queries and the decode's file writer live in `graft.harness`, the mains
  * call them, and no library code depends on them — so the library's size
  * is the size of `src/main` minus `harness/` and the mains. */
class HarnessSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")
  private val mains =
    Set("SparkEntry", "Bench", "Verify", "ProfileQ", "Explain").map(n => s"$n.scala")

  private def sources(dir: Path): List[Path] = {
    assert(Files.isDirectory(dir), s"$dir: run from the project root")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("no library file mentions graft.harness") {
    val library = sources(root).filterNot { p =>
      p.startsWith(root.resolve("harness")) ||
        (p.getParent == root && mains(p.getFileName.toString))
    }
    assert(library.exists(_.endsWith("streaming/CdcStream.scala")))
    val needle = "graft" + ".harness"
    val offenders = library.filter(p => Files.readString(p).contains(needle))
    assert(offenders.isEmpty, s"library code reaches into the harness: $offenders")
  }

  test("the decode, pipeline and loader files define no oracle query/SQL pairs") {
    // a registry query takes (spark, dir); its DuckDB twin is a `…Sql`
    // string. The decode's own private `decodeQuery(wire, …)` is neither.
    val pair = """def\s+\w*(Query\(\s*spark:\s*SparkSession,\s*dir:\s*String|Sql\b)""".r
    // the pattern sees the pairs where they belong
    assert(pair.findFirstIn(Files.readString(root.resolve("harness/LoaderQueries.scala")))
      .isDefined)
    val files = Seq("streaming/CdcStream.scala", "pipeline/DrainerPipeline.scala",
      "sinks/JdbcSchemaLoader.scala", "sinks/JdbcUpsertSink.scala")
    val found = files.flatMap { f =>
      pair.findAllIn(Files.readString(root.resolve(f))).map(m => s"$f: $m")
    }
    assert(found.isEmpty, s"oracle pairs outside graft.harness: $found")
  }
}
