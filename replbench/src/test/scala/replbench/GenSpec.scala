package replbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The generator is a pure function of its seed, down to the bytes the
  * library's writer puts on disk, and the model gets a hand-checked case
  * right. Run with `sbt test` from this directory. */
class GenSpec extends AnyFunSuite {

  test("the same seed gives the same wire, lake and model; another seed does not") {
    val w1 = Gen.wire(7L, 3000, 5000L, 2, 500)
    val w2 = Gen.wire(7L, 3000, 5000L, 2, 500)
    assert(w1 == w2)
    assert(Model.wire(w1) == Model.wire(w2))
    assert(Gen.wire(8L, 3000, 5000L, 2, 500) != w1)
    val l1 = Gen.lake(7L, 3, 500)
    assert(l1 == Gen.lake(7L, 3, 500))
    assert(Model.lake(l1.flatten.flatten) == Model.lake(Gen.lake(7L, 3, 500).flatten.flatten))
    assert(Gen.lake(8L, 3, 500) != l1)
  }

  test("the same seed writes identical segment bytes") {
    val spark = SparkSession.builder().master("local[2]").appName("genspec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    val work = Files.createTempDirectory("replbench-genspec")
    try {
      val run = new Run(Main.Args("wire_backlog", 7L, 1, trace = false,
        work.resolve("work"), work.resolve("out"), 2), 0.0)
      def bytes(dir: Path): Seq[(String, Seq[Byte])] =
        run.stageWire(spark, Gen.wire(7L, 3000, 5000L, 2, 500), dir)
          .map(s => s.name -> Files.readAllBytes(s.staged).toSeq)
      val a = bytes(work.resolve("a"))
      assert(a.size == Gen.Pumps)
      assert(a == bytes(work.resolve("b")))
    } finally {
      spark.stop()
      Main.deleteTree(work)
    }
  }

  test("a hand-checked wire: last image per key, deletes gone, DEFAULT backfill") {
    import Gen._
    val ddl = AddColumn(tso(10, 0), "t0", "c1", Some(7L))
    val noDefault = AddColumn(tso(20, 0), "t1", "c2", None)
    def f(ms: Long, pk: Long, op: String, t: String, k: Long,
        added: Vector[(String, Long)] = Vector.empty) =
      Frame(tso(ms, 1), pk, op, t, k, k + 0.25, added, null)
    val w = Wire(Vector(
      Vector(f(1, 1, "I", "t0", 10), f(12, 2, "I", "t0", 20, Vector("c1" -> 5L))),
      Vector(f(2, 3, "I", "t0", 30), f(13, 3, "D", "t0", 31, Vector("c1" -> 6L))),
      Vector(f(3, 4, "I", "t1", 40), f(21, 5, "I", "t1", 50, Vector("c2" -> 8L))),
      Vector(f(4, 6, "I", "t2", 60), f(5, 6, "U", "t2", 61))), Vector(ddl, noDefault))
    def rowOf(pk: Long, ms: Long, k: Long, extra: (String, String)*) =
      Model.row(Seq("PK" -> pk.toString, "COMMIT_TS" -> tso(ms, 1).toString,
        "K" -> k.toString, "V" -> (k + 0.25).toString) ++ extra)
    val want = Map(
      "T0_STATE" -> (Model.Empty + rowOf(1, 1, 10, "C1" -> "7") + rowOf(2, 12, 20, "C1" -> "5")),
      "T1_STATE" -> (Model.Empty + rowOf(4, 3, 40, "C2" -> null) + rowOf(5, 21, 50, "C2" -> "8")),
      "T2_STATE" -> (Model.Empty + rowOf(6, 5, 61)),
      "T3_STATE" -> Model.Empty)
    assert(Model.wire(w) == want)
    assert(w.pumpFrames(0).map(_.commitTs) == Seq(tso(1, 1), tso(10, 0), tso(12, 1), tso(20, 0)))
  }

  test("a hand-checked lake: duplicates collapse, a final delete removes the key") {
    import Gen._
    val e1 = Event(1, BaseMs + 1, 1, "signup", 1.25)
    val e2 = Event(2, BaseMs + 2, 2, "signup", 2.25)
    val e3 = Event(3, BaseMs + 3, 1, "click", 3.25)
    val e4 = Event(4, BaseMs + 4, 2, "error", 4.25)
    assert(Model.lake(Seq(e1, e2, e3, e3, e4)) == Model.Empty + Model.lakeRow(1, 3, 3.25))
    // e1 is delivered twice within its wave, on two pumps, as the generator does
    val p = lakeProfile(Vector(Vector(Vector(e1, e2), Vector(e3, e1)), Vector(Vector(e4), Vector())))
    assert(p("duplicate_share") == 1.0 / 5)
    assert(p("dedup_rows_after_wave") == Vector(3, 4))
    assert(p("sink_rows_after_wave") == Vector(2, 1))
    assert(p("events_per_key") == Vector(1.5, 1.0))
  }
}
