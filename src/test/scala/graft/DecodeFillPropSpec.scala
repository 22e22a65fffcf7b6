package graft

import scala.util.Random

import graft.streaming.DecodeFill

/** Differential property sweep of the decode-time fill state machine:
  * random LEGAL DDL sequences (column add/drop/rename/change/modify,
  * table drop/create/rename, interleaved slice cuts) drive
  * [[DecodeFill]] and an independently-written INCARNATION-IDENTITY
  * model side by side, then every (slice, output column) cell of
  * [[DecodeFill.fold]] is compared to the model's expectation.
  *
  * The shared spec both implement: fill state is KEY-LOCAL (a key's
  * fills evolve only while a table occupies it; a table rename copies
  * the live entries to the new key); a slice's row fills column n iff
  * an add of n under the slice's key, by the slice's OWN table, at a
  * version above the cut, has a substitutable default — and the slice
  * carries no column that bore n from its cut onward (the
  * value-rides-the-old-name rule). The model expresses "own table" as
  * direct object identity and the rename rule as per-slice name-set
  * mutation — where the implementation uses generation arithmetic,
  * frozen entry vectors, and presence aliasing, the exact bookkeeping
  * three r16 review passes found bugs in. Any divergence between the
  * two is a finding. */
class DecodeFillPropSpec extends SparkSpec {
  import spark.implicits._
  import DecodeFillSpec._

  private val NamePool = Vector("c", "d", "x")
  private val Keys = Vector(("app", "t"), ("app", "u"))
  private type K = (String, String)

  // ---- the model ------------------------------------------------------
  private class MInc                       // a table incarnation: identity only
  private class VEntry(val inc: MInc, val addVersion: Long, val raw: String,
    var notNull: Boolean, var ty: String, var native: String)
  private class VSlice(val key: K, val version: Long, val inc: MInc,
    val present: scala.collection.mutable.Set[String])

  private def eval(raw: String, notNull: Boolean, native: String,
      ty: String, addVersion: Long): Option[String] =
    (raw, native) match {
      case ("", _) if !notNull      => None
      case ("", "TIME")             => Some("00:00:00") // native-keyed zero
      case ("", _) if ty == "INT"   => Some("0")
      case ("", _) if ty == "TIMESTAMP" => None // zero-datetime divergence
      case ("", _)                  => Some("")
      case ("CURRENT_TIMESTAMP", _) if ty == "TIMESTAMP" =>
        // evaluated at the add's own commit-ts, rendered on the UTC clock
        Some(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss")
          .withZone(java.time.ZoneOffset.UTC)
          .format(java.time.Instant.ofEpochSecond(addVersion)))
      case (_, _) if ty == "TIMESTAMP" => None // try_cast '5'/'a'/… is NULL
      case ("5", _)                 => Some("5")
      case ("TRUE", _)              => Some("1") // MySQL evaluates the boolean
      case ("'a'", _) if ty == "STRING" => Some("a")
      case ("'a'", _)               => None // try_cast 'a' to INT is NULL
      case ("0x41", _) if ty == "INT" => Some("65") // hex: numeric reading
      case ("0x41", _)              => Some("A")  // hex on text: the byte
      case ("CURRENT_TIMESTAMP", _) => None // family fills TIMESTAMP only
      case other                    => sys.error(s"unmodelled default $other")
    }

  /** The (native, mapped) type pool — TIME rides STRING like VARCHAR but
    * zeros differently, pinning the native keying under the sweep;
    * TIMESTAMP pins the CURRENT_TIMESTAMP-at-commit-ts fill and its
    * interactions with modify/rename/incarnation churn. */
  private val TypePool =
    Vector(("INT", "INT"), ("VARCHAR(8)", "STRING"), ("TIME", "STRING"),
      ("TIMESTAMP", "TIMESTAMP"))

  private def runScenario(seed: Int): Unit = {
    val rnd = new Random(seed)
    val st = new DecodeFill(true)
    var version = 0L
    def nextV(): Long = { version += 10; version }

    // generator-side catalog (legality + slice column sets)
    val liveCols = scala.collection.mutable.Map.empty[K, Vector[String]]
    val liveInc = scala.collection.mutable.Map.empty[K, MInc]
    // model state
    val views = scala.collection.mutable.Map.empty[K, Map[String, Vector[VEntry]]]
    val slices = scala.collection.mutable.ArrayBuffer.empty[VSlice]
    val graveyard = scala.collection.mutable.ArrayBuffer.empty[Vector[String]]
    val ops = scala.collection.mutable.ArrayBuffer.empty[String]

    def view(k: K) = views.getOrElse(k, Map.empty)
    def putView(k: K, n: String, v: Vector[VEntry]): Unit =
      views(k) = if (v.isEmpty) view(k) - n else view(k) + (n -> v)

    def cut(k: K): Unit = liveInc.get(k).foreach { i =>
      val v = nextV()
      ops += s"cut $k v=$v cols=${liveCols(k)}"
      st.recordSlice(k, v, liveCols(k).toSet)
      slices += new VSlice(k, v, i,
        scala.collection.mutable.Set(liveCols(k): _*))
      ()
    }

    def addCol(k: K): Unit = {
      val free = NamePool.filterNot(liveCols(k).toSet)
      if (free.isEmpty) return
      val n = free(rnd.nextInt(free.size))
      val (native, ty) = TypePool(rnd.nextInt(TypePool.size))
      val (dflt, notNull) = rnd.nextInt(6) match {
        case 0 => (Some("5"), false)
        case 1 => (Some("'a'"), false)
        case 2 => (Some("CURRENT_TIMESTAMP"), false)
        case 3 => (Some("0x41"), rnd.nextBoolean())
        case 4 => (Some("TRUE"), rnd.nextBoolean())
        case _ => (None, rnd.nextBoolean())
      }
      val v = nextV()
      ops += s"add $k v=$v $n $native${if (notNull) " NOT NULL" else ""} dflt=$dflt"
      colDdl(st, k, v, "add", n, ty + (if (notNull) " NOT NULL" else ""),
        dflt, None, native)
      putView(k, n, view(k).getOrElse(n, Vector.empty) :+
        new VEntry(liveInc(k), v, dflt.getOrElse(""), notNull, ty, native))
      liveCols(k) :+= n
    }
    def dropCol(k: K): Unit = {
      if (liveCols(k).isEmpty) return
      val n = liveCols(k)(rnd.nextInt(liveCols(k).size))
      ops += s"dropCol $k $n"
      colDdl(st, k, nextV(), "drop", n, "", None, None)
      putView(k, n, view(k).getOrElse(n, Vector.empty)
        .filterNot(_.inc eq liveInc(k)))
      liveCols(k) = liveCols(k).filterNot(_ == n)
    }
    def renameCol(k: K): Unit = {
      val free = NamePool.filterNot(liveCols(k).toSet)
      if (liveCols(k).isEmpty || free.isEmpty) return
      val n = liveCols(k)(rnd.nextInt(liveCols(k).size))
      val to = free(rnd.nextInt(free.size))
      val v = nextV()
      val newTy = if (rnd.nextBoolean()) None
        else Some((TypePool(rnd.nextInt(TypePool.size)), rnd.nextBoolean()))
      ops += s"renameCol $k v=$v $n->$to ty=$newTy"
      newTy match {
        case None => colDdl(st, k, v, "rename", n, to, None, None)
        case Some(((native, ty), nn)) =>
          colDdl(st, k, v, "change", n,
            s"$to $ty${if (nn) " NOT NULL" else ""}", None, None, native)
      }
      // the value-rides-the-old-name rule: the slice set of THIS key and
      // THIS table gains the new name wherever it carried the old
      slices.foreach { s =>
        if (s.key == k && (s.inc eq liveInc(k)) && s.present.contains(n)) {
          s.present += to
          ()
        }
      }
      val (mine, frozen) = view(k).getOrElse(n, Vector.empty)
        .partition(_.inc eq liveInc(k))
      putView(k, n, frozen)
      newTy.foreach { case ((native, ty), nn) =>
        mine.foreach { e => e.ty = ty; e.native = native; e.notNull = nn }
      }
      if (mine.nonEmpty)
        putView(k, to, view(k).getOrElse(to, Vector.empty) ++ mine)
      liveCols(k) = liveCols(k).map(x => if (x == n) to else x)
    }
    def modifyCol(k: K): Unit = {
      if (liveCols(k).isEmpty) return
      val n = liveCols(k)(rnd.nextInt(liveCols(k).size))
      val (native, ty) = TypePool(rnd.nextInt(TypePool.size))
      val nn = rnd.nextBoolean()
      ops += s"modify $k $n -> $native${if (nn) " NOT NULL" else ""}"
      colDdl(st, k, nextV(), "modify", n,
        ty + (if (nn) " NOT NULL" else ""), None, None, native)
      view(k).getOrElse(n, Vector.empty).filter(_.inc eq liveInc(k))
        .foreach { e => e.ty = ty; e.native = native; e.notNull = nn }
    }
    def truncate(k: K): Unit = {
      // streamed F6: pre-truncate rows leave the output — ALL slices and
      // entries under the name clear, the dropped-incarnation ones too
      // (the documented DROP->CREATE->TRUNCATE limit)
      ops += s"truncate $k"
      st.onRecord(k._1, k._2, "truncate", "", "", version)
      views -= k
      slices.filterInPlace(_.key != k)
      ()
    }
    def dropTable(k: K): Unit = {
      cut(k) // the walk cuts the in-flight slice at the drop barrier
      val v = nextV()
      ops += s"dropTable $k v=$v"
      st.onRecord(k._1, k._2, "drop_table", "", "", v)
      graveyard += liveCols(k) // recoverable shape for a later FLASHBACK
      liveInc -= k
      liveCols -= k
      ()
    }
    def flashback(): Unit = {
      // FLASHBACK TABLE recovers a dropped table's shape under a free
      // name — its recover_table record registers it like a CREATE: a
      // FRESH INERT identity whose recovered columns are born with the
      // registration, never fill candidates, and whose later adds must
      // not leak onto any prior holder of the name (DecodeFill.scala's
      // onRecord note — exactly the claim this op pins)
      val frees = Keys.filterNot(liveInc.contains)
      if (graveyard.isEmpty || frees.isEmpty) return
      val k = frees(rnd.nextInt(frees.size))
      val cols = graveyard.remove(rnd.nextInt(graveyard.size))
      val v = nextV()
      ops += s"flashback $k v=$v cols=$cols"
      st.onRecord(k._1, "dropped", "recover_table", "", k._2, v)
      liveInc(k) = new MInc
      liveCols(k) = cols
    }
    def createTable(k: K): Unit = {
      val v = nextV()
      ops += s"create $k v=$v"
      st.onRecord(k._1, k._2, "create_table", "", "", v)
      liveInc(k) = new MInc
      // base columns are born with the CREATE — never fill candidates
      liveCols(k) = rnd.shuffle(NamePool).take(1 + rnd.nextInt(2)).toVector
    }
    def renameTable(k: K): Unit = {
      val frees = Keys.filterNot(liveInc.contains)
      if (frees.isEmpty) return
      val to = frees(rnd.nextInt(frees.size))
      cut(k) // the walk cuts the old key's slice at the rename barrier
      val v = nextV()
      ops += s"renameTable $k->$to v=$v"
      st.onRecord(k._1, k._2, "rename_table", "", to._2, v)
      // live entries COPY to the new key as FRESH objects (the old key's
      // view freezes as a snapshot; mutations at the new key must not
      // reach back), and a same-table return REPLACES the target's own
      // stale snapshot wholesale
      view(to).foreach { case (n, vec) =>
        putView(to, n, vec.filterNot(_.inc eq liveInc(k)))
      }
      view(k).foreach { case (n, vec) =>
        val mine = vec.filter(_.inc eq liveInc(k))
          .map(e => new VEntry(e.inc, e.addVersion, e.raw, e.notNull, e.ty,
            e.native))
        if (mine.nonEmpty)
          putView(to, n, view(to).getOrElse(n, Vector.empty) ++ mine)
      }
      liveInc(to) = liveInc(k)
      liveCols(to) = liveCols(k)
      liveInc -= k
      liveCols -= k
      ()
    }

    createTable(Keys(0))
    cut(Keys(0))
    (1 to 14).foreach { _ =>
      val ks = liveInc.keys.toVector.sorted
      if (ks.isEmpty) createTable(Keys(rnd.nextInt(Keys.size)))
      else {
        val k = ks(rnd.nextInt(ks.size))
        rnd.nextInt(12) match {
          case 0 | 1 | 2 => addCol(k)
          case 3         => dropCol(k)
          case 4         => renameCol(k)
          case 5         => modifyCol(k)
          case 6         => dropTable(k)
          case 7         => renameTable(k)
          case 8 if !liveInc.contains(Keys(0)) => createTable(Keys(0))
          case 9         => truncate(k)
          case 10        => flashback()
          case _         => ()
        }
        if (rnd.nextBoolean()) liveInc.keys.toVector.sorted
          .foreach(kk => if (rnd.nextBoolean()) cut(kk))
      }
    }
    liveInc.keys.toVector.sorted.foreach(cut)

    // the model's cell expectation
    def expect(s: VSlice, n: String): Option[String] =
      if (s.present.contains(n)) None
      else view(s.key).getOrElse(n, Vector.empty)
        .filter(e => (e.inc eq s.inc) && e.addVersion > s.version)
        .sortBy(_.addVersion).headOption
        .flatMap(e => eval(e.raw, e.notNull, e.native, e.ty, e.addVersion))

    // fold each key's slices (all payload cells NULL: a fill is the only
    // way a cell becomes non-null, explicit-null survival included)
    slices.groupBy(_.key).foreach { case (k, ss) =>
      val rows = ss.map(s =>
        (s.version, null: String, null: String, null: String))
      val df = rows.toSeq.toDF("schema_version", "c_str", "d_str", "x_str")
      val got = st.fold(k, df).collect()
        .map(r => r.getLong(0) -> NamePool.zipWithIndex.map { case (n, i) =>
          n -> Option(r.getString(i + 1))
        }.toMap).toMap
      ss.foreach { s =>
        NamePool.foreach { n =>
          val want = expect(s, n)
          assert(got(s.version)(n) == want,
            s"seed=$seed key=$k slice v=${s.version} col=$n: " +
              s"impl=${got(s.version)(n)} model=$want " +
              s"(present=${s.present})\nops:\n${ops.mkString("\n")}")
        }
      }
    }
  }

  test("random legal DDL sequences: fold matches the incarnation-identity model") {
    (1 to 200).foreach(runScenario)
  }
}
