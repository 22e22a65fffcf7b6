package replbench

import scala.collection.mutable

/** Seeded input generators and the independent end-state models.
  *
  * Everything here is plain Scala: no Spark, no library call. The wire and
  * lake inputs are described as frame lists; `Run.stageWire` and
  * `Run.stageLake` turn them into files through the library's own writers,
  * and `Model` computes each table's expected end state from the same
  * lists without touching the engine.
  */
object Gen {

  /** TSO layout of a commit ts: physical milliseconds above 18 logical
    * bits, as TiDB stamps commits. The physical part of a segment's last
    * commit ts is its due time. */
  val LogicalBits = 18
  /** 2026-01-01T00:00:00Z: the virtual origin every input's clock counts
    * from, so inputs depend on the seed alone. */
  val BaseMs = 1767225600000L

  def tso(physMs: Long, logical: Long): Long =
    ((BaseMs + physMs) << LogicalBits) | logical
  def physOf(commitTs: Long): Long = (commitTs >>> LogicalBits) - BaseMs

  val Tables: Vector[String] = Vector("t0", "t1", "t2", "t3")
  val Pumps = 4
  def target(table: String): String = table.toUpperCase + "_STATE"

  /** One wire frame. `ddl` is non-null only on a DDL frame. `added` holds
    * the values of the columns the table gained so far, in DDL order. */
  final case class Frame(commitTs: Long, pk: Long, op: String, table: String,
      k: Long, v: Double, added: Vector[(String, Long)], ddl: String) {
    def tsUs: Long = (BaseMs + physOf(commitTs)) * 1000L
    def isDdl: Boolean = ddl != null
    def props: String =
      if (isDdl) null
      else (Seq(s""""k": $k""", s""""v": $v""") ++
        added.map { case (c, x) => s""""$c": $x""" }).mkString("{", ", ", "}")
  }

  /** A wire `ALTER TABLE … ADD COLUMN` at commit ts `ts`; `default` is the
    * column's origin default, if any. */
  final case class AddColumn(ts: Long, table: String, column: String,
      default: Option[Long]) {
    def sql: String = s"ALTER TABLE app.$table ADD COLUMN $column BIGINT" +
      default.fold("")(d => s" DEFAULT $d")
  }

  /** A wire input: the DML frames of each pump, plus the DDLs, which ride
    * pump 0 in commit-ts order with its DML. */
  final case class Wire(dml: Vector[Vector[Frame]], ddls: Vector[AddColumn]) {
    def ddlFrames: Vector[Frame] = ddls.map(d =>
      Frame(d.ts, -1L, "DDL", "ddl", 0L, 0.0, Vector.empty, d.sql))
    def pumpFrames(p: Int): Vector[Frame] =
      if (p == 0) (dml(0) ++ ddlFrames).sortBy(_.commitTs) else dml(p)
    def dmlCount: Long = dml.map(_.size.toLong).sum
  }

  /** `events` DML frames over 4 tables and 4 pumps, spread uniformly over
    * `spanMs` of virtual time, with `nDdl` ADD COLUMNs at evenly spaced
    * points (every other one with a DEFAULT). Keys are skewed (a cubed
    * uniform draw over `keysPerTable`), so a batch holds several images of
    * the hot keys and merge-by-key compacts them. A live key is updated
    * (80%) or deleted (20%); a dead key is inserted. These proportions are
    * assumptions, not measured traffic; `wireProfile` reports what they
    * produce. */
  def wire(seed: Long, events: Int, spanMs: Long, nDdl: Int,
      keysPerTable: Int): Wire = {
    val rnd = new scala.util.Random(seed)
    val ddls = (1 to nDdl).toVector.map { i =>
      AddColumn(tso(spanMs * i / (nDdl + 1), 0L), Tables((i - 1) % Tables.size),
        s"c$i", if (i % 2 == 1) Some(7L * i) else None)
    }
    val live = Tables.map(_ => mutable.HashSet.empty[Long])
    val logical = mutable.HashMap.empty[Long, Long]
    val out = Vector.fill(Pumps)(Vector.newBuilder[Frame])
    for (i <- 0 until events) {
      val phys = spanMs * i / events
      // logical 0 of a millisecond is left to the DDL that may sit there
      val lg = logical.getOrElse(phys, 0L) + 1
      logical(phys) = lg
      val ts = tso(phys, lg)
      val ti = rnd.nextInt(Tables.size)
      val u = rnd.nextDouble()
      val pk = 1000000L + (keysPerTable * u * u * u).toLong
      val op =
        if (!live(ti)(pk)) { live(ti) += pk; "I" }
        else if (rnd.nextInt(5) == 0) { live(ti) -= pk; "D" }
        else "U"
      val added = ddls.filter(d => d.table == Tables(ti) && d.ts < ts)
        .map(d => d.column -> rnd.nextInt(1000000).toLong)
      out(rnd.nextInt(Pumps)) += Frame(ts, pk, op, Tables(ti),
        rnd.nextInt(1000000).toLong, rnd.nextInt(1000000) + 0.25, added, null)
    }
    Wire(out.map(_.result()), ddls)
  }

  /** What the engine meets in a wire input, for the run's record: the op
    * mix, and how far merge-by-key compacts the input when it drains in one
    * batch (DML frames per distinct key). */
  def wireProfile(w: Wire): Map[String, Any] = {
    val dml = w.dml.flatten
    val n = dml.size.toDouble
    val keys = dml.map(f => (f.table, f.pk)).distinct.size
    val ops = dml.groupBy(_.op).map { case (k, v) => k -> v.size / n }
    Map("dml_frames" -> dml.size, "ddl_frames" -> w.ddls.size,
      "insert_share" -> ops.getOrElse("I", 0.0), "update_share" -> ops.getOrElse("U", 0.0),
      "delete_share" -> ops.getOrElse("D", 0.0), "distinct_keys" -> keys,
      "frames_per_key" -> n / keys,
      "end_rows" -> Model.wire(w).values.map(_.rows).sum)
  }

  /** What the engine meets in a lake input, for the run's record: the
    * duplicate share, and per wave its distinct events per distinct key,
    * the dedup state's rows (every distinct event id so far: the hour-long
    * watermark evicts none) and the sink state's rows after it. */
  def lakeProfile(waves: Vector[Vector[Vector[Event]]]): Map[String, Any] = {
    val all = waves.flatten.flatten
    val distinct = all.map(_.eventId).distinct.size
    val perWave = waves.map(_.flatten.distinctBy(_.eventId))
    val sinkRows = perWave.indices.map(i => Model.lake(perWave.take(i + 1).flatten).rows)
    Map("events" -> all.size, "distinct_ids" -> distinct,
      "duplicate_share" -> (all.size - distinct).toDouble / all.size,
      "events_per_key" -> perWave.map(w => w.size.toDouble / w.map(_.userId).distinct.size),
      "dedup_rows_after_wave" -> perWave.scanLeft(0)(_ + _.size).tail,
      "sink_rows_after_wave" -> sinkRows)
  }

  /** One lake event: the events-parquet envelope the merged parquet pump
    * stream reads (event_id is the commit ts, user_id the key, and
    * event_type maps to the op: signup = I, error = D, else U). */
  final case class Event(eventId: Long, tsMs: Long, userId: Long,
      eventType: String, value: Double) {
    def op: String = eventType match {
      case "signup" => "I"
      case "error"  => "D"
      case _        => "U"
    }
  }

  /** `waves` waves of `perWave` events over 4 pumps. Each wave draws 70% of
    * its keys fresh and 30% from the keys seen so far, so the state grows
    * to many times one wave and every wave touches every bucket. Event time
    * advances 1 ms per event — monotone in commit ts and far inside the
    * dedup watermark's hour, so nothing is late. 1% of events are
    * delivered twice, on two pumps, for the dedup to drop. These
    * proportions are assumptions, not measured traffic; `lakeProfile`
    * reports what they produce. Returns events per (wave, pump). */
  def lake(seed: Long, waves: Int, perWave: Int): Vector[Vector[Vector[Event]]] = {
    val rnd = new scala.util.Random(seed)
    var nextKey = 1L
    val live = mutable.HashSet.empty[Long]
    var id = 0L
    Vector.tabulate(waves) { _ =>
      val out = Vector.fill(Pumps)(Vector.newBuilder[Event])
      for (_ <- 0 until perWave) {
        id += 1
        val fresh = nextKey == 1L || rnd.nextInt(10) < 7
        val key = if (fresh) { nextKey += 1; nextKey - 1 }
          else 1L + rnd.nextLong(nextKey - 1)
        val et =
          if (!live(key)) { live += key; "signup" }
          else if (rnd.nextInt(7) == 0) { live -= key; "error" }
          else "click"
        val e = Event(id, BaseMs + id, key, et, rnd.nextInt(1000000) + 0.25)
        val p = rnd.nextInt(Pumps)
        out(p) += e
        if (rnd.nextInt(100) == 0) out((p + 1 + rnd.nextInt(Pumps - 1)) % Pumps) += e
      }
      out.map(_.result())
    }
  }
}

/** The expected end state of every target table, computed from the
  * generated frames alone, and an order-independent digest to compare it
  * with what the engine wrote. */
object Model {

  /** Row count plus the sum of 64-bit row hashes: equal for equal row
    * multisets in any order. */
  final case class Digest(rows: Long, hash: Long) {
    def +(row: String): Digest = Digest(rows + 1, hash + hash64(row))
  }
  val Empty: Digest = Digest(0L, 0L)

  def hash64(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x9747b28c)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    (a.toLong << 32) ^ (b.toLong & 0xffffffffL)
  }

  /** Canonical text of one row: columns sorted by name, NULL as `\N`. */
  def row(cols: Iterable[(String, String)]): String =
    cols.toSeq.sortBy(_._1).map { case (c, v) =>
      s"$c=${if (v == null) "\\N" else v}" }.mkString("|")

  /** Per target table: the last image of each key, deleted keys absent.
    * A column added at ts d reads, on a row whose last image is older
    * than d, the column's DEFAULT (Derby backfills rows present at the
    * ALTER) or NULL; on a newer image, the value the frame carried. */
  def wire(w: Gen.Wire): Map[String, Digest] = {
    val last = mutable.HashMap.empty[(String, Long), Gen.Frame]
    w.dml.flatten.foreach { f =>
      val key = (f.table, f.pk)
      if (last.get(key).forall(_.commitTs < f.commitTs)) last(key) = f
    }
    val init = Gen.Tables.map(t => Gen.target(t) -> Empty).toMap
    last.values.filter(_.op != "D").foldLeft(init) { (acc, f) =>
      val carried = f.added.toMap
      val addedCols = w.ddls.filter(_.table == f.table).map { d =>
        d.column.toUpperCase -> (
          if (d.ts < f.commitTs) carried(d.column).toString
          else d.default.map(_.toString).orNull)
      }
      val cols = Seq("PK" -> f.pk.toString, "COMMIT_TS" -> f.commitTs.toString,
        "K" -> f.k.toString, "V" -> f.v.toString) ++ addedCols
      val t = Gen.target(f.table)
      acc.updated(t, acc(t) + row(cols))
    }
  }

  /** The lake state: last image per key by commit ts (duplicates collapse
    * onto one event id), keys whose last event is a delete absent. */
  def lake(events: Iterable[Gen.Event]): Digest = {
    val last = mutable.HashMap.empty[Long, Gen.Event]
    events.foreach { e =>
      if (last.get(e.userId).forall(_.eventId < e.eventId)) last(e.userId) = e
    }
    last.values.filter(_.op != "D").foldLeft(Empty) { (d, e) =>
      d + lakeRow(e.userId, e.eventId, e.value)
    }
  }

  def lakeRow(pk: Long, commitTs: Long, value: Double): String =
    row(Seq("pk" -> pk.toString, "commit_ts" -> commitTs.toString,
      "value" -> value.toString))
}
