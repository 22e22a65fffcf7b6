package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.harness.DecodeQueries.writeDecoded
import graft.sources.PbBinlogFile
import graft.streaming.{CdcStream, SchemaTracker}

/** Randomized INTEGRATION sweep of the schema-versioned decode walk —
  * the layer the component sweeps cannot see: random column
  * ADD/DROP/RENAME DDL interleaved with DML rows goes through the REAL
  * path (binlog wire files → streaming decode → slice cutting → version
  * stamping → decode-time fill), and every (row, output column) cell of
  * the decoded parquet is compared to an independent row-level model.
  *
  * r18 extends the op pool with the table-LIFECYCLE transitions whose
  * state entanglement the column walk cannot reach: TRUNCATE (the
  * streamed F6 batch-local slice clear, name-keyed — ref:
  * drainer/syncer.go:744-762), DROP TABLE + FLASHBACK (the graveyard
  * recovery, ref: drainer/schema.go:435), CREATE TABLE … LIKE (shape
  * copy), and unroutable DML aimed at a dropped name; three modes run
  * the walk single-batch, multi-batch (random group splits + one
  * mid-walk restart off the durable DDL log), and multi-SCHEMA (two
  * databases on one wire through `ddlDrivenDecodeSchemas`, plus
  * cross-schema RENAME TABLE re-homing and DROP DATABASE —
  * drainer/schema.go:43-62). The model keeps per-(table, incarnation)
  * fill entries scoped per micro-batch: a truncate or flashback opens
  * a NEW incarnation whose adds never fill an older incarnation's
  * rows; a dropped incarnation's surviving rows keep their own frozen
  * entries; and nothing fills, aliases, or re-keys across a batch
  * boundary (the impl's DecodeFill lives per batch — rows of an
  * earlier batch are folded and written under the names in force at
  * THAT batch's end, which a 24-seed shake of a non-batch-aware model
  * draft demonstrated against the engine).
  *
  * The model is deliberately naive: per-row column-set snapshots taken
  * at generation time, rename aliasing as snapshot mutation, fill
  * resolution as "smallest later add of the name within the row's own
  * incarnation and micro-batch" — no slices, no versions-as-state, no
  * union schemas. Where [[DecodeFillPropSpec]] drives the fill STATE
  * MACHINE directly and [[SchemaTrackerPropSpec]] the catalog, this
  * pins their COMPOSITION with the wire grammar and the micro-batch
  * walk (ref: drainer/schema.go:293-331 replay-to-version +
  * translator.go:169-227 fill, composed). */
class DecodeWalkPropSpec extends SparkSpec {
  import spark.implicits._

  private case class ColDef(name: String, ty: String, notNull: Boolean,
    dflt: Option[String], addTs: Long)

  /** One fill incarnation: entries mutate while the incarnation is
    * current (a later add fills this incarnation's earlier rows) and
    * freeze at its truncate/drop/flashback boundary — rows hold a
    * REFERENCE, so a pre-drop row keeps its own incarnation's fills
    * after a flashback opens the next one. Entries are ALSO scoped per
    * micro-batch (the impl's DecodeFill lives per batch): an add fills
    * only its own batch's earlier rows, and a rename's re-key or a
    * column drop's clear touches only its own batch's entries — an
    * earlier batch's rows were already folded and written under the
    * names in force at THAT batch's end. */
  private class IncState {
    val entries = scala.collection.mutable.Map
      .empty[Int, Map[String, Vector[ColDef]]]
  }

  /** Model of one tracked table: live columns beyond the base
    * `k DOUBLE`, the version its next row stamps, and the CURRENT fill
    * incarnation. A table RENAME moves the whole model to the new
    * (schema, table) key — same incarnation, same live shape (the
    * reference follows the table id wherever it lands). */
  private class TModel(var live: Vector[ColDef], var version: Long) {
    var cur = new IncState
  }

  private def fmtTs(sec: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochSecond(sec))

  /** The typed fill a later add gives an earlier row, or None. */
  private def fillOf(c: ColDef): Option[String] = (c.dflt, c.ty) match {
    case (Some("CURRENT_TIMESTAMP"), "TIMESTAMP") => Some(fmtTs(c.addTs))
    case (Some("CURRENT_TIMESTAMP"), _)           => None
    case (Some(d), "VARCHAR(8)") => Some(d.stripPrefix("'").stripSuffix("'"))
    case (Some(d), _)            => Some(d)
    case (None, _) if !c.notNull => None
    case (None, "INT")           => Some("0")
    case (None, "VARCHAR(8)")    => Some("")
    case (None, _)               => None // TIMESTAMP zero-datetime divergence
  }

  // (schema, table)
  private type TK = (String, String)

  private def runScenario(seed: Int, multiBatch: Boolean,
      multiSchema: Boolean = false): Seq[String] = {
    val rnd = new Random(seed)
    val tag = (if (multiSchema) "ms" else if (multiBatch) "mb" else "sb")
    val wireDir = graft.util.Scratch.dir(s"graft_walkprop_${tag}_${seed}_wire")
    val outDir = graft.util.Scratch.dir(s"graft_walkprop_${tag}_${seed}_out")
    val ckpt = graft.util.Scratch.dir(s"graft_walkprop_${tag}_${seed}_ckpt")

    val SchemaPool = if (multiSchema) Vector("sa", "sb") else Vector("app")
    val KeyPool: Vector[TK] =
      if (multiSchema) for (s <- SchemaPool; t <- Vector("t", "u")) yield (s, t)
      else Vector("t", "u", "v").map(("app", _))
    val baseKey: TK = (SchemaPool.head, "t")
    val NamePool = Vector("c1", "c2", "c3", "c4")
    val tables = scala.collection.mutable.LinkedHashMap(
      baseKey -> new TModel(Vector.empty, 0L))
    // drop-time models (and the drop's batch), keyed by dropped key: a
    // flashback consumes the entry, a re-drop refills it — same-batch
    // recovery hits the impl's batch-local graveyard, a LATER-batch one
    // the tracker's logged dropped shape
    val grave = scala.collection.mutable.Map.empty[TK, (TModel, Int)]
    // per emitted row: the emitting key, its fill incarnation, stamped
    // version, provided values, written = the emission-time column set
    // that shaped the slice, present = the same set under rename
    // ALIASING (mutable — a rename aliases the NEW name onto the current
    // incarnation's same-batch snapshots); gone = the walk removed the
    // row from the output (truncated away, or unroutable at decode time)
    case class MRow(ts: Long, key: TK, incState: IncState,
      version: Long, vals: Map[String, String], written: Set[String],
      present: scala.collection.mutable.Set[String], batch: Int,
      var gone: Boolean = false)
    val rows = scala.collection.mutable.ArrayBuffer.empty[MRow]
    val ops = scala.collection.mutable.ArrayBuffer.empty[String]
    var wire: DataFrame = null
    // multi-batch mode: frames accumulate into GROUPS, each staged as its
    // own wire file and drained as its own micro-batch (batch-local fill
    // and truncate semantics bind to these boundaries)
    val groups = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var batchIdx = 0
    def closeGroup(): Unit = if (wire != null) {
      ops += s"CLOSE group $batchIdx"
      groups += wire; wire = null; batchIdx += 1
    }

    def route(k: TK): String = if (multiSchema) s"${k._1}:${k._2}" else k._2
    def qual(k: TK): String = s"${k._1}.${k._2}"

    def wireRow(ts: Long, op: String, props: String, sql: String,
        k: TK): DataFrame =
      Seq(ts).toDF("commit_ts").select(
        col("commit_ts"), lit(ts).as("pk"), lit(op).as("op"),
        lit(if (op == "DDL") "ddl" else route(k)).as("event_type"),
        timestamp_micros(col("commit_ts") * 1000000L).as("ts"),
        lit(null).cast("double").as("value"),
        (if (props == null) lit(null).cast("string") else lit(props)).as("props"),
        (if (sql == null) lit(null).cast("string") else lit(sql)).as("ddl_sql"))
    def emit(df: DataFrame): Unit =
      wire = if (wire == null) df else wire.unionByName(df)

    def dml(ts: Long): Unit = {
      // a known-but-untracked key now and then: the frame is unroutable
      // (no live schema at its commit ts) and must DROP from the output —
      // a dropped table, a pre-flashback gap, a name a RENAME vacated
      val dead = (KeyPool.toSet -- tables.keySet) &
        (grave.keySet ++ rows.map(_.key))
      if (dead.nonEmpty && rnd.nextInt(10) == 0) {
        val k = dead.toVector.sorted.apply(rnd.nextInt(dead.size))
        ops += s"dml ts=$ts table=${qual(k)} UNROUTABLE"
        rows += MRow(ts, k, new IncState, 0L, Map.empty, Set.empty,
          scala.collection.mutable.Set.empty, batchIdx, gone = true)
        emit(wireRow(ts, "U", s"""{"k": $ts.5}""", null, k))
        return
      }
      if (tables.isEmpty) return
      val k = tables.keys.toVector(rnd.nextInt(tables.size))
      val tm = tables(k)
      val chosen = tm.live.filter(_ => rnd.nextBoolean())
      val vals = Map("k" -> s"$ts.5") ++ chosen.map { c =>
        c.ty match {
          case "INT"        => c.name -> s"${ts % 50}"
          case "VARCHAR(8)" => c.name -> s"v$ts"
          case "TIMESTAMP"  => c.name -> fmtTs(ts % 3600)
        }
      }
      val json = "{" + vals.map { case (n, v) =>
        val quoted = tm.live.find(_.name == n).map(_.ty) match {
          case Some("VARCHAR(8)") => s""""$v""""
          case Some("TIMESTAMP")  => s""""${v.replace(" ", "T")}""""
          case _                  => v // numbers (k rides unquoted too)
        }
        s""""$n": $quoted"""
      }.mkString(", ") + "}"
      ops += s"dml ts=$ts table=${qual(k)} v=${tm.version} vals=$vals"
      val names = ("k" +: tm.live.map(_.name)).toSet
      rows += MRow(ts, k, tm.cur, tm.version, vals, names,
        scala.collection.mutable.Set(names.toSeq: _*), batchIdx)
      emit(wireRow(ts, "U", json, null, k))
    }

    def colDdl(ts: Long): Unit = {
      if (tables.isEmpty) return
      val k = tables.keys.toVector(rnd.nextInt(tables.size))
      val tm = tables(k)
      val free = NamePool.filterNot(n => tm.live.exists(_.name == n))
      // online-DDL suffix clauses ride real migration-tool traffic
      // (gh-ost/pt-osc); they are decode-neutral and the model ignores them
      def suffixed(sql: String): String =
        if (rnd.nextInt(4) == 0) {
          ops += "ALGOSUFFIX"
          sql + ", ALGORITHM=INPLACE, LOCK=NONE"
        } else sql
      val kind = rnd.nextInt(3)
      if (kind == 0 && free.nonEmpty) { // ADD
        val n = free(rnd.nextInt(free.size))
        val (ty, tail, dflt, nn) = rnd.nextInt(6) match {
          case 0 => ("INT", "INT", None, false)
          case 1 => ("INT", "INT NOT NULL", None, true)
          case 2 => ("INT", "INT DEFAULT 5", Some("5"), false)
          case 3 => ("VARCHAR(8)", "VARCHAR(8) NOT NULL", None, true)
          case 4 => ("VARCHAR(8)", "VARCHAR(8) DEFAULT 'x'", Some("'x'"), false)
          case _ => ("TIMESTAMP", "TIMESTAMP DEFAULT CURRENT_TIMESTAMP",
            Some("CURRENT_TIMESTAMP"), false)
        }
        ops += s"ddl ts=$ts ${qual(k)} ADD $n $tail"
        val c = ColDef(n, ty, nn, dflt, ts)
        tm.live :+= c
        val ent = tm.cur.entries.getOrElse(batchIdx, Map.empty)
        tm.cur.entries(batchIdx) =
          ent + (n -> (ent.getOrElse(n, Vector.empty) :+ c))
        tm.version = ts
        emit(wireRow(ts, "DDL", null,
          suffixed(s"ALTER TABLE ${qual(k)} ADD COLUMN $n $tail"), k))
      } else if (kind == 1 && tm.live.nonEmpty) { // DROP
        val n = tm.live(rnd.nextInt(tm.live.size)).name
        ops += s"ddl ts=$ts ${qual(k)} DROP $n"
        tm.live = tm.live.filterNot(_.name == n)
        tm.cur.entries(batchIdx) =
          tm.cur.entries.getOrElse(batchIdx, Map.empty) - n
        tm.version = ts
        emit(wireRow(ts, "DDL", null,
          suffixed(s"ALTER TABLE ${qual(k)} DROP COLUMN $n"), k))
      } else if (kind == 2 && tm.live.nonEmpty && free.nonEmpty) { // RENAME
        val from = tm.live(rnd.nextInt(tm.live.size)).name
        val to = free(rnd.nextInt(free.size))
        ops += s"ddl ts=$ts ${qual(k)} RENAME $from -> $to"
        tm.live = tm.live.map(c => if (c.name == from) c.copy(name = to) else c)
        val ent = tm.cur.entries.getOrElse(batchIdx, Map.empty)
        ent.get(from).foreach { vec =>
          tm.cur.entries(batchIdx) = ent - from +
            (to -> (ent.getOrElse(to, Vector.empty) ++ vec))
        }
        // the value-rides-the-old-name rule, scoped to the CURRENT
        // incarnation AND the current micro-batch: an older incarnation's
        // or an earlier batch's rows never alias — their cells were
        // already decided (folded and written) at their own boundary
        rows.foreach(r => if ((r.incState eq tm.cur) && r.batch == batchIdx &&
          r.present.contains(from)) {
          r.present += to; ()
        })
        tm.version = ts
        emit(wireRow(ts, "DDL", null,
          suffixed(s"ALTER TABLE ${qual(k)} RENAME COLUMN $from TO $to"), k))
      }
    }

    def lifecycle(ts: Long): Unit = {
      val freeKeys = KeyPool.filterNot(tables.contains)
      val feasible = Vector(
        if (tables.nonEmpty) Some("truncate") else None,
        if (tables.nonEmpty) Some("drop") else None,
        if (grave.nonEmpty && freeKeys.nonEmpty) Some("flashback") else None,
        if (tables.nonEmpty && freeKeys.nonEmpty) Some("create_like") else None,
        // table rename and DROP DATABASE only in the multi-schema mode
        // (the rename's frozen-snapshot fold is isolated by closing the
        // group right after it — see below)
        if (multiSchema && tables.nonEmpty && freeKeys.nonEmpty)
          Some("rename_table") else None,
        // r19: the ADVICE composite — one ALTER carrying BOTH a column
        // action and a RENAME clause (spelled rename-FIRST on the wire,
        // so the grammar's apply-rename-LAST reordering is what makes the
        // model's add-then-re-home transition correct)
        if (multiSchema && tables.nonEmpty && freeKeys.nonEmpty)
          Some("alter_add_rename") else None,
        if (multiSchema && tables.nonEmpty) Some("drop_schema") else None
      ).flatten
      if (feasible.isEmpty) return
      feasible(rnd.nextInt(feasible.size)) match {
        case "truncate" =>
          val k = tables.keys.toVector(rnd.nextInt(tables.size))
          val tm = tables(k)
          ops += s"ddl ts=$ts TRUNCATE ${qual(k)}"
          // streamed F6, NAME-keyed (the impl's documented same-batch
          // edge): every earlier IN-FLIGHT row of the KEY leaves the
          // output — including an older dropped incarnation's rows — but
          // only within the truncate's own micro-batch; rows already
          // written by earlier batches stay (syncer.go:744-762 drops
          // in-flight mutations, never applied ones)
          rows.foreach(r => if (r.key == k && r.batch == batchIdx &&
            r.ts <= ts) { r.gone = true })
          tm.version = ts
          tm.cur = new IncState
          emit(wireRow(ts, "DDL", null,
            s"TRUNCATE${if (rnd.nextBoolean()) " TABLE" else ""} ${qual(k)}",
            k))
        case "drop" =>
          val k = tables.keys.toVector(rnd.nextInt(tables.size))
          ops += s"ddl ts=$ts DROP TABLE ${qual(k)}"
          // pre-drop rows stay decoded; the model (incarnation + fills)
          // moves to the graveyard for a later flashback
          grave(k) = (tables.remove(k).get, batchIdx)
          emit(wireRow(ts, "DDL", null, s"DROP TABLE ${qual(k)}", k))
        case "flashback" =>
          val orig = grave.keys.toVector.sorted.apply(rnd.nextInt(grave.size))
          // recover under the original key when free (the common case),
          // or under a new name in the SAME schema (FLASHBACK … TO takes
          // a bare identifier)
          val freeNow = KeyPool.filter(k =>
            k._1 == orig._1 && !tables.contains(k))
          val target =
            if (!tables.contains(orig) && rnd.nextInt(5) != 0) orig
            else if (freeNow.nonEmpty) freeNow(rnd.nextInt(freeNow.size))
            else return
          if (tables.contains(target)) return // occupied target is illegal
          val (tm, dropBatch) = grave.remove(orig).get
          ops += s"ddl ts=$ts FLASHBACK ${qual(orig)} -> ${qual(target)} " +
            s"crossBatch=${dropBatch != batchIdx}"
          // drop-time shape, NEW incarnation: adds after the recovery
          // never fill the dropped incarnation's surviving rows
          val restored = new TModel(tm.live, ts)
          tables(target) = restored
          emit(wireRow(ts, "DDL", null,
            s"FLASHBACK TABLE ${qual(orig)}${if (target == orig) ""
              else s" TO ${target._2}"}", target))
        case "create_like" =>
          val src = tables.keys.toVector(rnd.nextInt(tables.size))
          val freeNow = KeyPool.filterNot(tables.contains)
          val tgt = freeNow(rnd.nextInt(freeNow.size))
          ops += s"ddl ts=$ts CREATE ${qual(tgt)} LIKE ${qual(src)}"
          // the SOURCE's current live shape, fresh incarnation (LIKE
          // copies column defs; no row predates the copy, so no fills)
          tables(tgt) = new TModel(tables(src).live, ts)
          emit(wireRow(ts, "DDL", null,
            s"CREATE TABLE ${qual(tgt)} LIKE ${qual(src)}", tgt))
        case "rename_table" =>
          val from = tables.keys.toVector(rnd.nextInt(tables.size))
          val freeNow = KeyPool.filterNot(tables.contains)
          val to = freeNow(rnd.nextInt(freeNow.size))
          ops += s"ddl ts=$ts RENAME TABLE ${qual(from)} -> ${qual(to)} " +
            s"xschema=${from._1 != to._1}"
          // the table keeps its shape, history, and fill IDENTITY under
          // the new key — including ACROSS schemas (schema.go renameTable
          // follows the table id); version bumps at the rename. The group
          // closes RIGHT AFTER: the old key's already-written rows fold on
          // a frozen snapshot (DecodeFill.onTableRename), so no same-batch
          // column mutation may follow the re-home — the model would
          // otherwise need the impl's own snapshot algebra to stay exact
          val tm = tables.remove(from).get
          tm.version = ts
          tables(to) = tm
          emit(wireRow(ts, "DDL", null,
            s"RENAME TABLE ${qual(from)} TO ${qual(to)}", to))
          closeGroup()
        case "alter_add_rename" =>
          val from = tables.keys.toVector(rnd.nextInt(tables.size))
          val tm = tables(from)
          val freeCols = NamePool.filterNot(n => tm.live.exists(_.name == n))
          val freeNow = KeyPool.filterNot(tables.contains)
          if (freeCols.isEmpty || freeNow.isEmpty) return
          val n = freeCols(rnd.nextInt(freeCols.size))
          val to = freeNow(rnd.nextInt(freeNow.size))
          ops += s"ddl ts=$ts MULTIALTER ${qual(from)} ADD $n + " +
            s"RENAME -> ${qual(to)} xschema=${from._1 != to._1}"
          // model: MySQL applies the non-RENAME clause to the ORIGINAL
          // table whatever the clause order — the ADD first (fill entry
          // under the current incarnation and batch, like colDdl's ADD)...
          val c = ColDef(n, "INT", false, Some("5"), ts)
          tm.live :+= c
          val ent = tm.cur.entries.getOrElse(batchIdx, Map.empty)
          tm.cur.entries(batchIdx) =
            ent + (n -> (ent.getOrElse(n, Vector.empty) :+ c))
          // ...then the re-home, identity/history/fills intact (the
          // rename_table transition), group closed for the same
          // frozen-snapshot reason
          tables.remove(from)
          tm.version = ts
          tables(to) = tm
          emit(wireRow(ts, "DDL", null,
            s"ALTER TABLE ${qual(from)} RENAME TO ${qual(to)}, " +
              s"ADD COLUMN $n INT DEFAULT 5", to))
          closeGroup()
        case "drop_schema" =>
          val s0 = SchemaPool(rnd.nextInt(SchemaPool.size))
          val victims = tables.keys.filter(_._1 == s0).toVector.sorted
          if (victims.isEmpty) return
          ops += s"ddl ts=$ts DROP DATABASE $s0 (${victims.size} tables)"
          // every tracked table of the schema ends its decode at the drop
          // (one drop_table log record per table); each shape lands in the
          // graveyard, recoverable by a later per-table FLASHBACK
          victims.foreach(k => grave(k) = (tables.remove(k).get, batchIdx))
          emit(wireRow(ts, "DDL", null, s"DROP DATABASE $s0", victims.head))
      }
    }

    dml(1L)
    var ts = 1L
    val steps = if (multiSchema) 24 else 18
    (1 to steps).foreach { _ =>
      ts += 1 + rnd.nextInt(3)
      val r = rnd.nextInt(20)
      if (r < 11) dml(ts) else if (r < 17) colDdl(ts) else lifecycle(ts)
      // multi-batch mode: occasionally close the in-flight group — the
      // next frames land in their own wire file / micro-batch (a DROP and
      // its FLASHBACK split this way exercise the CROSS-batch graveyard:
      // the tracker's dropped shape, not the batch-local one)
      if (multiBatch && wire != null && rnd.nextInt(5) == 0) closeGroup()
    }
    dml(ts + 1)
    closeGroup()

    // single-batch mode keeps ONE wire file → one micro-batch (the
    // decode-time fill is deliberately batch-local, and this test's model
    // then never needs batch gating); multi-batch mode stages each group
    // in order, draining between stages, with ONE mid-walk RESTART — a
    // fresh tracker recovered from the durable DDL log must continue the
    // walk identically (truncate/recover_table/rename_table/create-like
    // records replay)
    val restartAfter: Option[Int] =
      if (multiBatch && groups.size > 1) Some(rnd.nextInt(groups.size - 1))
      else None
    def freshTracker(): SchemaTracker = {
      val t = new SchemaTracker()
      t.createTable(baseKey._1, baseKey._2, Seq("k DOUBLE"), version = 0)
      t
    }
    var tracker = freshTracker()
    def startQuery() =
      if (multiSchema)
        CdcStream.ddlDrivenDecodeSchemas(
          PbBinlogFile.readStream(spark, wireDir), tracker, outDir, ckpt,
          SchemaPool,
          substring_index(col("event_type"), ":", 1),
          substring_index(col("event_type"), ":", -1), writeDecoded(outDir),
          fillOriginDefaults = true)
      else
        CdcStream.ddlDrivenDecodeTables(
          PbBinlogFile.readStream(spark, wireDir), tracker, outDir, ckpt,
          baseKey._1, col("event_type"),
          writeDecoded(outDir), fillOriginDefaults = true)
    var q = startQuery()
    try {
      groups.zipWithIndex.foreach { case (g, i) =>
        if (restartAfter.contains(i - 1)) {
          q.stop()
          ops += s"RESTART before group $i (log-recovered tracker)"
          tracker = freshTracker()
          CdcStream.recoverDecodeTracker(spark, outDir, ckpt, tracker)
          q = startQuery()
        }
        PbBinlogFile.write(g, wireDir, nFiles = 1)
        q.processAllAvailable()
      }
    } finally q.stop()

    // expected cell value for row r, output column n: a present column
    // reads its provided value (or explicit absence), anything else fills
    // from the row's OWN incarnation's and OWN micro-batch's later adds
    def expect(r: MRow, n: String): Option[String] =
      if (r.present.contains(n)) r.vals.get(n)
      else r.incState.entries.getOrElse(r.batch, Map.empty)
        .getOrElse(n, Vector.empty)
        .filter(_.addTs > r.version)
        .sortBy(_.addTs).headOption.flatMap(fillOf)
    // columns where only the batch scoping blocks a would-be fill: a
    // same-incarnation LATER add in a DIFFERENT batch whose fill the
    // single-batch semantics would have applied
    def cellsGatedByBatch(r: MRow): Seq[String] =
      r.incState.entries.toSeq.filter(_._1 != r.batch).flatMap(_._2)
        .collect { case (n, adds)
          if !r.present.contains(n) && expect(r, n).isEmpty &&
            adds.exists(c => c.addTs > r.version && fillOf(c).isDefined) => n }
        .distinct

    if (sys.env.contains("GRAFT_WALK_DEBUG")) {
      println(s"=== seed=$seed ops ===\n" + ops.mkString("\n"))
      spark.read.option("mergeSchema", "true").parquet(s"$outDir/data")
        .orderBy("commit_ts").show(100, false)
    }
    val survivors = rows.filterNot(_.gone)
    // table partitions carry different column sets — merge, or the read
    // picks one partition's schema
    val out = spark.read.option("mergeSchema", "true").parquet(s"$outDir/data")
    val strCols = out.columns.filter(_.endsWith("_str")).toVector
    // every column any SURVIVING row's slice actually CARRIED must have
    // surfaced (a truncated-away slice's defs legitimately clear with it)
    val expectedCols = survivors.flatMap(_.written).toSet
    assert(expectedCols.map(_ + "_str").subsetOf(strCols.toSet),
      s"seed=$seed missing output columns: got $strCols want $expectedCols" +
        s"\nops:\n${ops.mkString("\n")}")
    val schemaCol =
      if (multiSchema) col("schema").cast("string")
      else lit(baseKey._1)
    val got = out.select(col("commit_ts") +: col("schema_version") +:
        schemaCol.as("s") +: col("table").cast("string").as("t") +:
        strCols.map(col): _*)
      .collect().map { r =>
        r.getLong(0) -> ((r.getLong(1), (r.getString(2), r.getString(3)),
          strCols.zipWithIndex.map { case (c, i) =>
            c.stripSuffix("_str") -> Option(r.getString(i + 4))
          }.toMap))
      }.toMap
    assert(got.keySet == survivors.map(_.ts).toSet,
      s"seed=$seed row set mismatch: ${got.keySet.toSeq.sorted} vs " +
        s"${survivors.map(_.ts).toSeq.sorted}\nops:\n${ops.mkString("\n")}")
    // record whether the BATCH gate ever changed an expectation: a row
    // lacking a column whose same-incarnation later add sits in a DIFFERENT
    // micro-batch (single-batch semantics would have filled; batch-local
    // fill must not) — the multi-batch sweep asserts this case occurred
    survivors.foreach { r =>
      val gated = cellsGatedByBatch(r)
      if (gated.nonEmpty)
        ops += s"BATCHGATED ts=${r.ts} cols=${gated.mkString(",")}"
    }
    survivors.foreach { r =>
      val (gotVer, gotKey, cells) = got(r.ts)
      assert(gotKey == r.key,
        s"seed=$seed ts=${r.ts}: key $gotKey != ${r.key}" +
          s"\nops:\n${ops.mkString("\n")}")
      assert(gotVer == r.version,
        s"seed=$seed ts=${r.ts}: version $gotVer != ${r.version}" +
          s"\nops:\n${ops.mkString("\n")}")
      cells.keys.foreach { n =>
        val want = expect(r, n)
        assert(cells(n) == want,
          s"seed=$seed ts=${r.ts} key=${r.key} col=$n: impl=${cells(n)} " +
            s"model=$want (present=${r.present})\nops:\n${ops.mkString("\n")}")
      }
    }
    ops.toSeq
  }

  private val PoolMarkers = Seq("TRUNCATE", "DROP TABLE", "FLASHBACK",
    "LIKE", "UNROUTABLE", " ADD ", " DROP c", " RENAME c", "ALGOSUFFIX")

  test("random DDL/DML wires: the decode walk matches the row-level model") {
    val allOps = (1 to 8).flatMap(runScenario(_, multiBatch = false))
    // the sweep only proves what it generates: every lifecycle transition
    // must actually have fired somewhere across the seeds
    PoolMarkers.foreach { marker =>
      assert(allOps.exists(_.contains(marker)),
        s"op pool never generated '$marker' across the sweep — reweight")
    }
  }

  test("multi-batch walk with a mid-walk restart matches the batch-gated model") {
    val allOps = (1 to 8).flatMap(runScenario(_, multiBatch = true))
    // the cross-batch graveyard path (tracker.droppedShape, not the
    // batch-local one) must actually have been taken: some FLASHBACK has
    // to sit in a LATER group than its DROP
    (PoolMarkers ++ Seq("RESTART", "crossBatch=true", "BATCHGATED"))
      .foreach { marker =>
      assert(allOps.exists(_.contains(marker)),
        s"op pool never generated '$marker' across the multi-batch sweep")
    }
  }

  test("multi-schema walk: cross-schema renames and DROP DATABASE route exactly") {
    val allOps = (1 to 8).flatMap(
      runScenario(_, multiBatch = true, multiSchema = true))
    (PoolMarkers ++ Seq("RESTART", "RENAME TABLE", "xschema=true",
        "DROP DATABASE", "MULTIALTER")).foreach { marker =>
      assert(allOps.exists(_.contains(marker)),
        s"op pool never generated '$marker' across the multi-schema sweep")
    }
  }
}
