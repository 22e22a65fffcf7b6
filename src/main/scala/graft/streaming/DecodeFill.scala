package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Decode-time T7 fill — the state machine behind `fillOriginDefaults`
  * (ref: drainer/translator/translator.go:169-227 getDefaultOrZeroValue):
  * a row that PREDATES a column's ADD reads the add's origin default —
  * or, for a NOT NULL add without one, the type's MySQL zero value,
  * keyed on the NATIVE spelling where the mapped wire type erases it
  * (TIME '00:00:00', JSON 'null', ENUM first element, SET empty,
  * fixed-width BINARY(n) n zero bytes — translator.go:221-225 + tidb
  * table.GetZeroValue) — from the decode output instead of the frame's
  * structural NULL. One instance lives per micro-batch, fed the decode
  * walk's logged DDL records one by one ([[DecodeFill.onRecord]]). A
  * CURRENT_TIMESTAMP-family default evaluates at the DDL frame's OWN
  * commit-ts — TiDB pins OriginDefaultValue at the DDL's execution
  * time (tidb ddl/column.go), which IS the frame's commit instant, so
  * the fill is reference-faithful without the stored value riding the
  * wire — to WHOLE-SECOND precision: the wire's commit-ts carries
  * seconds, so a CURRENT_TIMESTAMP(3)/(6) column's reference value
  * keeps fsp fractional digits the fill truncates (carry them if the
  * wire's commit-ts ever gains sub-second resolution).
  * Divergences from the reference, all NULL-filling: any OTHER
  * expression default (unknowable decode-side) and a NOT NULL
  * date/datetime/timestamp add without a default (MySQL's zero
  * datetime '0000-00-00' has no Spark representation). A constant the
  * wire type cannot hold fills NULL the
  * same way (try_cast at fold, never an ANSI abort), and an add's fill
  * never crosses an intervening same-name DROP TABLE — each dropped
  * incarnation's rows keep only their own incarnation's defaults. */
private[graft] object DecodeFill {

  /** One in-batch ADD COLUMN: the version that ended an absence gap, the
    * add-time ORIGIN default spelling (raw, quoting intact — a QUOTED
    * 'TRUE' or '1e3' is literal text and must never reinterpret; None =
    * added without one), and the column's LIVE shape — NOT NULL flag,
    * mapped wire type, native MySQL spelling, ENUM/SET dictionary. A
    * same-batch MODIFY/CHANGE updates the live shape (the reference
    * evaluates fills through the live ColumnInfo, translator.go:169-177)
    * while the origin default stays add-time (TiDB pins
    * OriginDefaultValue at ADD; a MODIFY default tail is not an origin
    * default). `inc` is the identity of the declaring table, so a
    * same-batch recreate that re-adds the name never routes another
    * incarnation's default through its own type (see the class note). */
  final case class Entry(version: Long, dflt: Option[String],
    notNull: Boolean, ty: String, native: String, dict: Vector[String],
    inc: Int)

  /** A DEFAULT expression the fill may substitute: a quoted string, a
    * plain numeric, a boolean, or a hex/bit literal. EXPRESSION defaults
    * (and an explicit NULL default) skip — the class-note divergence —
    * while the `origin_default` log record still carries their text for
    * composing sinks. */
  private[graft] def isConstantLiteral(d: String): Boolean = {
    val t = d.trim
    (t.length >= 2 && t.head == '\'' && t.last == '\'') ||
    t.matches("[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?") ||
    t.equalsIgnoreCase("TRUE") || t.equalsIgnoreCase("FALSE") ||
    hexBitBytes(t).isDefined
  }

  /** Bytes of a hex/bit literal spelling, or None. Partial leading
    * digit groups left-pad with zeros (MySQL's own reading). */
  private def hexBitBytes(t: String): Option[Array[Byte]] = {
    def parse(ds: String, radix: Int, perByte: Int) = {
      val p = "0" * ((perByte - ds.length % perByte) % perByte) + ds
      p.grouped(perByte).map(java.lang.Integer.parseInt(_, radix).toByte).toArray
    }
    if (t.matches("(?i)0x[0-9a-f]+")) Some(parse(t.drop(2), 16, 2))
    else if (t.matches("(?i)x'[0-9a-f]*'"))
      Some(parse(t.substring(2, t.length - 1), 16, 2))
    else if (t.matches("(?i)0b[01]+")) Some(parse(t.drop(2), 2, 8))
    else if (t.matches("(?i)b'[01]*'"))
      Some(parse(t.substring(2, t.length - 1), 2, 8))
    else None
  }

  /** The CURRENT_TIMESTAMP family (CURRENT_TIMESTAMP[(n)] and its
    * NOW/LOCALTIME[STAMP] synonyms) — the one expression default the
    * fill CAN evaluate: TiDB pins its OriginDefaultValue at DDL
    * execution (ref: drainer/translator/translator.go:169-185 reads the
    * stored value; tidb ddl/column.go stamps it), and the DDL frame's
    * commit-ts is that instant in this engine's clock (epoch seconds,
    * the TSO-physical analog). Rendering happens in the session
    * timezone downstream — the reference's UTC→local shift
    * (translator.go:186-204 transTimestampToLocal). */
  private[graft] def isCurrentTsFamily(d: String): Boolean =
    d.trim.matches("(?i)(CURRENT_TIMESTAMP|NOW|LOCALTIME|LOCALTIMESTAMP)(\\(\\d*\\))?")

  private val IntegralBases = Set("TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT")

  /** The fill CONSTANT as a typed literal, from the RAW default spelling:
    * TRUE/FALSE keep the boolean on a BOOLEAN-mapped column (whose
    * decoded rows read true/false too) and otherwise become MySQL's
    * evaluation 1/0 (a VARCHAR DEFAULT TRUE stores '1' upstream); pure
    * integers stay exact at any width; hex/bit literals read by the
    * target's nature (BINARY → the bytes, STRING → the bytes as text,
    * numeric targets — BIT rides BIGINT — → the unsigned integer value,
    * MySQL's own reading); a dotted/exponent spelling on an INTEGRAL
    * target routes through DECIMAL(38,0) so it ROUNDS like the
    * reference's evaluation instead of throwing the ANSI string→integral
    * cast; a non-integral target casts the raw spelling DIRECTLY to the
    * column type (DOUBLE DEFAULT 1e25 must not overflow a decimal
    * intermediary, 1e-20 must not round to 0). */
  private def fillLiteral(raw: String, ty: String): Column = {
    val t = raw.trim
    val base = baseOf(ty)
    if (t.startsWith("'")) lit(DdlGrammar.unquoteLiteral(t))
    else if (t.equalsIgnoreCase("TRUE") || t.equalsIgnoreCase("FALSE")) {
      if (base == "BOOLEAN") lit(t.toBoolean)
      else lit(if (t.equalsIgnoreCase("TRUE")) "1" else "0")
    }
    else hexBitBytes(t) match {
      case Some(bytes) => base match {
        case "BINARY" => lit(bytes)
        case "STRING" =>
          lit(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
        case _ => lit(new java.math.BigInteger(1, bytes).toString)
      }
      case None =>
        if (t.matches("[+-]?[0-9]+")) lit(t)
        else if (IntegralBases(base)) lit(t).try_cast("DECIMAL(38,0)")
        else lit(t).try_cast(ty)
    }
  }

  private def baseOf(s: String): String =
    s.toUpperCase(java.util.Locale.ROOT).takeWhile(_ != '(')

  /** The column's MySQL zero value (translator.go:221-225 + tidb
    * table.GetZeroValue), keyed on the NATIVE spelling where the mapped
    * wire type erases it — TIME/JSON both ride STRING but zero to
    * '00:00:00' / the JSON null document, ENUM zeros to its FIRST
    * element, SET to the empty set, and a fixed-width BINARY(n) to n
    * zero bytes — falling back to the mapped type's zero (which agrees
    * across the rest of the domain: 0, '', empty bytes, FALSE). None
    * where Spark cannot represent it (the zero DATETIME '0000-00-00')
    * — the fill keeps NULL, the documented divergence. */
  private def zeroLiteral(e: Entry): Option[Column] = baseOf(e.native) match {
    case "TIME" => Some(lit("00:00:00"))
    case "JSON" => Some(lit("null"))
    case "ENUM" => e.dict.headOption.map(lit(_))
    case "SET"  => Some(lit(""))
    case "BINARY" =>
      val n = "\\((\\d+)\\)".r.findFirstMatchIn(e.native)
        .map(_.group(1).toInt).getOrElse(1) // a bare BINARY is BINARY(1)
      Some(lit(Array.fill(n)(0: Byte)))
    case _ => baseOf(e.ty) match {
      case "TINYINT" | "SMALLINT" | "INT" | "INTEGER" | "BIGINT" |
           "DECIMAL" | "DOUBLE" | "FLOAT" => Some(lit(0))
      case "STRING"                       => Some(lit(""))
      case "BINARY"                       => Some(lit(Array.empty[Byte]))
      case "BOOLEAN"                      => Some(lit(false))
      case _                              => None
    }
  }

  /** The typed fill value of one entry, if it fills at all — the
    * reference's getDefaultOrZeroValue order: origin default first
    * (constants, plus the CURRENT_TIMESTAMP family evaluated at the
    * add's own commit-ts — `e.version` — on a TIMESTAMP-mapped column;
    * any other expression is the documented divergence), then the
    * NOT NULL zero value, else the version-correct NULL. */
  private[graft] def fillValue(e: Entry): Option[Column] = e.dflt match {
    case Some(d) if isConstantLiteral(d) => Some(fillLiteral(d, e.ty))
    case Some(d) if isCurrentTsFamily(d) && baseOf(e.ty) == "TIMESTAMP" =>
      Some(timestamp_seconds(lit(e.version)))
    case Some(_)                         => None
    case None if e.notNull               => zeroLiteral(e)
    case None                            => None
  }
}

/** Per-micro-batch fill state, fed by the decode walk's `log`: each cut
  * slice ([[recordSlice]]), then the logged record ([[onRecord]]).
  * `enabled = false` makes every record a no-op and [[fold]] the
  * identity. Driver-side and tiny: one entry vector per in-batch ADD,
  * one (version, column set) per cut slice.
  *
  * IDENTITY: a table NAME can host several incarnations within one
  * batch — DROP then recreate, a rename-in after the old holder left —
  * and their slices all fold under the name's key. Every slice and
  * every add therefore carries the IDENTITY of the table it belongs to:
  * a fresh token per registration (CREATE, CREATE LIKE, FLASHBACK),
  * allocated lazily for tables registered before the batch, and
  * FOLLOWED through a table rename (the renamed table is the same
  * table). [[fold]] matches entries to slices of the SAME identity
  * only, so no incarnation ever reads a default a DIFFERENT table under
  * the same name declared — in either direction — while a table renamed
  * away and back keeps its own fills throughout. */
private[graft] final class DecodeFill(enabled: Boolean) {
  import DecodeFill._
  private type K = (String, String)
  private var fill = Map.empty[K, Map[String, Vector[Entry]]]
  private val present = scala.collection.mutable.Map.empty[K,
    scala.collection.mutable.ArrayBuffer[(Long, Int, Set[String])]]
  private var nextInc = 0
  private val liveInc = scala.collection.mutable.Map.empty[K, Int]
  /** The live table's identity under `k`, allocated on first touch for
    * tables already registered when the batch began. */
  private def inc(k: K): Int =
    liveInc.getOrElseUpdate(k, { nextInc += 1; nextInc })

  /** Record a cut slice's decoded columns under its schema version. The
    * caller gates on the slice being able to HOLD rows (non-empty ts
    * range): a same-ts DDL chain cuts empty slices whose intermediate
    * shapes share the final slice's version — recording them would put
    * that version in a later column's absent set and clobber real rows'
    * explicit nulls. The slice takes the identity live when it is cut. */
  def recordSlice(k: K, version: Long, cols: Set[String]): Unit = {
    present.getOrElseUpdate(k,
      scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Set[String])]) +=
      ((version, inc(k), cols))
    ()
  }

  /** Apply one logged DDL record of `schema`.`table` at commit ts
    * `version`, in the log's action vocabulary (the one
    * `CdcStream.applyLogged` reads). `native`, the MySQL type spelling of
    * an add/modify/change, is the one input no record carries.
    *  - `add` opens an entry (`arg` = the normalized tail, type first,
    *    canonical NOT NULL after); a following same-ts `origin_default`
    *    sets its default and a following `dictionary` its ENUM/SET list.
    *    A CREATE's records of those kinds find no entry and change nothing.
    *  - `modify`/`change` retype the live entry — the reference evaluates a
    *    fill through the column's CURRENT ColumnInfo (translator.go:169-177)
    *    while the origin default stays add-time — and clear its dictionary
    *    until a following `dictionary` record sets the new type's; `change`
    *    re-keys first (`arg` = "newName tail").
    *  - `drop` removes the live entries; `rename` re-keys them to `arg`.
    *  - `create_table`/`recover_table` start an identity under the
    *    registered name: whatever held it before (a rename-away ends no
    *    identity) is a different table. A FLASHBACK after an in-batch drop
    *    resumes the same table, but its recovered columns leave no absence
    *    gap, so the fresh identity is inert. `drop_table` ends the
    *    identity (entries and slices stay to fold); `rename_table` moves
    *    it ([[moveInc]]).
    *  - `truncate` clears the key: pre-truncate rows left the output.
    * Column records touch only the LIVE table's entries and slices: a
    * dropped incarnation's state stays frozen, its rows' fills decided. */
  def onRecord(schema: String, table: String, action: String, column: String,
      arg: String, version: Long, native: String = ""): Unit = if (enabled) {
    val k = (schema, table)
    action match {
      case "create_table" | "recover_table" =>
        nextInc += 1
        liveInc(if (action == "recover_table" && arg.nonEmpty) (schema, arg) else k) =
          nextInc
      case "drop_table"   => liveInc.remove(k); ()
      case "rename_table" => moveInc(k, CdcStream.renameTarget(schema, arg))
      case "truncate"     => fill -= k; present.remove(k); ()
      case _              => onColumn(k, action, column, arg, version, native)
    }
  }

  /** Table rename: the IDENTITY follows the table to the new key, and
    * its live entries COPY along (the old key's already-cut slices still
    * fold at batch end, on the frozen SNAPSHOT the old key keeps) — the
    * target name may hold a dropped incarnation's kept entries, and the
    * identity match at fold time keeps every incarnation's slices on
    * their own defaults. A table renamed away and BACK re-occupies its
    * old key live: the key's same-identity entries are REPLACED by the
    * table's current state (mutations made while away — retypes, column
    * drops — land, and no duplicate can shadow a later retype). */
  private def moveInc(from: K, to: K): Unit = {
    val me = inc(from)
    val stripped = fill.getOrElse(to, Map.empty)
      .map { case (c, vec) => c -> vec.filterNot(_.inc == me) }
      .filter(_._2.nonEmpty)
    val merged = fill.get(from).fold(stripped) { m =>
      m.foldLeft(stripped) { case (acc, (c, vec)) =>
        val mine = vec.filter(_.inc == me)
        if (mine.isEmpty) acc
        else acc + (c -> (acc.getOrElse(c, Vector.empty) ++ mine))
      }
    }
    if (merged.nonEmpty) fill += to -> merged else fill -= to
    liveInc(to) = me
    liveInc.remove(from)
    ()
  }

  private def onColumn(k: K, action: String, c: String, arg: String,
      version: Long, native: String): Unit = {
    val cur = fill.getOrElse(k, Map.empty)
    val me = inc(k)
    // a renamed column EXISTED (under its old name) in the live table's
    // slices already cut — mark the NEW name present there too, whether
    // or not an in-batch add entry exists, or the fold would treat those
    // rows' structural NULL (their value rides the old-name column) as
    // missing data and overwrite it with a later add's default
    def aliasPresent(from: String, to: String): Unit =
      present.get(k).foreach { buf =>
        buf.mapInPlace {
          case (ver, i, cols) if i == me && cols.contains(from) =>
            (ver, i, cols + to)
          case e => e
        }
        ()
      }
    def put(m: Map[String, Vector[Entry]], name: String, vec: Vector[Entry]) =
      if (vec.isEmpty) m - name else m + (name -> vec)
    def rekey(to: String) = {
      aliasPresent(c, to)
      cur.get(c).fold(cur) { vec =>
        val (mine, frozen) = vec.partition(_.inc == me)
        if (mine.isEmpty) cur
        else {
          val base = put(cur, c, frozen)
          base + (to -> (base.getOrElse(to, Vector.empty) ++ mine))
        }
      }
    }
    def shapeOf(tail: String): (String, Boolean) = {
      val toks = DdlGrammar.tailTokens(tail)
      (toks.headOption.getOrElse("STRING"),
        toks.map(_.toUpperCase(java.util.Locale.ROOT))
          .containsSlice(Seq("NOT", "NULL")))
    }
    // the live incarnation's entry of `name` is its last one
    def live(m: Map[String, Vector[Entry]], name: String)(f: Entry => Entry) =
      m.get(name).fold(m) { vec =>
        if (vec.last.inc != me) m else m + (name -> (vec.init :+ f(vec.last)))
      }
    def retyped(m: Map[String, Vector[Entry]], name: String, tail: String) = {
      val (ty, nn) = shapeOf(tail)
      live(m, name)(_.copy(ty = ty, notNull = nn, native = native,
        dict = Vector.empty))
    }
    val next = action match {
      case "add" =>
        val (ty, nn) = shapeOf(arg)
        cur + (c -> (cur.getOrElse(c, Vector.empty) :+
          Entry(version, None, nn, ty, native, Vector.empty, me)))
      case "origin_default" =>
        live(cur, c)(e => if (e.version == version) e.copy(dflt = Some(arg)) else e)
      case "dictionary" =>
        live(cur, c)(_.copy(dict = CdcStream.decodeDictArg(arg)))
      case "drop"   =>
        cur.get(c).fold(cur)(vec => put(cur, c, vec.filterNot(_.inc == me)))
      case "rename" => rekey(arg)
      case "modify" => retyped(cur, c, arg)
      case "change" =>
        val sp = arg.split(" ", 2)
        retyped(rekey(sp(0)), sp(0), sp.lift(1).getOrElse(""))
      case _ => cur
    }
    if (next.nonEmpty) fill += k -> next else fill -= k
  }

  /** Batch-end fold over one table's decoded frame: each absent slice
    * reads the add that ended ITS gap — the smallest add version above
    * the slice's version declared by the slice's OWN table — gated on
    * the row's value being the frame's structural NULL. A version above
    * every add (a recreate that never re-added) reads no fill at all. */
  def fold(k: K, df: DataFrame): DataFrame =
    fill.getOrElse(k, Map.empty).foldLeft(df) { case (df0, (c, entries)) =>
      val cs = s"${c}_str"
      val sorted = entries.sortBy(_.version)
      val buckets = present.getOrElse(k, Nil).collect {
        case (ver, i, cols) if !cols.contains(c) => (ver, i)
      }.groupBy { case (v, i) =>
        sorted.find(e => e.version > v && e.inc == i)
      }.collect {
        case (Some(e), vers) => (e, vers.map(_._1).toSeq)
      }
      if (!df0.columns.contains(cs) || buckets.isEmpty) df0
      else {
        // try_cast, not cast: a legal-upstream constant the wire type
        // cannot hold (BIT(64) DEFAULT 0xFFFFFFFFFFFFFFFF exceeds the
        // signed BIGINT domain) must fill the loud NULL, not throw the
        // ANSI overflow and kill the whole decode query
        val filled = buckets.foldLeft(col(cs)) {
          case (acc, (e, vers)) => fillValue(e) match {
            case Some(v) =>
              when(col("schema_version").isin(vers: _*) && col(cs).isNull,
                v.try_cast(e.ty).cast("string")).otherwise(acc)
            case None => acc
          }
        }
        df0.withColumn(cs, filled)
      }
    }
}
