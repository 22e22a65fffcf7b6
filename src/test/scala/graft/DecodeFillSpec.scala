package graft

import org.apache.spark.sql.DataFrame

import graft.streaming.DecodeFill

/** Drives the decode-time T7 fill state machine directly — transition
  * tables for add/drop/re-add/rename chains, the literal grammar, and the
  * zero-value branch — with the logged DDL records the streaming walk
  * feeds it in production (ref: drainer/translator/translator.go:169-227). */
class DecodeFillSpec extends SparkSpec {
  import spark.implicits._
  import DecodeFillSpec._

  private val K = ("app", "t")

  /** One row per (schema_version, raw value); fold reads `c_str`. */
  private def frame(rows: (Long, Option[String])*): DataFrame =
    rows.toSeq.toDF("schema_version", "c_str")

  private def folded(st: DecodeFill, df: DataFrame): Map[Long, Option[String]] =
    st.fold(K, df).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap

  test("constant default fills only structural NULLs, cast through the wire type") {
    val st = new DecodeFill(true)
    st.recordSlice(K, 0L, Set("k"))            // pre-add slice: c absent
    st.recordSlice(K, 10L, Set("k", "c"))      // post-add slice: c present
    colDdl(st, K, 10L, "add", "c", "DECIMAL(10,1)", Some("1.50"), None)
    // the absent version fills the decode's own spelling 1.5; the present
    // version's explicit payload null (and its real values) survive
    val rows = st.fold(K, frame(0L -> None, 10L -> None, 10L -> Some("2.5")))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(rows.contains((0L, Some("1.5"))))
    assert(rows.contains((10L, None)))
    assert(rows.contains((10L, Some("2.5"))))
  }

  test("disabled state is inert and fold is the identity") {
    val st = new DecodeFill(false)
    st.recordSlice(K, 0L, Set("k"))
    colDdl(st, K, 10L, "add", "c", "INT", Some("5"), None)
    assert(st.fold(K, frame(0L -> None)).collect()(0).isNullAt(1))
  }

  test("NOT NULL add without a default fills the type's zero value") {
    def zeroOf(tail: String, dict: Option[Vector[String]] = None,
        native: String = ""): Option[String] = {
      val st = new DecodeFill(true)
      st.recordSlice(K, 0L, Set("k"))
      colDdl(st, K, 10L, "add", "c", tail, None, dict, native)
      Option(st.fold(K, frame(0L -> None)).collect()(0).getString(1))
    }
    assert(zeroOf("INT NOT NULL").contains("0"))
    assert(zeroOf("DECIMAL(10,2) NOT NULL").contains("0.00"))
    assert(zeroOf("DOUBLE NOT NULL").contains("0.0"))
    assert(zeroOf("STRING NOT NULL").contains(""))
    assert(zeroOf("BINARY NOT NULL").contains(""))
    assert(zeroOf("BOOLEAN NOT NULL").contains("false"))
    // the NATIVE spelling keys the zeros the mapped type erases
    // (tidb table.GetZeroValue; ENUM first element translator.go:221-225)
    assert(zeroOf("STRING NOT NULL", native = "TIME").contains("00:00:00"))
    assert(zeroOf("STRING NOT NULL", native = "JSON").contains("null"))
    assert(zeroOf("STRING NOT NULL", Some(Vector("red", "green")),
      native = "ENUM('red','green')").contains("red"))
    assert(zeroOf("STRING NOT NULL", Some(Vector("a", "b")),
      native = "SET('a','b')").contains(""))
    assert(zeroOf("BINARY NOT NULL", native = "BINARY(3)")
      .contains("\u0000\u0000\u0000"))  // 3 zero bytes, cast to text
    assert(zeroOf("BINARY NOT NULL", native = "VARBINARY(8)").contains(""))
    // documented NULL divergences: nullable adds, expression defaults,
    // zero-datetime values Spark cannot represent
    assert(zeroOf("INT").isEmpty)
    assert(zeroOf("TIMESTAMP NOT NULL").isEmpty)
    assert(zeroOf("TIMESTAMP NOT NULL", native = "DATETIME(3)").isEmpty)
  }

  test("a CURRENT_TIMESTAMP-family default evaluates at the add's commit-ts") {
    // TiDB pins OriginDefaultValue at DDL execution time; the DDL frame's
    // commit-ts IS that instant (translator.go:169-204, tidb ddl/column.go)
    // — fillOf adds at version/commit-ts 10, UTC session clock
    assert(fillOf("TIMESTAMP", "CURRENT_TIMESTAMP").contains("1970-01-01 00:00:10"))
    assert(fillOf("TIMESTAMP NOT NULL", "CURRENT_TIMESTAMP(3)")
      .contains("1970-01-01 00:00:10"))
    assert(fillOf("TIMESTAMP", "NOW()").contains("1970-01-01 00:00:10"))
    assert(fillOf("TIMESTAMP", "LOCALTIMESTAMP").contains("1970-01-01 00:00:10"))
    // any OTHER expression default keeps the documented NULL divergence,
    // and the family never substitutes on a non-timestamp column
    assert(fillOf("TIMESTAMP", "(uuid())").isEmpty)
    assert(fillOf("STRING", "CURRENT_TIMESTAMP").isEmpty)
  }

  test("a same-batch MODIFY follows nullability into the zero-value branch") {
    // reference getDefaultOrZeroValue reads the LIVE ColumnInfo flag
    // (translator.go:169-177): ADD ... NOT NULL then MODIFY ... NULL must
    // stop zero-filling, and the inverse must start
    val st = new DecodeFill(true)
    st.recordSlice(K, 0L, Set("k"))
    colDdl(st, K, 10L, "add", "c", "INT NOT NULL", None, None)
    colDdl(st, K, 20L, "modify", "c", "BIGINT", None, None)
    assert(folded(st, frame(0L -> None))(0L).isEmpty)
    val st2 = new DecodeFill(true)
    st2.recordSlice(K, 0L, Set("k"))
    colDdl(st2, K, 10L, "add", "c", "INT", None, None)
    colDdl(st2, K, 20L, "modify", "c", "INT NOT NULL", None, None)
    assert(folded(st2, frame(0L -> None))(0L).contains("0"))
  }

  test("each absent slice reads the add that ended ITS gap, typed per incarnation") {
    // add@10 INT DEFAULT 5 — DROP TABLE (entries kept, identity ends) —
    // recreate re-adds c@30 as STRING DEFAULT 'x': the old incarnation's
    // pre-add rows keep 5 through INT, the new incarnation's pre-add rows
    // read 'x', and a version above every add reads no fill
    val st = new DecodeFill(true)
    st.recordSlice(K, 0L, Set("k"))
    colDdl(st, K, 10L, "add", "c", "INT", Some("5"), None)
    st.recordSlice(K, 10L, Set("k", "c"))
    dropTable(st, K)
    st.recordSlice(K, 20L, Set("k"))           // recreated table, c not yet re-added
    colDdl(st, K, 30L, "add", "c", "STRING", Some("'x'"), None)
    st.recordSlice(K, 30L, Set("k", "c"))
    dropTable(st, K)
    st.recordSlice(K, 40L, Set("k"))           // second recreate, never re-added
    val out = folded(st, frame(0L -> None, 10L -> None, 20L -> None,
      30L -> None, 40L -> None))
    assert(out(0L).contains("5"))
    assert(out(20L).contains("x"))
    assert(out(10L).isEmpty)                   // existed: explicit null survives
    assert(out(30L).isEmpty)
    assert(out(40L).isEmpty)                   // above every add: no fill
  }

  test("an add without a default still ends its gap (no later-default bleed)") {
    // add@10 nullable/no default — drop table — re-add@30 with a default:
    // rows BEFORE the first add must read that add's (empty) fill, never
    // the re-add's default from a different incarnation
    val st = new DecodeFill(true)
    st.recordSlice(K, 0L, Set("k"))
    colDdl(st, K, 10L, "add", "c", "INT", None, None)
    st.recordSlice(K, 10L, Set("k", "c"))
    dropTable(st, K)
    st.recordSlice(K, 20L, Set("k"))
    colDdl(st, K, 30L, "add", "c", "INT", Some("7"), None)
    val out = folded(st, frame(0L -> None, 20L -> None))
    assert(out(0L).isEmpty)
    assert(out(20L).contains("7"))
  }

  test("an add never fills across an incarnation boundary, either direction") {
    // dropped incarnation with NO in-batch add of c: a renamed-in
    // table's copied entries must not fill the dropped incarnation's
    // rows with a column it never had — even though the copied add's
    // VERSION (20) precedes nothing and its gap test alone would match
    val st = new DecodeFill(true)
    val K2 = ("app", "t2")
    st.recordSlice(K2, 0L, Set("k"))
    dropTable(st, K2)
    st.recordSlice(K2, 15L, Set("k"))          // recreated incarnation
    colDdl(st, K2, 25L, "add", "d", "INT", Some("9"), None)
    colDdl(st, K, 20L, "add", "c", "INT", Some("5"), None)
    renameTable(st, K, K2)               // swap cutover: t -> t2
    val df = Seq((0L, None: Option[String], None: Option[String]),
      (15L, None: Option[String], None: Option[String]))
      .toDF("schema_version", "c_str", "d_str")
    val out = st.fold(K2, df).collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(1)), Option(r.getString(2)))))
      .toMap
    assert(out(0L)._1.isEmpty,
      "the renamed-in add's default leaked onto the dropped incarnation")
    assert(out(0L)._2.isEmpty,
      "the recreate's add leaked onto the dropped incarnation")
    // the recreated incarnation still reads ITS OWN add's default, and
    // never the renamed-in table's
    assert(out(15L)._2.contains("9"))
    assert(out(15L)._1.isEmpty)
    // the gh-ost cutover's other direction: RENAME t TO _old must not
    // let a later add under the name t fill _old's (never renamed-away
    // key's) rows — the fresh CREATE under t is a new incarnation
    val st2 = new DecodeFill(true)
    st2.recordSlice(K, 0L, Set("k"))           // original t's rows
    renameTable(st2, K, ("app", "old"))  // t renamed away
    createTable(st2, K)                  // fresh t
    colDdl(st2, K, 20L, "add", "c", "INT", Some("5"), None)
    assert(st2.fold(K, frame(0L -> None)).collect()(0).isNullAt(1),
      "the fresh table's default leaked onto the renamed-away rows")
  }

  test("a recreated table's column DDL leaves the dropped incarnation's fills frozen") {
    // drop column on the recreate must not erase the old incarnation's
    // entry; modify must not retype it
    val st = new DecodeFill(true)
    st.recordSlice(K, 0L, Set("k"))
    colDdl(st, K, 10L, "add", "c", "INT", Some("5"), None)
    dropTable(st, K)
    createTable(st, K)                   // recreate carries c in defs
    st.recordSlice(K, 18L, Set("k", "c"))
    colDdl(st, K, 25L, "drop", "c", "", None, None)
    st.recordSlice(K, 25L, Set("k"))
    assert(st.fold(K, frame(0L -> None)).collect()(0).getString(1) == "5",
      "the recreate's DROP COLUMN erased the old incarnation's fill")
    val st2 = new DecodeFill(true)
    st2.recordSlice(K, 0L, Set("k"))
    colDdl(st2, K, 10L, "add", "c", "DECIMAL(10,1)", Some("1.5"), None)
    dropTable(st2, K)
    createTable(st2, K)
    colDdl(st2, K, 25L, "modify", "c", "DECIMAL(10,3)", None, None)
    assert(st2.fold(K, frame(0L -> None)).collect()(0).getString(1) == "1.5",
      "the recreate's MODIFY retyped the old incarnation's fill")
  }

  test("same-batch MODIFY/CHANGE retype the live incarnation's fill type") {
    // the reference evaluates an origin default through the column's
    // CURRENT type — a retype after the add changes the fill's spelling
    val st = new DecodeFill(true)
    st.recordSlice(K, 0L, Set("k"))
    colDdl(st, K, 10L, "add", "c", "DECIMAL(10,2)", Some("1.5"), None)
    colDdl(st, K, 20L, "modify", "c", "DECIMAL(10,1)", None, None)
    assert(st.fold(K, frame(0L -> None)).collect()(0).getString(1) == "1.5")
    val st2 = new DecodeFill(true)
    st2.recordSlice(K, 0L, Set("k"))
    colDdl(st2, K, 10L, "add", "c", "DECIMAL(10,1)", Some("1.5"), None)
    colDdl(st2, K, 20L, "change", "c", "y DECIMAL(10,3)", None, None)
    val df = Seq((0L, None: Option[String])).toDF("schema_version", "y_str")
    assert(st2.fold(K, df).collect()(0).getString(1) == "1.500")
  }

  test("a constant the wire type cannot hold fills the loud NULL, never throws") {
    // BIT(64) rides the SIGNED BIGINT wire type; its full unsigned
    // domain cannot — the fill must not kill the query under ANSI
    assert(fillOf("BIGINT", "0xFFFFFFFFFFFFFFFF").isEmpty)
    assert(fillOf("INT", "99999999999").isEmpty)
    assert(fillOf("DECIMAL(4,2)", "123456.7").isEmpty)
  }

  test("column drop clears entries; a later re-add owns every earlier gap") {
    val st = new DecodeFill(true)
    st.recordSlice(K, 0L, Set("k"))
    colDdl(st, K, 10L, "add", "c", "INT", Some("5"), None)
    st.recordSlice(K, 10L, Set("k", "c"))
    colDdl(st, K, 20L, "drop", "c", "", None, None)
    st.recordSlice(K, 20L, Set("k"))
    colDdl(st, K, 30L, "add", "c", "INT", Some("9"), None)
    val out = folded(st, frame(0L -> None, 10L -> None, 20L -> None))
    // the live column's origin default is 9 — pre-add gaps read it; the
    // version where c existed keeps its explicit null
    assert(out(0L).contains("9"))
    assert(out(10L).isEmpty)
    assert(out(20L).contains("9"))
  }

  test("column rename re-keys entries and marks the new name present") {
    val st = new DecodeFill(true)
    st.recordSlice(K, 0L, Set("k"))
    colDdl(st, K, 10L, "add", "c", "INT", Some("5"), None)
    st.recordSlice(K, 10L, Set("k", "c"))
    colDdl(st, K, 20L, "rename", "c", "x", None, None)
    st.recordSlice(K, 20L, Set("k", "x"))
    // x inherits c's entry: pre-add rows fill under the NEW name; the v10
    // slice (where the value rides column c) is aliased present for x, so
    // its structural NULL in x_str is NOT overwritten
    val df = Seq((0L, None: Option[String], None: Option[String]),
      (10L, Some("3"), None: Option[String]),
      (20L, None: Option[String], Some("4")))
      .toDF("schema_version", "c_str", "x_str")
    val out = st.fold(K, df).collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(out(0L).contains("5"))
    assert(out(10L).isEmpty)
    assert(out(20L).contains("4"))
    // change re-keys the same way, new name first token of the def
    val st2 = new DecodeFill(true)
    st2.recordSlice(K, 0L, Set("k"))
    colDdl(st2, K, 10L, "add", "c", "INT", Some("5"), None)
    colDdl(st2, K, 20L, "change", "c", "y BIGINT", None, None)
    val df2 = Seq((0L, None: Option[String])).toDF("schema_version", "y_str")
    assert(st2.fold(K, df2).collect()(0).getString(1) == "5")
  }

  test("truncate clears; table rename copies and merges per column") {
    val st = new DecodeFill(true)
    st.recordSlice(K, 0L, Set("k"))
    colDdl(st, K, 10L, "add", "c", "INT", Some("5"), None)
    truncate(st, K)
    assert(st.fold(K, frame(0L -> None)).collect()(0).isNullAt(1))

    val K2 = ("app", "t2")
    val st2 = new DecodeFill(true)
    st2.recordSlice(K2, 3L, Set("k"))          // a prior t2 incarnation's slice
    dropTable(st2, K2)
    st2.recordSlice(K, 0L, Set("k"))
    colDdl(st2, K, 10L, "add", "c", "INT", Some("5"), None)
    renameTable(st2, K, K2)
    // the OLD key's slices still fill at batch end (copy, not move) …
    assert(st2.fold(K, frame(0L -> None)).collect()(0).getString(1) == "5")
    // … and the new key carries the entries forward: a later column
    // rename under the NEW name re-keys the copied entry — but the prior
    // t2 incarnation's slice (other generation, lacks c2) never reads it
    colDdl(st2, K2, 25L, "rename", "c", "c2", None, None)
    val df2 = Seq((3L, None: Option[String])).toDF("schema_version", "c2_str")
    assert(st2.fold(K2, df2).collect()(0).isNullAt(1),
      "copied entry filled a foreign incarnation's slice through the re-key")
    // the old key's own entry is untouched by the new key's rename
    assert(st2.fold(K, frame(0L -> None)).collect()(0).getString(1) == "5")
  }

  test("live-table column rename aliases presence even without an in-batch entry") {
    // column c predates the batch (no entry); rename c -> x, then drop x
    // and re-add it with a default: the pre-rename slices' rows hold
    // their value under c, so the re-add's default must not stamp x_str
    val st = new DecodeFill(true)
    st.recordSlice(K, 0L, Set("k", "c"))
    colDdl(st, K, 10L, "rename", "c", "x", None, None)
    st.recordSlice(K, 10L, Set("k", "x"))
    colDdl(st, K, 20L, "drop", "x", "", None, None)
    st.recordSlice(K, 20L, Set("k"))
    colDdl(st, K, 30L, "add", "x", "INT", Some("9"), None)
    val df = Seq((0L, Some("7"), None: Option[String]),
      (20L, None: Option[String], None: Option[String]))
      .toDF("schema_version", "c_str", "x_str")
    val out = st.fold(K, df).collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    assert(out(0L).isEmpty, "the re-add's default overwrote a renamed value")
    assert(out(20L).contains("9"))
    // … and the alias is generation-scoped: a FROZEN incarnation's slice
    // containing the same old name keeps ITS own pending fill
    val st2 = new DecodeFill(true)
    st2.recordSlice(K, 0L, Set("k", "c"))      // gen-0 slice: has c, lacks x
    colDdl(st2, K, 5L, "add", "x", "INT", Some("7"), None)
    dropTable(st2, K)
    createTable(st2, K)
    st2.recordSlice(K, 9L, Set("k", "c"))
    colDdl(st2, K, 10L, "rename", "c", "x", None, None)
    val df2 = Seq((0L, None: Option[String])).toDF("schema_version", "x_str")
    assert(st2.fold(K, df2).collect()(0).getString(1) == "7",
      "the recreate's rename aliased a frozen generation's slice")
  }

  test("a table renamed away and back re-occupies its key LIVE") {
    val K2 = ("app", "t2")
    // a MODIFY after the return retypes the fill (no stale duplicate
    // from the rename cycle may shadow it) …
    val st = new DecodeFill(true)
    st.recordSlice(K, 0L, Set("k"))
    colDdl(st, K, 10L, "add", "c", "INT", Some("5"), None)
    renameTable(st, K, K2)
    renameTable(st, K2, K)
    colDdl(st, K, 30L, "modify", "c", "DECIMAL(10,3)", None, None)
    assert(st.fold(K, frame(0L -> None)).collect()(0).getString(1) == "5.000",
      "a rename-cycle duplicate shadowed the MODIFY")
    // … a column dropped while away is gone on return …
    val st2 = new DecodeFill(true)
    st2.recordSlice(K, 0L, Set("k"))
    colDdl(st2, K, 10L, "add", "c", "INT", Some("5"), None)
    renameTable(st2, K, K2)
    colDdl(st2, K2, 20L, "drop", "c", "", None, None)
    renameTable(st2, K2, K)
    assert(st2.fold(K, frame(0L -> None)).collect()(0).isNullAt(1),
      "a column dropped while away still filled after the return")
    // … but a retype made while away does NOT reach back into the
    // departed key's frozen snapshot
    val st3 = new DecodeFill(true)
    st3.recordSlice(K, 0L, Set("k"))
    colDdl(st3, K, 10L, "add", "c", "STRING", Some("'a'"), None)
    renameTable(st3, K, K2)
    colDdl(st3, K2, 20L, "modify", "c", "INT", None, None)
    assert(st3.fold(K, frame(0L -> None)).collect()(0).getString(1) == "a",
      "a retype at the new key reached back into the old key's snapshot")
  }

  test("FLASHBACK onto a rename-freed name starts its own generation") {
    // RENAME t TO old frees the name; FLASHBACK x TO t registers a
    // DIFFERENT table under it — its adds must not fill the renamed-away
    // rows (a recover_table record; same rule as CREATE)
    val st = new DecodeFill(true)
    st.recordSlice(K, 0L, Set("k"))
    renameTable(st, K, ("app", "old"))
    st.onRecord("app", "x", "recover_table", "", "t", 15L) // FLASHBACK x TO t
    colDdl(st, K, 20L, "add", "c", "INT", Some("5"), None)
    assert(st.fold(K, frame(0L -> None)).collect()(0).isNullAt(1))
  }

  test("literal grammar: constants, hex/bit spellings, expression rejection") {
    import DecodeFill.isConstantLiteral
    assert(isConstantLiteral("'red'"))
    assert(isConstantLiteral("-3.5e2"))
    assert(isConstantLiteral("TRUE"))
    assert(isConstantLiteral("0x1F") && isConstantLiteral("0X1f"))
    assert(isConstantLiteral("x'1f'") && isConstantLiteral("X'1F'"))
    assert(isConstantLiteral("b'101'") && isConstantLiteral("0b101"))
    assert(!isConstantLiteral("CURRENT_TIMESTAMP"))
    assert(!isConstantLiteral("(a + 1)"))
    assert(!isConstantLiteral("0x"))           // no digits: not a literal
    assert(!isConstantLiteral("b'102'"))
  }

  private def fillOf(tail: String, raw: String): Option[String] = {
    val st = new DecodeFill(true)
    st.recordSlice(K, 0L, Set("k"))
    colDdl(st, K, 10L, "add", "c", tail, Some(raw), None)
    Option(st.fold(K, frame(0L -> None)).collect()(0).getString(1))
  }

  test("hex/bit literal defaults evaluate through the wire type") {
    // BIT rides BIGINT: the unsigned numeric reading (mysql.go:270-276)
    assert(fillOf("BIGINT", "0x1F").contains("31"))
    assert(fillOf("BIGINT", "b'101'").contains("5"))
    assert(fillOf("BIGINT", "x'ff'").contains("255"))
    assert(fillOf("INT", "0b0").contains("0"))
    // BINARY reads the bytes; STRING the bytes as text; odd digit counts
    // left-pad like MySQL's own reading
    assert(fillOf("STRING", "0x41").contains("A"))
    assert(fillOf("STRING", "x'414243'").contains("ABC"))
    assert(fillOf("BINARY", "0x41").contains("A"))
    assert(fillOf("BINARY", "x''").contains(""))
    assert(fillOf("STRING", "0xF41").contains(new String(Array[Byte](0x0F, 0x41),
      java.nio.charset.StandardCharsets.UTF_8)))
  }

  test("numeric spellings: integral targets round, non-integral keep the value") {
    assert(fillOf("INT", "1.5").contains("2"))
    assert(fillOf("BIGINT", "9223372036854775807").contains("9223372036854775807"))
    // a legal DOUBLE default beyond DECIMAL(38,18)'s range must not
    // overflow, and a tiny one must not round to zero
    assert(fillOf("DOUBLE", "1e25").contains("1.0E25"))
    assert(fillOf("DOUBLE", "1e-20").contains("1.0E-20"))
    assert(fillOf("DECIMAL(10,3)", "1.5").contains("1.500"))
    // quoted spellings stay literal text
    assert(fillOf("STRING", "'1e3'").contains("1e3"))
    // a boolean literal keeps the boolean only on a BOOLEAN-mapped column
    // (whose decoded rows read true/false too); elsewhere it is MySQL's
    // evaluation 1/0 — a VARCHAR DEFAULT TRUE stores '1' upstream
    assert(fillOf("BOOLEAN", "TRUE").contains("true"))
    assert(fillOf("STRING", "TRUE").contains("1"))
    assert(fillOf("INT", "FALSE").contains("0"))
    assert(fillOf("STRING", "'TRUE'").contains("TRUE")) // quoted: text
  }
}

/** The logged DDL records the decode walk hands [[DecodeFill.onRecord]]
  * for one statement, in the walk's order. */
object DecodeFillSpec {
  private type K = (String, String)

  /** A column statement: its action record, an add's `origin_default`,
    * then the new type's `dictionary` (keyed by the post-statement name). */
  def colDdl(st: DecodeFill, k: K, version: Long, action: String, c: String,
      arg: String, dflt: Option[String], dict: Option[Vector[String]],
      native: String = ""): Unit = {
    st.onRecord(k._1, k._2, action, c, arg, version, native)
    if (action == "add")
      dflt.foreach(d => st.onRecord(k._1, k._2, "origin_default", c, d, version))
    val name = if (action == "change") arg.split(" ", 2)(0) else c
    dict.foreach(vs => st.onRecord(k._1, k._2, "dictionary", name,
      vs.map(v => s"'$v'").mkString(","), version))
  }
  def createTable(st: DecodeFill, k: K): Unit =
    st.onRecord(k._1, k._2, "create_table", "", "", 0L)
  def dropTable(st: DecodeFill, k: K): Unit =
    st.onRecord(k._1, k._2, "drop_table", "", "", 0L)
  def truncate(st: DecodeFill, k: K): Unit =
    st.onRecord(k._1, k._2, "truncate", "", "", 0L)
  def renameTable(st: DecodeFill, from: K, to: K): Unit =
    st.onRecord(from._1, from._2, "rename_table", "",
      if (to._1 == from._1) to._2 else s"${to._1}.${to._2}", 0L)
}
