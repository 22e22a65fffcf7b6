package graft.streaming

/** Versioned schema catalog derived from the DDL stream
  * (ref: drainer/schema.go:43-62 keeps tableIDToName/schemas plus a
  * per-table history of TableInfo keyed by SchemaVersion, last two versions
  * retained at schema.go:211-234; DDL jobs are replayed up to each DML's
  * SchemaVersion at schema.go:293-331; handleDDL at schema.go:360-561
  * implements create/drop/rename/truncate/recover).
  *
  * In the Spark engine this is driver-side state consulted inside
  * `foreachBatch` (and broadcast to executors when decode needs it): DDL is
  * rare and totally ordered, so a single-writer catalog is not a
  * bottleneck — the per-row work (decode against a version) happens
  * distributed, against an immutable snapshot of this map.
  *
  * `foldCase = true` opts into MySQL's `lower_case_table_names` policy:
  * SCHEMA and TABLE identifiers fold to lower case at every boundary —
  * registration here and the wire grammar in the decode — so `APP.T` and
  * `app.t` are one table, matching deployments where the upstream stores
  * lowercased names (TiDB defaults to lower_case_table_names=2 semantics).
  * COLUMN names never fold: lower_case_table_names does not apply to
  * columns, and the decode's from_json must match the payload's JSON keys
  * exactly as declared. Default (false) keeps the case-sensitive
  * MySQL-on-Linux policy the grammar documents. */
class SchemaTracker(historyDepth: Int = 2, val foldCase: Boolean = false) {

  // Locale.ROOT: the fold must agree byte-for-byte with Spark's locale-
  // independent lower() on the routing columns (a Turkish-locale JVM's
  // toLowerCase would split the two foldings and silently drop frames)
  private def n(id: String): String =
    if (foldCase) id.toLowerCase(java.util.Locale.ROOT) else id

  /** `defaults` carries each column's ORIGIN default — the expression TiDB
    * fills for rows that PREDATE the column (ref:
    * drainer/translator/translator.go:169-227 consumes origin defaults) —
    * captured when the column is born (wire ADD COLUMN / CREATE TABLE
    * `DEFAULT` clauses, stripped from the def text by the grammar's tail
    * normalizer) and exposed for T7-parity fill. It rides the TableInfo so
    * rename/drop/graveyard/recover propagate it for free. A later SET
    * DEFAULT does NOT change it (it only affects future upstream inserts,
    * which arrive with explicit values — the admin skip set). */
  /** `dicts` carries each ENUM/SET column's value dictionary (declaration
    * order = 1-based ordinal order; SET bit positions follow the same
    * order) — the wire grammar maps those types to STRING value text, and
    * the dictionary is what lets a sink choose the reference's NUMERIC
    * representation instead (ref: drainer/translator/mysql.go:266-269 maps
    * enum/set to the number; M9 type-domain parity). Unlike an origin
    * default it is metadata of the column's CURRENT type, so
    * MODIFY/CHANGE update or clear it. */
  case class TableInfo(schema: String, table: String, columns: Vector[String],
    version: Long, defaults: Map[String, String] = Map.empty,
    dicts: Map[String, Vector[String]] = Map.empty)

  private var byName = Map.empty[(String, String), Vector[TableInfo]]
  // dropped tables keep their last shape so RecoverTable can restore it
  // (the reference gets the shape from the job's TableInfo; a FLASHBACK/
  // RECOVER job refers to the dropped table still in the GC window)
  private var graveyard = Map.empty[(String, String), TableInfo]
  private var currentVersion = 0L

  def version: Long = currentVersion

  private def push(key0: (String, String), info0: TableInfo): Unit = {
    val key = (n(key0._1), n(key0._2))
    val info =
      if (info0.schema == key._1 && info0.table == key._2) info0
      else info0.copy(schema = key._1, table = key._2)
    val hist = byName.getOrElse(key, Vector.empty) :+ info
    byName += key -> hist.takeRight(historyDepth)
  }

  def createTable(schema: String, table: String, columns: Seq[String], version: Long): Unit = {
    currentVersion = version
    push((schema, table), TableInfo(schema, table, columns.toVector, version))
  }

  /** Column entries may be bare names or `"name TYPE"` DDL text; every
    * matcher below accepts both, so a versioned decode can build its wire
    * schema straight from the tracked shape. */
  private def colIdx(info: TableInfo, column: String): Int =
    info.columns.indexWhere(c => c == column || c.startsWith(column + " "))

  def addColumn(schema: String, table: String, column: String, version: Long): Unit = {
    currentVersion = version
    val cur = current(schema, table).getOrElse(
      throw new NoSuchElementException(s"$schema.$table"))
    push((schema, table), added(cur, column, version))
  }

  /** Pure single-column shape transforms (TiDB ActionModifyColumn /
    * AddColumn / DropColumn / RenameColumn — the drainer replays each like
    * any schema-changing job, drainer/schema.go:293-331) — the ONE column
    * matcher both the
    * tracker's mutators and any local (not-yet-committed) catalog view use,
    * so the in-batch decode schema and the tracker's post-commit state can
    * never match columns differently
    * ([[graft.streaming.CdcStream.ddlDrivenDecodeTables]] relies on exactly
    * that: it transforms its local view with these, writes the batch, and
    * only then commits the same transform to the tracker). */
  def retyped(info: TableInfo, column: String, newDef: String,
      version: Long): TableInfo = {
    val idx = colIdx(info, column)
    require(idx >= 0, s"no column $column in ${info.schema}.${info.table}")
    info.copy(columns = info.columns.updated(idx, newDef), version = version)
  }

  def added(info: TableInfo, columnDef: String, version: Long): TableInfo =
    info.copy(columns = info.columns :+ columnDef, version = version)

  def dropped(info: TableInfo, column: String, version: Long): TableInfo = {
    val idx = colIdx(info, column)
    require(idx >= 0, s"no column $column in ${info.schema}.${info.table}")
    info.copy(columns = info.columns.patch(idx, Nil, 1),
      defaults = info.defaults - column, dicts = info.dicts - column,
      version = version)
  }

  /** Rename keeps the column's position and type text (the `" TYPE"` tail
    * of a def entry survives under the new name) and re-keys its origin
    * default and value dictionary. */
  def renamed(info: TableInfo, from: String, to: String, version: Long): TableInfo = {
    val idx = colIdx(info, from)
    require(idx >= 0, s"no column $from in ${info.schema}.${info.table}")
    val def0 = info.columns(idx)
    val newDef = if (def0 == from) to else to + def0.substring(from.length)
    val defaults = info.defaults.get(from) match {
      case Some(d) => info.defaults - from + (to -> d)
      case None    => info.defaults
    }
    val dicts = info.dicts.get(from) match {
      case Some(vs) => info.dicts - from + (to -> vs)
      case None     => info.dicts
    }
    info.copy(columns = info.columns.updated(idx, newDef),
      defaults = defaults, dicts = dicts, version = version)
  }

  /** MySQL CHANGE COLUMN: rename + retype in place, one version step.
    * `newDef` is the full `"newName TYPE"` text. */
  def changed(info: TableInfo, from: String, newDef: String,
      version: Long): TableInfo = {
    val newName = newDef.split(" ", 2)(0)
    retyped(renamed(info, from, newName, version), newName, newDef, version)
  }

  def modifyColumn(schema: String, table: String, column: String,
      newDef: String, version: Long): Unit = {
    currentVersion = version
    val cur = current(schema, table).getOrElse(
      throw new NoSuchElementException(s"$schema.$table"))
    push((schema, table), retyped(cur, column, newDef, version))
  }

  def dropColumn(schema: String, table: String, column: String, version: Long): Unit = {
    currentVersion = version
    val cur = current(schema, table).getOrElse(
      throw new NoSuchElementException(s"$schema.$table"))
    // lenient like the pre-def-text behavior: dropping an absent column
    // still bumps the version without changing the shape
    push((schema, table),
      if (colIdx(cur, column) >= 0) dropped(cur, column, version)
      else cur.copy(version = version))
  }

  def renameColumn(schema: String, table: String, from: String, to: String,
      version: Long): Unit = {
    currentVersion = version
    val cur = current(schema, table).getOrElse(
      throw new NoSuchElementException(s"$schema.$table"))
    push((schema, table), renamed(cur, from, to, version))
  }

  def changeColumn(schema: String, table: String, from: String,
      newDef: String, version: Long): Unit = {
    currentVersion = version
    val cur = current(schema, table).getOrElse(
      throw new NoSuchElementException(s"$schema.$table"))
    push((schema, table), changed(cur, from, newDef, version))
  }

  /** rename keeps history under the new name (ref: schema.go renameTable).
    * Fails loudly on a missing source or an occupied target — silently
    * registering an empty history would hand every later catalog read a
    * phantom table that `current` cannot resolve. */
  def renameTable(schema: String, from: String, to: String, version: Long): Unit =
    renameTable(schema, from, schema, to, version)

  /** Cross-schema form: the reference follows a rename by table id wherever
    * it lands (drainer/schema.go:360-561), so the history re-homes to
    * (toSchema, to) intact. */
  def renameTable(schema: String, from: String, toSchema: String, to: String,
      version: Long): Unit = {
    currentVersion = version
    val hist = byName.getOrElse((n(schema), n(from)),
      throw new NoSuchElementException(s"$schema.$from"))
    require(!byName.contains((n(toSchema), n(to))),
      s"rename target $toSchema.$to is already registered")
    byName -= ((n(schema), n(from)))
    // re-key the history INTACT — each entry keeps its own version, so
    // atVersion under the new name still resolves pre-rename shapes —
    // and push the rename itself as a version step like every other DDL
    // (stamping every retained entry with the rename version would make
    // the history entries indistinguishable)
    val rehomed = hist.map(i => i.copy(schema = n(toSchema), table = n(to)))
    byName += (n(toSchema), n(to)) ->
      (rehomed :+ rehomed.last.copy(version = version)).takeRight(historyDepth)
  }

  /** truncate resets the table identity but not its shape. */
  def truncateTable(schema: String, table: String, version: Long): Unit = {
    currentVersion = version
    current(schema, table).foreach(i => push((schema, table), i.copy(version = version)))
  }

  /** Graveyard bound: the reference only recovers drops inside the GC
    * window — here the analog is a capped recent-drops set (a FLASHBACK
    * of a long-evicted drop is invalid upstream too). Without a bound a
    * table-churning upstream grows driver memory forever. */
  private val graveyardCap = 1024

  def dropTable(schema: String, table: String, version: Long): Unit = {
    currentVersion = version
    current(schema, table).foreach { i =>
      graveyard += (n(schema), n(table)) -> i.copy(version = version)
      if (graveyard.size > graveyardCap)
        graveyard -= graveyard.minBy(_._2.version)._1
    }
    byName -= ((n(schema), n(table)))
  }

  /** RecoverTable: re-register a dropped table with its last known shape
    * (ref: drainer/schema.go:435 — ActionRecoverTable is handled exactly
    * like ActionCreateTable, the job carries the recovered TableInfo; here
    * the shape comes from the drop-time graveyard). */
  def recoverTable(schema: String, table: String, version: Long): Unit =
    recoverTable(schema, table, table, version)

  /** TiDB `FLASHBACK TABLE t TO newname`: recover under a different name,
    * same drop-time shape (origin defaults included — the graveyard keeps
    * the whole TableInfo). */
  def recoverTable(schema: String, table: String, to: String,
      version: Long): Unit = {
    val info = graveyard.getOrElse((n(schema), n(table)),
      throw new NoSuchElementException(s"no dropped table $schema.$table to recover"))
    // same loud guard as renameTable: recovering onto a registered name
    // would silently append the drop-time shape onto the LIVE table's
    // history and demote its real current shape
    require(!byName.contains((n(schema), n(to))),
      s"recover target $schema.$to is already registered")
    graveyard -= ((n(schema), n(table)))
    currentVersion = version
    push((schema, to), info.copy(table = n(to), version = version))
  }

  /** Drop-time shape of a dropped table still in the graveyard — the
    * versioned decode consults this for a cross-batch FLASHBACK. */
  def droppedShape(schema: String, table: String): Option[Vector[String]] =
    graveyard.get((n(schema), n(table))).map(_.columns)

  /** Graveyard table names of a schema — the decode's loud-fail gate scans
    * these when an unrecognized FLASHBACK carries bare identifiers (an
    * unqualified name can only mean a tracked or dropped table). */
  def droppedTables(schema: String): Seq[String] =
    graveyard.keys.collect { case (s, t) if s == n(schema) => t }.toSeq.sorted

  /** Record column `column`'s ORIGIN default (see [[TableInfo.defaults]]).
    * Amends the CURRENT shape entry in place rather than pushing a new
    * history version: the default is metadata OF the add that was just
    * applied at this same version, not a shape change of its own. */
  def setOriginDefault(schema: String, table: String, column: String,
      expr: String, version: Long): Unit = {
    currentVersion = version
    val hist = byName.getOrElse((n(schema), n(table)),
      throw new NoSuchElementException(s"$schema.$table"))
    val last = hist.last
    byName += (n(schema), n(table)) ->
      (hist.init :+ last.copy(defaults = last.defaults + (column -> expr)))
  }

  /** The T7-fill hook: the origin default of a column, if its birth DDL
    * carried one (current shape; renames re-key it, drops remove it). */
  def originDefault(schema: String, table: String, column: String): Option[String] =
    current(schema, table).flatMap(_.defaults.get(column))

  /** Record (or clear, when `values` is empty) a column's ENUM/SET value
    * dictionary (see [[TableInfo.dicts]]). Amends the current shape entry
    * in place like [[setOriginDefault]] — the dictionary is metadata OF
    * the statement applied at this version, not a shape change. */
  def setDictionary(schema: String, table: String, column: String,
      values: Vector[String], version: Long): Unit = {
    currentVersion = version
    val hist = byName.getOrElse((n(schema), n(table)),
      throw new NoSuchElementException(s"$schema.$table"))
    val last = hist.last
    val d = if (values.isEmpty) last.dicts - column
      else last.dicts + (column -> values)
    byName += (n(schema), n(table)) -> (hist.init :+ last.copy(dicts = d))
  }

  /** The M9-parity hook: a column's ENUM/SET value list in 1-based ordinal
    * order, if its current type carries one. */
  def dictionary(schema: String, table: String, column: String): Option[Vector[String]] =
    current(schema, table).flatMap(_.dicts.get(column))

  /** CreateTables: one DDL job creating several tables at a single schema
    * version (ref: drainer/schema.go:499-520 ActionCreateTables loops the
    * job's MultipleTableInfos through the same CreateTable path). */
  def createTables(tables: Seq[(String, String, Seq[String])], version: Long): Unit =
    tables.foreach { case (schema, table, columns) =>
      createTable(schema, table, columns, version)
    }

  /** Exchange-partition analog: the partition and the standalone table swap
    * identities — in a name→shape catalog both entries take the other's
    * column shape at the new version (TiDB ActionExchangeTablePartition;
    * not handled by the reference's drainer, listed here for DDL-breadth
    * parity with upstream TiDB). */
  def exchangePartition(ptSchema: String, ptTable: String,
      ntSchema: String, ntTable: String, version: Long): Unit = {
    currentVersion = version
    val pt = current(ptSchema, ptTable).getOrElse(
      throw new NoSuchElementException(s"$ptSchema.$ptTable"))
    val nt = current(ntSchema, ntTable).getOrElse(
      throw new NoSuchElementException(s"$ntSchema.$ntTable"))
    // origin defaults and ENUM/SET dictionaries are metadata OF the
    // column shape — they swap WITH it, or a sink would map values
    // through the other table's dictionary
    push((ptSchema, ptTable), pt.copy(columns = nt.columns,
      defaults = nt.defaults, dicts = nt.dicts, version = version))
    push((ntSchema, ntTable), nt.copy(columns = pt.columns,
      defaults = pt.defaults, dicts = pt.dicts, version = version))
  }

  def current(schema: String, table: String): Option[TableInfo] =
    byName.get((n(schema), n(table))).flatMap(_.lastOption)

  /** The registered tables of a schema, name-sorted — the multi-table
    * decode derives its per-batch decode set from this (ref: the drainer
    * decodes every table its schema storage knows, drainer/schema.go). */
  def tablesOf(schema: String): Seq[String] =
    byName.keys.collect { case (s, t) if s == n(schema) => t }.toSeq.sorted

  /** Schema valid at a DML's SchemaVersion: the newest entry whose version
    * is ≤ the requested one (ref: schema.go:221-234). */
  def atVersion(schema: String, table: String, version: Long): Option[TableInfo] =
    byName.get((n(schema), n(table))).flatMap(_.reverse.find(_.version <= version))
}
