package graft.sinks

import java.sql.{Connection, DriverManager, SQLException, Types}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Every sink's checkpoint record (ref: drainer/checkpoint/mysql.go:34-51
  * — the saved point carries commitTS + ts-map + schema-version +
  * consistent flag, not just a batch counter). `batchId` doubles as the
  * downstream half of the ts-map pair: (commitTs upstream ↔ batchId
  * downstream) is what PITR needs to align the two histories. */
case class Checkpoint(batchId: Long, commitTs: Long, schemaVersion: Long,
    consistent: Boolean)

/** Shared JDBC bootstrap + savepoint machinery for the two loader classes
  * (ref: drainer/checkpoint/mysql.go:34-51,75-84,130-163 — the checkpoint
  * package owns its own schema and replace-style save; the loaders share
  * it). */
private[sinks] object JdbcMeta {

  val CkptTable = "GRAFT_CHECKPOINT"
  val DdlTable = "GRAFT_DDL_LOG"

  /** CREATE TABLE IF NOT EXISTS is not Derby syntax; swallow the
    * table-exists SQLState (X0Y32) instead, as every Derby bootstrap does. */
  def createIfAbsent(c: Connection, ddl: String): Unit = {
    val st = c.createStatement()
    try st.execute(ddl)
    catch { case e: SQLException if e.getSQLState == "X0Y32" => () }
    finally st.close()
  }

  def ensureMeta(c: Connection): Unit = {
    createIfAbsent(c,
      s"""CREATE TABLE $CkptTable (cluster_id BIGINT PRIMARY KEY,
         | batch_id BIGINT, commit_ts BIGINT, schema_version BIGINT,
         | consistent SMALLINT, primary_ts BIGINT, secondary_ts BIGINT)""".stripMargin)
    createIfAbsent(c,
      s"CREATE TABLE $DdlTable (batch_id BIGINT, commit_ts BIGINT, stmt VARCHAR(512))")
  }

  def load(c: Connection, clusterId: Long): Checkpoint =
    try {
      val st = c.prepareStatement(
        s"SELECT batch_id, commit_ts, schema_version, consistent FROM $CkptTable WHERE cluster_id = ?")
      st.setLong(1, clusterId)
      val rs = st.executeQuery()
      val out = if (rs.next())
        Checkpoint(rs.getLong(1), rs.getLong(2), rs.getLong(3), rs.getShort(4) != 0)
      else Checkpoint(-1L, -1L, -1L, consistent = true)
      rs.close(); st.close(); out
    } catch {
      // fresh database, checkpoint table not bootstrapped yet (42X05)
      case e: SQLException if e.getSQLState == "42X05" =>
        Checkpoint(-1L, -1L, -1L, consistent = true)
    }

  /** Save = REPLACE of the one checkpoint row (ref: mysql.go:130-163 builds
    * a replace statement); Derby rewrite: delete+insert in one txn. */
  def save(c: Connection, clusterId: Long, ck: Checkpoint): Unit = {
    c.setAutoCommit(false)
    val del = c.prepareStatement(s"DELETE FROM $CkptTable WHERE cluster_id = ?")
    del.setLong(1, clusterId); del.executeUpdate(); del.close()
    val ins = c.prepareStatement(s"INSERT INTO $CkptTable VALUES (?, ?, ?, ?, ?, ?, ?)")
    ins.setLong(1, clusterId); ins.setLong(2, ck.batchId)
    ins.setLong(3, ck.commitTs); ins.setLong(4, ck.schemaVersion)
    ins.setShort(5, if (ck.consistent) 1 else 0)
    // ts-map parity: (primary commitTs ↔ secondary batch id)
    ins.setLong(6, ck.commitTs); ins.setLong(7, ck.batchId)
    ins.executeUpdate(); ins.close()
    c.commit()
  }

  def logDdl(c: Connection, batchId: Long, commitTs: Long, stmt: String): Unit = {
    val log = c.prepareStatement(s"INSERT INTO $DdlTable VALUES (?, ?, ?)")
    log.setLong(1, batchId); log.setLong(2, commitTs)
    log.setString(3, stmt.take(512))
    log.executeUpdate(); log.close()
  }

  /** Replay guard: was this batch's DDL barrier already executed AND
    * logged? A crash between a barrier's execute and the batch checkpoint
    * replays the whole batch; re-running the ALTER would throw (column
    * already exists) and wedge every retry. The residual exec→log window
    * remains — DDL is not transactional on most engines — exactly the
    * window the reference's save-checkpoint-on-DDL rule has
    * (drainer/syncer.go:253-259). */
  def ddlLogged(c: Connection, batchId: Long, commitTs: Long,
      stmt: String): Boolean = {
    // keyed on the STATEMENT too (same truncation as logDdl): two distinct
    // DDLs sharing one commit_ts in a batch must each execute — a
    // (batchId, ts)-only key would silently skip the second
    val st = c.prepareStatement(
      s"SELECT 1 FROM $DdlTable WHERE batch_id = ? AND commit_ts = ? AND stmt = ?")
    st.setLong(1, batchId); st.setLong(2, commitTs)
    st.setString(3, stmt.take(512))
    val rs = st.executeQuery()
    val out = rs.next()
    rs.close(); st.close(); out
  }

  /** Read-path URL: strip `;create=true` so a read of a dropped or
    * never-booted database fails loudly (XJ004) instead of silently
    * recreating an empty one and hashing to a wrong-but-plausible result —
    * only the write path may boot a database. */
  def readUrl(url: String): String = url.replace(";create=true", "")

  /** Read `table` back through Spark's JDBC source; when `partitionOn`
    * names a numeric column, one two-value metadata query fetches its
    * bounds and `numPartitions` connections stride the range in parallel —
    * the default unpartitioned JDBC read drags the whole table through a
    * single connection, exactly the bottleneck the parallel write side
    * exists to avoid. Empty table (NULL bounds) → plain load. */
  def partitionedRead(spark: SparkSession, url: String, table: String,
      partitionOn: Option[String], numPartitions: Int): DataFrame = {
    // driver pinned only for Derby (whose embedded driver Spark cannot
    // always infer from the URL); any other JDBC target resolves through
    // DriverManager like the write path does
    val base0 = spark.read.format("jdbc")
      .option("url", readUrl(url))
      .option("dbtable", table)
    val base = if (url.startsWith("jdbc:derby:"))
      base0.option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    else base0
    partitionOn.fold(base.load()) { pc =>
      val bounds = {
        val c = DriverManager.getConnection(readUrl(url))
        try {
          val st = c.createStatement()
          val rs = st.executeQuery(s"SELECT min($pc), max($pc) FROM $table")
          rs.next()
          val lo = rs.getLong(1); val loNull = rs.wasNull(); val hi = rs.getLong(2)
          val out = if (loNull) None else Some((lo, hi))
          rs.close(); st.close(); out
        } finally c.close()
      }
      bounds.fold(base.load()) { case (lo, hi) =>
        base.option("partitionColumn", pc)
          .option("lowerBound", lo)
          .option("upperBound", math.max(hi, lo + 1)) // bounds shape stride only
          .option("numPartitions", numPartitions)
          .load()
      }
    }
  }
}

/** K1 at the reference loader's REAL shape: schema-driven, multi-table
  * apply. [[JdbcUpsertSink]] is the fixed-schema single-state-table twin;
  * this class applies one micro-batch spanning arbitrarily many
  * differently-shaped tables:
  *
  *  - **DMLs group per (schema, table)** before anything touches the
  *    database (ref: pkg/loader/load.go:706-724 groups the txn stream per
  *    table) — here each table's slice is a routed filter of the one
  *    micro-batch DataFrame, pruned by Catalyst, no extra pass;
  *  - **per-table column lists come from the live catalog**, not from
  *    hard-coded SQL (ref: pkg/loader/executor.go:210 buildColumnList;
  *    util.go:68-123 getTableInfo reads information_schema) — the S8
  *    catalog read, performed against the target engine's own metadata and
  *    refreshed after every DDL barrier exactly like the reference evicts
  *    its table-info cache on DDL;
  *  - **unique-key WHERE is built from the table's real key structure**,
  *    with NULL-SAFE comparisons — `(c = ? OR (c IS NULL AND CAST(? AS t)
  *    IS NULL))` per key column — so a NULL in a unique key matches the
  *    stored NULL row instead of silently deleting nothing (ref:
  *    pkg/loader/model.go:303-322 whereSlice, 253-257 NULL handling);
  *    tables with no key at all fall back to all-columns matching, as the
  *    reference does;
  *  - merge-by-unique-key and REPLACE semantics (delete the key, insert
  *    the new image) are the same algebra as [[JdbcUpsertSink]], but keyed
  *    on the table's (possibly composite) unique key; a table with a
  *    secondary unique key applies every delete before any insert;
  *  - **type fidelity**: values bind by the column's catalog type —
  *    BIGINT/DOUBLE/VARCHAR/DECIMAL(p,s)/INT land typed, the M9 wide
  *    decimal rides as exact text where the target engine caps DECIMAL
  *    precision below 38 (Derby caps at 31; the read-back restores
  *    DECIMAL(38,19), value-exact, the same dialect mapping the reference
  *    applies per downstream driver).
  *
  * Scale shape: per table and batch, one exchange (the key-hash
  * repartition) and one checkpoint job fold the rows of every barrier
  * segment at once; each segment then applies in one JDBC pass (two for a
  * table with a secondary unique key) of JDBC round-trips proportional to
  * the slice — O(batch), never O(table). The key-DELETE and the single-row
  * INSERT are prepared once per writer partition and run as JDBC batches
  * of 128 rows; against MySQL, `rewriteBatchedStatements=true` in the
  * URL makes each such batch one multi-VALUES statement. Tables apply
  * independently; on a cluster each table's 16 writer partitions hold
  * their own connections.
  */
class JdbcSchemaLoader(url: String, clusterId: Long = 1L,
    applyPartitions: Int = 16) extends Serializable {

  // rows (or statements) per JDBC batch on every write path
  private val batchSize = 128

  private def withConn[A](f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally {
      try c.rollback() catch { case _: SQLException => () }
      c.close()
    }
  }

  /** Execute one statement against the target under the same logged
    * replay guard the batch barriers use (P3): a replayed batch skips an
    * already-executed statement instead of wedging on it. For DDL arriving
    * in a micro-batch that carries no DML to order against. The checkpoint
    * then advances to (batchId, the later of its commit ts and `commitTs`)
    * — the reference saves a checkpoint on DDL (drainer/syncer.go:253-259)
    * — and never moves backwards. */
  def executeLoggedDdl(batchId: Long, commitTs: Long, sql: String): Unit =
    withConn { c =>
      JdbcMeta.ensureMeta(c)
      if (!JdbcMeta.ddlLogged(c, batchId, commitTs, sql)) {
        val st = c.createStatement()
        try st.execute(sql) finally st.close()
        JdbcMeta.logDdl(c, batchId, commitTs, sql)
      }
      val prev = JdbcMeta.load(c, clusterId)
      if (batchId >= prev.batchId)
        JdbcMeta.save(c, clusterId, prev.copy(batchId = batchId,
          commitTs = math.max(prev.commitTs, commitTs), consistent = true))
    }

  def createTable(ddl: String): Unit =
    withConn(c => JdbcMeta.createIfAbsent(c, ddl))

  def lastCheckpoint: Checkpoint = withConn(JdbcMeta.load(_, clusterId))
  def lastCommitted: Long = lastCheckpoint.batchId

  @transient private lazy val zeroRows = new java.util.concurrent.atomic.AtomicLong
  /** Non-safe sequence-path UPDATEs ([[applyTableSequence]]) that matched
    * no row, over this loader's lifetime, counted once per committed
    * chunk. */
  def zeroRowUpdates: Long = zeroRows.get

  private case class ColMeta(name: String, sqlType: Int, nullable: Boolean)
  private type TableMeta = (Seq[ColMeta], Seq[Seq[String]])

  /** (columns in ordinal order with their JDBC types + nullability, EVERY
    * unique key's column list — primary key first, then each unique index
    * in name order): the catalog read (S8) against the live engine. Tables
    * with no key at all get one all-columns pseudo-key, as the reference
    * does (ref: util.go:96-104 hoists PRIMARY first; getKeys walks every
    * unique index — model.go:216-251). */
  private def tableMetaAll(table: String): TableMeta = {
    val tm = tableMetaOpt(table)
    require(tm.nonEmpty, s"table $table not found in catalog")
    tm.get
  }

  /** [[tableMetaAll]], or None when the table is not in the catalog. */
  private def tableMetaOpt(table: String): Option[TableMeta] =
    withConn { c =>
      val md = c.getMetaData
      val up = table.toUpperCase
      val cols = scala.collection.mutable.ArrayBuffer[ColMeta]()
      // getColumns takes a LIKE pattern where '_' is a wildcard — every
      // table name here carries one (ORDERS_STATE, ...), so a sibling like
      // ORDERSXSTATE would silently merge its columns in. Escaping is not
      // portable (Derby's getSearchStringEscape returns ""), so filter the
      // over-match by EXACT table name instead
      // (getPrimaryKeys/getIndexInfo already take exact names).
      val rs = md.getColumns(null, null, up, null)
      while (rs.next()) if (rs.getString("TABLE_NAME") == up)
        cols += ColMeta(rs.getString("COLUMN_NAME"),
          rs.getInt("DATA_TYPE"),
          rs.getInt("NULLABLE") != java.sql.DatabaseMetaData.columnNoNulls)
      rs.close()
      val pk = scala.collection.mutable.ArrayBuffer[(Short, String)]()
      val prs = md.getPrimaryKeys(null, null, up)
      while (prs.next()) pk += ((prs.getShort("KEY_SEQ"), prs.getString("COLUMN_NAME")))
      prs.close()
      // every unique index, columns in position order; Derby backs the PK
      // with a unique index too — drop key lists already seen so the
      // primary appears once, first
      val idx = scala.collection.mutable.ArrayBuffer[(String, Short, String)]()
      val irs = md.getIndexInfo(null, null, up, true, false)
      while (irs.next()) {
        val name = irs.getString("INDEX_NAME")
        if (name != null)
          idx += ((name, irs.getShort("ORDINAL_POSITION"), irs.getString("COLUMN_NAME")))
      }
      irs.close()
      val primary = if (pk.nonEmpty) Some(pk.sortBy(_._1).map(_._2).toSeq) else None
      val uniques = idx.groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3).toSeq)
      // Derby quirk: getIndexInfo(unique=true) reports the PK's backing
      // index but NOT indexes backing UNIQUE CONSTRAINTS; those live in the
      // system catalog. The descriptor renders as "UNIQUE BTREE (2,5)" —
      // 1-based table column positions. Engines without SYS.* (any
      // non-Derby target, where getIndexInfo already told the whole story)
      // skip via the SQLException arm.
      val constraintKeys: Seq[Seq[String]] = try {
        val st = c.prepareStatement(
          """SELECT cons.CONSTRAINTNAME, cg.DESCRIPTOR
            |FROM SYS.SYSCONSTRAINTS cons
            |JOIN SYS.SYSTABLES t ON cons.TABLEID = t.TABLEID
            |JOIN SYS.SYSKEYS k ON k.CONSTRAINTID = cons.CONSTRAINTID
            |JOIN SYS.SYSCONGLOMERATES cg ON cg.CONGLOMERATEID = k.CONGLOMERATEID
            |WHERE t.TABLENAME = ? AND cons.TYPE = 'U'""".stripMargin)
        st.setString(1, up)
        val crs = st.executeQuery()
        val out = scala.collection.mutable.ArrayBuffer[(String, Seq[String])]()
        while (crs.next()) {
          val desc = String.valueOf(crs.getObject(2))
          val inParens = desc.substring(desc.indexOf('(') + 1, desc.indexOf(')'))
          out += ((crs.getString(1),
            inParens.split(',').map(p => cols(p.trim.toInt - 1).name).toSeq))
        }
        crs.close(); st.close()
        out.sortBy(_._1).map(_._2).toSeq
      } catch {
        // SQLException only — "engine has no SYS.*" means the query itself
        // fails; a descriptor that PARSES wrong must throw loudly, or the
        // table silently degrades to the all-columns pseudo-key and the
        // merged fold dedups on every column instead of the unique key
        case _: SQLException => Nil
      }
      val keys = (primary.toSeq ++ uniques ++ constraintKeys).distinct
      // the key reads above find nothing for a table not in the catalog
      if (cols.isEmpty) None
      else Some((cols.toSeq, if (keys.nonEmpty) keys else Seq(cols.map(_.name).toSeq)))
    }

  /** Unique-key WHERE: NOT NULL key columns get plain `c = ?` — point
    * predicates the engine serves by an index probe, locking one row. Only
    * genuinely NULLABLE key columns get the NULL-safe form `(c = ? OR (c
    * IS NULL AND CAST(? AS t) IS NULL))` (the CAST types the bare
    * parameter for engines like Derby that reject untyped `? IS NULL`).
    * The reference builds exactly this split: whereSlice emits `= ?`
    * normally and `IS NULL` for nil values (model.go:303-322, 253-257).
    * An unconditional OR-form would defeat the unique index and turn each
    * batched delete into a locking table scan — measured as Derby
    * deadlocks across writer partitions. */
  private def keyPredicate(keyCols: Seq[String], meta: Map[String, ColMeta]): String =
    keyCols.map { k =>
      val m = meta(k)
      if (!m.nullable) s"$k = ?"
      else {
        val t = m.sqlType match {
          case Types.BIGINT => "BIGINT"
          case Types.INTEGER => "INT"
          case Types.DOUBLE | Types.FLOAT => "DOUBLE"
          case Types.DECIMAL | Types.NUMERIC => "DECIMAL(31,0)"
          case _ => "VARCHAR(32672)"
        }
        s"($k = ? OR ($k IS NULL AND CAST(? AS $t) IS NULL))"
      }
    }.mkString(" AND ")

  private def bindKey(ps: java.sql.PreparedStatement, base: Int,
      r: org.apache.spark.sql.Row, keyCols: Seq[String],
      meta: Map[String, ColMeta], frameIdx: Map[String, Int]): Int = {
    var i = base
    keyCols.foreach { k =>
      val m = meta(k)
      // frame index maps are uppercase-keyed; catalog names need not be
      // uppercase off Derby — normalize at the one lookup they all share
      val v = r.get(frameIdx(k.toUpperCase))
      val slots = if (m.nullable) 2 else 1
      (0 until slots).foreach { s =>
        if (v == null) ps.setNull(i + s, m.sqlType) else ps.setObject(i + s, v)
      }
      i += slots
    }
    i
  }

  /** Apply one micro-batch that spans many tables. `slices` maps table name
    * → that table's change frame: (commit_ts, op, <the table's columns>),
    * op ∈ I/U/D/DDL, DDL rows carrying the statement in `ddl_sql`. DDL
    * commit timestamps are GLOBAL barriers: every table's pending DML
    * before the barrier applies first, the DDL executes alone, and
    * column lists are re-read from the catalog afterwards (ref:
    * pkg/loader/load.go:845-866). Returns false on a replayed batch id.
    *
    * `merge = true` (default) is the compacting path: ≤ 1 statement pair
    * per key, the high-throughput mode. `merge = false` is the reference
    * loader's sequence-preserving default ([[applyTableSequence]]):
    * every DML replays individually in causality-group order — required
    * when secondary unique constraints must hold at every intermediate
    * state, and the mode reparo uses into a half-recovered target.
    * `safeMode` (sequence path only) rewrites I/U to REPLACE semantics. */
  def applyBatch(slices: Map[String, DataFrame], batchId: Long,
      schemaVersion: Long = -1L, merge: Boolean = true,
      safeMode: Boolean = false): Boolean = {
    withConn(JdbcMeta.ensureMeta)
    val prev = lastCheckpoint
    if (batchId <= prev.batchId) return false

    // explicit input contract: every slice frame carries op (I/U/D/DDL) —
    // a silently-tolerated op-less frame would pass this gather only to
    // crash on the unresolvable op column in the barrier loop below
    slices.foreach { case (t, df) =>
      require(df.columns.contains("op"),
        s"frame for $t lacks the op column (I/U/D/DDL)")
    }
    // global DDL barriers, gathered across every table's slice; a DDL row
    // an ingest router replicated into several tables' frames is ONE
    // barrier, not several (a second execution of the same ALTER would
    // throw and wedge every replay of the batch). One job for every slice:
    // the per-slice projections union into a single collect
    val ddls = slices.values.map { df =>
      val hasSql = df.columns.contains("ddl_sql")
      df.filter(col("op") === "DDL")
        .select(col("commit_ts"),
          (if (hasSql) col("ddl_sql") else lit(null).cast("string")).as("ddl_sql"))
    }.reduceOption(_ union _).toSeq
      .flatMap(_.collect())
      .map(r => (r.getAs[Long]("commit_ts"), Option(r.getAs[String]("ddl_sql"))))
      .distinct.sortBy(_._1)
    // (ts, statement, replay-guard key) per barrier; the batch end last
    val barriers = ddls.map { case (ts, stmt) => (ts, stmt, stmt.getOrElse(s"ddl@$ts")) } :+
      ((Long.MaxValue, None: Option[String], ""))
    // a REPLAYED batch skips whole sub-batches below an already-logged
    // barrier, not just the barrier statement: the first attempt applied
    // those slices BEFORE executing the DDL (slices apply strictly ahead
    // of their barrier), and re-applying them now would bind the
    // old-shape rows against the post-DDL catalog — a default-valued ADD
    // COLUMN's fill would be overwritten with the frame's stale slots
    // (the schema-change sweep's finding). This is the batch-granular
    // form of the reference's save-checkpoint-on-DDL rule
    // (drainer/syncer.go:253-259: DDL execution pins a checkpoint, so
    // pre-DDL DML never replays); the residual exec→log window remains,
    // as it does there — DDL is not transactional on most engines.
    val done = barriers.map { case (upper, _, key) =>
      upper != Long.MaxValue && withConn(JdbcMeta.ddlLogged(_, batchId, upper, key))
    }
    val live = barriers.indices.filterNot(done)

    // each DML row carries its segment — the number of barriers strictly
    // below its commit_ts, so a row AT a barrier's ts applies before that
    // barrier; both paths select a segment's rows by it. On the merged
    // path each table merges once per batch (not
    // once per segment) under the catalog's first key (primary, else the
    // first unique index, else every column) at the first live segment
    // where the table exists; a barrier that changes that key re-merges
    // the segments after it
    val barrierTs = ddls.map(_._1)
    val segOf =
      if (barrierTs.isEmpty) lit(0)
      else size(filter(typedLit(barrierTs), _ < col("commit_ts")))
    val orderedSlices = slices.toSeq.sortBy(_._1).map { case (t, df) =>
      (t, df.filter(col("op") =!= "DDL").withColumn("_seg", segOf))
    }
    val mergedOf = scala.collection.mutable.Map[String, Merged]()

    var maxTs = prev.commitTs
    barriers.zipWithIndex.foreach { case ((upper, stmt, key), seg) =>
      if (!done(seg)) {
        // tables between two barriers are independent — apply them across
        // the bounded worker pool (ref: pkg/loader/load.go:508-527, the
        // reference's 16 parallel table workers); only the barrier itself
        // is a sequential point. Each apply opens its own connections
        // (driver-side metadata reads and executor-side batches alike), so
        // nothing here shares JDBC state across threads.
        val applied = graft.util.Par.mapPar(orderedSlices) {
          case (table, dml) =>
            if (merge) mergedOf.get(table) match {
              // no rows here: no catalog read (a barrier may have dropped
              // or renamed the table by now)
              case Some(m) if m.segs(seg).isEmpty => (Long.MinValue, None)
              case prior => tableMetaOpt(table) match {
                // not in the catalog yet (a later barrier may create it):
                // fine while the segment holds none of its rows, which a
                // limit-1 probe tells before anything is merged
                case None =>
                  require(prior.isEmpty && dml.filter(col("_seg") === seg).isEmpty,
                    s"table $table not found in catalog")
                  (Long.MinValue, None)
                case Some(tm) =>
                  val m = prior.filter(_.keyCols == tm._2.head)
                    .getOrElse(mergeTable(dml, table, tm._2.head, live.filter(_ >= seg)))
                  if (m.segs(seg).isEmpty) (Long.MinValue, Some(m))
                  else (applySegment(m, seg, table, tm), Some(m))
              }
            } else
              (applyTableSequence(dml.filter(col("_seg") === seg).drop("_seg"),
                table, safeMode), None)
        }
        orderedSlices.zip(applied).foreach {
          case ((table, _), (_, Some(m))) => mergedOf(table) = m
          case _ => ()
        }
        maxTs = (maxTs +: applied.map(_._1)).max
        if (upper != Long.MaxValue) withConn { c =>
          stmt.foreach { sql =>
            val st = c.createStatement()
            try st.execute(sql) finally st.close()
          }
          JdbcMeta.logDdl(c, batchId, upper, key)
        }
      }
      if (upper != Long.MaxValue) maxTs = math.max(maxTs, upper)
    }
    withConn(JdbcMeta.save(_, clusterId,
      Checkpoint(batchId, maxTs, math.max(schemaVersion, prev.schemaVersion),
        consistent = true)))
    true
  }

  /** Per-segment figures of a merged table, read from the checkpoint job. */
  private case class SegStats(deletes: Long, puts: Long, maxTs: Long) {
    def isEmpty: Boolean = deletes + puts == 0
  }

  /** One table's merged rows for segments `segs`: ≤ 1 row per (segment,
    * key), hash-partitioned on the key and checkpointed, with each
    * segment's counts. */
  private case class Merged(keyCols: Seq[String], rows: DataFrame,
      segs: Map[Int, SegStats])

  /** One table's DML rows (tagged `_seg`) folded per (segment, unique key).
    * One exchange — the key-hash repartition — serves both the merge window
    * (its partitioning satisfies the window's (`_seg`, key) clustering) and
    * the JDBC passes; the eager checkpoint is the only job, and it carries
    * an observation of each segment's delete count, non-delete count and
    * max commit_ts, so the apply needs no emptiness probe and no watermark
    * job. A streaming decode's slice is the decode itself over the pinned
    * wire batch (see [[graft.streaming.CdcStream.DecodedBatch]]): it runs
    * inside this job's map stage, once, and is not read again. */
  private def mergeTable(dml: DataFrame, table: String, keyCols: Seq[String],
      segs: Seq[Int]): Merged = {
    val slice = dml.filter(col("_seg").isin(segs: _*))
    val frameCols = slice.columns.map(n => n.toUpperCase -> n).toMap
    require(keyCols.forall(k => frameCols.contains(k.toUpperCase)),
      s"frame for $table lacks key columns ${keyCols.mkString(",")}")

    // An update whose unique key CHANGED must also kill the old-key row:
    // the reference's merge algebra splits it into DELETE(old image) +
    // INSERT(new image) before folding (ref: pkg/loader/merge.go:48-77;
    // model.go:216-251 getKeys unions old+new images). When the frame
    // carries the T8 `old_<col>` before-image for every key column, emit
    // that synthetic delete here; a frame without before-images cannot
    // express a key migration, so the plain fold is already complete.
    // (uppercase-normalized: catalog names need not be uppercase off Derby)
    val oldKeyFor = keyCols.flatMap(k =>
      frameCols.get(s"OLD_$k".toUpperCase).map(k -> _)).toMap
    val preSlice = if (oldKeyFor.size == keyCols.size) {
      val keyChanged = keyCols.map(k =>
        !(col(frameCols(k.toUpperCase)) <=> col(oldKeyFor(k)))).reduce(_ || _)
      // an all-NULL old image means "no before image" (insert rows, or an
      // upstream that omitted it) — never a migration from the NULL key
      val hasOldImage = keyCols.map(k => col(oldKeyFor(k)).isNotNull).reduce(_ || _)
      val synth = slice.filter(col("op") === "U" && hasOldImage && keyChanged)
        .withColumn("op", lit("D"))
        .select(slice.columns.map { cn =>
          keyCols.find(k => frameCols(k.toUpperCase) == cn) match {
            case Some(k) => col(oldKeyFor(k)).cast(slice.schema(cn).dataType).as(cn)
            case None    => col(cn)
          }
        }: _*)
      slice.withColumn("_synth", lit(0))
        .unionByName(synth.withColumn("_synth", lit(1)))
    } else slice.withColumn("_synth", lit(0))

    val keyExprs = keyCols.map(k => col(frameCols(k.toUpperCase)))
    // same-ts ties broken by the ONE shared order ([[MergeOrder]]): the T9
    // seq when the frame carries it (a synthetic old-key delete inherits
    // its U's seq), then a REAL row outranks the synthetic old-key delete
    // (a same-ts re-insert of the vacated key survives), then D>U>I, then
    // the payload columns — so two real rows identical in (key, ts, seq,
    // op) but differing in payload still pick a deterministic winner
    // instead of a shuffle-dependent one
    val hasSeq = preSlice.columns.contains("seq")
    val seqOrder = if (hasSeq) Seq(MergeOrder.seqKey.desc) else Nil
    val meta_ = Set("commit_ts", "op", "seq", "_synth", "_seg", "ddl_sql")
    val keyFrameCols = keyCols.map(k => frameCols(k.toUpperCase)).toSet
    // scalar payload columns only: a complex-typed column riding the frame
    // (a MapType isn't orderable and fails analysis; a wide array/struct
    // pays real sort cost) is excluded from a tie-break that only matters
    // on (key, ts, seq, op)-identical anomalies — such rows then tie-break
    // on their scalar columns alone, still deterministically
    val payloadOrder = preSlice.schema.toSeq
      .filterNot(f => meta_.contains(f.name) || keyFrameCols.contains(f.name) ||
        f.name.toUpperCase.startsWith("OLD_"))
      .filter(_.dataType match {
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.StructType => false
        case _ => true
      })
      .map(f => col(f.name).desc_nulls_last)
    val w = Window.partitionBy(col("_seg") +: keyExprs: _*)
      .orderBy((col("commit_ts").desc +: seqOrder) ++
        Seq(col("_synth").asc, MergeOrder.opRank.desc) ++ payloadOrder: _*)
    val observed = new Observation()
    val perSeg = segs.flatMap { s =>
      val in = col("_seg") === s
      Seq(count(when(in && col("op") === "D", 1)).as(s"d$s"),
        count(when(in && col("op") =!= "D", 1)).as(s"p$s"),
        max(when(in, col("commit_ts"))).as(s"t$s"))
    }
    val rows = preSlice
      .repartition(applyPartitions, keyExprs: _*)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "_synth")
      .observe(observed, perSeg.head, perSeg.tail: _*)
      .localCheckpoint(true)
    val stats = observed.get
    Merged(keyCols, rows, segs.map { s =>
      s -> SegStats(stats(s"d$s").asInstanceOf[Long], stats(s"p$s").asInstanceOf[Long],
        Option(stats(s"t$s")).fold(Long.MinValue)(_.asInstanceOf[Long]))
    }.toMap)
  }

  /** One segment of a merged table through the JDBC passes, binding the
    * column list the catalog shows now. With one unique key every key
    * lives in one partition, so one pass — each chunk deletes its keys and
    * inserts its non-deletes — ends where delete-all-then-replace would. A
    * secondary unique key can tie rows in different partitions (a deleted
    * row's secondary key reused by an insert elsewhere), so such a table
    * keeps the delete pass ahead of the replace pass. Returns the
    * segment's max applied commit_ts. */
  private def applySegment(m: Merged, seg: Int, table: String,
      tm: TableMeta): Long = {
    val st = m.segs(seg)
    val (cols, keys) = tm
    val rows = m.rows.filter(col("_seg") === seg)
    val frameCols = rows.columns.map(_.toUpperCase).toSet
    // writable columns = catalog columns present in the frame (a frame may
    // omit trailing columns a DDL added later; their defaults apply)
    val insertCols = cols.map(_.name).filter(n => frameCols.contains(n.toUpperCase))
    val write = writePass(table, m.keyCols, insertCols,
      cols.map(c => c.name -> c).toMap) _
    if (keys.size == 1) write(rows)
    else {
      if (st.deletes > 0) write(rows.filter(col("op") === "D"))
      if (st.puts > 0) write(rows.filter(col("op") =!= "D"))
    }
    st.maxTs
  }

  /** One JDBC pass over `rows`: each partition prepares the key-DELETE and
    * a single-row INSERT with the explicit catalog column list once, then
    * per chunk of `batchSize` rows deletes every row's key, inserts the
    * non-deletes (each as one JDBC batch) and commits. The statement text
    * is fixed, so the engine compiles it once, not once per chunk size. */
  private def writePass(table: String, keyCols: Seq[String],
      insertCols: Seq[String], meta: Map[String, ColMeta])(rows: DataFrame): Unit = {
    val (u, bs) = (url, batchSize)
    val delSql = s"DELETE FROM $table WHERE ${keyPredicate(keyCols, meta)}"
    val insSql = s"INSERT INTO $table (${insertCols.mkString(", ")}) VALUES " +
      insertCols.map(_ => "?").mkString("(", ", ", ")")
    val frameIdxByUpper = rows.columns.zipWithIndex
      .map { case (n, i) => n.toUpperCase -> i }.toMap
    val opIdx = frameIdxByUpper("OP")
    val slots = insertCols.map(cn => (frameIdxByUpper(cn.toUpperCase), meta(cn).sqlType))
    rows.foreachPartition { part: Iterator[org.apache.spark.sql.Row] =>
      val c = DriverManager.getConnection(u)
      try {
        c.setAutoCommit(false)
        val del = c.prepareStatement(delSql)
        lazy val ins = c.prepareStatement(insSql)
        part.grouped(bs).foreach { chunk =>
          chunk.foreach { r =>
            bindKey(del, 1, r, keyCols, meta, frameIdxByUpper); del.addBatch()
          }
          del.executeBatch()
          val puts = chunk.filter(_.getString(opIdx) != "D")
          if (puts.nonEmpty) {
            puts.foreach { r =>
              slots.zipWithIndex.foreach { case ((at, sqlType), i) =>
                val v = r.get(at)
                if (v == null) ins.setNull(i + 1, sqlType) else ins.setObject(i + 1, v)
              }
              ins.addBatch()
            }
            ins.executeBatch()
          }
          c.commit() // one txn per chunk, like one executed batch
        }
      } finally {
        // Derby refuses to close with an open (even no-op) transaction;
        // closing the connection closes its statements
        try c.rollback() catch { case _: SQLException => () }
        c.close()
      }
    }
  }

  /** Causality-grouped dispatch for the sequence-preserving path — P1
    * composed into K1, the reference loader's `singleExec` default (ref:
    * pkg/loader/load.go:529-575: group DMLs whose key images conflict,
    * execute groups in parallel workers, each group linearly).
    *
    * Key images: for every unique key of the table, a string image of the
    * row's NEW values, plus — when the frame carries `old_<col>` before
    * images (the T8 update-image split contract) — the OLD values of
    * changed-key updates (ref: model.go:216-251 getKeys unions old+new).
    * Rows are vertices, images are vertices; a row touching an image links
    * to it; connected components over that bipartite graph are exactly the
    * reference's transitive conflict closure — computed for the WHOLE
    * batch at once, so the reference's flush-and-reset on cross-group
    * conflict (which stalls every worker) never happens: CC already merged
    * those groups.
    *
    * Returns the slice plus `_rid` (row id) and `_grp` (group label). The
    * id is a DETERMINISTIC content hash (xxhash64 over every column), so
    * it survives plan re-execution unchanged with no pinning
    * materialization — group assignment rests on hash determinism, not on
    * a checkpoint. NULL key columns image as a sentinel, conflicting
    * with each other — the NULL-safe analog of the reference's nil key
    * handling. */
  private[graft] def conflictGroupsFor(slice: DataFrame, table: String): DataFrame =
    conflictGroupsFor(slice, table, tableMetaAll(table)._2)

  /** The apply path already holds the catalog read — don't repeat it (a
    * second connection + 4-way SYS join per slice). */
  private def conflictGroupsFor(slice: DataFrame, table: String,
      uks: Seq[Seq[String]]): DataFrame = {
    val frameCols = slice.columns.map(n => n.toUpperCase -> n).toMap
    // deterministic row id: a content hash, not monotonically_increasing_id
    // — the id must survive plan re-execution unchanged (the grouped frame
    // is consumed lazily by the apply pass), and a content hash needs no
    // pinning materialization job. A 64-bit collision merely merges two
    // rows' groups — the SAFE direction (less parallelism, never a missed
    // conflict); identical DMLs share an id and a group by construction.
    val withId = slice.withColumn("_rid",
      xxhash64(slice.columns.map(col): _*))
    val images: Seq[Column] = uks.zipWithIndex.flatMap { case (cs, i) =>
      def img(resolve: String => Option[String]): Option[Column] = {
        val resolved = cs.map(resolve)
        if (resolved.exists(_.isEmpty)) None
        else Some(concat_ws("", (lit(i.toString) +: resolved.map(c =>
          coalesce(col(c.get).cast("string"), lit("\u0000")))): _*))
      }
      // uppercase-normalized lookups, like every other frame↔catalog
      // bridge in this file — catalog names need not be uppercase off Derby
      val newImg = img(k => frameCols.get(k.toUpperCase))
      // old image only for update rows that actually CARRY before values:
      // an all-NULL old image means "no before image" (the same gate the
      // merged fold and deleteImages apply) — imaging it as the NULL
      // sentinel would stamp every such row with one identical string,
      // linking all of them into a single mega-group and serializing the
      // whole apply onto one connection. A PARTIALLY-null old image keeps
      // the sentinel: a genuinely NULL-valued key column is ambiguous and
      // must conflict (the reference's nil-key handling).
      val oldImg = img(k => frameCols.get(s"OLD_$k".toUpperCase)).map { o =>
        val oldCols = cs.flatMap(k => frameCols.get(s"OLD_$k".toUpperCase))
        val hasOld = oldCols.map(c => col(c).isNotNull).reduce(_ || _)
        when(col("op") === "U" && hasOld, o)
      }
      newImg.toSeq ++ oldImg.toSeq
    }
    require(images.nonEmpty, s"frame for $table carries no key columns")
    // Each key image is a star: every row touching it links to the image's
    // minimum row id. One window pass builds those row↔row edges directly —
    // the image vertices never materialize, so CC runs on the row graph
    // (half the vertices, no doubled bipartite edge list). Components are
    // identical: rows share a component iff a chain of shared images
    // connects them.
    // filter the STRING images before hashing: xxhash64(NULL) yields the
    // seed, not NULL — hashing first would link every null-imaged row
    // (e.g. inserts with no before image) into one spurious mega-group
    val touched = withId.select(col("_rid"),
      explode(array(images: _*)).as("img"))
      .filter(col("img").isNotNull)
      .select(col("_rid"), xxhash64(col("img")).as("imgh"))
    val starred = touched.withColumn("root",
      min(col("_rid")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("imgh"))))
    val half = starred.filter(col("_rid") =!= col("root"))
      .select(col("_rid").as("src"), col("root").as("dst"))
    val edges = half.unionByName(
      half.select(col("dst").as("src"), col("src").as("dst")))
    val groups = graft.ops.Causality.connectedComponents(edges)
      .select(col("node").as("_rid"), col("label").as("_grp"))
    // rows with no conflicts at all never appear in an edge; they are their
    // own singleton groups
    // no checkpoint on the join: the row id is a deterministic content
    // hash (stable across plan re-execution) and CC's labels are
    // materialized internally, so the single downstream consumer re-runs
    // only the join itself
    withId.join(groups, Seq("_rid"), "left")
      .withColumn("_grp", coalesce(col("_grp"), col("_rid")))
  }

  /** Sequence-preserving apply — the reference loader with merge OFF, its
    * default mode (ref: load.go:144 `enableCausality: true`, 529-575
    * singleExec): every DML executes individually, in commit-ts order
    * within its causality group, groups in parallel. This is the mode that
    * keeps INTERMEDIATE states legal under secondary unique constraints:
    * a unique-key value migrating between rows (the swap the source engine
    * performed legally step by step) replays step by step here too,
    * serialized with everything it conflicts with — where the merged path,
    * which jumps keys straight to their final state in parallel, can
    * transiently violate the unique index and abort. Translation per op
    * (ref: model.go sql builders; safe mode = translator's replace/delete
    * rewrites): I → INSERT, U → UPDATE of the writable columns keyed on
    * the before image when carried, D → DELETE; safe mode rewrites I and U
    * to delete-every-key-image + INSERT (MySQL REPLACE semantics against
    * any engine). Commits every `batchSize` statements, order preserved. */
  private def applyTableSequence(slice: DataFrame, table: String,
      safeMode: Boolean): Long = {
    val (cols, uks) = tableMetaAll(table)
    val meta = cols.map(m => m.name -> m).toMap
    val frameCols = slice.columns.map(n => n.toUpperCase -> n).toMap
    val insertCols = cols.map(_.name).filter(n => frameCols.contains(n.toUpperCase))
    val keyCols = uks.head
    require(keyCols.forall(k => frameCols.contains(k.toUpperCase)),
      s"frame for $table lacks key columns ${keyCols.mkString(",")}")

    // emptiness + the applied-ts watermark come from the raw slice (a
    // Catalyst-pruned filter of the batch frame) so the grouped plan below
    // has exactly one consumer and needs no extra materialization
    val stats = slice.agg(count(lit(1)), max("commit_ts")).collect()(0)
    if (stats.getLong(0) == 0L) return Long.MinValue
    val sliceMaxTs = stats.getLong(1)
    val grouped = conflictGroupsFor(slice, table, uks)

    // statement order within a txn: commit_ts, then the T9 seq when the
    // frame carries it (sequence_iterator.go statement order — this IS the
    // mode that exists to preserve sequence; the content id alone would
    // order a same-ts I-then-U chain by hash), then the content id for a
    // stable order between unrelated same-ts statements (null seqs rank
    // first via the shared [[MergeOrder]] sentinel)
    val seqCol = if (grouped.columns.contains("seq"))
      Seq(MergeOrder.seqKey.asc) else Nil
    val ordered = grouped
      .repartition(applyPartitions, col("_grp"))
      .sortWithinPartitions(col("commit_ts") +: seqCol :+ col("_rid"): _*)
    val frameIdxByUpper = ordered.columns.zipWithIndex
      .map { case (n, i) => n.toUpperCase -> i }.toMap
    val (u, bs, tbl, safe) = (url, batchSize, table, safeMode)
    // a non-safe UPDATE matching zero rows is EXPECTED on a post-crash
    // replay (the migrated-from key is already vacated — the reference
    // absorbs the same window with its restart safe mode) but also what a
    // malformed partial-NULL before-image degrades to; either way it must
    // be countable, not silent ([[zeroRowUpdates]] after the job)
    val zeroAcc = slice.sparkSession.sparkContext.longAccumulator
    val presentUks = uks.filter(_.forall(k => frameCols.contains(k.toUpperCase)))
    // per-unique-key old-image binding positions, where the frame carries
    // them — safe mode must also kill the OLD row of a changed-key update
    // (ref: model.go:216-251 getKeys unions old+new images). Lookups are
    // uppercase-normalized: catalog names need not be uppercase off Derby.
    val oldIdxOf: Map[Seq[String], Map[String, Int]] = presentUks.flatMap { cs =>
      if (cs.forall(k => frameIdxByUpper.contains(s"OLD_$k".toUpperCase)))
        Some(cs -> cs.map(k =>
          k.toUpperCase -> frameIdxByUpper(s"OLD_$k".toUpperCase)).toMap)
      else None
    }.toMap
    // when the frame carries before images the UPDATE must SET the key
    // columns too: a migration of the ADDRESSED key (new values in SET,
    // old image in WHERE) is exactly the reference's genUpdateSQL shape —
    // setting only non-key columns leaves the old key occupied and a later
    // re-insert of the vacated slot collides. Without before images a key
    // migration is inexpressible, so keys stay out of SET (WHERE and SET
    // would bind the same columns).
    val hasOld = oldIdxOf.contains(keyCols)
    val setCols = if (hasOld) insertCols
                  else insertCols.filterNot(keyCols.contains)
    // a key covering EVERY frame column (a keyless table's all-columns
    // pseudo-key, or a PK spanning the table) leaves the UPDATE nothing to
    // SET — "UPDATE t SET WHERE ..." won't even prepare. Express U as
    // delete-old-image + INSERT instead (the REPLACE shape — semantically
    // identical when the whole row IS the key).
    val replaceUpdates = setCols.isEmpty

    // the before image addresses the OLD row of a changed-key update, when
    // the frame carries one (T8 contract)
    val updIdx = frameIdxByUpper ++
      (if (hasOld) oldIdxOf(keyCols) else Map.empty)

    ordered.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      // a RETRIED task re-executes chunks its first attempt already
      // committed — the plain INSERT path would hit duplicate keys and
      // wedge the job. Fall back to the idempotent REPLACE semantics for
      // the retry, the same way the reference absorbs its post-crash
      // replay window with safe mode (syncer restart → translator safe
      // mode); first attempts keep the fast path.
      // attemptNumber resets to 0 on a STAGE re-attempt (fetch-failure
      // resubmission), so a re-executed partition must also read the
      // stage attempt or it takes the plain-INSERT path against chunks
      // its earlier incarnation already committed
      val retried = Option(org.apache.spark.TaskContext.get())
        .exists(tc => tc.attemptNumber > 0 || tc.stageAttemptNumber > 0)
      val safeHere = safe || retried
      val c = DriverManager.getConnection(u)
      try {
        c.setAutoCommit(false)
        // statements prepared ONCE per partition, rebound per row — a
        // fresh prepare per DML is a server round-trip + plan compile that
        // dwarfs the execute itself
        val dels = presentUks.map(cs => cs -> c.prepareStatement(
          s"DELETE FROM $tbl WHERE ${keyPredicate(cs, meta)}"))
        val ins = c.prepareStatement(s"INSERT INTO $tbl " +
          s"(${insertCols.mkString(", ")}) VALUES " +
          insertCols.map(_ => "?").mkString("(", ", ", ")"))
        // not prepared when nothing would SET (replaceUpdates) or when
        // every U takes the REPLACE path anyway
        val upd = if (replaceUpdates || safeHere) None
          else Some(c.prepareStatement(s"UPDATE $tbl SET " +
            setCols.map(cn => s"$cn = ?").mkString(", ") +
            s" WHERE ${keyPredicate(keyCols, meta)}"))
        def deleteImages(r: org.apache.spark.sql.Row): Unit =
          dels.foreach { case (cs, del) =>
            bindKey(del, 1, r, cs, meta, frameIdxByUpper)
            del.executeUpdate()
            // a changed-key update must also vacate its OLD image, or safe
            // mode strands the migrated-from row (getKeys unions old+new).
            // Skipped when old == new (the dominant in-place case — the
            // extra round-trip would be a no-op) and when the old image is
            // all NULL: that means "no before image" here, the same
            // tie-break the merged fold documents — a migration OUT OF an
            // all-NULL nullable unique key is inherently ambiguous to
            // address (multiple rows may hold the NULL key) and takes the
            // keyless full-image path instead.
            oldIdxOf.get(cs).foreach { oi =>
              lazy val oldDiffers = cs.exists { k =>
                r.get(oi(k.toUpperCase)) != r.get(frameIdxByUpper(k.toUpperCase))
              }
              if (r.getString(frameIdxByUpper("OP")) == "U" &&
                  cs.exists(k => r.get(oi(k.toUpperCase)) != null) &&
                  oldDiffers) {
                bindKey(del, 1, r, cs, meta, frameIdxByUpper ++ oi)
                del.executeUpdate()
              }
            }
          }
        def insertRow(r: org.apache.spark.sql.Row): Unit = {
          insertCols.zipWithIndex.foreach { case (cn, i) =>
            val v = r.get(frameIdxByUpper(cn.toUpperCase))
            if (v == null) ins.setNull(i + 1, meta(cn).sqlType)
            else ins.setObject(i + 1, v)
          }
          ins.executeUpdate()
        }
        var zeroPending = 0L // per-chunk, folded into the accumulator at
                             // COMMIT — a deadlock retry re-executes the
                             // chunk and must not double-count
        def execRow(r: org.apache.spark.sql.Row): Unit =
          r.getString(frameIdxByUpper("OP")) match {
            case "D" => deleteImages(r)
            case "I" if !safeHere => insertRow(r)
            case "U" if upd.isDefined =>
              val u = upd.get
              var i = 1
              setCols.foreach { cn =>
                val v = r.get(frameIdxByUpper(cn.toUpperCase))
                if (v == null) u.setNull(i, meta(cn).sqlType)
                else u.setObject(i, v)
                i += 1
              }
              // an all-NULL old image means "no before image" (an upstream
              // that omitted it): address the row by its new key instead
              val whereIdx = if (hasOld &&
                  keyCols.exists(k => r.get(updIdx(k.toUpperCase)) != null))
                updIdx else frameIdxByUpper
              bindKey(u, i, r, keyCols, meta, whereIdx)
              if (u.executeUpdate() == 0) zeroPending += 1
            case "I" | "U" => // safe/retry/all-key-column: REPLACE semantics
              deleteImages(r); insertRow(r)
            case other => throw new IllegalArgumentException(
              s"unknown op '$other' in $tbl frame — only I/U/D apply")
          }
        // chunked commit with deadlock retry (ref: load.go:519
        // singleExecRetry, maxDMLRetryCount): a deadlock victim's txn is
        // rolled back to the last commit, which is exactly the pending
        // chunk — re-execute it in order. Adjacent-key page locks can
        // still collide across groups on the SAME unique index even
        // though the groups' key VALUES are disjoint, so retry is part of
        // the contract, not a workaround.
        val pending = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
        def flush(): Unit = if (pending.nonEmpty) {
          var attempt = 0
          var done = false
          while (!done) {
            zeroPending = 0 // a retried chunk re-counts from scratch
            try {
              pending.foreach(execRow); c.commit()
              zeroAcc.add(zeroPending); done = true
            }
            catch {
              case e: SQLException if e.getSQLState == "40001" && attempt < 5 =>
                attempt += 1
                try c.rollback() catch { case _: SQLException => () }
                Thread.sleep(50L * attempt)
            }
          }
          pending.clear()
        }
        rows.foreach { r => pending += r; if (pending.size >= bs) flush() }
        flush()
        dels.foreach(_._2.close()); ins.close(); upd.foreach(_.close())
      } finally {
        try c.rollback() catch { case _: SQLException => () }
        c.close()
      }
    }
    zeroRows.addAndGet(zeroAcc.value)
    sliceMaxTs
  }

  /** Read a table back through Spark's JDBC source; when `partitionOn`
    * names a numeric column, the scan strides it across `applyPartitions`
    * connections like [[JdbcUpsertSink.currentState]]. */
  def readTable(spark: SparkSession, table: String,
      partitionOn: Option[String] = None): DataFrame =
    JdbcMeta.partitionedRead(spark, url, table, partitionOn, applyPartitions)
}
