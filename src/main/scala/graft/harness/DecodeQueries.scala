package graft.harness

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.PbBinlogFile
import graft.streaming.CdcStream.{DecodedBatch, decodeCounts,
  ddlDrivenDecodeSchemas, ddlDrivenDecodeTables}
import graft.streaming.SchemaTracker

/** Oracle harness of the schema-versioned decode: the four `t6_*` queries,
  * each with its DuckDB twin, the wire staging they share with
  * [[DrainerQueries]], and [[writeDecoded]], the decode sink that makes a
  * batch's frames readable after the query stops. Library code never
  * calls into this package; [[graft.SparkEntry]] and the specs do. */
object DecodeQueries {

  /** The harness's decode sink: each frame of the batch lands under
    * `outDir/data/batch=<id>/schema=<s>/table=<t>`, one table after
    * another, the same layout for both decode entry points. A table's
    * frame keeps the batch's partitioning, so it writes at most one file
    * per batch partition; a replayed batch overwrites its own dirs
    * (idempotent per batch id). A batch with no DML writes nothing. */
  def writeDecoded(outDir: String): DecodedBatch => Unit = {
    case (id, frames, _) =>
      frames.toSeq.sortBy(_._1).foreach { case ((s, t), (_, df)) =>
        df.write.mode("overwrite")
          .parquet(s"$outDir/data/batch=$id/schema=$s/table=$t")
      }
  }

  /** Pin of the staged-wire oracle queries' single-batch assumption: their
    * DuckDB oracles compute TRUNCATE's in-flight drop (and every other
    * intra-batch interaction) as if the whole wire lands in ONE micro-batch
    * — true because the file stream's default admission is unlimited, but a
    * source-default change must fail the gate loudly, not silently decode
    * across batch boundaries the oracle doesn't model. */
  private def assertSingleBatch(spark: SparkSession, outDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val data = new org.apache.hadoop.fs.Path(s"$outDir/data")
    val fs = data.getFileSystem(conf)
    val batches = fs.listStatus(data).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).toSeq
    require(batches == Seq("batch=0"),
      s"staged-wire oracle expected exactly one micro-batch, got $batches — " +
        "the source drained in multiple triggers; the oracle SQL no longer " +
        "models the decode")
  }

  /** Oracle-checked multi-table decode (the
    * [[graft.streaming.CdcStream.ddlDrivenDecodeTables]] composition under
    * the hash gate): stage a TWO-table wire from the
    * events data — table `ta` (even pk) gets a MODIFY COLUMN at the
    * stream's midpoint, table `tb` (odd pk) a TRUNCATE at the 3/4 point —
    * decode it in one stream, and return the decoded rows. The DuckDB
    * oracle computes the same decode algebra straight from the parquet:
    * ta re-types after the midpoint (x.26 payloads round to x.3 — the
    * offset is deliberately tie-free, and the oracle casts through DOUBLE
    * because DuckDB TRUNCATES a decimal→decimal downscale while Spark's
    * from_json rounds half-up), tb's frames at/below the truncate drop
    * and later ones carry the truncate's version. Payload values ride mod
    * 1e6 so the JSON text never reaches double scientific notation at any
    * scale factor. */
  def multiDecodeQuery(spark: SparkSession, dir: String): DataFrame = {
    val (wireDir, outDir, ckpt) = stageWire(spark, dir, "mdec") {
      (changes, maxTs) =>
        wireDmlRows(changes,
          when(pmod(col("pk"), lit(2)) === 0, "ta").otherwise("tb"),
          concat(lit("{\"k\": "),
            (pmod(col("commit_ts"), lit(1000000L)).cast("double") + 0.26)
              .cast("string"),
            lit("}")))
          .unionByName(wireDdlRow(spark, maxTs / 2,
            "ALTER TABLE app.ta MODIFY COLUMN k DECIMAL(10,1)"))
          .unionByName(wireDdlRow(spark, 3 * maxTs / 4, "TRUNCATE TABLE app.tb"))
    }
    val tracker = new SchemaTracker()
    tracker.createTable("app", "ta", Seq("k DOUBLE"), version = 0)
    tracker.createTable("app", "tb", Seq("k DOUBLE"), version = 0)
    val q = ddlDrivenDecodeTables(PbBinlogFile.readStream(spark, wireDir),
      tracker, outDir, ckpt, "app", col("event_type"), writeDecoded(outDir))
    drainDecode(q, spark, outDir)
    spark.read.parquet(s"$outDir/data")
      .select(col("table").cast("string").as("table_name"), col("commit_ts"),
        col("k_str"), col("schema_version"))
  }

  def multiDecodeSql: String =
    s"""WITH c AS (${graft.ops.Cdc.changesCte}),
       |b AS (SELECT max(commit_ts)//2 AS mid, (3*max(commit_ts))//4 AS t34 FROM c)
       |SELECT 'ta' AS table_name, c.commit_ts,
       |  CASE WHEN c.commit_ts <= b.mid
       |       THEN CAST((c.commit_ts % 1000000) + 0.26 AS VARCHAR)
       |       ELSE CAST(CAST(CAST((c.commit_ts % 1000000) + 0.26 AS DOUBLE) AS DECIMAL(10,1)) AS VARCHAR)
       |  END AS k_str,
       |  CASE WHEN c.commit_ts <= b.mid THEN 0 ELSE b.mid END AS schema_version
       |FROM c, b WHERE c.pk % 2 = 0
       |UNION ALL
       |SELECT 'tb' AS table_name, c.commit_ts,
       |  CAST((c.commit_ts % 1000000) + 0.26 AS VARCHAR) AS k_str,
       |  b.t34 AS schema_version
       |FROM c, b WHERE c.pk % 2 = 1 AND c.commit_ts > b.t34""".stripMargin

  /** Oracle-checked multi-SCHEMA decode (the
    * [[graft.streaming.CdcStream.ddlDrivenDecodeSchemas]] composition under
    * the hash gate): stage a two-database wire from the
    * events data — schema `sa` (even pk) and schema `sb` (odd pk) each
    * carry a table of the SAME name `t`, so the decode must route by the
    * schema dimension. `sa.t` gets a MODIFY COLUMN at the stream's
    * midpoint — written with mixed-case keywords and backticked
    * identifiers, so the lexer itself sits under the oracle gate — while
    * two administrative statements (a CREATE INDEX and an OPTIMIZE TABLE
    * aimed at `sb.t`) ride the wire and must SKIP without cutting
    * `sb`'s decode or bumping its version (the skip count is asserted in
    * line). Same tie-free x.26 payload algebra as [[multiDecodeQuery]]. */
  def schemaRoutedQuery(spark: SparkSession, dir: String): DataFrame = {
    val (wireDir, outDir, ckpt) = stageWire(spark, dir, "srt") {
      (changes, maxTs) =>
        wireDmlRows(changes,
          when(pmod(col("pk"), lit(2)) === 0, "sa:t").otherwise("sb:t"),
          concat(lit("{\"k\": "),
            (pmod(col("commit_ts"), lit(1000000L)).cast("double") + 0.26)
              .cast("string"),
            lit("}")))
          .unionByName(wireDdlRow(spark, maxTs / 2,
            "Alter Table `sa`.`t` Modify Column k DECIMAL(10,1)"))
          .unionByName(wireDdlRow(spark, 3 * maxTs / 4,
            "CREATE INDEX i_k ON sb.t (k)"))
          .unionByName(wireDdlRow(spark, 5 * maxTs / 8, "OPTIMIZE TABLE sb.t"))
    }
    val tracker = new SchemaTracker()
    tracker.createTable("sa", "t", Seq("k DOUBLE"), version = 0)
    tracker.createTable("sb", "t", Seq("k DOUBLE"), version = 0)
    val q = ddlDrivenDecodeSchemas(PbBinlogFile.readStream(spark, wireDir),
      tracker, outDir, ckpt, Seq("sa", "sb"),
      substring_index(col("event_type"), ":", 1),
      substring_index(col("event_type"), ":", -1), writeDecoded(outDir))
    drainDecode(q, spark, outDir)
    val skipped = decodeCounts(q.id)("skipped_ddl_total")
    require(skipped == 2L,
      s"expected the 2 administrative wire statements skipped, got $skipped")
    spark.read.parquet(s"$outDir/data")
      .select(col("schema").cast("string").as("schema_name"),
        col("table").cast("string").as("table_name"), col("commit_ts"),
        col("k_str"), col("schema_version"))
  }

  def schemaRoutedSql: String =
    s"""WITH c AS (${graft.ops.Cdc.changesCte}),
       |b AS (SELECT max(commit_ts)//2 AS mid FROM c)
       |SELECT 'sa' AS schema_name, 't' AS table_name, c.commit_ts,
       |  CASE WHEN c.commit_ts <= b.mid
       |       THEN CAST((c.commit_ts % 1000000) + 0.26 AS VARCHAR)
       |       ELSE CAST(CAST(CAST((c.commit_ts % 1000000) + 0.26 AS DOUBLE) AS DECIMAL(10,1)) AS VARCHAR)
       |  END AS k_str,
       |  CASE WHEN c.commit_ts <= b.mid THEN 0 ELSE b.mid END AS schema_version
       |FROM c, b WHERE c.pk % 2 = 0
       |UNION ALL
       |SELECT 'sb' AS schema_name, 't' AS table_name, c.commit_ts,
       |  CAST((c.commit_ts % 1000000) + 0.26 AS VARCHAR) AS k_str,
       |  0 AS schema_version
       |FROM c WHERE c.pk % 2 = 1""".stripMargin

  /** One staged wire DDL frame — the shared envelope of the t6 oracle
    * wires (a DDL item carries no payload; ref binlog.proto's DDL kind). */
  private[harness] def wireDdlRow(spark: SparkSession, ts: Long, sql: String): DataFrame =
    // single-partition range: the default 32-partition range(1) makes every
    // union'd DDL row add 32 empty tasks to EACH staging pass (guide §2.2 —
    // fewer, larger map tasks); a 10-statement wire paid ~640 empty task
    // launches, each serializing the full union plan closure
    spark.range(0, 1, 1, 1).select(
      lit(ts).as("commit_ts"), lit(-1L).as("pk"), lit("DDL").as("op"),
      lit("ddl").as("event_type"),
      timestamp_micros(lit(ts) * 1000000L).as("ts"),
      lit(null).cast("double").as("value"),
      lit(null).cast("string").as("props"),
      lit(sql).as("ddl_sql"))

  /** The matching DML envelope over the change stream: routing and JSON
    * payload vary per wire, the frame shape never does. */
  private def wireDmlRows(changes: DataFrame, eventType: Column,
      props: Column): DataFrame =
    changes.select(
      col("commit_ts"), col("pk"), lit("U").as("op"),
      eventType.as("event_type"),
      col("ts"), col("value"), props.as("props"),
      lit(null).cast("string").as("ddl_sql"))

  /** Staging harness shared by the oracle wires: three per-invocation
    * scratch dirs (wire, out, ckpt — concurrent constructions must never
    * contend on one directory), the change feed pinned across the staging
    * passes, its max commit ts handed to `build`, and the built wire
    * written as two segments. */
  private[harness] def stageWire(spark: SparkSession, dir: String, tag: String)(
      build: (DataFrame, Long) => DataFrame): (String, String, String) = {
    val wireDir = graft.util.Scratch.dir(s"graft_${tag}_wire")
    val outDir = graft.util.Scratch.dir(s"graft_${tag}_out")
    val ckpt = graft.util.Scratch.dir(s"graft_${tag}_ckpt")
    // NOT spread, segments kept at 2 (r21, measured both ways): the feed's
    // pre-exchange work is a cheap envelope projection (the proto encode
    // runs AFTER the range exchange, at the segment count), so a spread
    // only adds a shuffle + a wider cache; and nFiles = cores multiplied
    // per-segment listing/open/task overhead across every staged query
    // (t6_multi_decode 1.65×, drainer_replicated 2.47× in the full-suite
    // measurement).
    val changes = graft.ops.Cdc.changes(spark, dir).persist()
    try graft.sources.PbBinlogFile.write(
      build(changes, graft.ops.Cdc.maxCommitTs(changes)), wireDir, nFiles = 2)
    finally { changes.unpersist(); () }
    (wireDir, outDir, ckpt)
  }

  /** Drain a staged-wire decode and enforce the one-micro-batch contract
    * the oracle SQL models. */
  private def drainDecode(q: StreamingQuery, spark: SparkSession,
      outDir: String): Unit = {
    try q.processAllAvailable() finally q.stop()
    assertSingleBatch(spark, outDir)
  }

  /** Oracle-checked column-option-tail normalization (the r12-verdict
    * robustness gap under the hash gate): stage a wire where the midpoint
    * DDL is the add-column-with-default statement real traffic carries
    * routinely — `ADD COLUMN c DECIMAL(10,1) NOT NULL DEFAULT 1.5 AFTER k`
    * (ref: tests/dailytest/case.go:386-485 runs add-column-with-default
    * under load) — so the decode must strip the decode-neutral tail
    * (AFTER), keep the decodable one (NOT NULL), capture the DEFAULT as
    * the origin default (asserted in line), and ride on. Post-midpoint
    * frames carry `c` in their payload and decode at the new version;
    * pre-midpoint frames decode without it. Same tie-free x.26 payload
    * algebra as [[multiDecodeQuery]] (the oracle casts through DOUBLE
    * because DuckDB truncates a decimal downscale where Spark's from_json
    * rounds half-up). */
  def optionTailsQuery(spark: SparkSession, dir: String): DataFrame = {
    val (wireDir, outDir, ckpt) = stageWire(spark, dir, "tails") {
      (changes, maxTs) =>
        val mid = maxTs / 2
        val payload = (pmod(col("commit_ts"), lit(1000000L)).cast("double") + 0.26)
          .cast("string")
        wireDmlRows(changes, lit("t"),
          concat(lit("{\"k\": "), payload,
            when(col("commit_ts") > mid,
              concat(lit(", \"c\": "), payload)).otherwise(lit("")),
            lit("}")))
          .unionByName(wireDdlRow(spark, mid,
            "ALTER TABLE `app`.`t` ADD COLUMN c DECIMAL(10,1) NOT NULL " +
              "DEFAULT 1.5 AFTER k"))
    }
    val tracker = new SchemaTracker()
    tracker.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    val q = ddlDrivenDecodeTables(PbBinlogFile.readStream(spark, wireDir),
      tracker, outDir, ckpt, "app", col("event_type"), writeDecoded(outDir))
    drainDecode(q, spark, outDir)
    require(tracker.originDefault("app", "t", "c").contains("1.5"),
      s"the stripped DEFAULT must register as the origin default, got " +
        s"${tracker.originDefault("app", "t", "c")}")
    require(tracker.current("app", "t").get.columns ==
      Vector("k DOUBLE", "c DECIMAL(10,1) NOT NULL"),
      s"unexpected tracked defs: ${tracker.current("app", "t").get.columns}")
    spark.read.parquet(s"$outDir/data")
      .select(col("commit_ts"), col("k_str"), col("c_str"),
        col("schema_version"))
  }

  def optionTailsSql: String =
    s"""WITH c AS (${graft.ops.Cdc.changesCte}),
       |b AS (SELECT max(commit_ts)//2 AS mid FROM c)
       |SELECT c.commit_ts,
       |  CAST((c.commit_ts % 1000000) + 0.26 AS VARCHAR) AS k_str,
       |  CASE WHEN c.commit_ts > b.mid
       |       THEN CAST(CAST(CAST((c.commit_ts % 1000000) + 0.26 AS DOUBLE) AS DECIMAL(10,1)) AS VARCHAR)
       |  END AS c_str,
       |  CASE WHEN c.commit_ts <= b.mid THEN 0 ELSE b.mid END AS schema_version
       |FROM c, b""".stripMargin

  /** Oracle-checked MYSQL-NATIVE TYPE DOMAIN on the wire (the r13-verdict
    * robustness gap under the hash gate): the midpoint DDLs add columns
    * spelled the way real TiDB traffic spells them — `VARCHAR(32)`,
    * `DATETIME(3)`, `ENUM('red','green','blue') DEFAULT 'red'`, `YEAR`
    * (ref: drainer/translator/kafka.go:227-294 maps exactly this domain;
    * tests/dailytest/case.go:97-146 exercises it) — so the grammar must
    * map each to the Spark type holding its values, capture the ENUM's
    * value dictionary AND its origin default, and decode on. The decode
    * runs with `fillOriginDefaults = true`, so pre-barrier rows read the
    * enum's default from the decode output (the reference's decode-time
    * T7 equivalence point; `t6_option_tails` keeps the sink-side-backfill
    * mode under the same gate) — the NOT NULL no-default NATIONAL VARCHAR
    * reads the zero-value '', the NOT NULL no-default TIME its
    * NATIVE-keyed zero '00:00:00' (both map to STRING on the wire; tidb
    * table.GetZeroValue tells them apart), and the BIT column its
    * HEX-literal default's numeric value (translator.go:215-227) — and
    * the output's `e_ord`
    * column maps the enum text through the tracked dictionary to the
    * reference's numeric representation (mysql.go:266-269). The ADD DDLs
    * share one commit ts, the legal TiDB shape for one ALTER statement's
    * jobs; a RENAME TABLE at the wire's max ts pins the fills surviving a
    * same-batch table rename under the oracle hash (every row emits under
    * the old key, at or below the rename barrier). */
  def mysqlTypesQuery(spark: SparkSession, dir: String): DataFrame = {
    val (wireDir, outDir, ckpt) = stageWire(spark, dir, "myty") {
      (changes, maxTs) =>
      val mid = maxTs / 2
      val secs = pmod(col("commit_ts"), lit(86400L))
      val hhmmss = concat(
        lpad((secs / 3600).cast("long").cast("string"), 2, "0"), lit(":"),
        lpad((pmod(secs, lit(3600L)) / 60).cast("long").cast("string"), 2, "0"),
        lit(":"), lpad(pmod(secs, lit(60L)).cast("string"), 2, "0"))
      val enumVal = element_at(
        typedLit(Seq("red", "green", "blue")), (pmod(col("pk"), lit(3L)) + 1).cast("int"))
      // SET('a','b','c') text printed the way MySQL prints it: members in
      // declaration order, empty set = '' — the mask below must recover
      // exactly pk % 8 from this text through the TRACKED dictionary
      val setBits = pmod(col("pk"), lit(8L))
      val setTxt = concat_ws(",",
        when(setBits.bitwiseAND(lit(1L)) > 0, "a"),
        when(setBits.bitwiseAND(lit(2L)) > 0, "b"),
        when(setBits.bitwiseAND(lit(4L)) > 0, "c"))
      val dateTxt = concat(lit("2026-03-"),
        lpad((pmod(col("pk"), lit(28L)) + 1).cast("string"), 2, "0"))
      val payload = (pmod(col("commit_ts"), lit(1000000L)).cast("double") + 0.26)
        .cast("string")
      val dml = wireDmlRows(changes, lit("t"),
        concat(lit("{\"k\": "), payload,
          when(col("commit_ts") > mid, concat(
            lit(", \"v\": \"s"), col("pk").cast("string"), lit("\""),
            lit(", \"bt\": "), pmod(col("pk"), lit(256L)).cast("string"),
            lit(", \"ct\": \"2026-02-01T"), hhmmss, lit("\""),
            lit(", \"d\": \"2026-01-01T"), hhmmss, lit("\""),
            lit(", \"dt\": \""), dateTxt, lit("\""),
            lit(", \"e\": \""), enumVal, lit("\""),
            lit(", \"st\": \""), setTxt, lit("\""),
            lit(", \"tm\": \""), hhmmss, lit("\""),
            lit(", \"y\": "), (pmod(col("pk"), lit(30L)) + 1990).cast("string")))
            .otherwise(lit("")),
          lit("}")))
      def ddlRow(sql: String, ts: Long = mid) = wireDdlRow(spark, ts, sql)
      dml
        // NATIONAL VARCHAR exercises a TWO-TOKEN native spelling on the
        // wire path (the map's NATIONAL-prefix fold), DATE the untouched
        // pass-through, SET the tracked-dictionary bitmask below, BIT a
        // HEX-literal default read as its unsigned numeric value
        // (mysql.go:270-276); the end-of-wire RENAME TABLE pins the fill
        // surviving a same-batch rename — every frame sits at or below
        // the rename barrier, so all rows emit under the OLD key and the
        // pre-barrier fills must ride with them
        .unionByName(ddlRow(
          "ALTER TABLE app.t ADD COLUMN v NATIONAL VARCHAR(32) NOT NULL"))
        .unionByName(ddlRow(
          "ALTER TABLE app.t ADD COLUMN bt BIT(8) NOT NULL DEFAULT 0x1F"))
        // the ONE expression default the fill evaluates: TiDB pins
        // OriginDefaultValue at DDL execution time = this frame's
        // commit-ts (mid), so pre-add rows read mid as a timestamp
        .unionByName(ddlRow(
          "ALTER TABLE app.t ADD COLUMN ct TIMESTAMP DEFAULT CURRENT_TIMESTAMP"))
        .unionByName(ddlRow("ALTER TABLE app.t ADD COLUMN d DATETIME(3)"))
        .unionByName(ddlRow("ALTER TABLE app.t ADD COLUMN dt DATE"))
        .unionByName(ddlRow(
          "ALTER TABLE app.t ADD COLUMN e ENUM('red','green','blue') DEFAULT 'red'"))
        .unionByName(ddlRow("ALTER TABLE app.t ADD COLUMN st SET('a','b','c')"))
        .unionByName(ddlRow("ALTER TABLE app.t ADD COLUMN tm TIME NOT NULL"))
        .unionByName(ddlRow("ALTER TABLE app.t ADD COLUMN y YEAR"))
        .unionByName(ddlRow("RENAME TABLE app.t TO app.t2", ts = maxTs))
    }
    val tracker = new SchemaTracker()
    tracker.createTable("app", "t", Seq("k DOUBLE"), version = 0)
    val q = ddlDrivenDecodeTables(PbBinlogFile.readStream(spark, wireDir),
      tracker, outDir, ckpt, "app", col("event_type"), writeDecoded(outDir),
      fillOriginDefaults = true)
    drainDecode(q, spark, outDir)
    // same-ts DDLs apply in statement-text order (the walk's tie rule), so
    // the columns append bt, d, dt, e, st, tm, v, y — and the tracked history
    // lives under the RENAMED name (T5: same history, new key)
    require(tracker.current("app", "t").isEmpty,
      "the rename must move the tracked history off the old name")
    require(tracker.current("app", "t2").get.columns == Vector("k DOUBLE",
      "bt BIGINT NOT NULL", "ct TIMESTAMP", "d TIMESTAMP", "dt DATE",
      "e STRING", "st STRING", "tm STRING NOT NULL", "v STRING NOT NULL",
      "y INT"),
      s"unexpected mapped defs: ${tracker.current("app", "t2").get.columns}")
    require(tracker.dictionary("app", "t2", "e")
      .contains(Vector("red", "green", "blue")),
      s"enum dictionary not tracked: ${tracker.dictionary("app", "t2", "e")}")
    require(tracker.dictionary("app", "t2", "st")
      .contains(Vector("a", "b", "c")),
      s"set dictionary not tracked: ${tracker.dictionary("app", "t2", "st")}")
    require(tracker.originDefault("app", "t2", "e").contains("'red'"),
      s"enum origin default not tracked: ${tracker.originDefault("app", "t2", "e")}")
    require(tracker.originDefault("app", "t2", "bt").contains("0x1F"),
      s"hex origin default not tracked: ${tracker.originDefault("app", "t2", "bt")}")
    require(tracker.originDefault("app", "t2", "ct").contains("CURRENT_TIMESTAMP"),
      s"expression origin default not tracked: ${tracker.originDefault("app", "t2", "ct")}")
    // M9 numeric representations through the TRACKED dictionaries (driver-
    // local constant map literals in the plan): enum text → 1-based
    // ordinal, set text → member bitmask (mysql.go:266-269)
    val ordinals = tracker.dictionary("app", "t2", "e").get.zipWithIndex
      .map { case (v, i) => v -> (i + 1).toLong }.toMap
    val setDict = tracker.dictionary("app", "t2", "st").get
    spark.read.parquet(s"$outDir/data")
      .select(col("commit_ts"), col("k_str"), col("bt_str"), col("v_str"),
        col("ct_str"), col("d_str"), col("dt_str"),
        col("e_str"), element_at(typedLit(ordinals), col("e_str")).as("e_ord"),
        col("st_str"),
        graft.ops.TypeDomain.setMask(setDict, col("st_str")).as("st_mask"),
        col("tm_str"), col("y_str"), col("schema_version"))
  }

  def mysqlTypesSql: String =
    s"""WITH c AS (${graft.ops.Cdc.changesCte}),
       |b AS (SELECT max(commit_ts)//2 AS mid FROM c)
       |SELECT c.commit_ts,
       |  CAST((c.commit_ts % 1000000) + 0.26 AS VARCHAR) AS k_str,
       |  CASE WHEN c.commit_ts > b.mid
       |       THEN CAST(c.pk % 256 AS VARCHAR) ELSE '31' END AS bt_str,
       |  CASE WHEN c.commit_ts > b.mid
       |       THEN 's' || CAST(c.pk AS VARCHAR) ELSE '' END AS v_str,
       |  CASE WHEN c.commit_ts > b.mid THEN '2026-02-01 '
       |    || lpad(CAST((c.commit_ts % 86400) // 3600 AS VARCHAR), 2, '0')
       |    || ':'
       |    || lpad(CAST(((c.commit_ts % 86400) % 3600) // 60 AS VARCHAR), 2, '0')
       |    || ':'
       |    || lpad(CAST((c.commit_ts % 86400) % 60 AS VARCHAR), 2, '0')
       |  ELSE strftime(epoch_ms(b.mid * 1000), '%Y-%m-%d %H:%M:%S')
       |  END AS ct_str,
       |  CASE WHEN c.commit_ts > b.mid THEN '2026-01-01 '
       |    || lpad(CAST((c.commit_ts % 86400) // 3600 AS VARCHAR), 2, '0')
       |    || ':'
       |    || lpad(CAST(((c.commit_ts % 86400) % 3600) // 60 AS VARCHAR), 2, '0')
       |    || ':'
       |    || lpad(CAST((c.commit_ts % 86400) % 60 AS VARCHAR), 2, '0')
       |  END AS d_str,
       |  CASE WHEN c.commit_ts > b.mid
       |       THEN '2026-03-' || lpad(CAST(c.pk % 28 + 1 AS VARCHAR), 2, '0')
       |  END AS dt_str,
       |  CASE WHEN c.commit_ts <= b.mid THEN 'red'
       |       ELSE CASE c.pk % 3 WHEN 0 THEN 'red' WHEN 1 THEN 'green'
       |            ELSE 'blue' END END AS e_str,
       |  CASE WHEN c.commit_ts <= b.mid THEN CAST(1 AS BIGINT)
       |       ELSE c.pk % 3 + 1 END AS e_ord,
       |  CASE WHEN c.commit_ts > b.mid THEN concat_ws(',',
       |    CASE WHEN (c.pk % 8) & 1 > 0 THEN 'a' END,
       |    CASE WHEN (c.pk % 8) & 2 > 0 THEN 'b' END,
       |    CASE WHEN (c.pk % 8) & 4 > 0 THEN 'c' END) END AS st_str,
       |  CASE WHEN c.commit_ts > b.mid THEN c.pk % 8 END AS st_mask,
       |  CASE WHEN c.commit_ts > b.mid THEN
       |    lpad(CAST((c.commit_ts % 86400) // 3600 AS VARCHAR), 2, '0')
       |    || ':'
       |    || lpad(CAST(((c.commit_ts % 86400) % 3600) // 60 AS VARCHAR), 2, '0')
       |    || ':'
       |    || lpad(CAST((c.commit_ts % 86400) % 60 AS VARCHAR), 2, '0')
       |  ELSE '00:00:00' END AS tm_str,
       |  CASE WHEN c.commit_ts > b.mid
       |       THEN CAST(1990 + c.pk % 30 AS VARCHAR) END AS y_str,
       |  CASE WHEN c.commit_ts <= b.mid THEN 0 ELSE b.mid END AS schema_version
       |FROM c, b""".stripMargin
}
