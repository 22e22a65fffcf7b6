package graft

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LWindow}

/** Plan-shape regression guards: properties the oracle compare cannot see
  * (it only checks values) but that decide whether a query survives a
  * 100× scale-up. Each guard encodes a class of regression that actually
  * happened (or was flagged) in an earlier round. */
class PlanSpec extends SparkSpec {

  /** Queries allowed an unpartitioned window because the frame under it is
    * bounded BY CONSTRUCTION (never corpus-sized). These are written as
    * `partitionBy(lit(0))` in the source — deliberate single-task windows —
    * and Catalyst folds the constant key away, so they surface here as
    * unpartitioned. Keep this list justified:
    *  - hist_quantiles: windows over the MERGED histogram sketch
    *    (≤ range/width buckets) and over the single located bucket's rows;
    *  - sketch_cm_topk / text_bm25: rank windows over the ≤ k survivors of
    *    a distributed TakeOrdered LIMIT;
    *  - sketch_kmv: the '*all*' union set, ≤ k rows per language k-set. */
  private val boundedWindowAllowed: Set[String] =
    Set("hist_quantiles", "sketch_cm_topk", "sketch_kmv", "text_bm25")

  test("no query plans an unpartitioned window over an unbounded frame") {
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.optimizedPlan
      val bad = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      if (bad.nonEmpty && !boundedWindowAllowed(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned Window (the r3 hist_quantiles scale-killer class) in: " +
        offenders.mkString(", "))
  }

  test("no query plans a cartesian product or a data-sized nested-loop join") {
    // the other oracle-invisible scale-killer class: a join that degrades
    // to CartesianProduct or a data×data BroadcastNestedLoopJoin multiplies
    // partition counts at 100 TB no matter how green the values are.
    // BNLJ is legitimate ONLY when its broadcast side is row-bounded by
    // construction — a grouping-free aggregate (≤1 row, the scalar-subquery
    // threshold pattern), a LIMIT, or a constant local relation. AQE off so
    // the physical tree is inspectable (no AdaptiveSparkPlanExec wrapper).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    // sound, not any-descendant: walk from the ROOT through nodes that
    // cannot increase row counts — a bounded node buried under a join
    // would not make the join's output bounded, so only a bounded root
    // (through pass-through wrappers) counts
    def bounded(p: SparkPlan): Boolean = p match {
      case a: HashAggregateExec       => a.groupingExpressions.isEmpty
      case a: ObjectHashAggregateExec => a.groupingExpressions.isEmpty
      case a: SortAggregateExec       => a.groupingExpressions.isEmpty
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      case _: org.apache.spark.sql.execution.LocalTableScanExec => true
      // a reused broadcast is bounded iff the exchange it references is
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        bounded(r.child)
      case _: org.apache.spark.sql.execution.ProjectExec
         | _: org.apache.spark.sql.execution.FilterExec
         | _: org.apache.spark.sql.execution.SortExec
         | _: org.apache.spark.sql.execution.CoalesceExec
         | _: org.apache.spark.sql.execution.WholeStageCodegenExec
         | _: org.apache.spark.sql.execution.InputAdapter
         | _: org.apache.spark.sql.execution.exchange.Exchange =>
        bounded(p.children.head)
      case _ => false
    }
    // Broadcast sides bounded by CONSTRUCTION, invisible to plan shape —
    // keep each entry justified:
    //  - ann_topk_cosine: query side = `vec_id < nQueries` (literal 10);
    //  - ann_ivf_topk / ann_ivf_trained: centroid set, grouped on a cell id
    //    whose domain is the constant IvfCells — ≤ k rows at any corpus
    //    size (Similarity.scala assignment joins);
    //  - hist_quantiles: merged histogram (≤ range/width buckets) and the
    //    3-row quantile-target frame (Sketches.histQuantiles).
    val constructionBounded: Set[String] =
      Set("ann_topk_cosine", "ann_ivf_topk", "ann_ivf_trained", "hist_quantiles")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val plan = fn(s2, sf).queryExecution.executedPlan
      val cart = plan.collect { case c: CartesianProductExec => c }
      val badBnlj = if (constructionBounded(name)) Nil else plan.collect {
        case j: BroadcastNestedLoopJoinExec => j
      }.filterNot { j =>
        val build = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft  => j.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        }
        bounded(build)
      }
      if (cart.nonEmpty || badBnlj.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"cartesian/data-sized nested-loop join in: ${offenders.mkString(", ")}")
  }

  test("tight-predicate scans push their filters into parquet") {
    val p = SparkEntry.queries("q6_revenue_forecast")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
      "Q6's range predicates must reach the parquet reader")
  }

  test("s6 ts range scan pushes both timestamp bounds into parquet") {
    // ref pruning rule: reparo/file.go:47-109 — select files by commitTs
    // range before decoding. Here that is parquet row-group min/max pruning,
    // which only happens if BOTH bounds reach the scan as PushedFilters
    // (a timestamp[us] column takes timestamp-literal pushdown by default).
    val p = SparkEntry.queries("s6_ts_range_scan")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(ts") && p.contains("LessThan(ts"),
      "s6 ts bounds must reach the parquet reader as pushed filters")
  }

  test("pb binlog v2 scan: pushed commit-ts bounds prune segment files (S6 DSv2)") {
    // ref pruning rule: reparo/file.go:47-109 — the commit-ts range selects
    // FILES before a byte is read. Through the DSv2 source that decision is
    // part of the PLAN: the oracle queries' range predicates must reach the
    // scan as pushed bounds, and the scan must select a strict subset of
    // the staged segments (s6_wire_scan stages 4 and scans [20%, 60%]).
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.PbBinlogScan
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")

    val wire = SparkEntry.queries("s6_wire_scan")(s2, sf)
    val wirePlan = wire.queryExecution.executedPlan
    val wireScans = wirePlan.collect { case b: BatchScanExec => b.scan }
      .collect { case s: PbBinlogScan => s }
    assert(wireScans.nonEmpty, "s6_wire_scan must read through the pbbinlog v2 source")
    val ws = wireScans.head
    assert(ws.tsLo > 0L && ws.tsHi < Long.MaxValue,
      s"both range bounds must push into the scan, got [${ws.tsLo}, ${ws.tsHi}]")
    val (sel, total) = ws.fileSelection
    assert(total == 4 && sel.length >= 1 && sel.length < total,
      s"ts range must prune to a strict segment subset, selected ${sel.length}/$total")
    // the pruning decision is visible in explain, and the residual range
    // filter stays in the plan for exactness over the boundary segment
    val txt = wirePlan.toString
    assert(txt.contains("PushedTsRange=[") && txt.contains("SelectedFiles="))
    assert(wirePlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f }.nonEmpty)
    // column pruning reaches the reader: the query projects 7 of 12 fields
    assert(ws.readSchema().fieldNames.length == 7,
      s"scan must prune to the projected envelope, got ${ws.readSchema().fieldNames.mkString(",")}")

    val rec = SparkEntry.queries("s6_recover_scan")(s2, sf)
    val recScans = rec.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan }.collect { case s: PbBinlogScan => s }
    assert(recScans.nonEmpty && recScans.head.recover,
      "s6_recover_scan must run the v2 source in salvage mode")
  }

  test("pb binlog v2 scan: degenerate pushed bounds keep pruning (no open-range sentinel)") {
    // `commit_ts <= 0` used to collapse onto the 0-as-open-range sentinel
    // and a strict bound at a Long extreme used to wrap — both silently
    // degraded to a full-directory scan (correct via residuals, but reading
    // everything); bounds now thread through inclusively with saturation
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.{PbBinlogFile, PbBinlogScan}
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val dir = graft.util.Scratch.dir("graft_pbdegen")
    val changes = graft.ops.Cdc.changes(s2, sf)
      .filter(org.apache.spark.sql.functions.col("commit_ts") < 1000)
    PbBinlogFile.write(changes, dir, nFiles = 2)
    def scanOf(df: org.apache.spark.sql.DataFrame): Option[PbBinlogScan] =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
        .collectFirst { case s: PbBinlogScan => s }
    val le0 = s2.read.format("pbbinlog").load(dir)
      .filter(org.apache.spark.sql.functions.col("commit_ts") <= 0)
    assert(le0.count() ==
      changes.filter(org.apache.spark.sql.functions.col("commit_ts") <= 0).count())
    val (sel0, total0) = scanOf(le0).get.fileSelection
    assert(sel0.length < total0,
      s"commit_ts <= 0 must prune (got ${sel0.length}/$total0), not disable pruning")
    val gtMax = s2.read.format("pbbinlog").load(dir)
      .filter(org.apache.spark.sql.functions.col("commit_ts") > Long.MaxValue)
    assert(gtMax.count() == 0)
    // the optimizer may fold the impossible predicate away entirely; when
    // the scan survives, the saturated bound must prune every segment
    scanOf(gtMax).foreach(s => assert(s.fileSelection._1.isEmpty,
      "a strict bound at Long.MaxValue must saturate, not wrap"))
  }

  test("pb binlog v2 scan reports pruned-size statistics: a ts-bounded read auto-broadcasts") {
    // without SupportsReportStatistics a DSv2 relation defaults to "huge"
    // and a perfectly broadcastable pruned scan would shuffle both join
    // sides; with the selected segments' byte size reported, Catalyst
    // auto-broadcasts the bounded slice against the fact table — the
    // decision that matters when a 100 TB fact side meets a pruned window
    // of the change log.
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import graft.sources.{PbBinlogFile, PbBinlogScan}
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val dir = graft.util.Scratch.dir("graft_pbstats")
    val changes = graft.ops.Cdc.changes(s2, sf)
    PbBinlogFile.write(changes, dir, nFiles = 4)
    val maxTs = changes.agg(org.apache.spark.sql.functions.max("commit_ts"))
      .head.getLong(0)
    val slice = PbBinlogFile.read(s2, dir, maxTs / 2, maxTs * 6 / 10)
      .select("pk", "commit_ts")
    // the scan relation's stats are the PRUNED segments' bytes: nonzero,
    // and strictly below the whole directory (the pruning is in the stats)
    val dirBytes = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("binlog-")).map(_.length()).sum
    val leafBytes = slice.queryExecution.optimizedPlan.collectLeaves()
      .head.stats.sizeInBytes.toLong
    assert(leafBytes > 0 && leafBytes < dirBytes,
      s"pruned stats must shrink below the directory, got $leafBytes/$dirBytes")
    // test-scale data is uniformly tiny, so build the 100-TB asymmetry
    // explicitly: threshold above the pruned slice, fact side above the
    // threshold — then ONLY the reported statistics can make the slice the
    // broadcast build side
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", (leafBytes * 2).toString)
    val one = graft.model.Tables.events(s2, sf)
    val fact = Seq.fill(100)(one).reduce(_ unionByName _)
    val factBytes = fact.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(factBytes > leafBytes * 2,
      s"precondition: fact side ($factBytes) must exceed the threshold (${leafBytes * 2})")
    val joined = fact.join(slice, fact("user_id") === slice("pk"))
    val bhj = joined.queryExecution.executedPlan.collect {
      case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, "pruned binlog scan must broadcast against the fact side")
    val build = bhj.head.buildSide match {
      case BuildLeft  => bhj.head.left
      case BuildRight => bhj.head.right
    }
    assert(build.collect { case b: BatchScanExec => b.scan }
      .collect { case s: PbBinlogScan => s }.nonEmpty,
      "the BROADCAST side must be the binlog scan, not the fact table")
  }

  test("global top-k is a distributed take, not a global sort") {
    val p = SparkEntry.queries("q3_shipping_priority")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      "ORDER BY + LIMIT must plan as TakeOrderedAndProject")
  }

  test("hinted dimension joins broadcast even with size-based auto-broadcast off") {
    // q5 DECLARES broadcast on the region filter and the nation chain
    // (Relational.localSupplierVolume); customer/supplier/orders ride the
    // planner because at 100 TB they are not broadcastable. Disabling
    // auto-broadcast simulates that scale: the hinted joins must STILL
    // build broadcast sides (the shape we ship), while the fact joins are
    // free to sort-merge — asserting no-SMJ would pin a small-data
    // accident of the size-based threshold, not the declared plan.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val p = SparkEntry.queries("q5_local_supplier")(s2, sf)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "the hinted region and nation joins must broadcast without size help")
  }

  test("the PQ codebook is driver-local model state, not a cluster lineage") {
    // trainPqCodebook localizes each round's codebook (PqSubs × PqCodes
    // rows — constant at any corpus scale) to a LocalRelation, so the
    // serving plan's broadcasts build from driver memory instead of
    // launching a checkpoint job per training round. A revert to
    // localCheckpoint would resurface here as a LogicalRDD leaf.
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val plan = graft.sim.Similarity.pqTopK(spark, sf)
      .queryExecution.optimizedPlan
    val locals = plan.collect { case l: LocalRelation => l }
    assert(locals.nonEmpty,
      "pq codebook must reach the serving plan as a LocalRelation")
  }

  /** JSON parses bound in an analyzed plan. */
  private def jsonParses(plan: LogicalPlan): Int = {
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    plan.collect { case p =>
      p.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum
    }.sum
  }

  private def jsonParses(df: org.apache.spark.sql.DataFrame): Int =
    jsonParses(df.queryExecution.analyzed)

  /** Leaves of `plan` that read the pb-binlog source: its streaming scan
    * relation, or the `LogicalRDD` a `foreachBatch` micro-batch arrives
    * as, whose RDD lineage reaches pb-binlog input partitions. */
  private def wireLeaves(plan: LogicalPlan): Int = {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceRDDPartition, StreamingDataSourceV2ScanRelation}
    import graft.sources.{PbBinlogInputPartition, PbBinlogTable}
    def readsWire(rdd: RDD[_]): Boolean =
      rdd.partitions.exists {
        case p: DataSourceRDDPartition =>
          p.inputPartitions.exists(_.isInstanceOf[PbBinlogInputPartition])
        case _ => false
      } || rdd.dependencies.exists(d => readsWire(d.rdd))
    plan.collectLeaves().count {
      case r: StreamingDataSourceV2ScanRelation => r.relation.table.isInstanceOf[PbBinlogTable]
      case r: LogicalRDD => readsWire(r.rdd)
      case _ => false
    }
  }

  test("the streaming decode binds one JSON parse per non-empty leg, none per field") {
    // from_json is CodegenFallback: a parse per output field re-parses the
    // payload once per column (the r22 single-bind fix), and a leg whose
    // table lost its last column reads no field at all. Table t: (a, b)
    // until 20, (b) until 40, () after — two legs with wire columns, one
    // without. Table u: (x, y) throughout — one leg with two fields. The
    // parses are counted in the decode's own per-table write plans; the
    // emitted frames are scans of what was written, so they parse nothing
    // and no longer reach back to the wire source.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.sources.PbBinlogFile
    import graft.streaming.{CdcStream, SchemaTracker}
    val wireDir = graft.util.Scratch.dir("graft_parse_wire")
    val outDir = graft.util.Scratch.dir("graft_parse_out")
    val ckpt = graft.util.Scratch.dir("graft_parse_ckpt")
    PbBinlogFile.write(Seq(
      wireDml("t", Seq(10L), lit("""{"a": 1, "b": 2}""")),
      wireDdl(20L, "ALTER TABLE app.t DROP COLUMN a"),
      wireDml("t", Seq(30L), lit("""{"b": 3}""")),
      wireDdl(40L, "ALTER TABLE app.t DROP COLUMN b"),
      wireDml("t", Seq(50L), lit("{}")),
      wireDml("u", Seq(12L, 52L), lit("""{"x": 1, "y": 2}"""))
    ).reduce(_ unionByName _), wireDir, nFiles = 1)
    val tracker = new SchemaTracker()
    tracker.createTable("app", "t", Seq("a BIGINT", "b BIGINT"), version = 0)
    tracker.createTable("app", "u", Seq("x BIGINT", "y BIGINT"), version = 0)
    // (parses, wire leaves) per table, from the write of its data dir
    val TableDir = ".*/data/batch=\\d+/table=(\\w+)".r
    val writes = new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed match {
          case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString match {
            case p @ TableDir(t) if p.contains(outDir) =>
              writes.put(t, (jsonParses(c), wireLeaves(c))); ()
            case _ => ()
          }
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    var emitted = Map.empty[String, (Int, Int)]
    spark.listenerManager.register(listener)
    try {
      val q = CdcStream.ddlDrivenDecodeTables(
        PbBinlogFile.readStream(spark, wireDir), tracker, outDir, ckpt,
        "app", col("event_type"),
        emit = Some { case (_, frames, _) =>
          emitted ++= frames.map { case (t, (_, df)) =>
            t -> ((jsonParses(df), wireLeaves(df.queryExecution.analyzed)))
          }
        })
      try q.processAllAvailable() finally q.stop()
      // listener callbacks arrive on the listener bus, after the writes
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (writes.size < 2 && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val written = writes.asScala.toMap
    assert(tracker.current("app", "t").get.columns.isEmpty)
    assert(written.view.mapValues(_._1).toMap == Map("t" -> 2, "u" -> 1))
    // the detector sees the wire source in the write plans it must not
    // find in the emitted frames
    assert(written.values.forall(_._2 > 0), written)
    assert(emitted == Map("t" -> ((0, 0)), "u" -> ((0, 0))))
  }

  test("typedDecode binds its JSON parse once") {
    assert(jsonParses(graft.ops.Translators.typedDecode(spark, sf)) == 1)
  }
}
