package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.text.Lex

/** Approximate-nearest-neighbor search over the embedding column.
  *
  * Two paths:
  *  - brute-force cosine top-k — the exactness baseline. Quadratic in
  *    corpus size but embarrassingly parallel: the query side is tiny and
  *    broadcast, the corpus side streams through codegen'd array math.
  *  - sign-LSH bucketing — the 100 TB path. Each vector is reduced to an
  *    8-bit bucket of hyperplane signs; near neighbors collide with high
  *    probability, so candidate generation becomes an equi-join on the
  *    bucket id (one shuffle, no pairwise blowup), refined by exact cosine.
  *
  * All float math is promoted to double *inside* the fold (parquet floats →
  * identical doubles in both engines) and accumulated in array order, so
  * Spark and DuckDB produce bit-identical cosines.
  */
object Similarity {

  /** Sequential-order dot product of two array<float> columns in double —
    * the native codegen'd [[graft.functions.DotProd]] loop (the declarative
    * `aggregate(zip_with(...))` twin is interpreted per row; FunctionsSpec
    * pins their equality). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dot_prod(a, b)

  /** The NULL-on-length-mismatch guard matches the engine side exactly:
    * `DotProd` (and the declarative `zip_with` fold, where the pad null
    * poisons the sum) returns NULL for ragged vectors, while a bare
    * `list_sum` over `list_zip` would SKIP the pad nulls and return a
    * silently truncated dot — the one input class where the two engines
    * would otherwise diverge. Null ELEMENTS inside an equal-length pair
    * are outside this twin's parity contract (DuckDB's list_sum skips the
    * null product where DotProd returns NULL, r19) — the embedding corpus
    * is dense, and the Spark side alone is the one pinned against the
    * declarative fold on such inputs (FunctionsSpec). */
  def dotSql(a: String, b: String): String =
    s"CASE WHEN len($a) = len($b) THEN " +
      s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) END"

  def norm(a: Column): Column = sqrt(dot(a, a))
  def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** Cosine division with the ZERO-NORM guard: a zero vector has no
    * direction, so its cosine is NULL — never NaN, which Spark orders
    * ABOVE every real value (an unguarded zero vector would rank #1 for
    * every query and pass every >= threshold) and DuckDB compares as
    * greater too. NULL ranks last and fails thresholds in BOTH engines;
    * the SQL twin divides by `nullif(denom, 0)`. */
  private def safeDiv(num: Column, den: Column): Column =
    when(den === 0, lit(null)).otherwise(num / den)

  /** Brute-force cosine top-5 neighbors for the first 10 vectors. Query side
    * is broadcast; ranking uses (rounded cosine, id) so both engines select
    * identical rows. */
  def annTopK(spark: SparkSession, dir: String, k: Int = 5, nQueries: Int = 10): DataFrame = {
    // spread the corpus side before the broadcast-join × dot-product pass
    // (Tables.spread: no-op once the scan has splits ≥ cores)
    val e = Tables.spread(Tables.embeddings(spark, dir), col("vec_id"))
      .withColumn("nrm", norm(col("embedding")))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    val pairs = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(safeDiv(dot(col("qe"), col("embedding")),
        col("qn") * col("nrm")), 4))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cos")
  }

  def annTopKSql(k: Int = 5, nQueries: Int = 10): String =
    s"""WITH e AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM e WHERE vec_id < $nQueries),
       |pairs AS (
       |  SELECT q.query_id, e.vec_id,
       |    round(${dotSql("q.qe", "e.embedding")} / nullif(q.qn * e.nrm, 0), 4) AS cos
       |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id)
       |SELECT query_id, rank, vec_id, cos FROM (
       |  SELECT query_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM pairs)
       |WHERE rank <= $k""".stripMargin

  /** Sign-LSH bucket id per vector: 8 integer hyperplanes (shared literals
    * from [[Lex.lshWeights]]), bucket = Σ (dot>0) << plane. Pure map — no
    * shuffle; bucketing 100 TB of vectors is a single scan. */
  def lshBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        graft.functions.VectorExprs.plane_key(col("embedding"), Lex.lshWeights)
          .as("bucket"))

  def lshBucketsSql: String = {
    val bucket = (0 until Lex.LshPlanes).map { p =>
      val w = Lex.lshWeights(p).map(v => s"$v.0").mkString("[", ", ", "]")
      s"CASE WHEN ${dotSql("embedding", w)} > 0 THEN ${1L << p} ELSE 0 END"
    }.mkString("\n  + ")
    s"""SELECT vec_id, label,
       |  $bucket AS bucket
       |FROM embeddings""".stripMargin
  }

  /** LSH-refined near-dup pairs — the scale path for embedding near-dup.
    *
    * [[Lex.NearDupTables]] (6) independent hash tables of
    * [[Lex.NearDupPlanes]] (16) hyperplane signs each: 16-bit bucket keys
    * keep expected occupancy at corpus/2^16 per table (a single 8-plane
    * table = 256 buckets makes every bucket ≈ corpus/256 and the
    * within-bucket self-join quadratic), while the union over 6 tables
    * preserves recall that one narrow table would lose. Buckets above
    * [[Lex.AnnBucketCap]] members are dropped before the self-join
    * (broadcast anti-join against the tiny over-full census), bounding
    * candidate volume at tables × occupied-buckets × cap²/2 independent of
    * corpus size. Candidates are verified by exact cosine ≥ threshold;
    * duplicates across tables collapse in the final distinct, so fan-out
    * per true pair is at most the table count. */
  def lshNearDup(spark: SparkSession, dir: String, threshold: Double = 0.3): DataFrame = {
    val tableKeys = (0 until Lex.NearDupTables).map { t =>
      val key = graft.functions.VectorExprs.plane_key(col("embedding"),
        (0 until Lex.NearDupPlanes).map(p => Lex.nearDupWeights(t * Lex.NearDupPlanes + p)))
      struct(lit(t).as("tbl"), key.as("bkt"))
    }
    // the 96 hyperplane dot products run in 6 native single-pass loops
    // (one per table, codegen'd PlaneKey), computed exactly once per vector
    // (one scan), then materialized: the keyed frame feeds the occupancy
    // census and both self-join sides
    val keyed = Tables.spread(Tables.embeddings(spark, dir), col("vec_id"))
      .withColumn("nrm", norm(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(array(tableKeys: _*)).as("tb"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
      .localCheckpoint(true)
    val hot = keyed.groupBy("tbl", "bkt").agg(count(lit(1)).as("occ"))
      .filter(col("occ") > Lex.AnnBucketCap)
    val ok = keyed.join(broadcast(hot.select("tbl", "bkt")), Seq("tbl", "bkt"), "left_anti")
    ok.as("a").join(ok.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        round(safeDiv(dot(col("a.embedding"), col("b.embedding")),
          col("a.nrm") * col("b.nrm")), 4))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos"))
      .distinct()
  }

  /** Fixed-point quantization scale for trained IVF: embeddings (|v| < 1)
    * become `round(v · 2¹⁰)` longs, so every Lloyd sum is exact integer
    * arithmetic and the trained centroids are bit-identical across engines
    * — which is what lets `ann_ivf_trained` carry a real DuckDB oracle
    * instead of a rows-only check. 2¹⁰ keeps quantization error (≤ 2⁻¹¹
    * per element) far below the cosine gaps that decide assignments. */
  val FxScale = 1024
  /** Offset making mean numerators non-negative before integer division:
    * Spark's `div` truncates toward zero while DuckDB's `//` floors, so
    * they only agree on non-negative operands (same trick as
    * [[graft.ops.Relational.minCostSupplier]]'s argmin key). */
  val FxOff = 1048576L

  /** Quantized embedding column: array<long> of `round(v · FxScale)`. */
  private def fx(c: Column): Column =
    transform(c, v => round(v.cast("double") * FxScale).cast("long"))

  private def fxSql(c: String): String =
    s"list_transform($c, v -> CAST(round(CAST(v AS DOUBLE) * $FxScale) AS BIGINT))"

  /** Exact integer dot product of two array<long> columns, folded in array
    * order (overflow-free: |q| ≤ 2¹⁰ ⇒ |dot| ≤ dim · 2²⁰). */
  private def ldot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  private def ldotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2]))"

  private def lnorm(a: Column): Column = sqrt(ldot(a, a).cast("double"))
  private def lnormSql(a: String): String =
    s"sqrt(CAST(${ldotSql(a, a)} AS DOUBLE))"

  /** Lloyd k-means training for IVF cells, expressed as DataFrame rounds
    * over FIXED-POINT vectors: assignment = broadcast-centroid join reduced
    * by a `max_by` hash aggregate (the same narrow argmax shape as
    * [[ivfTopK]], tie-broken toward the lowest cent_id); update =
    * per-dimension integer mean via `posexplode` + one (cent_id, pos)
    * aggregate — `round(Σq/n)` computed entirely in integer arithmetic
    * (`(2(Σq + OFF·n) + n) div 2n − OFF`) so the new centroid is again an
    * exact long vector — re-assembled with a sorted collect over ≤ k×dim
    * rows. Per round that is one broadcast join + two shuffles of narrow
    * rows — no driver-side data movement beyond the k×dim centroid collect
    * the broadcast itself performs, so the same plan trains on 100 TB (at
    * that scale one would train on a deterministic sample; the round shape
    * is unchanged). Initialization is the deterministic id-prefix subset;
    * with integer vectors every round is bit-reproducible, cross-engine
    * included (cosines divide exact-integer dots by IEEE sqrt/mul/div,
    * which are correctly rounded in both engines). Assignment uses cosine
    * (the serving metric), i.e. spherical k-means on the quantized grid.
    * Empty cells keep their previous centroid.
    * Returns (cent_id, qce: array<long>). */
  def trainCentroids(spark: SparkSession, dir: String, nCells: Int = 8,
      iters: Int = 3): DataFrame = {
    val e = Tables.spread(Tables.embeddings(spark, dir), col("vec_id"))
      .select(col("vec_id"), fx(col("embedding")).as("qe"))
      .withColumn("qn", lnorm(col("qe")))
    var cents = e.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cent_id"), col("qe").as("qce"))
      .localCheckpoint(true)
    (0 until iters).foreach { _ =>
      val cn = cents.withColumn("cn", lnorm(col("qce")))
      val assignment = e.join(broadcast(cn))
        .withColumn("ccos", safeDiv(ldot(col("qe"), col("qce")).cast("double"),
          col("qn") * col("cn")))
        .select("vec_id", "cent_id", "ccos")
        .groupBy("vec_id")
        // argmax with deterministic tie-break: quantized cosines CAN tie
        // exactly, so order by (ccos, -cent_id) — highest cosine, then
        // lowest cell id, matching the oracle's ORDER BY ccos DESC, cent_id
        .agg(max_by(col("cent_id"),
          struct(col("ccos").as("c"), (-col("cent_id")).as("t"))).as("cent_id"))
      val means = e.join(assignment, "vec_id")
        .select(col("cent_id"), posexplode(col("qe")).as(Seq("pos", "v")))
        .groupBy("cent_id", "pos")
        .agg(sum("v").as("s"), count(lit(1)).as("n"))
        .withColumn("qm",
          expr(s"((s + $FxOff * n) * 2 + n) div (2 * n) - $FxOff"))
        .groupBy("cent_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("qm")))),
          s => s.getField("qm")).as("qce"))
      // a cell that captured no vectors keeps its previous centroid
      val kept = cents.join(means, Seq("cent_id"), "left_anti")
      cents = means.unionByName(kept).localCheckpoint(true)
    }
    cents
  }

  /** [[ivfTopK]] with fixed-point Lloyd-trained cells instead of the
    * id-prefix stand-in. Oracle-checked: training and serving both run on
    * the quantized grid, so DuckDB reproduces the centroids — and therefore
    * the search result — bit-for-bit (see [[ivfTrainedSql]], which unrolls
    * the same rounds as CTEs). */
  def ivfTopKTrained(spark: SparkSession, dir: String, k: Int = 5,
      nCells: Int = 8, nProbe: Int = 2, iters: Int = 2): DataFrame = {
    val cents = trainCentroids(spark, dir, nCells, iters)
      .withColumn("cn", lnorm(col("qce")))
    val e = Tables.spread(Tables.embeddings(spark, dir), col("vec_id"))
      .select(col("vec_id"), fx(col("embedding")).as("qe"))
      .withColumn("qn", lnorm(col("qe")))
    val assignment = e.join(broadcast(cents))
      .withColumn("ccos", safeDiv(ldot(col("qe"), col("qce")).cast("double"),
        col("qn") * col("cn")))
      .select("vec_id", "cent_id", "ccos")
      .groupBy("vec_id")
      .agg(max_by(col("cent_id"),
        struct(col("ccos").as("c"), (-col("cent_id")).as("t"))).as("cent_id"))
    val assigned = e.join(assignment, "vec_id")
      .select(col("vec_id"), col("cent_id"), col("qe"), col("qn"))
    val q = e.filter(col("vec_id") >= 10 && col("vec_id") < 15)
      .select(col("vec_id").as("query_id"), col("qe").as("qqe"), col("qn").as("qqn"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("qcos").desc, col("cent_id"))
    val probes = q.join(broadcast(cents))
      .withColumn("qcos", safeDiv(ldot(col("qqe"), col("qce")).cast("double"),
        col("qqn") * col("cn")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("cent_id"), col("qqe"), col("qqn"))
    val wRank = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    probes.join(assigned, "cent_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        round(safeDiv(ldot(col("qqe"), col("qe")).cast("double"),
          col("qqn") * col("qn")), 4))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cos")
  }

  /** DuckDB twin of [[ivfTopKTrained]]: the `iters` Lloyd rounds unroll
    * into a CTE chain (a_i → m_i → c_i), every sum exact integer, so the
    * final searched centroids hash-match Spark's. */
  def ivfTrainedSql(k: Int = 5, nCells: Int = 8, nProbe: Int = 2,
      iters: Int = 2): String = {
    val rounds = (1 to iters).map { i =>
      val prev = s"c${i - 1}"
      s"""a$i AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT e.vec_id, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        CAST(${ldotSql("e.qe", "c.qce")} AS DOUBLE) /
         |          nullif(e.qn * ${lnormSql("c.qce")}, 0) DESC, c.cent_id) AS rn
         |    FROM e CROSS JOIN $prev c)
         |  WHERE rn = 1),
         |m$i AS (
         |  SELECT cent_id, list(qm ORDER BY pos) AS qce FROM (
         |    SELECT cent_id, pos,
         |      ((sum(v) + $FxOff * count(*)) * 2 + count(*))
         |        // (2 * count(*)) - $FxOff AS qm
         |    FROM (
         |      SELECT a.cent_id, unnest(range(0, len(e.qe))) AS pos,
         |        unnest(e.qe) AS v
         |      FROM e JOIN a$i a USING (vec_id))
         |    GROUP BY cent_id, pos)
         |  GROUP BY cent_id),
         |c$i AS (
         |  SELECT cent_id, qce FROM m$i
         |  UNION ALL
         |  SELECT cent_id, qce FROM $prev
         |  WHERE cent_id NOT IN (SELECT cent_id FROM m$i)),""".stripMargin
    }.mkString("\n")
    s"""WITH e AS (
       |  SELECT vec_id, ${fxSql("embedding")} AS qe,
       |    ${lnormSql(fxSql("embedding"))} AS qn
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cent_id, qe AS qce FROM e WHERE vec_id < $nCells),
       |$rounds
       |cents AS (
       |  SELECT cent_id, qce, ${lnormSql("qce")} AS cn FROM c$iters),
       |assigned AS (
       |  SELECT vec_id, cent_id, qe, qn FROM (
       |    SELECT e.vec_id, c.cent_id, e.qe, e.qn,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        CAST(${ldotSql("e.qe", "c.qce")} AS DOUBLE) / nullif(e.qn * c.cn, 0)
       |          DESC, c.cent_id) AS rn
       |    FROM e CROSS JOIN cents c)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, qe AS qqe, qn AS qqn FROM e
       |      WHERE vec_id >= 10 AND vec_id < 15),
       |probes AS (
       |  SELECT query_id, cent_id, qqe, qqn FROM (
       |    SELECT q.query_id, c.cent_id, q.qqe, q.qqn,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        CAST(${ldotSql("q.qqe", "c.qce")} AS DOUBLE) / nullif(q.qqn * c.cn, 0)
       |          DESC, c.cent_id) AS rn
       |    FROM q CROSS JOIN cents c)
       |  WHERE rn <= $nProbe),
       |cand AS (
       |  SELECT p.query_id, a.vec_id,
       |    round(CAST(${ldotSql("p.qqe", "a.qe")} AS DOUBLE)
       |      / nullif(p.qqn * a.qn, 0), 4) AS cos
       |  FROM probes p JOIN assigned a USING (cent_id)
       |  WHERE a.vec_id <> p.query_id)
       |SELECT query_id, rank, vec_id, cos FROM (
       |  SELECT query_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM cand)
       |WHERE rank <= $k""".stripMargin
  }

  /** IVF (inverted-file) ANN — the other classic scale path: vectors are
    * partitioned into cells by nearest centroid; a query probes only the
    * `nProbe` closest cells, so search cost is corpus/cells × nProbe instead
    * of the full corpus. Centroids here are a fixed deterministic subset
    * (vec_id < nCells): the oracle-checked variant must share bit-exact
    * centroids with DuckDB, which trained means cannot guarantee (see
    * [[ivfTopKTrained]] for the Lloyd-trained variant).
    *
    * Assignment is a broadcast of the tiny centroid set against one corpus
    * scan, reduced by a `max_by` HASH aggregate over the NARROW
    * (vec_id, cent_id, ccos) projection — a map-side-combinable argmax,
    * NOT a row_number window: the window variant shuffles and sorts
    * corpus × nCells wide rows; the hash aggregate partially combines to
    * one narrow row per vector before its exchange and never sorts.
    * Keeping the embedding out of the aggregate matters twice: a (long,
    * double) buffer hash-aggregates, while an array-typed first() demotes
    * the whole aggregate to SortAggregate; and the exchange carries 8×
    * fewer, far narrower rows. The embedding is reattached by one key join
    * (at production scale the cell assignment is materialized once,
    * partitioned by cent_id — the literal inverted file — and queries only
    * read probed cells). max_by keeps the first of exactly-equal cosines,
    * deterministic here because distinct centroids never produce bit-equal
    * cosines with the same vector (verified over the test corpus;
    * measure-zero for real-valued embeddings). */
  def ivfTopK(spark: SparkSession, dir: String, k: Int = 5,
      nCells: Int = 8, nProbe: Int = 2): DataFrame = {
    val e = Tables.embeddings(spark, dir).withColumn("nrm", norm(col("embedding")))
    val cents = e.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cent_id"), col("embedding").as("ce"), col("nrm").as("cn"))
    ivfSearch(spark, dir, cents, k, nProbe)
  }

  /** Shared IVF search against an arbitrary (cent_id, ce, cn) centroid set:
    * broadcast assignment via narrow max_by argmax, probe the nProbe
    * closest cells per query, exact cosine rank within the probed cells. */
  private def ivfSearch(spark: SparkSession, dir: String, cents: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    val e = Tables.spread(Tables.embeddings(spark, dir), col("vec_id"))
      .withColumn("nrm", norm(col("embedding")))
    val assignment = e.join(broadcast(cents))
      .withColumn("ccos", safeDiv(dot(col("embedding"), col("ce")),
        col("nrm") * col("cn")))
      .select("vec_id", "cent_id", "ccos")
      .groupBy("vec_id")
      // deterministic argmax tie-break, same as trainCentroids: the
      // untrained variant seeds centroids from RAW corpus vectors, and a
      // corpus with exact-duplicate embeddings among the seeds makes two
      // centroids bit-equal — every vector then ties, and a bare max_by
      // would pick a partial-aggregation-order-dependent winner while the
      // oracle's ORDER BY ccos DESC, cent_id always takes the lowest cell
      .agg(max_by(col("cent_id"),
        struct(col("ccos").as("c"), (-col("cent_id")).as("t"))).as("cent_id"))
    val assigned = e.join(assignment, "vec_id")
      .select(col("vec_id"), col("cent_id"), col("embedding"), col("nrm"))
    val q = e.filter(col("vec_id") >= 10 && col("vec_id") < 15)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("qcos").desc, col("cent_id"))
    val probes = q.join(broadcast(cents))
      .withColumn("qcos", safeDiv(dot(col("qe"), col("ce")),
        col("qn") * col("cn")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("cent_id"), col("qe"), col("qn"))
    val wRank = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    probes.join(assigned, "cent_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        round(safeDiv(dot(col("qe"), col("embedding")),
        col("qn") * col("nrm")), 4))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cos")
  }

  def ivfTopKSql(k: Int = 5, nCells: Int = 8, nProbe: Int = 2): String =
    s"""WITH e AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       |c AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn FROM e WHERE vec_id < $nCells),
       |assigned AS (
       |  SELECT vec_id, cent_id, embedding, nrm FROM (
       |    SELECT e.vec_id, c.cent_id, e.embedding, e.nrm,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${dotSql("e.embedding", "c.ce")} / nullif(e.nrm * c.cn, 0) DESC, c.cent_id) AS rn
       |    FROM e CROSS JOIN c)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM e
       |      WHERE vec_id >= 10 AND vec_id < 15),
       |probes AS (
       |  SELECT query_id, cent_id, qe, qn FROM (
       |    SELECT q.query_id, c.cent_id, q.qe, q.qn,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${dotSql("q.qe", "c.ce")} / nullif(q.qn * c.cn, 0) DESC, c.cent_id) AS rn
       |    FROM q CROSS JOIN c)
       |  WHERE rn <= $nProbe),
       |cand AS (
       |  SELECT p.query_id, a.vec_id,
       |    round(${dotSql("p.qe", "a.embedding")} / nullif(p.qn * a.nrm, 0), 4) AS cos
       |  FROM probes p JOIN assigned a USING (cent_id)
       |  WHERE a.vec_id <> p.query_id)
       |SELECT query_id, rank, vec_id, cos FROM (
       |  SELECT query_id, vec_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM cand)
       |WHERE rank <= $k""".stripMargin

  /** Symmetric int8 quantization of the embedding column — the standard
    * compression step before serving/ANN at scale (4× smaller vectors,
    * SIMD-friendly integer dot products downstream). Per vector: scale
    * s = 127/max|v|, q_i = round(v_i·s) ∈ [−127, 127]; the query reports
    * the quantized range and the mean absolute dequantization error — the
    * quality diagnostic a pipeline would gate on. Pure per-row projection
    * (scan-bound at any scale); every step is element-ordered math shared
    * with the oracle, and an all-zero vector quantizes to scale 0 in both
    * engines. */
  def quantize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        array_max(transform(col("embedding"), x => abs(x.cast("double")))).as("maxabs"))
      .withColumn("s", when(col("maxabs") === 0.0, lit(0.0))
        .otherwise(lit(127.0) / col("maxabs")))
      .withColumn("q", transform(col("embedding"),
        x => round(x.cast("double") * col("s")).cast("long")))
    e.select(col("vec_id"),
      array_min(col("q")).as("q_min"),
      array_max(col("q")).as("q_max"),
      round(
        aggregate(zip_with(col("embedding"), col("q"),
          (v, qi) => abs(v.cast("double") - when(col("s") === 0.0, lit(0.0))
            .otherwise(qi.cast("double") / col("s")))),
          lit(0.0), (acc, x) => acc + x) / size(col("embedding")), 6)
        .as("mean_abs_err"))
  }

  def quantizeSql: String =
    s"""WITH m AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
       |  FROM embeddings),
       |sc AS (
       |  SELECT vec_id, embedding,
       |    CASE WHEN maxabs = 0.0 THEN 0.0 ELSE 127.0 / maxabs END AS s
       |  FROM m),
       |q AS (
       |  SELECT vec_id, embedding, s,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * s) AS BIGINT)) AS q
       |  FROM sc)
       |SELECT vec_id,
       |  list_min(q) AS q_min,
       |  list_max(q) AS q_max,
       |  round(list_sum(list_transform(list_zip(embedding, q),
       |    p -> abs(CAST(p[1] AS DOUBLE) -
       |           CASE WHEN s = 0.0 THEN 0.0 ELSE CAST(p[2] AS DOUBLE) / s END)))
       |    / len(embedding), 6) AS mean_abs_err
       |FROM q""".stripMargin

  /** Embedding-cosine near-dup DEDUP: the drop-list form of [[lshNearDup]].
    * Every vector with at least one LSH-candidate neighbor of smaller id at
    * cosine ≥ threshold is marked removed. The SURVIVOR SET is exactly the
    * curation guarantee (no vector is dropped without a smaller-id near
    * neighbor); `canonical_id` is that smallest-id neighbor as a WITNESS —
    * in an A~B, B~C chain without A~C, C's witness B is itself dropped, so
    * the witness is not necessarily kept. A pipeline needing transitive
    * kept-canonicals resolves them through connected components as the
    * MinHash-based [[graft.dedup.Dedup.lshClusters]] does. Builds on the
    * capped multi-table LSH candidates (output-bound at corpus scale); the
    * reduction per removed vector is a narrow (min, count) aggregate. */
  def embedDedup(spark: SparkSession, dir: String, threshold: Double = 0.3): DataFrame =
    lshNearDup(spark, dir, threshold)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("canonical_id"),
        count(lit(1)).as("n_better_dups"))

  def embedDedupSql(threshold: Double = 0.3): String =
    s"""WITH pairs AS (${lshNearDupSql(threshold)})
       |SELECT vec_b AS vec_id, min(vec_a) AS canonical_id,
       |  count(*) AS n_better_dups
       |FROM pairs GROUP BY vec_b""".stripMargin

  def lshNearDupSql(threshold: Double = 0.3): String = {
    def keySql(t: Int) = (0 until Lex.NearDupPlanes).map { p =>
      val w = Lex.nearDupWeights(t * Lex.NearDupPlanes + p)
        .map(v => s"$v.0").mkString("[", ", ", "]")
      s"CASE WHEN ${dotSql("embedding", w)} > 0 THEN ${1L << p} ELSE 0 END"
    }.mkString("\n    + ")
    val tableSelects = (0 until Lex.NearDupTables).map(t =>
      s"SELECT vec_id, embedding, nrm, $t AS tbl,\n    ${keySql(t)} AS bkt FROM e")
      .mkString("\n  UNION ALL\n  ")
    val cos = s"round(${dotSql("a.embedding", "b.embedding")} / nullif(a.nrm * b.nrm, 0), 4)"
    s"""WITH e AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       |keyed AS (
       |  $tableSelects),
       |hot AS (SELECT tbl, bkt FROM keyed GROUP BY tbl, bkt
       |        HAVING count(*) > ${Lex.AnnBucketCap}),
       |ok AS (SELECT * FROM keyed k WHERE NOT EXISTS (
       |        SELECT 1 FROM hot h WHERE h.tbl = k.tbl AND h.bkt = k.bkt))
       |SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, $cos AS cos
       |FROM ok a JOIN ok b
       |  ON a.tbl = b.tbl AND a.bkt = b.bkt AND a.vec_id < b.vec_id
       |WHERE $cos >= $threshold""".stripMargin
  }

  // ---- Product quantization (the third classic ANN scale path) ----------

  /** PQ layout: 64-dim vectors split into [[PqSubs]] subspaces of
    * [[PqSubDim]] dims; each subspace gets its own [[PqCodes]]-entry
    * codebook (Lloyd-trained, [[PqIters]] rounds). A vector is stored as
    * [[PqSubs]] byte-sized codes — 32 bytes instead of 256 for the float
    * vector — and approximate distances come from per-subspace lookup
    * tables (ADC), never from the raw vectors. (Config chosen by measured
    * recall on the synthetic corpus: 32×2-dim subspaces at 32 codes give
    * recall@5 ≈ 0.7 vs exact grid L2; coarser 4×16 layouts collapse to
    * noise on these unclustered dimensions.)
    *
    * Everything runs on the fixed-point grid with SQUARED L2 in exact
    * integer arithmetic — training, encoding, and serving have NO float
    * operation at all, so centroids, codes, and distances are
    * bit-reproducible in any engine (the oracle unrolls the same rounds).
    * Bound: |x−y| ≤ 2·FxScale·max|v| < 2²², squared < 2⁴⁴, summed over 64
    * dims < 2⁵⁰ — inside long range. */
  val PqSubs = 32
  val PqSubDim = 2
  val PqCodes = 32
  // one Lloyd round: measured recall@5 is 0.68-0.72 at one round and does
  // NOT improve at two (0.64-0.72) — the id-prefix init is already inside
  // the data cloud, so extra rounds only re-shuffle cell boundaries while
  // doubling training cost
  val PqIters = 1

  /** Exact integer squared L2 of two [[PqSubDim]]-element array<long>
    * columns — statically unrolled to element_at arithmetic: higher-order
    * lambdas (zip_with/aggregate) are interpreted, and this expression
    * sits in the training join's innermost loop (rows × codebook evals per
    * round), so keeping it inside whole-stage codegen is the difference
    * between a scan-bound and a lambda-bound pass. */
  private def l2i(a: Column, b: Column): Column =
    (1 to PqSubDim).map { i =>
      val d = element_at(a, i) - element_at(b, i)
      d * d
    }.reduce(_ + _)

  private def l2iSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2])))"

  /** (vec_id, sub, sv): the fixed-point subvector rows. */
  private def pqSubvectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"), posexplode(array((0 until PqSubs).map(s =>
        slice(col("qe"), s * PqSubDim + 1, PqSubDim)): _*)).as(Seq("sub", "sv")))

  /** Assignment shape note: the per-centroid broadcast join + `min_by`
    * aggregate below materializes rows × PqCodes intermediate rows, but
    * they never travel — the argmin reduces map-side in the SAME codegen
    * stage as the join, so one compact l2i per intermediate row is the
    * whole cost. The tempting alternative (pack the codebook into one
    * array row and unroll a PqCodes-way argmin expression) generates a
    * single unsplittable ~14k-line projection that blows janino's 64 KB
    * method limit and drops the stage out of whole-stage codegen entirely
    * — measured slower than the row-blowup it avoids. */

  /** Per-subspace Lloyd codebook: (sub, cent_id, qc). Same round shape as
    * [[trainCentroids]] — broadcast-codebook assignment reduced by a
    * min_by hash aggregate, integer-mean update — but keyed by (sub,
    * cent_id), all subspaces training in the same two shuffles. */
  def trainPqCodebook(sv: DataFrame): DataFrame = {
    var cents = sv.filter(col("vec_id") < PqCodes)
      .select(col("sub"), col("vec_id").as("cent_id"), col("sv").as("qc"))
    (0 until PqIters).foreach { _ =>
      // deterministic argmin ((distance, cent_id) lexicographic) via
      // min_by, payload-NARROW: only the winning cent_id rides through the
      // aggregate (carrying the sv array through rows × PqCodes
      // intermediate rows measured ~1s slower at sf0.1), then ONE join
      // back to sv on (vec_id, sub) — both sides hash-partition on those
      // keys, so the argmin's shuffle is reused and only the narrow sv
      // rows move once
      val assigned = sv.join(broadcast(cents), Seq("sub"))
        .withColumn("d", l2i(col("sv"), col("qc")))
        .groupBy("vec_id", "sub")
        .agg(min_by(col("cent_id"), struct(col("d"), col("cent_id"))).as("cent_id"))
        .join(sv, Seq("vec_id", "sub"))
        .select(col("sub"), col("cent_id"), col("sv"))
      val means = assigned.groupBy("sub", "cent_id")
        .agg(count(lit(1)).as("n"),
          (1 to PqSubDim).map(i => sum(element_at(col("sv"), i)).as(s"s$i")): _*)
        .select(col("sub"), col("cent_id"),
          array((1 to PqSubDim).map(i =>
            expr(s"((s$i + $FxOff * n) * 2 + n) div (2 * n) - $FxOff")): _*).as("qc"))
      val kept = cents.join(means, Seq("sub", "cent_id"), "left_anti")
      // the codebook is CONSTANT-size model state — PqSubs × PqCodes rows
      // at any corpus scale — so localize it: a LocalRelation truncates the
      // round's lineage like the checkpoint it replaces but costs one
      // metadata-sized collect instead of a cluster job, and every
      // downstream broadcast(cents) builds straight from driver memory
      // with no extra job
      val spark = sv.sparkSession
      val next = means.unionByName(kept)
      cents = spark.createDataFrame(
        java.util.Arrays.asList(next.collect(): _*), next.schema)
    }
    cents
  }

  /** PQ/ADC top-k: every vector encoded as [[PqSubs]] codebook codes; a
    * query computes one small distance table to every codebook entry
    * (PqSubs × PqCodes integer L2s), and each candidate's approximate
    * distance is the SUM OF TABLE LOOKUPS for its codes — the scan never
    * touches raw vectors. In Spark the lookup is the (sub, code) join
    * below; at serving scale the codes column is 4 bytes/vector, so the
    * whole corpus's codes fit a fraction of the raw-vector footprint and
    * the scan is memory-bandwidth-bound, not compute-bound. */
  def pqTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = Tables.spread(Tables.embeddings(spark, dir), col("vec_id"))
      .select(col("vec_id"), fx(col("embedding")).as("qe"))
    // hash-partition the checkpointed subvectors on the training keys: the
    // parquet scan's few input splits would otherwise serialize every
    // downstream map stage, and (vec_id, sub) is exactly the grouping key
    // of BOTH argmin aggregates and the join-back — Catalyst elides those
    // three exchanges entirely when the source already carries the
    // partitioning, so the one shuffle here replaces three later ones
    // EXPLICIT partition count: a keyed repartition without one is
    // AQE-coalescible, and AQE folds this byte-small frame to one partition
    // — blind to the rows × PqCodes argmin evals each training stage runs
    // per row downstream (measured: the two assignment passes ran
    // single-core, ~1.6 s of the query). defaultParallelism scales with the
    // cluster, so nothing is tuned to local mode.
    val sv = pqSubvectors(e)
      .repartition(spark.sparkContext.defaultParallelism,
        col("vec_id"), col("sub")).localCheckpoint(true)
    val cents = trainPqCodebook(sv)
    val codes = sv.join(broadcast(cents), Seq("sub"))
      .withColumn("d", l2i(col("sv"), col("qc")))
      .groupBy("vec_id", "sub")
      .agg(min_by(col("cent_id"), struct(col("d"), col("cent_id"))).as("code"))
    val q = sv.filter(col("vec_id") >= 10 && col("vec_id") < 15)
      .select(col("vec_id").as("query_id"), col("sub"), col("sv").as("qsv"))
    val dtab = q.join(broadcast(cents), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cent_id"),
        l2i(col("qsv"), col("qc")).as("dt"))
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("approx_l2"), col("vec_id"))
    // both sides carry sv's `sub` attribute: the aliases make the join
    // compare the two sides' columns, not one column with itself
    codes.as("c").join(dtab.as("t"),
        col("c.sub") === col("t.sub") && col("c.code") === col("t.cent_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("dt")).as("approx_l2"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "approx_l2")
  }

  /** DuckDB twin of [[pqTopK]]: the Lloyd rounds unroll into CTEs keyed by
    * (sub, cent_id); every distance, mean, and lookup is exact integer, so
    * codes and approximate distances hash-match Spark's. */
  def pqTopKSql(k: Int = 5): String = {
    val rounds = (1 to PqIters).map { i =>
      val prev = s"c${i - 1}"
      s"""a$i AS (
         |  SELECT vec_id, sub, cent_id FROM (
         |    SELECT s.vec_id, s.sub, c.cent_id,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
         |        ${l2iSql("s.sv", "c.qc")}, c.cent_id) AS rn
         |    FROM sv s JOIN $prev c USING (sub))
         |  WHERE rn = 1),
         |m$i AS (
         |  SELECT sub, cent_id, list(qm ORDER BY pos) AS qc FROM (
         |    SELECT sub, cent_id, pos,
         |      ((sum(v) + $FxOff * count(*)) * 2 + count(*))
         |        // (2 * count(*)) - $FxOff AS qm
         |    FROM (
         |      SELECT a.sub, a.cent_id, unnest(range(0, len(s.sv))) AS pos,
         |        unnest(s.sv) AS v
         |      FROM sv s JOIN a$i a ON s.vec_id = a.vec_id AND s.sub = a.sub)
         |    GROUP BY sub, cent_id, pos)
         |  GROUP BY sub, cent_id),
         |c$i AS (
         |  SELECT sub, cent_id, qc FROM m$i
         |  UNION ALL
         |  SELECT c.sub, c.cent_id, c.qc FROM $prev c
         |  WHERE NOT EXISTS (SELECT 1 FROM m$i m
         |                    WHERE m.sub = c.sub AND m.cent_id = c.cent_id)),""".stripMargin
    }.mkString("\n")
    s"""WITH e AS (
       |  SELECT vec_id, ${fxSql("embedding")} AS qe FROM embeddings),
       |sv AS (
       |  SELECT vec_id, sub,
       |    list_slice(qe, sub * $PqSubDim + 1, sub * $PqSubDim + $PqSubDim) AS sv
       |  FROM e, unnest(range(0, $PqSubs)) AS t(sub)),
       |c0 AS (SELECT sub, vec_id AS cent_id, sv AS qc FROM sv
       |       WHERE vec_id < $PqCodes),
       |$rounds
       |codes AS (
       |  SELECT vec_id, sub, cent_id AS code FROM (
       |    SELECT s.vec_id, s.sub, c.cent_id,
       |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
       |        ${l2iSql("s.sv", "c.qc")}, c.cent_id) AS rn
       |    FROM sv s JOIN c$PqIters c USING (sub))
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, sub, sv AS qsv FROM sv
       |      WHERE vec_id >= 10 AND vec_id < 15),
       |dtab AS (
       |  SELECT q.query_id, q.sub, c.cent_id,
       |    ${l2iSql("q.qsv", "c.qc")} AS dt
       |  FROM q JOIN c$PqIters c USING (sub)),
       |approx AS (
       |  SELECT d.query_id, k.vec_id, CAST(sum(d.dt) AS BIGINT) AS approx_l2
       |  FROM codes k JOIN dtab d ON k.sub = d.sub AND k.code = d.cent_id
       |  WHERE k.vec_id <> d.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, rank, vec_id, approx_l2 FROM (
       |  SELECT query_id, vec_id, approx_l2,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY approx_l2, vec_id) AS rank
       |  FROM approx)
       |WHERE rank <= $k""".stripMargin
  }
}
