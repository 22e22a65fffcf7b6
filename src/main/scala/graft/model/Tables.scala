package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All operators take the scale-factor directory as a parameter so the same
  * plan runs unchanged from sf0.001 smoke tests to a 100 TB lake: the reads
  * are plain columnar scans and every downstream projection/filter is
  * declarative, so Catalyst pushes predicates and prunes columns into the
  * parquet reader regardless of data size.
  */
object Tables {
  /** Reads timestamps as plain TIMESTAMP under [[graft.Session]]'s
    * `spark.sql.parquet.inferTimestampNTZ.enabled=false`. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Parallelism floor for CPU-heavy per-row derivations (tokenize / hash /
    * shingle-explode / codec kernels) that run BETWEEN a scan and its first
    * exchange. A small input — one parquet file, one wire segment — gives
    * the scan fewer splits than the session has cores, and every pre-shuffle
    * expression then runs on that handful of tasks while the rest of the
    * cluster idles (guide §2.5: input with too few splits → repartition
    * immediately after the read). Hash-spread on the given key columns to
    * `defaultParallelism` ONLY when the plan's actual scan parallelism is
    * below it: at production scale (splits ≥ cores) this is a no-op and the
    * plan is byte-identical, so nothing here is tuned to local mode — the
    * condition, not a constant, carries the scale adaptivity. Keys must be
    * stable row identities (doc_id, vec_id, (commit_ts, pk)) so the
    * placement is deterministic under task retries (§2.5's rand-derived-key
    * caveat). The EXPLICIT partition count matters: a keyed repartition
    * without one is AQE-coalescible, and AQE sizes partitions by BYTES —
    * blind to the downstream per-row CPU amplification this exists to
    * spread (ann_pq_topk's trainer measured exactly that: AQE folded the
    * 16k-row subvector frame to one partition and the rows × 256-codebook
    * argmin ran single-core). */
  def spread(df: DataFrame, keys: Column*): DataFrame = {
    val sess = df.sparkSession
    val conf = sess.sessionState.conf
    val n = sess.sparkContext.defaultParallelism
    // Split-count estimate from the LOGICAL stats (file footprint of the
    // scan, pruned-column scaled) instead of `df.rdd.getNumPartitions`:
    // the .rdd probe forced a throwaway non-AQE physical planning + RDD DAG
    // build of the subtree at every call site, a driver cost paid even when
    // the answer is "no-op" (r21 ADVICE). The split size is Spark's own
    // `FilePartition.maxSplitBytes` rule, so a mid-scale input that the
    // scan already cuts into ≥ n splits (bytes / n above the open cost)
    // stays a no-op. The rule counts byte splits, not row groups: a large
    // file written as one row group still scans on one task. A leaf
    // without file stats reports `defaultSizeInBytes`: its split count is
    // unknown, so spread instead of letting the huge estimate turn spread
    // into a silent no-op.
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val hasFileStats = bytes < BigInt(conf.defaultSizeInBytes)
    val maxSplit = BigInt(conf.filesMaxPartitionBytes)
      .min(BigInt(conf.filesOpenCostInBytes).max(bytes / n)).max(1)
    val estSplits = (bytes + maxSplit - 1) / maxSplit
    if (hasFileStats && estSplits >= n) df else df.repartition(n, keys: _*)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
