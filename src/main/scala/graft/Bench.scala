package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // external-interference markers (r10 verdict: per-query spread tracked
    // the DRIVER MACHINE's load, not the scheme — 18 under load vs 4 idle
    // for identical code): (a) the 1-min loadavg BEFORE this JVM adds its
    // own 32 threads — anything much above ~1 means a loaded machine and
    // round-over-round deltas should be discounted; (b) probe_spread below.
    def load1: Double = scala.util.Try(
      scala.io.Source.fromFile("/proc/loadavg").mkString.split(' ')(0).toDouble
    ).getOrElse(-1.0)
    val load1Start = load1
    // absorb session warmup (codegen, shuffle init, parquet footers) so the
    // first timed query isn't charged ~4s of one-time cost
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // (b) a fixed CPU-bound probe, repeated: its max/min ratio measures
    // scheduling jitter during THIS run — near 1.0 on an idle machine,
    // inflated when neighbors steal cores. The first rep is discarded (it
    // absorbs this plan shape's one-time codegen/JIT, which would
    // masquerade as interference).
    val probeTimes = (1 to 6).map { _ =>
      val t0 = System.nanoTime()
      spark.range(20000000L).selectExpr("sum(id)").collect()
      (System.nanoTime() - t0) / 1e9
    }.drop(1)
    val probeSpread = probeTimes.max / probeTimes.min
    Seq("lineitem", "documents", "events").foreach { t =>
      graft.model.Tables.table(spark, sfDir, t).count()
    }
    // also compile the shared lexical scan stages (tokenize/md5/explode) once:
    // they are identical sub-plans across the whole dedup/text family, and
    // whichever family query happens to run first would otherwise absorb
    // ~2s of one-time whole-stage-codegen compile that is not that
    // operator's cost. Steady-state per-query times are what the bench
    // compares; total wall time is unchanged (the work moves into warmup).
    graft.dedup.Dedup.docShingles(spark, sfDir).count()
    graft.dedup.Dedup.simhash64(spark, sfDir).count()
    // a failed query is recorded as an error, never as a fast time — the
    // bench must not silently shrink when a query breaks
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // min-of-k per query, with the k reps run as k INTERLEAVED PASSES over
    // the whole suite rather than back-to-back: single-shot times at sf0.1
    // swing ±30% from GC / JIT / page-cache noise, and back-to-back reps
    // share that noise — a GC spike from a heap-heavy neighbor hits both
    // reps of the same query and survives the min (the r4 t5/f6 "10×
    // regressions" were exactly this). With a full suite between a query's
    // reps, transient interference can't hit both, so the per-query min is
    // the isolated steady-state cost (within ~2× of a solo ProfileQ pass).
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val queries = SparkEntry.queries.toSeq
    val passes = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[Double]]()
    def onePass(qs: Seq[(String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame)]): Unit =
      qs.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          passes.getOrElseUpdate(name, scala.collection.mutable.ArrayBuffer()) += sec
        } catch {
          case e: Throwable =>
            errors(name) = e.toString.take(160).replaceAll("[\"\\\\\n\r\t]", " ")
        }
      }
    (1 to reps).foreach(_ => onePass(queries))
    val best = passes.map { case (n, ts) => n -> ts.min }
    val results = queries.map { case (name, _) => name -> best.getOrElse(name, 0.0) }
    // explicit locale: a comma-decimal default locale would emit invalid JSON
    def ms(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    val ok = results.filterNot { case (k, _) => errors.contains(k) }
    // The driver captures only the LAST 2000 chars of stdout; a map of all
    // ~135 queries at full double precision overflows it and the JSON line
    // is truncated mid-entry (BENCH_r01/r02 both lost this way). Keep the
    // slowest 40 per-query (the ones worth comparing round-over-round) and
    // fold the rest into one aggregate.
    val (slow, fast) = ok.sortBy(-_._2).splitAt(40)
    // Two-tier reps: min-of-3 does not converge for the slow set in this
    // sandbox (r7 measured 36/40 queries with >1.3x max/min spread across
    // interleaved passes), so the comparison-relevant slow-40 get extra
    // interleaved passes. Round-over-round claims should gate on
    // MEDIAN-vs-min agreement: a tight med/min says the min is the real
    // steady state; a wide one says "noise, don't compare". Calibration:
    // the same scheme that reported n_spread_gt13=13 in the r9 driver run
    // measured 4 on an idle machine in r10 — the spread tracks MACHINE
    // LOAD, not the rep count; the default gained one insurance pass so a
    // loaded driver run still converges for most of the slow set.
    val extraReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_EXTRA_REPS", "3").toInt
    val slowNames = slow.map(_._1).toSet
    (1 to extraReps).foreach(_ =>
      onePass(queries.filter(q => slowNames(q._1))))
    def medOf(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val mins = passes.map { case (n, ts) => n -> ts.min } // incl. extra passes
    val meds = passes.map { case (n, ts) => n -> medOf(ts.toSeq) }
    // re-filter AFTER the extra passes: a query that errored only there
    // leaves the timed set entirely (errors and totals stay disjoint — the
    // invariant the driver's round-over-round tooling assumes), and a query
    // with no successful pass at all (SPARK_GRAFT_BENCH_REPS=0) must not
    // crash the emit — this JSON line must print even when everything is
    // empty, or the driver records the round as unparseable
    val timed = (k: String) => !errors.contains(k) && mins.contains(k)
    val okF = ok.filter { case (k, _) => timed(k) }
    val slowF = slow.filter { case (k, _) => timed(k) }
    val fastF = fast.filter { case (k, _) => timed(k) }
    val qs = slowF.map { case (k, _) => s"\"" + k + "\":" + ms(mins(k)) }
      .mkString("{", ",", "}")
    // medians for the slowest 17 — the round-over-round mover set (capped
    // so the one-line JSON keeps ~180 chars of slack inside the driver's
    // 2000-char stdout tail window, load markers included)
    val md = slowF.take(17)
      .map { case (k, _) => s"\"" + k + "\":" + ms(meds(k)) }
      .mkString("{", ",", "}")
    // bounded error detail: the line must stay inside the driver's
    // 2000-char stdout tail even with many failures (truncation eats the
    // FRONT of the line — the whole JSON would be lost, the r01/r02
    // failure mode); n_errors carries the true count, CORRECTNESS the rest
    val es = errors.take(2)
      .map { case (k, m) => s"\"" + k + "\":\"" + m.take(60) + "\"" }
      .mkString("{", ",", "}")
    val total = okF.map { case (k, _) => mins(k) }.sum
    val totalMed = okF.map { case (k, _) => meds(k) }.sum
    val nSpread = slowF.count { case (k, _) =>
      mins(k) > 0 && meds(k) / mins(k) > 1.3 }
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$qs,"med":$md,"total_med":${ms(totalMed)},"fast_n":${fastF.size},"fast_sum":${ms(fastF.map(p => mins(p._1)).sum)},"n_queries":${results.size},"reps":$reps,"extra_reps_slow40":$extraReps,"agg":"min","spread":"med_over_min","n_spread_gt13":$nSpread,"load1_start":${ms(load1Start)},"probe_spread":${ms(probeSpread)},"errors":$es,"n_errors":${errors.size},"sf":"$sfDir"}""")
    spark.stop()
  }
}
