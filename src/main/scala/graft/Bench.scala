package graft

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.GraftSparkShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every registry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":"total",...}.
  *
  * Measurement discipline, the same for every query:
  *   - cache cleared and heap GC'd before each query (outside the timed
  *     region), so state leaked by a neighbor (broadcasts, CC-loop
  *     checkpoints) is not charged to it;
  *   - one untimed warm-up run (codegen, JIT, lazy staging), then
  *     [[Reps]] timed runs; the query reports the median and IQR of
  *     those runs, nothing is re-measured or adjusted afterwards;
  *   - a query with any failed run reports -1 and lands in an "errors"
  *     map, so a breakage is visible instead of distorting the total;
  *   - "value" is staging_total + the sum of per-query medians: work
  *     moved into a staged artifact still shows in the headline;
  *   - per-query shuffle read/write and spill bytes of one timed run
  *     ride along in a "shuffle" map (task-metrics listener);
  *   - the JSON line is also written to BENCH_LAST.json, and a COMPACT
  *     line ([[compactJson]]) is printed last, sized for a 2000-char
  *     stdout tail.
  *
  * SPARK_GRAFT_ONLY=q20,d13,... restricts the run to those queries
  * (prefix-or-full-name match); n_queries records the subset size.
  */
object Bench {

  /** Timed runs per query, after one untimed warm-up. */
  val Reps = 5

  /** Fixed-precision format with trailing-zero strip. Zeros are only
    * stripped when a decimal point exists: at dp=0 the string is
    * all-integral and stripping would corrupt the value ("10" -> "1"),
    * under-reporting a 10s query 10x in the compact artifact line.
    */
  private[graft] def trim(v: Double, dp: Int): String = {
    // Locale.ROOT: a comma-decimal default locale would emit "64,33",
    // defeating the '.'-strip AND splitting the JSON value
    val s = String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))
    if (!s.contains('.')) s
    else s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse match {
      case "" => "0"; case t => t
    }
  }

  /** The q-quantile of a non-empty sample, interpolating linearly
    * between order statistics (numpy's default), so an even sample's
    * median is the mean of its two middle values.
    */
  private[graft] def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = h.toInt
    s(lo) + (h - lo) * (s(math.min(lo + 1, s.size - 1)) - s(lo))
  }

  /** Median and interquartile range of one query's timed runs. */
  private[graft] final case class Summary(median: Double, iqr: Double)

  private[graft] def summarize(xs: Seq[Double]): Summary =
    Summary(quantile(xs, 0.5), quantile(xs, 0.75) - quantile(xs, 0.25))

  private final class MetricsTap extends SparkListener {
    val read = new AtomicLong
    val write = new AtomicLong
    val spill = new AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      }
    }
    def snapshot: (Long, Long, Long) = (read.get, write.get, spill.get)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // AQE coalescing stays parallelism-first (the Spark default).
    // Advisory-size coalescing (parallelismFirst=false, guide §2.2
    // "fewer, larger reduce partitions") was TRIED for the r21
    // finding that 13 sub-second queries ran ~2x faster on 8 cores
    // than 32 — and measured NET-NEGATIVE on a 20-query subset A/B
    // at sf0.1 (36.5 -> 41.2 s): t4_wide_pivot 1.25 -> 5.33 s (its
    // 73 MB shuffle coalesces to ~advisory/64MB = 1-2 partitions and
    // the CPU-bound pivot stage loses the other 30 cores), d19 5.1
    // -> 6.5, t9 1.9 -> 2.5, d3/d9/x36 +25-35%; the wins (st3 3.3 ->
    // 2.5, s15 4.8 -> 4.1, d13/q30 -15%) don't cover them. With
    // parallelism-first, tiny shuffles already coalesce toward the
    // 1 MB minPartitionSize floor; the 8-core advantage at sf0.1 is
    // scheduler/GC overhead, not reduce-partition count.
    val spark = Cli.session()
    val tap = new MetricsTap
    spark.sparkContext.addSparkListener(tap)

    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = only.forall(s =>
      s.contains(name) || s.contains(name.takeWhile(_ != '_')))

    def clearSession(): Unit =
      try { spark.catalog.clearCache(); System.gc() }
      catch { case NonFatal(_) => () }

    // A full run builds every TempDirs.cached artifact in this pass,
    // before the first query: a build's side-effects (executor heap
    // churn, GC wake, build shuffle files) then never land inside a
    // query's runs or its neighbors'. TempDirs times each build into
    // the staging map. Subset runs skip this pass; their queries stage
    // what they touch lazily, inside the untimed warm-up.
    if (only.isEmpty) {
      val stagers: Seq[(String, () => Any)] = Seq(
        // shingles first: the pair scaffold reads the staged index and
        // the cluster build reads the staged pairs
        "shingles3" -> (() => QueriesTrainingData.stagedShingles(spark, sfDir)),
        "lshPairs" -> (() => QueriesTrainingData.stagedVerifiedPairs(spark, sfDir)),
        "jaccardClusters" -> (() => QueriesExtended.stagedClusters(spark, sfDir)),
        "synthPackets" -> (() => QueriesTelemetry.synthPackets(spark, sfDir)),
        "t15" -> (() => QueriesTelemetry.stagedCcsdsFiles(spark, sfDir)),
        "jsonl" -> (() => QueriesTrainingData.stagedJsonl(spark, sfDir)),
        "jsonl_new" -> (() => QueriesTrainingData.stagedJsonlNew(spark, sfDir)),
        "st9grams" -> (() => QueriesTrainingData.stagedCorpusGrams(spark, sfDir)),
        "corpusmd5" -> (() => QueriesTrainingData.stagedCorpusMd5(spark, sfDir)),
        "lineDf" -> (() => QueriesTrainingData.stagedLineDf(spark, sfDir)),
        "bpeMerges" -> (() => QueriesTrainingData.stagedBpeMerges(spark, sfDir)),
        // the shared audit quantizer + the artifacts built from it
        "auditQuantizer" -> (() => AuditQuantizer.centroids(spark, sfDir)),
        // the shared full-corpus quantizer (d13/p5/e3/s12 + every
        // cached-index family derives its key and centroids from it)
        "corpusQuantizer" -> (() => CorpusQuantizer.get(spark, sfDir)),
        "st10eval" -> (() => QueriesTrainingData.st10EvalIndex(spark, sfDir)),
        "vecs_new" -> (() => QueriesTrainingData.stagedVecStreamNew(spark, sfDir)))
      stagers.foreach { case (what, run) =>
        // best-effort: a failed build is recorded by TempDirs under a
        // FAILED staging key and retried lazily by the touching query
        try { run(); () }
        catch { case NonFatal(e) =>
          System.err.println(s"Bench: prestage '$what' failed: $e") }
      }
    }

    // toRdd.count(), NOT count(): a plain count() lets Catalyst prune
    // every unreferenced column, eliminate sorts under the count
    // aggregate, and drop left joins on unique grouped keys — for
    // scalar-per-doc queries that pruned away the ENTIRE computation
    // (x2 timed 0.13 s while its materialized cost is 1.31 s at sf0.1).
    // toRdd materializes the full result plan: the cost a user pays for
    // the table the query is FOR.
    def run(fn: (SparkSession, String) => DataFrame): Unit = {
      fn(spark, sfDir).queryExecution.toRdd.count(); ()
    }
    // one timed run: (seconds, shuffle read, shuffle write, spill)
    def timed(fn: (SparkSession, String) => DataFrame): (Double, Long, Long, Long) = {
      GraftSparkShims.waitForListeners(spark.sparkContext)
      val (r0, w0, s0) = tap.snapshot
      val t0 = System.nanoTime()
      run(fn)
      val sec = (System.nanoTime() - t0) / 1e9
      GraftSparkShims.waitForListeners(spark.sparkContext)
      val (r1, w1, s1) = tap.snapshot
      (sec, r1 - r0, w1 - w0, s1 - s0)
    }

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // name -> (summary of the timed runs, (read, write, spill) of the last)
    val results: Seq[(String, Option[(Summary, (Long, Long, Long))])] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => selected(name) }
        .map { case (name, fn) =>
          clearSession()
          name -> (try {
            run(fn)
            val runs = Seq.fill(Reps)(timed(fn))
            val (_, r, w, s) = runs.last
            Some((summarize(runs.map(_._1)), (r, w, s)))
          } catch { case NonFatal(e) =>
            errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
            None
          })
        }

    val medians = results.map { case (k, r) => k -> r.fold(-1.0)(_._1.median) }
    val ok = results.flatMap(_._2.map(_._1.median))
    val stagingTotal = TempDirs.stagingSeconds.values.sum
    val total = stagingTotal + ok.sum
    def pct(q: Double): String = if (ok.isEmpty) "-1" else trim(quantile(ok, q), 3)
    val qs = medians.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val iqrs = results.map { case (k, r) => s""""$k":${r.fold(-1.0)(_._1.iqr)}""" }
      .mkString("{", ",", "}")
    val sh = results.map { case (k, r) =>
      val (rd, w, s) = r.fold((0L, 0L, 0L))(_._2)
      s""""$k":{"read":$rd,"write":$w,"spill":$s}"""
    }.mkString("{", ",", "}")
    // full JSON string escaping: exception messages carry newlines and
    // other control characters (plan fragments), which would otherwise
    // make the artifact unparseable exactly when it matters most
    def jsonEscape(v: String): String = v.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val errJson = errors.map { case (k, v) =>
      s""""$k":"${jsonEscape(v)}""""
    }.mkString("{", ",", "}")
    val stagingJson = TempDirs.stagingSeconds.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${trim(v, 3)}""" }
      .mkString("{", ",", "}")
    // n_success/n_errors make the total self-describing: "value" sums
    // only successful queries, so a total comparison without these
    // counts silently understates a partial-failure regression
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""n_queries":${results.size},"n_success":${ok.size},""" +
        s""""n_errors":${results.size - ok.size},"reps":$Reps,""" +
        s""""query_p50":${pct(0.5)},"query_p90":${pct(0.9)},""" +
        s""""queries":$qs,"iqr":$iqrs,"sf":"$sfDir",""" +
        s""""staging":$stagingJson,"staging_total":${trim(stagingTotal, 3)},""" +
        s""""errors":$errJson,"shuffle":$sh}"""
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_LAST.json"),
        (line + "\n").getBytes("UTF-8"))
    } catch { case NonFatal(_) => () }
    println(line)
    spark.stop()
    // The compact line is deliberately LAST — after spark.stop(), so no
    // shutdown logging can follow it.
    // basename is enough — the harness records the sf point itself
    val sfShort = new java.io.File(sfDir).getName
    println(compactJson(medians, total, sfShort, errJson, stagingTotal = stagingTotal))
    System.out.flush()
  }

  /** The compact metric line printed after spark.stop(): the harness
    * that records the official artifact keeps only a ~2000-char stdout
    * tail, so the line degrades through three formats until it fits:
    *
    *   1. FULL query names at 10ms -> 100ms -> 1s precision — per-query
    *      presence beats precision, full precision lives in the long
    *      line + BENCH_LAST.json;
    *   2. PREFIX keys (the name up to the first '_': d8, x24, st3 —
    *      the ids every review artifact already uses) at 10ms -> 1s,
    *      marked "keys":"prefix" — at 114 queries full names no longer
    *      fit at ANY precision (r8's artifact silently dropped the 28
    *      fastest queries from the parsed dict, blinding driver-side
    *      regression tracking), while prefix keys carry the whole
    *      registry with room to grow; only used when prefixes are
    *      unique, which the registry's naming convention guarantees;
    *   3. the SLOWEST k at full names — the queries a regression scan
    *      needs most — with n_queries > |queries| marking truncation.
    */
  private[graft] def compactJson(
      results: Seq[(String, Double)], total: Double, sfShort: String,
      errJson: String, limit: Int = 1990, stagingTotal: Double = 0.0): String = {
    // staging rides as ONE total (the per-key map lives in the long
    // line + BENCH_LAST.json) and an empty errors map is omitted: the
    // ~180 chars those bought back are what keeps the whole registry
    // at TWO-decimal per-query precision inside the 2000-char tail —
    // r19's one-decimal values inflated apparent drift on sub-second
    // queries and blunted the floor rule (r19 verdict item 3)
    val errPart = if (errJson == "{}") "" else s""""errors":$errJson,"""
    def line(entries: Seq[(String, Double)], dp: Int, extra: String): String = {
      val qs = entries
        .map { case (k, v) => s""""$k":${if (v < 0) "-1" else trim(v, dp)}""" }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${trim(total, 2)},"unit":"sec","sf":"$sfShort",""" +
        extra + s""""staging_total":${trim(stagingTotal, 2)},""" +
        errPart + s""""queries":$qs}"""
    }
    val full = Seq(2, 1, 0).view.map(dp => line(results, dp, ""))
    val prefixed = results.map { case (k, v) => k.takeWhile(_ != '_') -> v }
    val prefix =
      if (prefixed.map(_._1).distinct.size != results.size) Seq.empty.view
      else Seq(2, 1, 0).view.map(dp => line(prefixed, dp,
        s""""n_queries":${results.size},"keys":"prefix",""" +
          s""""queries_file":"BENCH_LAST.json","""))
    def slowest(k: Int): String =
      line(results.sortBy(-_._2).take(k), 2,
        s""""n_queries":${results.size},"queries_file":"BENCH_LAST.json",""")
    (full ++ prefix).find(_.length <= limit)
      .orElse((results.size to 0 by -1).view.map(slowest).find(_.length <= limit))
      .getOrElse(slowest(0))
  }
}
