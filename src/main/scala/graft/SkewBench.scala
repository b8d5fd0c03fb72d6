package graft

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-resilience evidence for the dedup candidate joins (d2/d4/d6):
  * synthesize the crawl-shaped worst case — ONE near-duplicate cluster
  * holding `skewFrac` of the corpus, concentrated in one block — and
  * measure each pipeline on baseline vs skewed data in the same
  * session, reporting per-task shuffle spread for the heaviest stage.
  *
  * The skewed texts are per-doc mutations of one template (one word
  * replaced by a doc-unique token), so every hot pair is a genuine
  * near-duplicate: pairwise 3-gram Jaccard ~0.95, simhash hamming ~0 —
  * candidate buckets (minhash bands, simhash segments, shingle
  * postings) all collapse onto the cluster, which is exactly the shape
  * that breaks naive all-pairs joins at scale.
  *
  * Usage: sbt "runMain graft.SkewBench [sfDir] [skewFrac] [reps]"
  * Prints one markdown table row per (query, variant) for SCALE.md.
  */
object SkewBench {

  /** Per-stage task metrics: (duration ms, shuffle read B). */
  private final class StageTap extends SparkListener {
    val stages = new ConcurrentHashMap[Int, ArrayBuffer[(Long, Long)]]()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        stages.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty).synchronized {
          stages.get(e.stageId) +=
            ((m.executorRunTime, m.shuffleReadMetrics.totalBytesRead))
        }
      }
    }
    def clear(): Unit = stages.clear()
  }

  private def median(xs: Seq[Long]): Long =
    if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)

  /** The skewed corpus: `skewFrac` of docs become mutations of one
    * template, all in one block ("hotmirror" source).
    */
  def skewedDocs(base: DataFrame, skewFrac: Double): DataFrame = {
    val period = math.max(1, math.round(1.0 / skewFrac).toInt)
    val hot = col("doc_id") % period === 0
    val words = 120
    val mutPos = (col("doc_id") / period) % words
    val tmplText = array_join(
      transform(sequence(lit(0), lit(words - 1)),
        i => when(i === mutPos, concat(lit("u"), col("doc_id")))
          .otherwise(concat(lit("w"), i % 37))), " ")
    base
      .withColumn("text", when(hot, tmplText).otherwise(col("text")))
      .withColumn("source", when(hot, lit("hotmirror")).otherwise(col("source")))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val skewFrac = if (args.length > 1) args(1).toDouble else 0.05
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Cli.session()
    val tap = new StageTap
    spark.sparkContext.addSparkListener(tap)

    // materialize both corpora to parquet so every run reads the same
    // physical shape (one file per core, like the staged testdata)
    val width = spark.sparkContext.defaultParallelism
    val baseDir = TempDirs.cached(s"skew_base:$sfDir") { d =>
      Tables(spark, sfDir, "documents").repartition(width)
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
    }
    val skewDir = TempDirs.cached(s"skew_hot:$sfDir:$skewFrac") { d =>
      skewedDocs(Tables(spark, sfDir, "documents"), skewFrac).repartition(width)
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
    }

    def docsOf(dir: String): DataFrame = spark.read.parquet(s"$dir/documents.parquet")

    // the three candidate-join pipelines, at gate parameters
    val pipelines: Seq[(String, DataFrame => DataFrame)] = Seq(
      "d2_ngram_jaccard" -> (d => operators.Dedup.ngramJaccardPairs(
        d, n = 3, threshold = 0.05, blockCol = "source", maxDfFraction = Some(0.01))),
      "d4_lsh_pairs" -> { d =>
        // the r16 kernel path — the harness must measure the shape
        // the registry queries actually run, not the retired window
        // form
        val sigs = operators.Dedup.minhashSignatures(
          d, numHashes = 8, shingleSize = 3)
        operators.Dedup.lshCandidates(sigs, rowsPerBand = 2)
      },
      "d6_simhash_pairs" -> (d => operators.Dedup.simhashPairs(
        d, maxHamming = 14, blockCol = "source")))

    println("| query | data | cfg | rows | sec | heavy-stage tasks | task ms med/max | worst shuf-read max/mean | heavy spread | aqe-skew |")
    println("|---|---|---|---|---|---|---|---|---|---|")
    for {
      (name, fn) <- pipelines
      (cfg, bcast) <- Seq("default" -> "10MB", "smj" -> "-1")
      (label, dir) <- Seq("base" -> baseDir, "skew" -> skewDir)
    } {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      var best: Option[(Double, Long, Map[Int, Seq[(Long, Long)]], String)] = None
      for (_ <- 1 to reps) {
        spark.catalog.clearCache(); System.gc()
        tap.clear()
        val df = fn(docsOf(dir))
        val t0 = System.nanoTime()
        val rows = df.queryExecution.toRdd.count()
        val sec = (System.nanoTime() - t0) / 1e9
        org.apache.spark.GraftSparkShims.waitForListeners(spark.sparkContext)
        import scala.jdk.CollectionConverters._
        val snap = tap.stages.asScala.map { case (k, v) => k -> v.toSeq }.toMap
        val plan = df.queryExecution.executedPlan.toString
        if (best.forall(_._1 > sec)) best = Some((sec, rows, snap, plan))
      }
      val (sec, rows, stages, plan) = best.get
      // heaviest stage by total task runtime (the stage whose balance
      // decides the wall clock; shuffle read breaks ties)
      val heavy = stages.maxBy { case (_, ts) =>
        (ts.map(_._1).sum, ts.map(_._2).sum)
      }._2
      val durs = heavy.map(_._1)
      val spread =
        if (median(durs) > 0) f"${durs.max.toDouble / median(durs).toDouble}%.1fx"
        else s"${durs.max}ms/med0"
      // per-task shuffle-READ imbalance (max task vs stage mean) of the
      // stage consuming the LARGEST shuffle — the candidate-join reduce
      // stage; the direct measure of whether a hot bucket lands on one
      // reducer. (KB-scale side stages show meaningless 15x ratios from
      // rounding, so only the dominant exchange is reported.)
      val shufStages = stages.values.filter(_.map(_._2).sum > 0)
      val worstShuf =
        if (shufStages.isEmpty) "-"
        else {
          val reads = shufStages.maxBy(_.map(_._2).sum).map(_._2)
          f"${reads.max.toDouble * reads.size / reads.sum.toDouble}%.1fx" +
            f" (${reads.sum / (1 << 20)}%dM)"
        }
      // AQE's skew-join splitter marks rewritten joins in the final plan
      val aqeSkew = "skew=true".r.findAllIn(plan.split("== Initial Plan ==")(0)).size
      println(f"| $name | $label | $cfg | $rows%d | $sec%.2f | ${heavy.size}%d " +
        f"| ${median(durs)}%d/${durs.max}%d | $worstShuf | $spread | $aqeSkew |")
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.stop()
  }
}
