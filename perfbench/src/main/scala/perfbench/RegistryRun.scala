package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{SparkEntry, TempDirs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The registry section of a traced run: a fixed subset of
  * `SparkEntry.queries`, run in the order `registry.json` gives over the
  * tables in its `data` dir, in the session the ingest job used.
  *
  * It starts with one warm-up pass over the subset, which builds every
  * artifact the queries stage (`TempDirs`). Each timed pass then runs
  * every query once, as a step of a [[Traced.Tracer]], and materializes
  * its full result as `graft.Bench` does (`queryExecution.toRdd.count()`).
  * After the passes, every result is written once more to
  * `out/check/<query>` with the subset's `oracle_sql.json`, the layout
  * `graft.Verify` writes, for scripts/check_correctness.py.
  */
object RegistryRun {

  /** Family of a query: its name's letters before the first digit. */
  def family(name: String): String = name.takeWhile(_.isLetter)

  def run(
      spark: SparkSession, dir: String, seconds: Double,
      out: mutable.Map[String, JValue]): Unit = {
    implicit val fmts: Formats = DefaultFormats
    val cfg = Harness.readJson(dir, "registry.json")
    val data = (cfg \ "data").extract[String]
    val queries = (cfg \ "queries").extract[Seq[String]].map(n => n -> SparkEntry.queries(n))
    def materialize(fn: (SparkSession, String) => DataFrame): Long =
      fn(spark, data).queryExecution.toRdd.count()

    queries.foreach { case (name, fn) =>
      try materialize(fn)
      catch { case e: Throwable => System.err.println(s"perfbench: warm-up $name: $e") }
    }
    val staging = TempDirs.stagingSeconds.toList.sorted

    val tracer = new Traced.Tracer(spark)
    // per pass and query: its step, and its rows (-1 if it failed)
    val passes = mutable.Buffer.empty[Seq[(String, Traced.Phase, Long)]]
    val wall = Harness.repeat(seconds) { i =>
      passes += queries.map { case (name, fn) =>
        var rows = -1L
        val step = tracer.phase(name) {
          try rows = materialize(fn)
          catch { case e: Throwable => System.err.println(s"perfbench: pass $i $name: $e") }
        }
        (name, step, rows)
      }
    }
    tracer.close()

    // the check pass, outside the timed region
    val check = s"$dir/out/check"
    Files.createDirectories(Paths.get(check))
    val names = queries.map(_._1).toSet
    Files.writeString(Paths.get(check, "oracle_sql.json"), compact(render(JObject(
      SparkEntry.oracleSql.toList.filter(kv => names(kv._1)).map {
        case (k, v) => k -> (JString(v): JValue) }))))
    queries.foreach { case (name, fn) =>
      try fn(spark, data).write.mode("overwrite").parquet(s"$check/$name")
      catch { case e: Throwable => System.err.println(s"perfbench: check $name: $e") }
    }

    val steps = passes.toSeq.flatten
    val times = steps.map(_._2.wallS).sorted
    def percentile(p: Int): Double =
      times(math.max(0, math.ceil(times.size * p / 100.0).toInt - 1))
    out("registry") = JObject(
      "check_dir" -> JString(check),
      "staging" -> JObject(staging.map { case (k, v) => k -> (JDouble(v): JValue) }),
      "passes" -> JArray(passes.toList.map(p => JObject(p.toList.map {
        case (name, _, rows) => name -> (JLong(rows): JValue) }))))
    val byFamily = queries.map(q => family(q._1)).distinct.map { f =>
      s"registry.$f.busy_s" -> Harness.median(passes.toSeq.map(
        _.collect { case (n, step, _) if family(n) == f => step.wallS }.sum))
    }
    (byFamily ++ Seq(
      "registry.pass_s" -> Harness.median(wall),
      "registry.query_s.p50" -> percentile(50),
      "registry.query_s.p90" -> percentile(90),
      "registry.jobs_per_query" -> steps.map(_._2.jobs).sum.toDouble / steps.size,
      "registry.shuffle_bytes" -> Harness.median(passes.toSeq.map(
        _.flatMap(_._2.tasks).map(_.shuffleWrite).sum.toDouble)))
    ).foreach { case (k, v) => out(k) = JDouble(v) }
  }
}
