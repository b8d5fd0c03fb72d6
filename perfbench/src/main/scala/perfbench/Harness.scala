package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{Pipeline, Registry}
import graft.operators.Telemetry
import graft.sinks.Sinks
import graft.telemetry.CcsdsColumns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}

/** Runs one ingest workload the way a `graft.Cli run` user does and
  * times it from outside: the program is driven only through
  * `Pipeline.run`, `Registry` stages, `Telemetry.wide` and `Sinks`.
  *
  *   Harness <workload> <work dir> <seconds> <trace 0|1> <warm-ups> <cpus>
  *
  * The work dir holds the generated inputs and the JSON stage configs
  * (see gen.py), and the same for a small warm-up input in `warmup/`.
  * The run sets up once, timed from JVM start: session start, then the
  * pipeline run `warm-ups` times on the small input. Untraced, it then
  * repeats the whole pipeline for `seconds`, each repetition writing to
  * its own output directory. Traced, it registers a task listener and
  * times the layers (see [[Traced]]); when the work dir holds a
  * `registry.json`, the same session then runs the registry section
  * (see [[RegistryRun]]). The result is one line starting with
  * `PERFBENCH_RESULT ` followed by a JSON object.
  */
object Harness {

  /** The workload's pipeline: extractor, named transforms, loader. */
  final case class Job(
      extract: SparkSession => DataFrame,
      transforms: Seq[(String, DataFrame => DataFrame)],
      sink: (DataFrame, String) => Unit)

  def main(argv: Array[String]): Unit = {
    val Array(workload, dir, secondsArg, traceArg, warmups, cpus) = argv
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val out = mutable.LinkedHashMap.empty[String, JValue]
    val spark = session(dir, cpus)
    ingest(spark, workload, dir, seconds, trace, warmups.toInt, cpus.toInt, out)
    spark.stop()
    println("PERFBENCH_RESULT " + compact(render(JObject(out.toList))))
  }

  /** Seconds since the JVM started: set-up ends when the workload is ready. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def ingest(
      spark: SparkSession, workload: String, dir: String, seconds: Double,
      trace: Boolean, warmups: Int, cores: Int,
      out: mutable.Map[String, JValue]): Unit = {
    // warm-up: the workload's pipeline on the small input in warmup/,
    // without the calibration stage, whose plan build alone takes tens
    // of seconds whatever the input
    val warm = jobFor(workload, s"$dir/warmup")
    for (i <- 0 until warmups) {
      val res = runPipeline(spark,
        warm.copy(transforms = warm.transforms.filter(_._1 != "calibration")),
        s"$dir/warmup/out_$i")
      require(res.ok, s"warm-up failed: ${res.errors.mkString("; ")}")
    }
    out("setup_s") = JDouble(sinceJvmStart)
    val job = jobFor(workload, dir)

    if (trace) {
      val heap = new HeapWatch
      Traced.run(spark, job, dir, seconds, cores, out)
      out("spark.heap_after_gc_mb") = JDouble(heap.maxAfterGcMb)
      if (Files.exists(Paths.get(dir, "registry.json")))
        RegistryRun.run(spark, dir, seconds, out)
    } else {
      val reps = mutable.Buffer.empty[JValue]
      val wall = repeat(seconds) { i =>
        val target = s"$dir/out/rep_$i"
        val res = runPipeline(spark, job, target)
        reps += JObject(
          "status" -> JString(res.status),
          "dir" -> JString(target),
          "rows" -> rowsOf(res))
      }
      out("reps") = JArray(reps.toList)
      out("rep_s") = JArray(wall.map(JDouble(_)).toList)
    }
  }

  /** Rows each stage's observe counted, and the loaded rows as `load`. */
  def rowsOf(res: Pipeline.PipelineResult): JObject =
    JObject(res.stages.map(s => s.name -> (JLong(s.rowsOut): JValue)).toList :+
      ("load" -> JLong(res.rowsLoaded)))

  def session(dir: String, cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def readJson(dir: String, name: String): JValue =
    Registry.parseConfig(new String(Files.readAllBytes(Paths.get(dir, name)), "UTF-8"))

  /** The two ingest pipelines, from the same configs a Cli user writes. */
  def jobFor(workload: String, dir: String): Job = {
    val ex = readJson(dir, "extractor.json")
    val extract = (s: SparkSession) => Registry.getExtractor("binary")(s, ex)
    val decom = "decom" -> Registry.getTransformer("decom")(readJson(dir, "decom.json"))
    workload match {
      case "ingest_files_tidy" =>
        val loader = readJson(dir, "loader.json")
        Job(extract,
          Seq(decom, "calibration" ->
            Registry.getTransformer("calibration")(readJson(dir, "calibration.json"))),
          (df, target) => Registry.getLoader("parquet")(
            df, loader.merge(JObject("output_dir" -> JString(target)))))
      case "ingest_framed_wide" =>
        implicit val fmts: Formats = DefaultFormats
        val names = readJson(dir, "wide_params.json").extract[Seq[String]]
        val time = "source_time" -> ((df: DataFrame) => df.withColumn("source_time_tai",
          CcsdsColumns.uintBE(col("secondary_header"), 0, 4).cast("double")))
        Job(extract,
          Seq(time, decom, "wide" -> ((df: DataFrame) => Telemetry.wide(df, names))),
          (df, target) => Sinks.writeWideParquet(df, target))
      case other => sys.error(s"unknown workload $other")
    }
  }

  /** Wall times of repetitions of `body`, repeated for `seconds`. */
  def repeat(seconds: Double)(body: Int => Unit): Seq[Double] = {
    val reps = mutable.Buffer.empty[Double]
    val t0 = System.nanoTime()
    while (reps.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val ts = System.nanoTime()
      body(reps.size)
      reps += (System.nanoTime() - ts) / 1e9
    }
    reps.toSeq
  }

  /** `Pipeline.run` as `Cli run` calls it: the loader's write is the one
    * action, and -1 asks for the loaded rows from the stage observe.
    */
  def runPipeline(spark: SparkSession, job: Job, target: String): Pipeline.PipelineResult =
    Pipeline.run(spark, job.extract, job.transforms,
      load = df => { job.sink(df, target); -1L })

  /** The same plan without `Pipeline.run`'s observes. */
  def build(job: Job, spark: SparkSession): DataFrame =
    job.transforms.foldLeft(job.extract(spark))((df, t) => t._2(df))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Largest heap in use right after any GC since it was created. */
final class HeapWatch {
  import javax.management.{NotificationEmitter, NotificationListener, Notification}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  @volatile private var maxBytes = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > maxBytes) maxBytes = used }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def maxAfterGcMb: Double = maxBytes / 1048576.0
}
