package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftSparkShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.{JDouble, JString, JValue}

/** The traced ingest run: per-layer numbers, each from a named method.
  *
  *   - call: time of the call into the layer's public function that
  *     builds the DataFrame, timed inside `Pipeline.run`.
  *   - ablation: the job's successive prefixes (extract; + each
  *     transform) are built and written to the `noop` sink; a layer's
  *     self time is the difference between successive prefixes. The
  *     full plan is also built and written by a direct sink call, right
  *     before each `Pipeline.run`; the sink's self time is that minus
  *     the last prefix, and the pipeline's overhead is `Pipeline.run`
  *     minus the direct call before it.
  *   - tracker: `queryExecution.tracker` phase times of a prefix's plan,
  *     minus those of the prefix before it.
  *   - listener: task metrics from a SparkListener registered here.
  *   - observe: `PipelineResult.stages` row counts.
  *   - jmx: collector time from the JVM's GC beans.
  *
  * Right after set-up come the pairs of a direct sink call and a
  * `Pipeline.run`, repeated for `seconds` as the untraced run repeats
  * `Pipeline.run`, so the median `Pipeline.run` compares with the
  * untraced `wall_s`: the gap is the tracing overhead (the listener, the
  * timed calls and the direct call before each run). The ablations
  * follow on a warm JVM. Layers a workload leaves idle are not reported
  * here; run.py reports them as 0.
  */
object Traced {

  final case class TaskRec(
      launch: Long, finish: Long, duration: Long, run: Long, cpuNs: Long,
      overheadMs: Long, bytesRead: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, peakMem: Long)

  final class Tap extends SparkListener {
    private val tasks = mutable.Buffer.empty[TaskRec]
    private var jobs = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) synchronized {
        tasks += TaskRec(i.launchTime, i.finishTime, i.duration,
          m.executorRunTime, m.executorCpuTime,
          m.executorDeserializeTime + m.resultSerializationTime + i.gettingResultTime,
          m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory)
      }
    }
    def reset(): Unit = synchronized { tasks.clear(); jobs = 0 }
    def snapshot: (Seq[TaskRec], Int) = synchronized { (tasks.toSeq, jobs) }
  }

  /** One timed step: its wall time, the tasks and jobs it ran, its GC. */
  final case class Phase(
      wallS: Double, tasks: Seq[TaskRec], jobs: Int, gcS: Double,
      startMs: Long, endMs: Long)

  /** Registers a [[Tap]] and times steps with it. */
  final class Tracer(spark: SparkSession) {
    private val sc = spark.sparkContext
    private val tap = new Tap
    sc.addSparkListener(tap)

    def phase(name: String)(body: => Unit): Phase = {
      GraftSparkShims.waitForListeners(sc)
      tap.reset()
      val gc0 = gcMs
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      val w1 = System.currentTimeMillis()
      GraftSparkShims.waitForListeners(sc)
      val (tasks, jobs) = tap.snapshot
      System.err.println(f"perfbench: $name%-24s $wall%8.2f s ${tasks.size}%5d tasks")
      Phase(wall, tasks, jobs, (gcMs - gc0) / 1e3, w0, w1)
    }

    /** A step repeated until it has 3 samples or has taken StepBudgetS. */
    def sampled(name: String)(body: => Unit): Seq[Phase] = {
      val ps = mutable.Buffer.empty[Phase]
      while (ps.size < 3 && (ps.isEmpty || ps.map(_.wallS).sum < StepBudgetS))
        ps += phase(name)(body)
      ps.toSeq
    }

    def close(): Unit = sc.removeSparkListener(tap)
  }

  val StepBudgetS = 10.0

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def median(xs: Iterable[Double]): Double = Harness.median(xs.toSeq)

  /** The engine's numbers over steps that ran back to back. */
  def sparkLayer(steps: Seq[Phase], cores: Int): Seq[(String, Double)] = {
    val wall = steps.map(_.wallS).sum
    val tasks = steps.flatMap(_.tasks)
    val busyMs = steps.map(p =>
      union(p.tasks.map(t => (t.launch max p.startMs, t.finish min p.endMs)))).sum
    Seq(
      "spark.driver_only_s" -> (wall - busyMs / 1e3),
      "spark.cpu_busy_ratio" -> tasks.map(_.cpuNs).sum / 1e9 / (wall * cores),
      "spark.sched_delay_s" -> tasks.map(t =>
        math.max(0L, t.duration - t.run - t.overheadMs)).sum / 1e3,
      "spark.gc_s" -> steps.map(_.gcS).sum,
      "spark.jobs" -> steps.map(_.jobs).sum.toDouble,
      "spark.tasks" -> tasks.size.toDouble)
  }

  def run(
      spark: SparkSession, job: Harness.Job, dir: String, seconds: Double,
      cores: Int, out: mutable.Map[String, JValue]): Unit = {
    val tracer = new Tracer(spark)

    // 1. Pipeline.run, each extract and transform call timed from outside,
    val callS = mutable.LinkedHashMap.empty[String, mutable.Buffer[Double]]
    def timed[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try body
      finally callS.getOrElseUpdate(name, mutable.Buffer.empty) += (System.nanoTime() - t0) / 1e9
    }
    val timedJob = job.copy(
      extract = s => timed("extract")(job.extract(s)),
      transforms = job.transforms.map { case (n, fn) => n -> ((df: DataFrame) => timed(n)(fn(df))) })
    // each right after a direct sink call on the same plan without the
    // observes Pipeline.run adds
    val target = s"$dir/out/traced"
    var result: graft.Pipeline.PipelineResult = null
    var failed = false
    val directs = mutable.Buffer.empty[Phase]
    val fulls = mutable.Buffer.empty[Phase]
    Harness.repeat(seconds) { _ =>
      directs += tracer.phase("direct sink") {
        job.sink(Harness.build(job, spark), s"$dir/out/direct")
      }
      fulls += tracer.phase("Pipeline.run") {
        result = Harness.runPipeline(spark, timedJob, target)
      }
      failed ||= !result.ok
    }
    def call(layer: String): Double = callS.get(layer).map(median).getOrElse(0.0)

    // 2. ablation prefixes: extract, then each transform in turn, to noop
    val n = job.transforms.size
    val planS = mutable.Buffer.empty[Double]
    val prefixes = (0 to n).map { k =>
      var df: DataFrame = null
      val ps = tracer.sampled(s"noop prefix $k") {
        df = Harness.build(job.copy(transforms = job.transforms.take(k)), spark)
        df.write.format("noop").mode("overwrite").save()
      }
      df.queryExecution.executedPlan
      planS += df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1e3
      ps
    }
    tracer.close()

    val names = "extract" +: job.transforms.map(_._1)
    def prefix(i: Int): Double = median(prefixes(i).map(_.wallS))
    def self(layer: String): Double = names.indexOf(layer) match {
      case -1 => 0.0
      case 0 => prefix(0)
      case i => prefix(i) - prefix(i - 1)
    }
    def plan(layer: String): Double = names.indexOf(layer) match {
      case -1 => 0.0
      case i => planS(i) - planS(i - 1)
    }

    val rows = result.stages.map(s => s.name -> s.rowsOut.toDouble).toMap
    val scan = prefixes.head.last.tasks
    val scanRun = scan.map(_.run.toDouble)
    val wideTasks = names.indexOf("wide") match {
      case -1 => Nil
      case i => prefixes(i).last.tasks
    }
    val full = median(fulls.map(_.wallS))

    out("status") = JString(if (failed) "failed" else result.status)
    out("dir") = JString(target)
    out("rows") = Harness.rowsOf(result)
    (Seq(
      "sources.self_s" -> self("extract"),
      "sources.partitions" -> scan.size.toDouble,
      "sources.bytes_read" -> scan.map(_.bytesRead).sum.toDouble,
      "sources.task_skew" -> (if (scanRun.isEmpty) 0.0
                              else scanRun.max / math.max(1.0, median(scanRun))),
      "sources.packets_out" -> rows.getOrElse("extract", -1.0),
      "decom.build_s" -> call("decom"),
      "decom.self_s" -> self("decom"),
      "decom.samples_out" -> rows.getOrElse("decom", -1.0),
      "calibration.build_s" -> call("calibration"),
      "calibration.plan_s" -> plan("calibration"),
      "calibration.self_s" -> self("calibration"),
      "wide.self_s" -> self("wide"),
      "wide.shuffle_write_bytes" -> wideTasks.map(_.shuffleWrite).sum.toDouble,
      "wide.shuffle_read_bytes" -> wideTasks.map(_.shuffleRead).sum.toDouble,
      "wide.spill_bytes" -> wideTasks.map(_.spill).sum.toDouble,
      "wide.peak_exec_mem_mb" ->
        (if (wideTasks.isEmpty) 0.0 else wideTasks.map(_.peakMem).max / 1048576.0),
      "wide.rows_out" -> rows.getOrElse("wide", 0.0),
      "sinks.self_s" -> (median(directs.map(_.wallS)) - prefix(n)),
      "sinks.rows_written" -> result.rowsLoaded.toDouble,
      "pipeline.overhead_s" -> median(fulls.zip(directs).map(p => p._1.wallS - p._2.wallS)),
      "trace.full_wall_s" -> full) ++
      sparkLayer(Seq(fulls.last), cores)).foreach { case (k, v) => out(k) = JDouble(v) }
  }

  /** Total length of the union of [start, end) intervals, in ms. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}
