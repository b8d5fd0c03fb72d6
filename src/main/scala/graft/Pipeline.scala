package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.control.NonFatal

/** Thin pipeline composer + observability (SURVEY.md §2.12): the
  * reference's Pipeline.run / StageResult / HookManager / PipelineMetrics
  * contract re-expressed over one lazy Spark plan.
  *
  * Extract -> transforms -> load composes a single DataFrame chain; each
  * stage contributes an `observe` metric so per-stage row counts come
  * from the one real action (no extra passes, unlike per-stage counting).
  * The reference's stop_on_error batch-skip has no lazy analog — errors
  * surface at the action; per-row recoverable errors are modeled as
  * validity columns instead (documented divergence, SURVEY.md §7.3).
  *
  * Implements the documented hook contract (pipeline.start/complete,
  * stage.error) that the reference advertises but never wires
  * (hooks.py:14 vs pipeline.py:86-97).
  */
object Pipeline {

  type Stage = DataFrame => DataFrame

  /** One stage's outcome. Spark fuses stages into one plan, so there is
    * no per-stage time here; the whole run's time is
    * [[PipelineResult.elapsedS]].
    */
  case class StageResult(name: String, status: String, rowsOut: Long)

  case class PipelineResult(
      status: String,
      rowsLoaded: Long,
      stages: Seq[StageResult],
      errors: Seq[String],
      elapsedS: Double) {
    def ok: Boolean = status == "success"
    def summary: String =
      s"Pipeline $status: ${stages.size} stages, $rowsLoaded rows, " +
        f"$elapsedS%.2fs" +
        (if (errors.nonEmpty) s"; errors: ${errors.mkString("; ")}" else "")
  }

  /** Pub/sub hooks (observability/hooks.py contract): non-fatal handler
    * errors are swallowed, events fire synchronously.
    */
  final class HookManager {
    private val handlers = mutable.Map.empty[String, mutable.Buffer[Map[String, Any] => Unit]]
    def register(event: String)(h: Map[String, Any] => Unit): Unit =
      handlers.getOrElseUpdate(event, mutable.Buffer.empty) += h
    def fire(event: String, payload: Map[String, Any] = Map.empty): Unit =
      handlers.getOrElse(event, Nil).foreach { h =>
        try h(payload) catch { case NonFatal(_) => () }
      }
  }

  def run(
      spark: SparkSession,
      extract: SparkSession => DataFrame,
      transforms: Seq[(String, Stage)] = Nil,
      load: DataFrame => Long,
      hooks: HookManager = new HookManager,
      dryRun: Boolean = false): PipelineResult = {
    val t0 = System.nanoTime()
    hooks.fire("pipeline.start")
    val errors = mutable.Buffer.empty[String]
    val stageResults = mutable.Buffer.empty[StageResult]
    var rows = 0L
    try {
      // index the metric names: two transforms may share a name (e.g.
      // two apid_filter stages) and observe names must be plan-unique
      val names = "extract" +: transforms.map(_._1)
      val keys = names.zipWithIndex.map { case (n, i) => s"stage_${i}_$n" }
      var df = extract(spark).observe(keys.head, count(lit(1)).as("rows"))
      transforms.zip(keys.tail).foreach { case ((_, fn), key) =>
        df = fn(df).observe(key, count(lit(1)).as("rows"))
      }
      val listener = new MetricsListener
      spark.listenerManager.register(listener)
      try {
        rows = if (dryRun) { df.explain(); 0L } else load(df)
      } finally {
        // metrics are delivered asynchronously after the action
        org.apache.spark.GraftSparkShims.waitForListeners(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      val observed = listener.observed
      // the last stage's observe counts the loader's input, so a loader
      // whose write IS the action gets its row count from that one job:
      // `load` may return a negative sentinel to mean "read it from the
      // observe" instead of paying a second count() action over the
      // whole pipeline (the Cli.run double-action, r15 verdict item 5)
      if (rows < 0L && !dryRun)
        rows = observed.getOrElse(keys.last, -1L)
      names.zip(keys).foreach { case (n, key) =>
        stageResults += StageResult(
          n, if (dryRun) "skipped" else "success", observed.getOrElse(key, -1L))
      }
      hooks.fire("pipeline.complete", Map("rows" -> rows))
      PipelineResult(
        "success", rows, stageResults.toSeq, errors.toSeq, elapsed)
    } catch {
      // fatal JVM errors (OOM, LinkageError, interrupts) propagate
      case NonFatal(e) =>
        errors += e.getMessage
        hooks.fire("stage.error", Map("error" -> e.getMessage))
        PipelineResult("failed", rows, stageResults.toSeq, errors.toSeq,
          (System.nanoTime() - t0) / 1e9)
    }
  }

  private final class MetricsListener
      extends org.apache.spark.sql.util.QueryExecutionListener {
    val observed = mutable.Map.empty[String, Long]
    override def onSuccess(
        funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) =>
        observed(name) = row.getAs[Long]("rows")
      }
    override def onFailure(
        funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }
}
