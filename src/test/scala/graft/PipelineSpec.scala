package graft

/** `Pipeline.run` records non-fatal stage errors as a failed result and
  * lets fatal JVM errors propagate, from stages and hooks alike; its
  * observed stage counts see each row once.
  */
class PipelineSpec extends SparkSpec {

  private def run(stage: Pipeline.Stage, hooks: Pipeline.HookManager = new Pipeline.HookManager) =
    Pipeline.run(
      spark,
      extract = s => s.range(10).toDF("id"),
      transforms = Seq("boom" -> stage),
      load = _.count(),
      hooks = hooks)

  test("a LinkageError from a stage or a hook escapes Pipeline.run") {
    intercept[LinkageError](run(_ => throw new LinkageError("stage")))
    val hooks = new Pipeline.HookManager
    hooks.register("pipeline.start")(_ => throw new LinkageError("hook"))
    intercept[LinkageError](run(df => df, hooks))
  }

  test("a RuntimeException is recorded as failed; a throwing hook is skipped") {
    val errors = collection.mutable.Buffer.empty[Any]
    val hooks = new Pipeline.HookManager
    hooks.register("stage.error")(p => errors += p("error"))
    hooks.register("stage.error")(_ => throw new RuntimeException("hook"))
    val result = run(_ => throw new RuntimeException("stage"), hooks)
    assert(result.status == "failed" && result.errors == Seq("stage"))
    assert(errors == Seq("stage"))
  }

  test("rowsLoaded is the last stage's observe; the plan holds one CollectMetrics per stage") {
    import org.apache.spark.sql.execution.{CollectMetricsExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.functions.col
    val plans = collection.mutable.Buffer.empty[SparkPlan]
    val tap = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan; () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val helper = new AdaptiveSparkPlanHelper {}
    Seq(
      Nil -> 10L,
      Seq[(String, Pipeline.Stage)](
        "evens" -> (_.where(col("id") % 2 === 0)),
        "small" -> (_.where(col("id") < 6))) -> 3L).foreach { case (transforms, last) =>
      org.apache.spark.GraftSparkShims.waitForListeners(spark.sparkContext)
      plans.clear()
      spark.listenerManager.register(tap)
      val result = try Pipeline.run(
        spark,
        extract = s => s.range(10).toDF("id"),
        transforms = transforms,
        load = df => { df.write.format("noop").mode("overwrite").save(); -1L })
      finally {
        org.apache.spark.GraftSparkShims.waitForListeners(spark.sparkContext)
        spark.listenerManager.unregister(tap)
      }
      assert(result.ok, result.summary)
      assert(result.stages.last.rowsOut == last)
      assert(result.rowsLoaded == last)
      assert(plans.size == 1, s"expected one action, saw ${plans.size}")
      val metrics = helper.collect(plans.head) { case c: CollectMetricsExec => c }
      assert(metrics.size == transforms.size + 1, plans.head.treeString)
    }
  }

  test("a partitioned parquet load observes extract and load rows once each") {
    import graft.telemetry.Fixtures
    val in = java.nio.file.Files.createTempDirectory("pipe_pq_in")
    val out = java.nio.file.Files.createTempDirectory("pipe_pq_out").toString
    Seq("a", "b", "c").foreach(f => Fixtures.writeHkFile(in.resolve(s"$f.bin"), 30))
    val result = Pipeline.run(
      spark,
      extract = s => Registry.getExtractor("binary")(s, Registry.parseConfig(
        s"""{"path": "$in", "sec_hdr_length": 4}""")),
      transforms = Seq(
        "decom" -> (df => operators.Decom(df, Fixtures.hkParamDefs)),
        "calibration" -> (df => operators.Calibration(df, Fixtures.hkCalibrations))),
      load = df => {
        Registry.getLoader("parquet")(df, Registry.parseConfig(s"""{"output_dir": "$out"}"""))
        -1L
      })
    assert(result.ok, result.summary)
    assert(result.stages.map(s => s.name -> s.rowsOut) ==
      Seq("extract" -> 90L, "decom" -> 360L, "calibration" -> 360L))
    assert(result.rowsLoaded == 360L)
    assert(spark.read.parquet(out).count() == 360L)
  }
}
