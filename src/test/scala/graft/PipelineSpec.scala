package graft

/** `Pipeline.run` records non-fatal stage errors as a failed result and
  * lets fatal JVM errors propagate, from stages and hooks alike.
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
}
