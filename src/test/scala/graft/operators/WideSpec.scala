package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.functions._

/** `Telemetry.wide`'s plan and input checks. Its values are checked
  * against the per-slot `pivot` by the differential property in
  * `graft.telemetry.PropertySpec`.
  */
class WideSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** 2000 samples over `k` names and 50 times, on 4 partitions. */
  private def samples(k: Int): DataFrame =
    spark.range(0, 2000, 1, 4).select(
      (col("id") % 50).cast("double").as("time_tai"),
      concat(lit("p"), (col("id") % k).cast("string")).as("name"),
      (col("id") / 7).cast("int").as("seq_count"),
      col("id").cast("double").as("eng_value"))

  /** The executed plan after a run, with AQE's query stages. */
  private def executed(df: DataFrame): SparkPlan = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan
  }

  for (k <- Seq(5, 200)) test(s"$k names: one hash aggregate function, no sort or object aggregate") {
    val names = (0 until k).map(i => s"p$i")
    val plan = executed(Telemetry.wide(samples(k), names))
    assert(collect(plan) { case a: SortAggregateExec => a }.isEmpty, s"SortAggregate:\n$plan")
    assert(collect(plan) { case a: ObjectHashAggregateExec => a }.isEmpty, s"ObjectHashAggregate:\n$plan")
    val functions = collect(plan) { case a: BaseAggregateExec => a }
      .map(_.aggregateExpressions.map(_.aggregateFunction))
    assert(functions.nonEmpty, s"no aggregate:\n$plan")
    functions.foreach { fs =>
      assert(fs.size == 1 && fs.head.isInstanceOf[PivotLastWins], s"aggregate functions $fs:\n$plan")
      assert(fs.head.asInstanceOf[PivotLastWins].slots == names)
    }
  }

  for ((column, bad, message) <- Seq(
      ("name", lit(1), "`name` must be STRING, not INT"),
      ("seq_count", lit(1.5), "`seq_count` must be an integral type, not DOUBLE"),
      ("eng_value", lit(1.5f), "`eng_value` must be DOUBLE, not FLOAT")))
    test(s"$column of another type fails analysis, naming the column") {
      val e = intercept[AnalysisException](
        Telemetry.wide(samples(5).withColumn(column, bad), Seq("p0", "p1")))
      assert(e.getMessage.contains(message), e.getMessage)
    }

  test("seq_count may be any integral type") {
    def wideWith(t: String) = Telemetry.wide(
      samples(5).withColumn("seq_count", (col("seq_count") % 100).cast(t)), Seq("p0", "p3"))
    val expected = wideWith("int").collect().toSeq
    assert(expected.size == 50)
    for (t <- Seq("tinyint", "smallint", "bigint")) assert(wideWith(t).collect().toSeq == expected, t)
  }

  test("repeated parameter names are rejected") {
    val e = intercept[IllegalArgumentException](Telemetry.wide(samples(5), Seq("p0", "p1", "p0")))
    assert(e.getMessage.contains("repeat: p0"))
  }
}
