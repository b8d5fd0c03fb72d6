package graft
/** Dev tool: dump formatted plans for representative queries so the
  * pushdown/broadcast/codegen posture is inspectable per round.
  * Usage: runMain graft.PlanAudit [sfDir [queryName...]]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = Cli.session()
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q2_filter_project", "q4_broadcast_join", "q5_multi_join",
        "t2_decom", "d3_minhash_sig", "q1_agg")
    names.foreach { n =>
      println(s"========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
