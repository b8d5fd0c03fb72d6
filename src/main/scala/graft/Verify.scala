package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: Verify <sfDir> <outDir> [queryName...]
  * With no names, dumps every query (the driver's invocation); with
  * names, only those — fast local iteration on new queries.
  *
  * Robustness contract (r17): oracle_sql.json is written FIRST — it is
  * pure config, so a Verify process that dies mid-dump still leaves a
  * partial, checkable out-dir instead of yielding an empty `{}`
  * correctness artifact (the r15/r16 failure mode). Each query logs a
  * completion line with elapsed seconds so a truncated run is
  * diagnosable from the driver's log, and results are written without
  * coalesce(1) — check_correctness.py globs part files.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSet
    val selected = (name: String) => names.isEmpty || names(name)
    val spark = Cli.session()
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val toRun = SparkEntry.queries.filter(kv => selected(kv._1))
    val total = toRun.size
    var done = 0
    val t0 = System.nanoTime()
    toRun.foreach { case (name, fn) =>
      val tq = System.nanoTime()
      try {
        fn(spark, sfDir).write.mode("overwrite").parquet(s"$outDir/$name")
        done += 1
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - tq) / 1e9}%.1fs ($done/$total, total ${(System.nanoTime() - t0) / 1e9}%.0fs)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      }
    }
    System.err.println(f"[verify] complete: $done/$total dumped in ${(System.nanoTime() - t0) / 1e9}%.0fs")
    spark.stop()
  }
}
