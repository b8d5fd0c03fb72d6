package graft

import org.scalatest.funsuite.AnyFunSuite

/** The compact bench line's number formatting: the official artifact's
  * per-query values pass through this, so corruption here silently
  * falsifies the performance record.
  */
class BenchFormatSpec extends AnyFunSuite {

  test("trim strips trailing zeros only after a decimal point") {
    // the dp=0 degradation path must not eat integral zeros
    assert(Bench.trim(10.2, 0) == "10")
    assert(Bench.trim(100.0, 0) == "100")
    assert(Bench.trim(0.4, 0) == "0")
    // dp>0: strip trailing zeros, then a bare point
    assert(Bench.trim(10.20, 2) == "10.2")
    assert(Bench.trim(10.0, 2) == "10")
    assert(Bench.trim(0.0, 2) == "0")
    assert(Bench.trim(0.25, 2) == "0.25")
    assert(Bench.trim(64.33, 1) == "64.3")
  }

  private def parse(line: String): Map[String, Any] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(line).values
      .asInstanceOf[Map[String, Any]]
  }

  test("summarize: median and IQR of one query's runs; p50/p90 across queries") {
    // odd n: the middle value, quartiles on order statistics
    val odd = Bench.summarize(Seq(5.0, 1.0, 3.0, 2.0, 4.0))
    assert(odd == Bench.Summary(median = 3.0, iqr = 2.0))
    // even n: the mean of the two middle values, interpolated quartiles
    val even = Bench.summarize(Seq(4.0, 1.0, 2.0, 3.0))
    assert(even == Bench.Summary(median = 2.5, iqr = 1.5))
    // one slow outlier moves neither the median nor the IQR much
    assert(Bench.summarize(Seq(1.0, 1.0, 1.0, 1.0, 50.0)) ==
      Bench.Summary(median = 1.0, iqr = 0.0))
    assert(Bench.summarize(Seq(7.0)) == Bench.Summary(7.0, 0.0))
    // registry-wide percentiles of the per-query medians
    val medians = (1 to 11).map(_.toDouble)
    assert(Bench.quantile(medians, 0.5) == 6.0)
    assert(Bench.quantile(medians, 0.9) == 10.0)
    assert(math.abs(Bench.quantile(Seq(0.2, 0.4, 0.6, 0.8), 0.9) - 0.74) < 1e-12)
  }

  test("compact line keeps the FULL registry via prefix keys when names overflow") {
    // 114 realistic names cannot fit a 2000-char tail at any precision
    // with full names; the prefix format must carry every query
    val names = (1 to 14).map(i => s"d${i}_dedup_variant_name") ++
      (1 to 26).map(i => s"x${i}_text_variant_name") ++
      (1 to 30).map(i => s"q${i}_relational_name") ++
      (1 to 15).map(i => s"t${i}_telemetry_name") ++
      (1 to 6).map(i => s"st${i}_stream_name") ++
      (1 to 5).map(i => s"c${i}_corpus_name") ++
      (1 to 5).map(i => s"s${i}_ann_name") ++
      (1 to 3).map(i => s"e${i}_cluster_name")
    val results = names.zipWithIndex.map { case (n, i) => n -> (i % 50) / 10.0 }
    val line = Bench.compactJson(results, 67.0, "sf0.1", "{}")
    assert(line.length <= 1990, s"compact line overflows: ${line.length}")
    val m = parse(line)
    assert(m("keys") == "prefix")
    assert(m("n_queries").toString == results.size.toString)
    val qs = m("queries").asInstanceOf[Map[String, Any]]
    assert(qs.size == results.size, s"dropped queries: ${qs.size}")
    assert(qs.contains("d8") && qs.contains("st3") && qs.contains("x24"))
  }

  test("compact line carries the CURRENT registry at two-decimal precision") {
    // r19's official artifact degraded to ONE decimal (the 2-dp prefix
    // line no longer fit the 2000-char tail at 162 queries), inflating
    // apparent drift on sub-second queries. Pin: with the REAL registry
    // names and worst-case values (two non-zero decimals everywhere, so
    // trailing-zero strip saves nothing), the chosen line still carries
    // every query at >= 2 decimals. Registry growth that breaks this
    // should fail HERE, not silently blunt the driver's drift tracking.
    val names = SparkEntry.queries.keys.toSeq.sorted
    assert(names.size >= 160, s"registry shrank? ${names.size}")
    // realistic magnitudes (sf0.1: most queries sub-10s, a 12.37s tail
    // every 20th) with a non-zero second decimal everywhere so
    // trailing-zero strip saves nothing
    val results = names.zipWithIndex.map { case (n, i) =>
      n -> (if (i % 20 == 19) 12.37 else (i % 90) / 10.0 + 0.07)
    }
    val line = Bench.compactJson(results, 1234.56, "sf0.1", "{}",
      stagingTotal = 18.31)
    assert(line.length <= 1990, s"compact line overflows: ${line.length}")
    val m = parse(line)
    val qs = m("queries").asInstanceOf[Map[String, Any]]
    assert(qs.size == results.size, s"dropped queries: ${qs.size}")
    // every emitted value preserves its second decimal (a 7)
    assert(qs.values.forall(v =>
      math.round(v.toString.toDouble * 100) % 10 == 7),
      "per-query values lost decimal precision")
    assert(m("staging_total") == 18.31)
    assert(!m.contains("errors"), "empty errors map should be omitted")
  }

  test("compact line keeps non-empty errors and -1 sentinels") {
    val results = Seq("q1_ok" -> 1.23, "q2_bad" -> -1.0)
    val m = parse(Bench.compactJson(results, 1.23, "sf0.1",
      """{"q2_bad":"boom"}"""))
    assert(m("errors").asInstanceOf[Map[String, Any]]("q2_bad") == "boom")
    assert(m("queries").asInstanceOf[Map[String, Any]]("q2_bad") == -1)
  }

  test("compact line keeps full names when they fit") {
    val results = (1 to 10).map(i => s"q${i}_short_name" -> i / 10.0)
    val m = parse(Bench.compactJson(results, 5.5, "sf0.1", "{}"))
    assert(!m.contains("keys"))
    assert(m("queries").asInstanceOf[Map[String, Any]].contains("q1_short_name"))
  }

  test("compact line falls back to slowest-k when prefixes collide") {
    // duplicate prefixes (two q1_*) disqualify the prefix format; the
    // line must degrade to the slowest-k truncation, never emit a dict
    // with silently-merged keys
    val base = (1 to 200).map(i =>
      s"q${i}_some_quite_long_query_name_variant_$i" -> i / 10.0)
    val results = base :+ ("q1_second_query_with_same_prefix" -> 9.9)
    val line = Bench.compactJson(results, 100.0, "sf0.1", "{}")
    assert(line.length <= 1990)
    val m = parse(line)
    assert(!m.contains("keys"))
    assert(m("n_queries") == 201)
    val qs = m("queries").asInstanceOf[Map[String, Any]]
    assert(qs.size < 201 && qs.nonEmpty)
    // slowest-k keeps the worst offenders under their FULL names
    assert(qs.contains("q200_some_quite_long_query_name_variant_200"))
  }
}
