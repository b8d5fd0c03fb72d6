package graft

import graft.telemetry.Fixtures

class CliSpec extends SparkSpec {

  test("registry resolves stages and errors helpfully on unknown names") {
    assert(Registry.allStages("extractors") == Seq("binary", "csv", "jsonl", "orc", "parquet"))
    assert(Registry.allStages("transformers") == Seq("apid_filter", "c4_clean",
      "calibration", "ccnet_bucket_filter", "chunk_documents",
      "classifier_filter", "code_filter", "containment_dedup", "decom",
      "decontaminate", "domain_cap", "dsir_sample",
      "dup_span_strip", "entropy_filter", "eval_overlap", "exact_dedup", "gopher_filter",
      "hash_split", "lang_filter", "length_batching", "line_dedup",
      "near_dedup", "novelty_filter",
      "pack_sequences",
      "perplexity_filter", "pii_redact", "quality_filter", "quality_quantile_filter",
      "repetition_filter", "semantic_decontaminate", "semantic_dedup", "simhash_dedup",
      "soft_dedup_weights", "source_mix",
      "source_upsample", "stratified_sample", "temperature_mix", "token_budget",
      "unimax_resample",
      "url_dedup", "weighted_sample"))
    assert(Registry.allStages("loaders") == Seq("ccsds", "csv", "jsonl", "orc", "parquet"))
    val e = intercept[NoSuchElementException](Registry.getExtractor("bogus"))
    assert(e.getMessage.contains("binary"))
  }

  test("end-to-end corpus pipeline (parquet -> quantile filter -> token budget -> split -> orc)") {
    // the round-8 stages wired through the same Pipeline.run machinery
    // as the telemetry lane: per-source relative quality floor, then a
    // per-source token quota, then a deterministic split, loaded as ORC
    val out = java.nio.file.Files.createTempDirectory("cli_corpus").toString
    val extract = Registry.getExtractor("parquet")
    val qual = Registry.getTransformer("quality_quantile_filter")(
      Registry.parseConfig("""{"percentile": 0.25}"""))
    val quota = Registry.getTransformer("token_budget")(
      Registry.parseConfig("""{"budget_tokens": 800}"""))
    val split = Registry.getTransformer("hash_split")(
      Registry.parseConfig(
        """{"splits": [{"name": "train", "fraction": 0.95},
          |           {"name": "eval", "fraction": 0.05}]}""".stripMargin))
    val load = Registry.getLoader("orc")
    val result = Pipeline.run(
      spark,
      extract = s => extract(s, Registry.parseConfig(
        """{"path": "/root/testdata/sf0.001/documents.parquet"}""")),
      transforms = Seq("quality_quantile_filter" -> qual,
        "token_budget" -> quota, "hash_split" -> split),
      load = df => { val n = df.count(); load(df, Registry.parseConfig(
        s"""{"output_dir": "$out"}""")); n })
    assert(result.ok, s"pipeline failed: ${result.errors}")
    // every stage observed its row count off the single action, and
    // each filter stage genuinely shrank the corpus
    val stageRows = result.stages.map(st => st.name -> st.rowsOut).toMap
    assert(stageRows("extract") == 500)
    assert(stageRows("quality_quantile_filter") < 500 &&
      stageRows("quality_quantile_filter") > 300, s"stages: $stageRows")
    assert(stageRows("token_budget") < stageRows("quality_quantile_filter"),
      s"stages: $stageRows")
    assert(stageRows("hash_split") == stageRows("token_budget"))
    val back = spark.read.orc(out)
    assert(back.count() == result.rowsLoaded)
    assert(back.select("split").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("train", "eval")))
  }

  test("end-to-end corpus pipeline (parquet -> gopher -> dup spans -> dsir -> orc)") {
    // the round-9 stages chained through Pipeline.run: rule-based
    // quality gate, substring-level dedup rewrite, then importance
    // resampling down to a fixed budget
    val out = java.nio.file.Files.createTempDirectory("cli_corpus9").toString
    val extract = Registry.getExtractor("parquet")
    val gopher = Registry.getTransformer("gopher_filter")(
      Registry.parseConfig("""{"min_words": 20}"""))
    val strip = Registry.getTransformer("dup_span_strip")(
      Registry.parseConfig("""{"window_len": 40}"""))
    val dsir = Registry.getTransformer("dsir_sample")(
      Registry.parseConfig("""{"k": 100, "target_quality_min": 0.4}"""))
    val load = Registry.getLoader("orc")
    val result = Pipeline.run(
      spark,
      extract = s => extract(s, Registry.parseConfig(
        """{"path": "/root/testdata/sf0.001/documents.parquet"}""")),
      transforms = Seq("gopher_filter" -> gopher,
        "dup_span_strip" -> strip, "dsir_sample" -> dsir),
      load = df => { val n = df.count(); load(df, Registry.parseConfig(
        s"""{"output_dir": "$out"}""")); n })
    assert(result.ok, s"pipeline failed: ${result.errors}")
    val stageRows = result.stages.map(st => st.name -> st.rowsOut).toMap
    assert(stageRows("extract") == 500)
    assert(stageRows("gopher_filter") < 500 && stageRows("gopher_filter") > 0,
      s"stages: $stageRows")
    assert(stageRows("dup_span_strip") <= stageRows("gopher_filter"),
      s"stages: $stageRows")
    assert(stageRows("dsir_sample") == 100, s"stages: $stageRows")
    val back = spark.read.orc(out)
    assert(back.count() == result.rowsLoaded && result.rowsLoaded == 100)
    assert(back.columns.contains("log_weight"))
  }

  test("end-to-end pipeline via registry stages (binary -> decom -> calibrate -> parquet)") {
    val dir = java.nio.file.Files.createTempDirectory("cli_in")
    val out = java.nio.file.Files.createTempDirectory("cli_out").toString
    Fixtures.writeHkFile(dir.resolve("hk.bin"), 40)
    val extract = Registry.getExtractor("binary")
    val decom = Registry.getTransformer("decom")(Registry.parseConfig(
      """{"parameters": [
        |  {"name": "obc_temp_dn", "apid": 256, "byte_offset": 0,
        |   "bit_length": 16, "param_type": "uint", "unit": "DN"}
        |]}""".stripMargin))
    val cal = Registry.getTransformer("calibration")(Registry.parseConfig(
      """{"calibrations": [
        |  {"parameter_name": "obc_temp_dn", "method": "polynomial",
        |   "unit": "degC", "coefficients": [-55.0, 0.04394531]}
        |]}""".stripMargin))
    val load = Registry.getLoader("parquet")
    val result = Pipeline.run(
      spark,
      extract = s => extract(s, Registry.parseConfig(
        s"""{"path": "${dir.toString}/hk.bin", "sec_hdr_length": 4}""")),
      transforms = Seq("decom" -> decom, "calibration" -> cal),
      load = df => { val n = df.count(); load(df, Registry.parseConfig(
        s"""{"output_dir": "$out"}""")); n })
    assert(result.ok && result.rowsLoaded == 40)
    val back = spark.read.parquet(out)
    assert(back.count() == 40)
    assert(back.select("unit").distinct().head().getString(0) == "degC")
  }

  test("a calibration table whose table_raw is not sorted fails the run, naming the parameter") {
    val dir = java.nio.file.Files.createTempDirectory("cli_badtable_in")
    val out = java.nio.file.Files.createTempDirectory("cli_badtable_out").toString
    Fixtures.writeHkFile(dir.resolve("hk.bin"), 10)
    val decom = Registry.getTransformer("decom")(Registry.parseConfig(
      """{"parameters": [
        |  {"name": "obc_temp_dn", "apid": 256, "byte_offset": 0,
        |   "bit_length": 16, "param_type": "uint"}
        |]}""".stripMargin))
    val cal = Registry.getTransformer("calibration")(Registry.parseConfig(
      """{"calibrations": [
        |  {"parameter_name": "obc_temp_dn", "method": "table",
        |   "table_raw": [0.0, 4096.0, 2048.0], "table_eng": [0.0, 1.0, 2.0]}
        |]}""".stripMargin))
    val result = Pipeline.run(
      spark,
      extract = s => Registry.getExtractor("binary")(s, Registry.parseConfig(
        s"""{"path": "${dir.toString}/hk.bin", "sec_hdr_length": 4}""")),
      transforms = Seq("decom" -> decom, "calibration" -> cal),
      load = df => {
        Registry.getLoader("parquet")(df, Registry.parseConfig(s"""{"output_dir": "$out"}"""))
        -1L
      })
    assert(!result.ok, result.summary)
    assert(result.errors.exists(m =>
      m.contains("obc_temp_dn") && m.contains("table_raw") && m.contains("non-decreasing")),
      result.errors)
  }

  test("loader-path run is ONE action: observe supplies rowsLoaded, no count() job") {
    val dir = java.nio.file.Files.createTempDirectory("cli_onejob_in")
    val out = java.nio.file.Files.createTempDirectory("cli_onejob_out").toString
    Fixtures.writeHkFile(dir.resolve("hk.bin"), 24)
    val extract = Registry.getExtractor("binary")
    val decom = Registry.getTransformer("decom")(Registry.parseConfig(
      """{"parameters": [
        |  {"name": "obc_temp_dn", "apid": 256, "byte_offset": 0,
        |   "bit_length": 16, "param_type": "uint", "unit": "DN"}
        |]}""".stripMargin))
    val load = Registry.getLoader("parquet")
    // count ACTIONS, not Spark jobs: AQE materializes each exchange
    // stage as its own job, so job count is plan-shape noise — the
    // double-action defect this guards against is a second
    // QueryExecution (the old separate df.count()), which is exactly
    // one extra onSuccess callback
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val tap = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { actions.incrementAndGet(); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    org.apache.spark.GraftSparkShims.waitForListeners(spark.sparkContext)
    spark.listenerManager.register(tap)
    try {
      actions.set(0)
      // the Cli.run loader path: write IS the action, -1 sentinel tells
      // Pipeline.run to take rowsLoaded from the last stage's observe
      val result = Pipeline.run(
        spark,
        extract = s => extract(s, Registry.parseConfig(
          s"""{"path": "${dir.toString}/hk.bin", "sec_hdr_length": 4}""")),
        transforms = Seq("decom" -> decom),
        load = df => {
          load(df, Registry.parseConfig(s"""{"output_dir": "$out"}"""))
          -1L
        })
      org.apache.spark.GraftSparkShims.waitForListeners(spark.sparkContext)
      assert(result.ok, result.summary)
      assert(result.rowsLoaded == 24,
        s"observe-supplied rowsLoaded = ${result.rowsLoaded}")
      assert(actions.get == 1,
        s"expected ONE action for the run stage (the loader write), " +
          s"saw ${actions.get}")
    } finally spark.listenerManager.unregister(tap)
    assert(spark.read.parquet(out).count() == 24)
  }

  test("pretraining funnel composes through Registry stages (== p4 stage counts)") {
    // The p4 query proves the COMPOSITE; this proves the STAGES compose
    // identically: exact_dedup -> near_dedup (the d8/d10 minhash-LSH
    // generator + quality-argmax survivor) -> gopher_filter ->
    // token_budget chained through Pipeline.run must land on exactly
    // the per-stage survivor counts p4's oracle pins. Equivalence is
    // not an accident of this dataset: p4 elects survivors over the
    // FULL corpus while the chain clusters post-exact-dedup, but an
    // exact twin has identical text, hence identical quality, shingles
    // and signatures — so the globally elected survivor is always the
    // min id of its content group (it ties on quality and wins on id),
    // always survives exact_dedup, and band collisions among the
    // remaining docs are unchanged (signatures are per-doc).
    val sfDir = "/root/testdata/sf0.001"
    val p4 = SparkEntry.queries("p4_pretrain_funnel")(spark, sfDir)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    val extract = Registry.getExtractor("parquet")
    val exact = Registry.getTransformer("exact_dedup")(Registry.parseConfig("{}"))
    val near = Registry.getTransformer("near_dedup")(Registry.parseConfig(
      """{"method": "minhash_lsh", "threshold": 0.1, "ngram": 3,
        | "num_hashes": 8, "rows_per_band": 2, "keep": "best_quality"}""".stripMargin))
    val gopher = Registry.getTransformer("gopher_filter")(Registry.parseConfig("{}"))
    val quota = Registry.getTransformer("token_budget")(Registry.parseConfig(
      """{"budget_tokens": 800}"""))
    val result = Pipeline.run(
      spark,
      extract = s => extract(s, Registry.parseConfig(
        s"""{"path": "$sfDir/documents.parquet"}""")),
      transforms = Seq("exact_dedup" -> exact, "near_dedup" -> near,
        "gopher_filter" -> gopher, "token_budget" -> quota),
      load = df => df.count())
    assert(result.ok, s"pipeline failed: ${result.errors}")
    val stageRows = result.stages.map(st => st.name -> st.rowsOut).toMap
    assert(stageRows("extract") == p4("input"), s"p4=$p4 stages=$stageRows")
    assert(stageRows("exact_dedup") == p4("exact_dedup"), s"p4=$p4 stages=$stageRows")
    assert(stageRows("near_dedup") == p4("near_dedup"), s"p4=$p4 stages=$stageRows")
    assert(stageRows("gopher_filter") == p4("gopher"), s"p4=$p4 stages=$stageRows")
    assert(stageRows("token_budget") == p4("token_budget"), s"p4=$p4 stages=$stageRows")
    // the funnel genuinely funnels at this SF: each gate is active
    assert(p4("token_budget") < p4("gopher") && p4("gopher") < p4("near_dedup") &&
      p4("near_dedup") < p4("input"), s"p4=$p4")
  }

  test("global log flags are stripped before the command and applied on demand") {
    val (g, rest) = Cli.parseGlobalArgs(List(
      "--log-level", "DEBUG", "--log-format", "json", "run", "--dry-run"))
    assert(g.configured && g.logLevel == "DEBUG" && g.logFormat == "json")
    assert(rest == List("run", "--dry-run"))
    val (g2, rest2) = Cli.parseGlobalArgs(List("stages"))
    assert(!g2.configured && rest2 == List("stages"))
  }

  test("run-arg parser handles interleaved transformer configs") {
    val opts = Cli.parseRunArgs(List(
      "--extractor", "binary", "--extractor-config", """{"path": "x"}""",
      "--transformer", "decom", "--transformer-config", """{"parameters": []}""",
      "--transformer", "apid_filter",
      "--loader", "parquet", "--dry-run"))
    assert(opts.extractor.contains("binary"))
    assert(opts.transformers.map(_._1) == Seq("decom", "apid_filter"))
    assert(opts.transformers.head._2.contains("parameters"))
    assert(opts.dryRun)
  }

  test("inspect reads a directory through the ccsds source, with and without an APID") {
    val dir = java.nio.file.Files.createTempDirectory("cli_inspect")
    Fixtures.writeHkFile(dir.resolve("a.bin"), 20)
    Fixtures.writeHkFile(dir.resolve("b.bin"), 30)
    def shown(maxPackets: Int, apid: Option[Int]) =
      Cli.inspect(spark, dir.toString, maxPackets, apid).collect()
        .map(r => (r.getAs[String]("apid_hex"), r.getAs[Int]("seq_count"))).toSeq
    val all = shown(100, None)
    assert(all.size == 50 && all.map(_._1).distinct == Seq("0x0100"))
    assert(all.map(_._2) == ((0 until 20) ++ (0 until 30)).sorted)
    assert(shown(100, Some(0x100)) == all)
    assert(shown(100, Some(0x200)).isEmpty)
    assert(shown(7, None).size == 7)
    val err = intercept[Exception](Cli.inspect(spark, dir.toString + "/nope", 10, None).collect())
    assert(err.getMessage.contains("does not exist"))
  }

  test("ccsds loader round-trips packets through the binary extractor") {
    val dir = java.nio.file.Files.createTempDirectory("ccsds_rt_in")
    val out = java.nio.file.Files.createTempDirectory("ccsds_rt_out").toString
    Fixtures.writeHkFile(dir.resolve("hk.bin"), 25)
    val extract = Registry.getExtractor("binary")
    val packets = extract(spark, Registry.parseConfig(
      s"""{"path": "${dir.toString}/hk.bin", "sec_hdr_length": 4}"""))
    Registry.getLoader("ccsds")(packets, Registry.parseConfig(
      s"""{"output_dir": "$out"}"""))
    val back = extract(spark, Registry.parseConfig(
      s"""{"path": "$out", "sec_hdr_length": 4}"""))
    assert(back.count() == 25)
    import org.apache.spark.sql.functions._
    assert(back.select(sum(col("seq_count"))).head().getLong(0) == (0 until 25).sum)
  }

  /** A framed dump of `n` packets with 1-8 garbage bytes after each one. */
  private def garbledDump(n: Int): String = {
    val bytes = (0 until n).flatMap { i =>
      sources.CcsdsSource.SyncMarker ++
        Fixtures.makeRawPacket(apid = 0x100, seqCount = i, userData = Array.fill[Byte](20)(7)) ++
        Array.fill[Byte](i % 8 + 1)(0xee.toByte)
    }.toArray
    val f = java.nio.file.Files.createTempDirectory("garbled").resolve("dump.bin")
    java.nio.file.Files.write(f, bytes).toString
  }

  private def binary(config: String) =
    Registry.getExtractor("binary")(spark, Registry.parseConfig(config))

  test("binary extractor forwards resync_window: every split of a garbled dump keeps its packets") {
    val path = garbledDump(300)
    val df = binary(
      s"""{"path": "$path", "frame_sync": true, "split_size": 512, "resync_window": 8,
         | "source_id": null}""".stripMargin)
    assert(sources.CcsdsDataSourceSpec.plannedSplits(df) > 10, "expected the dump to split")
    assert(df.select("seq_count").collect().map(_.getInt(0)).sorted.toSeq == (0 until 300))
  }

  test("binary extractor rejects an unknown key, naming it") {
    val e = intercept[IllegalArgumentException](
      binary(s"""{"path": "${garbledDump(5)}", "frame_sync": true, "resync_windw": 8}"""))
    assert(e.getMessage.contains("unknown option(s) resync_windw"), e.getMessage)
  }

  test("binary extractor rejects a non-integer split_size, naming it") {
    val e = intercept[IllegalArgumentException](
      binary(s"""{"path": "${garbledDump(5)}", "frame_sync": true, "split_size": 4096.5}"""))
    assert(e.getMessage.contains("split_size must be an integer, got '4096.5'"), e.getMessage)
  }

  test("binary extractor rejects an apid_filter that is not a list of integers") {
    // json4s reads 512 as no list and [512.7] as [512]: a filter dropped or changed
    for (filter <- Seq("512", "[512.7]", """[256, "x"]""")) {
      val e = intercept[RuntimeException](
        binary(s"""{"path": "${garbledDump(5)}", "apid_filter": $filter}"""))
      assert(e.getMessage.contains("apid_filter must be a list of integers"), filter)
    }
  }

  test("near_dedup and simhash_dedup stages honor their tuning configs") {
    val docs = Registry.getExtractor("parquet")(spark, Registry.parseConfig(
      """{"path": "/root/testdata/sf0.001/documents.parquet"}"""))
    val n0 = docs.count()
    // near_dedup: the stop-gram cap can only DROP pairs, so the capped
    // run must keep at least as many docs as the uncapped one
    def nearDedup(cfg: String) =
      Registry.getTransformer("near_dedup")(Registry.parseConfig(cfg))(docs).count()
    val uncapped = nearDedup("""{"threshold": 0.4, "ngram": 3}""")
    val capped = nearDedup("""{"threshold": 0.4, "ngram": 3, "max_df_fraction": 0.01}""")
    assert(uncapped > 0 && uncapped <= n0)
    assert(capped >= uncapped, s"df cap invented pairs: $capped < $uncapped")
    // simhash_dedup: a looser hamming budget admits a superset of pairs,
    // so survivors are monotonically non-increasing in max_hamming
    def simhashDedup(cfg: String) =
      Registry.getTransformer("simhash_dedup")(Registry.parseConfig(cfg))(docs).count()
    val tight = simhashDedup("""{"max_hamming": 0}""")
    val loose = simhashDedup("""{"max_hamming": 8}""")
    assert(tight > 0 && tight <= n0)
    assert(loose <= tight, s"looser budget removed fewer docs: $loose > $tight")
  }

  test("semantic_decontaminate stage drops exactly the s21 flag set") {
    import org.apache.spark.sql.functions._
    val e = Registry.getExtractor("parquet")(spark, Registry.parseConfig(
      """{"path": "/root/testdata/sf0.001/embeddings.parquet"}"""))
      .withColumn("is_eval", col("vec_id") % 10 === 7)
    val n0 = e.count()
    val nTrain = e.where(!col("is_eval")).count()
    val out = Registry.getTransformer("semantic_decontaminate")(
      Registry.parseConfig("""{"id_column": "vec_id", "threshold": 0.3,
        "eval_flag_column": "is_eval"}"""))(e)
    // eval rows are excluded from the output entirely; something real
    // was dropped at the fixture's permissive tau
    assert(out.where(col("is_eval")).count() == 0)
    val kept = out.count()
    assert(kept < nTrain, s"stage dropped nothing ($kept of $nTrain)")
    // at an unreachable tau nothing beyond the eval rows drops
    val none = Registry.getTransformer("semantic_decontaminate")(
      Registry.parseConfig("""{"id_column": "vec_id", "threshold": 0.999,
        "eval_flag_column": "is_eval"}"""))(e)
    assert(none.count() == nTrain)
    assert(n0 == nTrain + e.where(col("is_eval")).count())
    // the stage (same tau/nprobe/eval split, and the same quantizer
    // trainer: s21 blocks on the shared audit quantizer whose corpus
    // also excludes the vec_id % 10 == 3 stream increment, replayed
    // here via quantizer_train_filter) drops EXACTLY the s21 query's
    // flagged train ids — one implementation, two surfaces
    val pinned = Registry.getTransformer("semantic_decontaminate")(
      Registry.parseConfig("""{"id_column": "vec_id", "threshold": 0.3,
        "eval_flag_column": "is_eval",
        "quantizer_train_filter": "vec_id % 10 != 3"}"""))(e)
    val flagged = graft.SparkEntry.queries("s21_semantic_contamination")(
        spark, "/root/testdata/sf0.001")
      .select("train_id").collect().map(_.getLong(0)).toSet
    val keptIds = pinned.select("vec_id").collect().map(_.getLong(0)).toSet
    val trainIds = e.where(!col("is_eval"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(trainIds -- keptIds == flagged, "stage drop set != s21 flag set")
  }

  test("pack_sequences and source_mix stages") {
    import org.apache.spark.sql.functions._
    val docs = Registry.getExtractor("parquet")(spark, Registry.parseConfig(
      """{"path": "/root/testdata/sf0.001/documents.parquet"}"""))
    val n0 = docs.count()
    val packed = Registry.getTransformer("pack_sequences")(Registry.parseConfig(
      """{"token_budget": 256}"""))(docs)
    assert(packed.count() == n0) // annotation, not a filter
    assert(packed.columns.contains("pack_id") && packed.columns.contains("text"))
    // offsets always fit inside the budget; pack ids are dense per source
    assert(packed.where(col("pack_offset") >= 256 || col("pack_offset") < 0).count() == 0)
    val mixed = Registry.getTransformer("source_mix")(Registry.parseConfig(
      """{"weights": {"src0": 3.0}, "default_weight": 1.0}"""))(docs)
    val kept = mixed.count()
    assert(kept > 0 && kept < n0, s"source_mix was a no-op ($kept of $n0)")
    // src0 is triple-weighted: it must retain a larger fraction of its
    // rows than the corpus-wide retention rate
    val src0Frac = mixed.where(col("source") === "src0").count().toDouble /
      docs.where(col("source") === "src0").count()
    assert(src0Frac > kept.toDouble / n0)
  }

  test("chunk_documents stage emits overlapping context-window chunks") {
    import org.apache.spark.sql.functions._
    val docs = Registry.getExtractor("parquet")(spark, Registry.parseConfig(
      """{"path": "/root/testdata/sf0.001/documents.parquet"}"""))
    val chunked = Registry.getTransformer("chunk_documents")(Registry.parseConfig(
      """{"chunk_tokens": 32, "overlap_tokens": 8}"""))(docs)
    assert(chunked.count() > docs.count(), "long docs should split into chunks")
    assert(chunked.columns.contains("text") && chunked.columns.contains("chunk_id"))
    // chunks carry their parent doc's metadata for downstream stages
    assert(chunked.columns.contains("lang") && chunked.columns.contains("source"))
    // no chunk exceeds the token budget
    val over = chunked.where(size(split(col("text"), " ")) > 32).count()
    assert(over == 0, s"$over chunks exceed the 32-token budget")
  }

  test("document pipeline via registry stages (parquet -> dedup -> lang -> sample)") {
    val extract = Registry.getExtractor("parquet")
    val docs = extract(spark, Registry.parseConfig(
      """{"path": "/root/testdata/sf0.001/documents.parquet"}"""))
    val dedup = Registry.getTransformer("exact_dedup")(Registry.parseConfig("{}"))
    val lang = Registry.getTransformer("lang_filter")(Registry.parseConfig(
      """{"languages": ["en"]}"""))
    // sf0.001 quality scores span ~[0.32, ...] with 25% below 0.449 —
    // 0.45 filters some docs without emptying the pipeline
    val quality = Registry.getTransformer("quality_filter")(Registry.parseConfig(
      """{"min_score": 0.45}"""))
    val sample = Registry.getTransformer("stratified_sample")(Registry.parseConfig(
      """{"stratum_column": "lang", "rates_permille": {"en": 500}, "default_permille": 200}"""))
    // each stage individually filters (strictly shrinking counts)
    val n0 = docs.count()
    val n1 = dedup(docs).count()
    val n2 = lang(dedup(docs)).count()
    val n3 = quality(lang(dedup(docs))).count()
    val out = sample(quality(lang(dedup(docs))))
    val n = out.count()
    // sf0.001 documents have no exact dups: dedup keeps all rows here;
    // its per-group semantics are pinned by the dupGroups check below
    assert(n1 <= n0)
    assert(n2 < n1, s"lang_filter was a no-op ($n2)")
    assert(n3 < n2, s"quality_filter was a no-op ($n3)")
    assert(n > 0 && n < n3, s"stratified_sample was a no-op ($n)")
    // dedup kept one survivor per content group
    val survivors = dedup(docs)
    import org.apache.spark.sql.functions._
    val dupGroups = survivors
      .groupBy(md5(operators.TextAnalysis.normalize(col("text")).cast("binary")))
      .count().where(col("count") > 1).count()
    assert(dupGroups == 0)
  }
}
