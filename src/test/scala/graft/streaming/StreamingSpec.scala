package graft.streaming

import graft.SparkSpec
import graft.operators.{Calibration, Decom}
import graft.sources.CcsdsSource
import graft.telemetry.Fixtures
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("packet file stream: decom+calibrate per micro-batch into memory sink") {
    val dir = java.nio.file.Files.createTempDirectory("stream_in")
    Fixtures.writeHkFile(dir.resolve("batch1.bin"), 30)
    val packets = TelemetryStreaming.packetFileStream(
      spark, dir.toString, CcsdsSource.Options(secHdrLength = 4))
    assert(packets.isStreaming)
    val samples = Calibration(Decom(packets, Fixtures.hkParamDefs), Fixtures.hkCalibrations)
    val q = samples.writeStream.format("memory").queryName("stream_samples")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // a second file arriving is picked up as a new micro-batch
      Fixtures.writeHkFile(dir.resolve("batch2.bin"), 20)
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM stream_samples").head().getLong(0)
      assert(n == (30 + 20) * 4) // 4 params per packet
    } finally q.stop()
  }

  test("watermarked windowed stats over sample event time") {
    val dir = java.nio.file.Files.createTempDirectory("stream_win")
    Fixtures.writeHkFile(dir.resolve("a.bin"), 50)
    val packets = TelemetryStreaming.packetFileStream(
      spark, dir.toString, CcsdsSource.Options(secHdrLength = 4))
    val samples = Calibration(Decom(packets, Fixtures.hkParamDefs), Fixtures.hkCalibrations)
    val stats = TelemetryStreaming.windowedStats(samples, windowSeconds = 10, watermarkSeconds = 5)
    val q = stats.writeStream.format("memory").queryName("stream_stats")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // append-mode emits only watermark-closed windows; times 0..49 with
      // a 5s watermark close windows [0,10)..[30,40) -> 4 per parameter
      val rows = spark.sql(
        "SELECT name, count(*) n, sum(n_samples) s FROM stream_stats GROUP BY name")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(rows("obc_temp_dn")._1 == 4)
      assert(rows("obc_temp_dn")._2 == 40)
    } finally q.stop()
  }

  test("session_window groups samples by activity gaps on the stream") {
    val dir = java.nio.file.Files.createTempDirectory("stream_sess")
    Fixtures.writeHkFile(dir.resolve("a.bin"), 30) // times 0..29s, 1s apart
    val packets = TelemetryStreaming.packetFileStream(
      spark, dir.toString, CcsdsSource.Options(secHdrLength = 4))
    val samples = Calibration(Decom(packets, Fixtures.hkParamDefs), Fixtures.hkCalibrations)
      .withColumn("event_time", timestamp_seconds(col("time_tai")))
      .withWatermark("event_time", "5 seconds")
      .groupBy(session_window(col("event_time"), "10 seconds"), col("name"))
      .agg(count(lit(1)).as("n"))
    val q = samples.writeStream.format("memory").queryName("stream_sessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // a much-later second batch advances the watermark past the first
      // session's end, so append mode emits it
      val late = (100 until 110).map { i =>
        graft.telemetry.Fixtures.makeRawPacket(
          apid = 0x100, seqCount = i,
          userData = graft.telemetry.BinaryFieldOps.packNumberBE(1.0, 16,
            graft.telemetry.ParameterType.UINT) ++ new Array[Byte](10),
          secHdr = Array[Byte](0, 0, 0, 1))
      }.reduce(_ ++ _)
      java.nio.file.Files.write(dir.resolve("b.bin"), late)
      q.processAllAvailable()
      val done = spark.sql("SELECT name, n FROM stream_sessions").collect()
      assert(done.nonEmpty, "first session should have been emitted")
      assert(done.forall(_.getLong(1) == 30)) // 1s gaps never split the session
    } finally q.stop()
  }

  test("max-batches early stop processes exactly N micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("stream_maxb")
    // 3 files, 1 file per trigger -> 3 available batches; stop after 2
    Fixtures.writeHkFile(dir.resolve("a.bin"), 10)
    Fixtures.writeHkFile(dir.resolve("b.bin"), 10)
    Fixtures.writeHkFile(dir.resolve("c.bin"), 10)
    val packets = TelemetryStreaming.packetFileStream(
      spark, dir.toString, CcsdsSource.Options(secHdrLength = 4),
      maxFilesPerTrigger = Some(1))
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val ran = StreamControl.runMaxBatches(
      packets, maxBatches = 2,
      writeBatch = (batch, _) => sizes.add(batch.count()))
    // exactly 2 of the 3 one-file batches were written, 10 packets each
    assert(ran == 2, s"expected 2 written batches, got $ran")
    import scala.jdk.CollectionConverters._
    assert(sizes.asScala.toSeq == Seq(10L, 10L), s"batch sizes: $sizes")
  }

  test("stateful sequence-gap monitor counts gaps across batches") {
    // seqs 0,1,2,4,5 -> one gap (3 missing) for apid 0x100
    val packets = Seq((0x100, 0), (0x100, 1), (0x100, 2), (0x100, 4), (0x100, 5),
      (0x200, 7), (0x200, 8)).toDS()
    val out = TelemetryStreaming.sequenceGapMonitor(packets).collect()
      .map(r => r.apid -> r).toMap
    assert(out(0x100).gaps == 1 && out(0x100).received == 5)
    assert(out(0x200).gaps == 0 && out(0x200).received == 2)
  }

  test("sequence-gap monitor handles the 14-bit wrap without false gaps") {
    // continuous stream crossing the wrap: ...16382, 16383, 0, 1
    val packets = Seq((0x100, 16382), (0x100, 16383), (0x100, 0), (0x100, 1)).toDS()
    val out = TelemetryStreaming.sequenceGapMonitor(packets).collect().head
    assert(out.gaps == 0, s"false gaps across wrap: ${out.gaps}")
    assert(out.received == 4 && out.last_seq == 1)
  }

  test("pipeline composer allows duplicate transformer names") {
    val result = graft.Pipeline.run(
      spark,
      extract = s => CcsdsSource.packetsFromBytes(
        s, Seq(Fixtures.hkStream(10))),
      transforms = Seq(
        "apid_filter" -> (df => graft.operators.Telemetry.apidFilter(df, include = Seq(0x100))),
        "apid_filter" -> (df => graft.operators.Telemetry.apidFilter(df, exclude = Seq(0x999)))),
      load = df => df.count())
    assert(result.ok && result.rowsLoaded == 10)
    assert(result.stages.count(_.name == "apid_filter") == 2)
    assert(result.stages.forall(_.rowsOut == 10))
  }

  test("pipeline composer: per-stage observed rows + hooks + dry run") {
    var events = List.empty[String]
    val hooks = new graft.Pipeline.HookManager
    hooks.register("pipeline.start")(_ => events ::= "start")
    hooks.register("pipeline.complete")(_ => events ::= "complete")
    val result = graft.Pipeline.run(
      spark,
      extract = s => CcsdsSource.packetsFromBytes(
        s, Seq(Fixtures.hkStream(25)), CcsdsSource.Options(secHdrLength = 4)),
      transforms = Seq(
        "decom" -> (df => graft.operators.Decom(df, Fixtures.hkParamDefs)),
        "calibrate" -> (df => graft.operators.Calibration(df, Fixtures.hkCalibrations))),
      load = df => df.count(),
      hooks = hooks)
    assert(result.ok && result.rowsLoaded == 100)
    val byName = result.stages.map(s => s.name -> s.rowsOut).toMap
    assert(byName("extract") == 25 && byName("decom") == 100 && byName("calibrate") == 100)
    assert(events.contains("start") && events.contains("complete"))
    assert(result.summary.contains("success"))

    val dry = graft.Pipeline.run(spark,
      extract = s => CcsdsSource.packetsFromBytes(
        s, Seq(Fixtures.hkStream(5))),
      load = df => df.count(), dryRun = true)
    assert(dry.ok && dry.rowsLoaded == 0) // loader skipped
  }

  test("pipeline composer: failure captured, error hook fired") {
    var errored = false
    val hooks = new graft.Pipeline.HookManager
    hooks.register("stage.error")(_ => errored = true)
    val result = graft.Pipeline.run(
      spark,
      extract = s => s.read.parquet("/nonexistent/path"),
      load = df => df.count(),
      hooks = hooks)
    assert(!result.ok && result.errors.nonEmpty && errored)
  }

  test("dropDuplicatesWithinWatermark re-admits a key after its TTL expires") {
    // the st7 semantics: dedup state lives only until the event-time
    // watermark passes entry-time + delay — a duplicate INSIDE the
    // horizon is dropped, the same key AFTER expiry is admitted again
    // (bounded state on an unbounded stream)
    import java.sql.Timestamp
    val dir = java.nio.file.Files.createTempDirectory("stream_ttl")
    def writeBatch(
        name: String,
        rows: Seq[(Long, Timestamp, Long, String, Double, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("ttl_batch")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, dir.resolve(name))
    }
    val t0 = Timestamp.valueOf("2025-06-01 00:00:00")
    def ts(hours: Double) =
      new Timestamp(t0.getTime + (hours * 3600 * 1000).toLong)
    writeBatch("b1.parquet", Seq((1L, ts(0), 1L, "click", 1.0, "{}")))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    val q = stream.writeStream.format("memory").queryName("ttl_sink")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      writeBatch("b2.parquet", Seq(
        (2L, ts(1.5), 1L, "click", 1.0, "{}"), // inside horizon -> dropped
        (3L, ts(10.0), 99L, "view", 1.0, "{}"))) // advances watermark to t0+8h
      q.processAllAvailable()
      // state for (1, click) expired at watermark > t0+2h -> re-admitted
      writeBatch("b3.parquet", Seq((4L, ts(10.0), 1L, "click", 1.0, "{}")))
      q.processAllAvailable()
      val got = spark.table("ttl_sink").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
          r.getAs[Long]("event_id")))
      assert(got.length == 3, s"expected 3 admitted rows, got ${got.toSeq}")
      assert(got.count(r => r._1 == 1L && r._2 == "click") == 2,
        s"key must be admitted before AND after the TTL: ${got.toSeq}")
      assert(!got.exists(_._3 == 2L),
        s"inside-horizon duplicate must be dropped: ${got.toSeq}")
    } finally {
      q.stop()
      spark.catalog.dropTempView("ttl_sink")
    }
  }

  test("streaming contamination matches the batch computation across micro-batches") {
    // st9 streams the new-batch JSONL one file per micro-batch against
    // the materialized static gram index; the drained result must equal
    // the batch-side per-doc overlap computed directly — and the stream
    // must actually have run multi-batch (>= 2 files), or the test
    // silently degrades to a single-batch read
    val sfDir = "/root/testdata/sf0.001"
    val path = graft.QueriesTrainingData.stagedJsonlNew(spark, sfDir)
    val nFiles = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".jsonl") || f.getName.endsWith(".json"))
    assert(nFiles >= 2, s"need >= 2 jsonl files for a multi-batch stream: $nFiles")
    val got = graft.SparkEntry.queries("st9_stream_contamination")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // batch equivalent: distinct grams of each new doc vs the static set
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val isNew = col("doc_id") % 10 === 7
    val grams = graft.operators.Dedup.shingleTable(docs, 3)
      .select(col("doc_id"), graft.operators.Dedup.hash60(col("s")).as("h"))
    val expected = graft.operators.Dedup
      .evalOverlapFromHashes(grams, col("doc_id") % 10 === 7)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected, s"stream=${got.size} rows, batch=${expected.size}")
    assert(got.nonEmpty && docs.where(isNew).count() == got.size)
  }

  test("stream-static joins scan a bucketed static side: no per-batch Exchange") {
    // The static side of a stream-static join is re-planned and
    // re-executed EVERY micro-batch. st6/st8/st9 stage their static
    // index as a table bucketed on the join key, so each batch's
    // executed plan must show the static side as a bare bucketed scan —
    // no ShuffleExchange (re-partitioning the index per trigger was the
    // r13 scale-killer) and no BroadcastExchange (a per-batch
    // re-broadcast, impossible at corpus scale). Asserted on the LAST
    // micro-batch's EXECUTED plan via the drain harness's tap — the
    // pre-start logical plan cannot show micro-batch physical shape.
    val sfDir = "/root/testdata/sf0.001"
    val plans = scala.collection.mutable.Map
      .empty[String, org.apache.spark.sql.execution.SparkPlan]
    def capture(name: String): Unit = {
      EventStreaming.lastPlanTap.set(p => plans(name) = p)
      try graft.SparkEntry.queries(name)(spark, sfDir).collect()
      finally EventStreaming.lastPlanTap.remove()
    }
    capture("st9_stream_contamination")
    capture("st6_stream_static_dedup")
    capture("st8_increment_dedup")
    assert(plans.size == 3)
    // AQE (on for the stateless streams) hides the final plan behind
    // AdaptiveSparkPlanExec / QueryStageExec leaves — flatten through
    // them, or collect() never reaches the join
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    for ((name, plan) <- plans) {
      val nodes = flatten(plan)
      val joins = nodes.filter(_.nodeName.contains("SortMergeJoin"))
      assert(joins.nonEmpty,
        s"$name: stream-static join must be sort-merge against the " +
          s"bucketed index, plan:\n${plan.treeString}")
      // the static side is the join child whose subtree scans parquet
      // (the stream side scans the micro-batch's JSONL slice)
      val staticSides = joins.flatMap(_.children).filter(c =>
        flatten(c).exists(s =>
          s.getClass.getSimpleName == "FileSourceScanExec" &&
            s.toString.contains("Format: Parquet")))
      assert(staticSides.nonEmpty,
        s"$name: no parquet static side under the join:\n${plan.treeString}")
      for (side <- staticSides) {
        val exchanges = flatten(side).filter(_.nodeName.contains("Exchange"))
        assert(exchanges.isEmpty,
          s"$name: static side re-exchanges per micro-batch:\n${side.treeString}")
        assert(flatten(side).exists(_.toString.contains("Bucketed: true")),
          s"$name: static scan is not bucketed:\n${side.treeString}")
      }
    }
  }

  test("st10 stream-static join: the eval cell index is a bare bucketed scan") {
    // st10's STREAM side also scans parquet (vectors, not JSONL), so
    // the generic parquet-side heuristic above cannot tell the sides
    // apart — identify the static side by its staged table name and
    // hold it to the same contract: sort-merge, no per-batch Exchange,
    // bucketed scan.
    val sfDir = "/root/testdata/sf0.001"
    var plan: org.apache.spark.sql.execution.SparkPlan = null
    EventStreaming.lastPlanTap.set(p => plan = p)
    try graft.SparkEntry.queries("st10_stream_semantic_contamination")(
      spark, sfDir).collect()
    finally EventStreaming.lastPlanTap.remove()
    assert(plan != null, "no micro-batch plan captured")
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case other => other +: other.children.flatMap(flatten)
    }
    val nodes = flatten(plan)
    val joins = nodes.filter(_.nodeName.contains("SortMergeJoin"))
    assert(joins.nonEmpty,
      s"st10: stream-static join must be sort-merge:\n${plan.treeString}")
    val staticSides = joins.flatMap(_.children).filter(c =>
      flatten(c).exists(_.toString.contains("graft_st10eval")))
    assert(staticSides.nonEmpty,
      s"st10: eval index table not under the join:\n${plan.treeString}")
    for (side <- staticSides) {
      val exchanges = flatten(side).filter(_.nodeName.contains("Exchange"))
      assert(exchanges.isEmpty,
        s"st10: eval index side re-exchanges per micro-batch:\n${side.treeString}")
      assert(flatten(side).exists(_.toString.contains("Bucketed: true")),
        s"st10: eval index scan is not bucketed:\n${side.treeString}")
    }
  }

  test("append-mode sessionization emits each closed session once, bounded per batch") {
    // the production posture, and since r16 the st4 gate form too: a
    // session row appears exactly when the watermark passes its close,
    // never again — per-batch output is bounded by sessions CLOSED in
    // that batch, not by total sessions so far
    import java.sql.Timestamp
    val dir = java.nio.file.Files.createTempDirectory("stream_sess")
    def writeBatch(
        name: String,
        rows: Seq[(Long, Timestamp, Long, String, Double, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("sess_batch")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, dir.resolve(name))
    }
    val t0 = Timestamp.valueOf("2025-06-01 00:00:00")
    def ts(hours: Double) =
      new Timestamp(t0.getTime + (hours * 3600 * 1000).toLong)
    // batch 1: two sessions (user 1: two events 10 min apart; user 2:
    // one event) — both still OPEN (nothing beats the watermark yet)
    writeBatch("b1.parquet", Seq(
      (1L, ts(0.0), 1L, "click", 1.0, "{}"),
      (2L, ts(1.0 / 6), 1L, "click", 2.0, "{}"),
      (3L, ts(0.0), 2L, "view", 5.0, "{}")))
    val schema = spark.read.parquet(s"$dir/b1.parquet").schema
    val stream = graft.streaming.EventStreaming.sessionizedStream(
      spark.readStream.schema(schema).parquet(dir.toString))
    val q = stream.writeStream.format("memory").queryName("sess_sink")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("sess_sink").count() == 0,
        "no session may be emitted before the watermark passes its close")
      // batch 2: an event at t0+10h moves the watermark to t0+8h —
      // both batch-1 sessions close and emit; the new session stays open
      writeBatch("b2.parquet", Seq((4L, ts(10.0), 1L, "click", 3.0, "{}")))
      q.processAllAvailable()
      val after2 = spark.table("sess_sink").collect()
      assert(after2.length == 2,
        s"exactly the two closed sessions emit, got ${after2.toSeq}")
      // batch 3: watermark to t0+18h — the t0+10h session closes; the
      // two already-emitted sessions must NOT re-emit
      writeBatch("b3.parquet", Seq((5L, ts(20.0), 2L, "view", 1.0, "{}")))
      q.processAllAvailable()
      val after3 = spark.table("sess_sink").collect()
      assert(after3.length == 3,
        s"one newly closed session per batch, no re-emission: ${after3.toSeq}")
      val u1 = after3.filter(r => r.getAs[Long]("user_id") == 1L &&
        r.getAs[Long]("n_events") == 2L)
      assert(u1.length == 1 &&
        u1.head.getAs[Double]("session_value") == 3.0,
        s"user 1's first session aggregates both events once: ${after3.toSeq}")
    } finally {
      q.stop()
      spark.catalog.dropTempView("sess_sink")
    }
  }
}
