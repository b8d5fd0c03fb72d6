package graft.telemetry

import graft.sources.CcsdsSource
import graft.sources.CcsdsSource.Options
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean

/** Property tests for the pure kernels (SURVEY.md §5): header round-trip,
  * decode/encode inverses across widths and endianness, parser totality.
  * The kernels are plain JVM code that the Catalyst expressions call.
  * (Pure ScalaCheck Properties: sbt's ScalaCheck framework runs this
  * directly.) The two differential properties at the end read files
  * through `format("ccsds")` on the shared test SparkSession.
  */
object PropertySpec extends Properties("telemetry-kernels") {

  private val headerGen = for {
    apid <- Gen.choose(0, 0x7ff)
    seq <- Gen.choose(0, 0x3fff)
    tf <- Gen.choose(0, 1)
    sf <- Gen.choose(0, 3)
    nData <- Gen.choose(1, 64)
    data <- Gen.listOfN(nData, Gen.choose(-128, 127).map(_.toByte))
  } yield (apid, seq, tf, sf, data.toArray)

  property("header pack -> parse round-trips all fields") =
    Prop.forAll(headerGen) { case (apid, seq, tf, sfl, data) =>
      val raw = Fixtures.makeRawPacket(
        apid = apid, seqCount = seq, userData = data, typeFlag = tf, seqFlags = sfl)
      val row = CcsdsSource.parseStream(raw, Options()).next()
      row.apid == apid && row.seq_count == seq && row.type_flag == tf &&
        row.seq_flags == sfl && row.data_length == data.length - 1 &&
        row.user_data.toSeq == data.toSeq
    }

  property("uint pack -> decode identity (8/16/32 BE)") = {
    val gen = for {
      bits <- Gen.oneOf(8, 16, 32)
      v <- Gen.choose(0L, (1L << bits) - 1)
    } yield (bits, v)
    Prop.forAll(gen) { case (bits, v) =>
      val packed = BinaryFieldOps.packNumberBE(v.toDouble, bits, ParameterType.UINT)
      BinaryFieldOps.readNumberBoxed(packed, 0, bits, ParameterType.UINT, false) ==
        java.lang.Double.valueOf(v.toDouble)
    }
  }

  property("int pack -> decode identity incl. negatives, both endiannesses") = {
    val gen = for {
      bits <- Gen.oneOf(8, 16, 32, 64)
      v <- Gen.choose(-(1L << (bits - 1)), (1L << (bits - 1)) - 1)
      le <- Gen.oneOf(true, false)
    } yield (bits, v, le)
    Prop.forAll(gen) { case (bits, v, le) =>
      val be = BinaryFieldOps.packNumberBE(v.toDouble, bits, ParameterType.INT)
      val bytes = if (le) be.reverse else be
      val got = BinaryFieldOps.readNumberBoxed(bytes, 0, bits, ParameterType.INT, le)
      (math.abs(v) > (1L << 53)) ||
        got == java.lang.Double.valueOf(v.toDouble)
    }
  }

  property("float32/double64 pack -> decode preserve the value") =
    Prop.forAll(Gen.choose(-1e6f, 1e6f)) { f =>
      val packed = BinaryFieldOps.packNumberBE(f.toDouble, 32, ParameterType.FLOAT)
      BinaryFieldOps.readNumberBoxed(packed, 0, 32, ParameterType.FLOAT, false) ==
        java.lang.Double.valueOf(f.toDouble)
    } && Prop.forAll(Gen.choose(-1e12, 1e12)) { d =>
      val packed = BinaryFieldOps.packNumberBE(d, 64, ParameterType.DOUBLE)
      BinaryFieldOps.readNumberBoxed(packed, 0, 64, ParameterType.DOUBLE, false) ==
        java.lang.Double.valueOf(d)
    }

  property("packUintBE wraps mod 2^(8n) and round-trips through readUintBE") = {
    val gen = for {
      n <- Gen.choose(1, 8)
      v <- Gen.choose(Long.MinValue, Long.MaxValue)
    } yield (n, v)
    Prop.forAll(gen) { case (n, v) =>
      val packed = BinaryFieldOps.packUintBE(v, n)
      val back = BinaryFieldOps.readUintBEBoxed(packed, 0, n)
      val expected = if (n >= 8) v else v & ((1L << (8 * n)) - 1)
      packed.length == n && back != null && back.longValue() == expected
    }
  }

  property("readUintBE reads the available bytes on partial overrun, null on empty") = {
    val gen = for {
      len <- Gen.choose(0, 8)
      data <- Gen.listOfN(len, Gen.choose(-128, 127).map(_.toByte))
      off <- Gen.choose(0, 10)
      n <- Gen.choose(1, 8)
    } yield (data.toArray, off, n)
    Prop.forAll(gen) { case (data, off, n) =>
      val r = BinaryFieldOps.readUintBEBoxed(data, off, n)
      val slice = data.slice(off, math.min(off + n, data.length))
      if (slice.isEmpty) r == null
      else r.longValue() == slice.foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
    }
  }

  property("out-of-bounds reads decode to null, never throw") = {
    val gen = for {
      n <- Gen.choose(0, 8)
      data <- Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte))
      off <- Gen.choose(-2, 16)
      bits <- Gen.oneOf(8, 16, 32, 64)
    } yield (data.toArray, off, bits)
    Prop.forAll(gen) { case (data, off, bits) =>
      val r = BinaryFieldOps.readNumberBoxed(data, off, bits, ParameterType.UINT, false)
      val inBounds = off >= 0 && off + (bits + 7) / 8 <= data.length
      inBounds == (r != null)
    }
  }

  property("parser is total: never throws on packets + garbage tail") = {
    val streamGen = for {
      pkts <- Gen.listOf(headerGen)
      tail <- Gen.listOf(Gen.choose(-128, 127).map(_.toByte))
    } yield pkts.map { case (a, s, tf, sfl, d) =>
      Fixtures.makeRawPacket(apid = a, seqCount = s, userData = d,
        typeFlag = tf, seqFlags = sfl)
    }.foldLeft(Array.emptyByteArray)(_ ++ _) ++ tail.toArray
    Prop.forAll(streamGen) { bytes =>
      CcsdsSource.parseStream(bytes, Options()).size >= 0
    }
  }

  property("table interpolation clamps at ends and is monotone inside") = {
    import graft.operators.Calibration
    val xs = Seq(0.0, 10.0, 20.0, 30.0)
    val ys = Seq(0.0, 5.0, 7.0, 30.0) // monotone table
    // evaluate the generated Column against a literal via the kernel math:
    def interp(x: Double): Double = {
      if (x <= xs.head) ys.head
      else if (x >= xs.last) ys.last
      else {
        val i = xs.lastIndexWhere(_ <= x)
        val idx = math.min(i, xs.size - 2)
        ys(idx) + (x - xs(idx)) * ((ys(idx + 1) - ys(idx)) / (xs(idx + 1) - xs(idx)))
      }
    }
    Prop.forAll(Gen.choose(-100.0, 100.0), Gen.choose(-100.0, 100.0)) { (a, b) =>
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      interp(lo) <= interp(hi) + 1e-9 // monotone table => monotone output
    }
  }

  // ---- differential: Calibration against the per-entry fold ----

  /** The per-entry CASE-WHEN fold that `Calibration.apply` used to build,
    * kept here as the reference: each entry wraps the three accumulated
    * columns in `when(name = p AND raw IS NOT NULL, …).otherwise(acc)`.
    */
  private object FoldReference {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{coalesce, when}

    def polynomial(raw: Column, coefficients: Seq[Double]): Column =
      if (coefficients.isEmpty) raw
      else coefficients.reverse.tail.foldLeft(lit(coefficients.last): Column)(
        (acc, c) => acc * raw + lit(c))

    def tableInterp(raw: Column, xs: Seq[Double], ys: Seq[Double]): Column = {
      val segments = xs.zip(ys).sliding(2).collect {
        case Seq((x0, y0), (x1, y1)) if x1 != x0 =>
          (x1, lit(y0) + (raw - lit(x0)) * lit((y1 - y0) / (x1 - x0)))
      }.toSeq
      val belowOrFirst = when(raw <= lit(xs.head), lit(ys.head))
      segments.foldLeft(belowOrFirst) {
        case (acc, (x1, segExpr)) => acc.when(raw < lit(x1), segExpr)
      }.otherwise(lit(ys.last))
    }

    def engExpr(raw: Column, e: CalibrationEntry): Column = e.method match {
      case "polynomial" if e.coefficients.nonEmpty => polynomial(raw, e.coefficients)
      case "table" if e.table_raw.nonEmpty => tableInterp(raw, e.table_raw, e.table_eng)
      case _ => raw
    }

    def apply(samples: DataFrame, entries: Seq[CalibrationEntry]): DataFrame = {
      val raw = col("raw_value")
      val (eng, unit, calId) = entries.foldLeft(
        (col("eng_value"), col("unit"), col("calibration_id"))) {
        case ((engAcc, unitAcc, idAcc), e) =>
          val hit = col("name") === e.parameter_name && raw.isNotNull
          (when(hit, engExpr(raw, e)).otherwise(engAcc),
            when(hit, coalesce(e.unit.map(lit).getOrElse(lit(null)), unitAcc)).otherwise(unitAcc),
            when(hit, lit(e.method)).otherwise(idAcc))
      }
      samples
        .withColumn("eng_value", eng)
        .withColumn("unit", unit)
        .withColumn("calibration_id", calId)
    }
  }

  private val calNames = (0 to 9).map(i => s"p$i")
  private val coarse: Gen[Double] = Gen.choose(-4, 4).map(_ * 25.0)
  private val unitGen: Gen[Option[String]] = Gen.option(Gen.oneOf("V", "A", "degC"))

  private def entryGen(name: String): Gen[CalibrationEntry] = Gen.oneOf(
    for {
      n <- Gen.choose(0, 4)
      cs <- Gen.listOfN(n, Gen.choose(-3.0, 3.0))
      u <- unitGen
    } yield CalibrationEntry(name, "polynomial", u, coefficients = cs),
    for {
      n <- Gen.choose(0, 6)
      xs <- Gen.listOfN(n, coarse)
      ys <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
      u <- unitGen
    } yield CalibrationEntry(name, "table", u, table_raw = xs.sorted, table_eng = ys),
    unitGen.map(u => CalibrationEntry(name, "identity", u)))

  private val entriesGen: Gen[Seq[CalibrationEntry]] = for {
    names <- Gen.someOf(calNames)
    order <- Gen.listOfN(names.size, Gen.choose(0, Int.MaxValue))
    entries <- Gen.sequence[List[CalibrationEntry], CalibrationEntry](
      names.zip(order).sortBy(_._2).map(p => entryGen(p._1)))
  } yield entries

  private val rawGen: Gen[java.lang.Double] = Gen.frequency(
    1 -> Gen.const(null),
    1 -> Gen.const(java.lang.Double.valueOf(Double.NaN)),
    2 -> coarse.map(java.lang.Double.valueOf),
    4 -> Gen.choose(-130.0, 130.0).map(java.lang.Double.valueOf))

  /** (id, name, raw_value, eng_value, unit, calibration_id); names p10
    * and q have no entry, and nor does any p0–p9 the entries skip.
    */
  private val calSampleGen: Gen[Row] = for {
    name <- Gen.oneOf(calNames ++ Seq("p10", "q"))
    raw <- rawGen
    eng <- Gen.oneOf(Gen.const(null), Gen.const(raw), Gen.choose(-1.0, 1.0).map(java.lang.Double.valueOf))
    unit <- unitGen
    id <- Gen.option(Gen.const("raw"))
  } yield Row(0L, name, raw, eng, unit.orNull, id.orNull)

  private val calSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "id BIGINT, name STRING, raw_value DOUBLE, eng_value DOUBLE, unit STRING, calibration_id STRING")

  private type CalKey = (Long, Option[Long], Option[String], Option[String])

  private def calKeys(df: DataFrame): Seq[CalKey] =
    df.orderBy("id").collect().toSeq.map(r => (r.getLong(0),
      Option(r.get(3)).map(v => java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])),
      Option(r.getString(4)), Option(r.getString(5))))

  property("differential: Calibration equals the per-entry fold, row by row") =
    Prop.forAllNoShrink(entriesGen, Gen.listOf(calSampleGen).map(_.take(60))) { (entries, rows) =>
      val spark = graft.TestSpark.spark
      val numbered = rows.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(i.toLong +: r.toSeq.tail) }
      // an RDD scan runs generated code; a local relation is evaluated
      // by the optimizer, through each expression's eval
      val scanned = spark.createDataFrame(spark.sparkContext.parallelize(numbered, 2), calSchema)
      val local = spark.createDataFrame(
        java.util.Arrays.asList(numbered: _*), calSchema)
      val expected = calKeys(FoldReference(scanned, entries))
      val viaCodegen = calKeys(graft.operators.Calibration(scanned, entries))
      val viaEval = calKeys(graft.operators.Calibration(local, entries))
      ((viaCodegen == expected) :| s"codegen differs: $entries\n$viaCodegen\n$expected") &&
        ((viaEval == expected) :| s"eval differs: $entries\n$viaEval\n$expected")
    }

  // ---- differential: Telemetry.wide against the per-slot pivot ----

  /** The wide export as `pivot` + one `max(struct(seq_count, eng_value))`
    * per slot + `.eng_value`, kept here as the reference for
    * `Telemetry.wide`.
    */
  private def pivotReference(samples: DataFrame, names: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{max, struct}
    val p = samples.groupBy(col("time_tai"))
    val pivoted = if (names.nonEmpty) p.pivot("name", names) else p.pivot("name")
    val winners = pivoted.agg(max(struct(col("seq_count"), col("eng_value"))))
    winners
      .select(col("time_tai") +: winners.columns.toSeq.filter(_ != "time_tai").map(c =>
        col(s"`$c`").getField("eng_value").as(c)): _*)
      .orderBy("time_tai")
  }

  private type WideSample = (java.lang.Double, String, Integer, java.lang.Double)

  /** Few times and seq_counts, so (time, name) pairs repeat with equal and
    * with different seq_counts; values hit null, NaN, ±0.0 and ties.
    */
  private def wideSampleGen(names: Seq[String]): Gen[WideSample] = for {
    time <- Gen.frequency(1 -> Gen.const(null), 30 -> Gen.choose(0, 9).map(t => java.lang.Double.valueOf(t / 2.0)))
    name <- Gen.frequency(8 -> Gen.oneOf(names), 1 -> Gen.oneOf("q", "p99"), 1 -> Gen.const(null))
    seq <- Gen.frequency(1 -> Gen.const(null), 12 -> Gen.choose(0, 3).map(Integer.valueOf))
    value <- Gen.frequency(
      2 -> Gen.const(null: java.lang.Double),
      5 -> Gen.oneOf(Double.NaN, 0.0, -0.0, 0.0, -0.0).map(java.lang.Double.valueOf),
      3 -> Gen.choose(-2, 2).map(v => java.lang.Double.valueOf(v.toDouble)),
      3 -> Gen.choose(-1e6, 1e6).map(java.lang.Double.valueOf))
  } yield (time, name, seq, value)

  private val wideSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "time_tai DOUBLE, name STRING, seq_count INT, eng_value DOUBLE")

  /** The (time, name) cells whose winning seq_count holds both 0.0 and
    * −0.0 as the greatest value: `max` keeps whichever it met first, so
    * either sign is a right answer there. A null name is the "null"
    * column that `pivot` discovers without a name list.
    */
  private def signedZeroTies(samples: Seq[WideSample]): Set[(Option[Double], String)] =
    samples.groupBy(s => (Option(s._1).map(_.doubleValue), String.valueOf(s._2))).collect {
      case (cell, rows) if {
        val top = rows.flatMap(r => Option(r._3)).map(_.intValue).maxOption
        val atTop = rows.filter(r => Option(r._3).map(_.intValue) == top).flatMap(r => Option(r._4))
        val best = atTop.map(_.doubleValue).filterNot(_.isNaN).maxOption(Ordering.Double.TotalOrdering)
        !atTop.exists(_.isNaN) && best.contains(0.0) &&
          atTop.exists(v => java.lang.Double.doubleToRawLongBits(v) == 0L) &&
          atTop.exists(v => java.lang.Double.doubleToRawLongBits(v) != 0L && v == 0.0)
      } => cell
    }.toSet

  property("differential: Telemetry.wide equals the per-slot pivot, bit for bit") = {
    val gen = for {
      k <- Gen.choose(1, 40)
      names <- Gen.pick(k, (0 until 48).map(i => s"p$i"))
      passNames <- Gen.frequency(4 -> true, 1 -> false)
      n <- Gen.choose(0, 200)
      samples <- Gen.listOfN(n, wideSampleGen(names.toSeq))
      partitions <- Gen.choose(1, 8)
    } yield (if (passNames) names.toSeq else Nil, samples, partitions)
    Prop.forAllNoShrink(gen) { case (names, samples, partitions) =>
      val spark = graft.TestSpark.spark
      val rows = samples.map { case (t, n, s, v) => Row(t, n, s, v) }
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), wideSchema)
      val ties = signedZeroTies(samples)
      def keys(out: DataFrame): (Seq[String], Seq[Seq[Option[Long]]]) = {
        val cols = out.columns.toSeq
        (cols, out.collect().toSeq.map { r =>
          val time = Option(r.get(0)).map(_.asInstanceOf[Double])
          cols.indices.map { i =>
            Option(r.get(i)).map(_.asInstanceOf[Double]).map { v =>
              val tie = i > 0 && v == 0.0 && ties.contains((time, cols(i)))
              java.lang.Double.doubleToRawLongBits(if (tie) 0.0 else v)
            }
          }
        })
      }
      val expected = keys(pivotReference(df, names))
      val got = keys(graft.operators.Telemetry.wide(df, names))
      (got == expected) :|
        s"names=$names, $partitions partitions, ${samples.size} samples:\n$got\n$expected"
    }
  }

  // ---- differential: the in-memory walk vs the `ccsds` V2 source ----

  private val byteGen: Gen[Byte] = Gen.choose(-128, 127).map(_.toByte)
  private val apids = Seq(0x100, 0x101, 0x2aa, 0x7ff)

  private def containsSync(bytes: Array[Byte]): Boolean =
    bytes.indexOfSlice(CcsdsSource.SyncMarker.toSeq) >= 0

  /** One generated packet; `bytes` is its 6-byte header + data field. */
  private case class GenPacket(
      apid: Int, seq: Int, typeFlag: Int, seqFlags: Int,
      secHdr: Array[Byte], user: Array[Byte]) {
    lazy val bytes: Array[Byte] = Fixtures.makeRawPacket(
      apid = apid, seqCount = seq, userData = user, secHdr = secHdr,
      typeFlag = typeFlag, seqFlags = seqFlags)
  }

  /** Packets with an optional 4-byte secondary header; with
    * `syncInPayload`, one in five payloads embeds the sync pattern.
    */
  private def packetGen(syncInPayload: Boolean): Gen[GenPacket] = for {
    apid <- Gen.oneOf(apids)
    seq <- Gen.choose(0, 0x3fff)
    tf <- Gen.choose(0, 1)
    sfl <- Gen.choose(0, 3)
    secHdr <- Gen.oneOf(Gen.const(Array.emptyByteArray),
      Gen.listOfN(4, byteGen).map(_.toArray))
    n <- Gen.choose(1, 64)
    user <- Gen.listOfN(n, byteGen).map(_.toArray)
    sync <- if (syncInPayload) Gen.frequency(1 -> true, 4 -> false) else Gen.const(false)
    cut <- Gen.choose(0, n)
  } yield GenPacket(apid, seq, tf, sfl, secHdr,
    if (sync) user.take(cut) ++ CcsdsSource.SyncMarker ++ user.drop(cut) else user)

  private val optionsGen: Gen[Options] = for {
    secHdrLength <- Gen.oneOf(0, 2, 4, 8)
    frameSync <- Gen.oneOf(true, false)
    filter <- Gen.option(Gen.atLeastOne(apids).map(_.toSeq))
    sourceId <- Gen.option(Gen.alphaStr.map(_.take(8)))
    grt <- Gen.option(Gen.choose(0.0, 1e9))
  } yield Options(secHdrLength, frameSync, filter, sourceId, grt)

  /** A stream of packets, each optionally preceded by a garbage run and
    * (usually) a sync marker, ending in a truncated copy of one more
    * marker + packet cut at any byte.
    */
  private val messyStreamGen: Gen[Array[Byte]] = {
    val segment = for {
      garbage <- Gen.frequency(3 -> Gen.const(Nil), 1 -> Gen.listOf(byteGen).map(_.take(40)))
      marker <- Gen.frequency(5 -> true, 1 -> false)
      p <- packetGen(syncInPayload = true)
    } yield garbage.toArray ++
      (if (marker) CcsdsSource.SyncMarker else Array.emptyByteArray) ++ p.bytes
    for {
      n <- Gen.choose(0, 40)
      segs <- Gen.listOfN(n, segment)
      last <- packetGen(syncInPayload = false)
      keep <- Gen.choose(0, last.bytes.length + 3)
    } yield segs.foldLeft(Array.emptyByteArray)(_ ++ _) ++
      (CcsdsSource.SyncMarker ++ last.bytes).take(keep)
  }

  private type Key = (Int, Int, Int, Int, Int, Int, Int, Seq[Byte], Seq[Byte],
    Option[Double], Option[Double], Option[String])

  private def key(p: PacketRow): Key =
    (p.version, p.type_flag, p.sec_hdr_flag, p.apid, p.seq_flags, p.seq_count,
      p.data_length, p.secondary_header.toSeq, p.user_data.toSeq,
      p.source_time_tai, p.ground_receipt_time, p.source_id)

  private def key(r: Row): Key =
    (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5),
      r.getInt(6), r.getAs[Array[Byte]](7).toSeq, r.getAs[Array[Byte]](8).toSeq,
      Option(r.get(9)).map(_.asInstanceOf[Double]),
      Option(r.get(10)).map(_.asInstanceOf[Double]), Option(r.getString(11)))

  private def withFile[T](bytes: Array[Byte])(f: String => T): T = {
    val file = java.nio.file.Files.createTempFile("ccsds-prop", ".bin")
    try { java.nio.file.Files.write(file, bytes); f(file.toString) }
    finally java.nio.file.Files.delete(file)
  }

  /** `format("ccsds")` as the registry `binary` extractor drives it:
    * options as strings, the APID filter as a pushed-down predicate.
    */
  private def readCcsds(path: String, opts: Options, splitSize: Long): DataFrame = {
    var reader = graft.TestSpark.spark.read.format("ccsds")
      .option("path", path)
      .option("frame_sync", opts.frameSync.toString)
      .option("sec_hdr_length", opts.secHdrLength.toString)
      .option("resync_window", opts.resyncWindow.toString)
      .option("split_size", splitSize.toString)
    opts.sourceId.foreach(v => reader = reader.option("source_id", v))
    opts.groundReceiptTime.foreach(v => reader = reader.option("ground_receipt_time", v.toString))
    val df = reader.load()
    opts.apidFilter.fold(df)(a => df.where(col("apid").isin(a.map(Integer.valueOf): _*)))
  }

  property("differential: parseStream equals format(ccsds) read as one split") =
    Prop.forAllNoShrink(messyStreamGen, optionsGen) { (bytes, opts) =>
      val expected = CcsdsSource.parseStream(bytes, opts).map(key).toSeq
      val got = withFile(bytes) { path =>
        readCcsds(path, opts, math.max(bytes.length.toLong, 1L)).collect().map(key).toSeq
      }
      (got == expected) :| s"${bytes.length} bytes, $opts: ${got.size} rows vs ${expected.size}"
    }

  /** Framed stream (a marker before every packet, and after each packet
    * a garbage run of at most `window` bytes) after a leading garbage
    * run, ending in a truncated copy of one more marker + packet. No
    * payload, header or garbage run carries the sync pattern, nor does a
    * packet's tail joined to the garbage after it: a mid-split false sync
    * whose parsed end lands on a real marker is accepted by design, and
    * the deterministic "spurious sync pattern" test in CcsdsDataSourceSpec
    * covers that case.
    */
  private def framedStreamGen(window: Int): Gen[(Array[Byte], Seq[GenPacket])] = {
    val clean = for {
      p <- packetGen(syncInPayload = false)
      gap <- Gen.choose(0, window).flatMap(Gen.listOfN(_, byteGen)).map(_.toArray)
    } yield (p, gap)
    val cleanPacket = clean.suchThat { case (p, gap) => !containsSync(p.bytes ++ gap) }
    for {
      lead <- Gen.listOf(byteGen).map(_.take(300).toArray).suchThat(!containsSync(_))
      n <- Gen.choose(10, 120)
      pkts <- Gen.listOfN(n, cleanPacket)
      last <- cleanPacket.map(_._1)
      keep <- Gen.choose(0, last.bytes.length + 3)
    } yield (lead ++ pkts.flatMap { case (p, gap) => CcsdsSource.SyncMarker ++ p.bytes ++ gap } ++
      (CcsdsSource.SyncMarker ++ last.bytes).take(keep), pkts.map(_._1))
  }

  /** Session settings that change how Spark packs a scan's splits into
    * partitions: from one split per partition (a small file at the
    * default open cost) to every split in one (an open cost of 1 byte
    * with a minimum of one partition). An absent key keeps its default.
    */
  private val packingGen: Gen[Seq[(String, String)]] = for {
    openCost <- Gen.option(Gen.const("spark.sql.files.openCostInBytes" -> "1"))
    minParts <- Gen.option(Gen.const("spark.sql.files.minPartitionNum" -> "1"))
  } yield openCost.toSeq ++ minParts

  property("format(ccsds) at every split_size reproduces a framed stream's packets") = {
    val gen = for {
      window <- Gen.frequency(1 -> Gen.const(0), 2 -> Gen.choose(1, 48))
      stream <- framedStreamGen(window)
      filter <- Gen.option(Gen.atLeastOne(apids).map(_.toSeq))
      packing <- packingGen
    } yield (stream, filter, window, packing)
    Prop.forAllNoShrink(gen) { case ((bytes, pkts), filter, window, packing) =>
      val opts = Options(
        secHdrLength = 4, frameSync = true, apidFilter = filter, resyncWindow = window)
      val expected = pkts.filter(p => filter.forall(_.contains(p.apid))).map { p =>
        val secFlag = if (p.secHdr.nonEmpty) 1 else 0
        (0, p.typeFlag, secFlag, p.apid, p.seqFlags, p.seq, p.secHdr.length + p.user.length - 1,
          p.secHdr.toSeq, p.user.toSeq, None, None, None): Key
      }
      val splitSizes = ((1024L until bytes.length.toLong by 1024L) :+ bytes.length.toLong).distinct
      val got = withFile(bytes) { path =>
        // one job for all split sizes; union keeps each read's partition order
        graft.TestSpark.withConf(packing: _*) {
          splitSizes.map(s => readCcsds(path, opts, s).withColumn("split_size", lit(s)))
            .reduce(_ union _).collect().toSeq
        }.groupBy(_.getLong(12)).map { case (s, rows) => s -> rows.map(key) }
      }
      Prop.all(splitSizes.map { s =>
        val rows = got.getOrElse(s, Nil)
        (rows == expected) :| (s"split_size=$s of ${bytes.length}, resync_window=$window, " +
          s"packing ${packing.mkString(",")}: ${rows.size} rows vs ${expected.size}")
      }: _*)
    }
  }
}
