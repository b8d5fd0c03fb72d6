package graft

import graft.operators.{Calibration, Decom, Telemetry}
import graft.sources.{CcsdsSource, CsvTelemetrySource, JsonlSource}
import graft.telemetry.{CalibrationEntry, ParameterDef}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stage registry (reference core/registry.py:8-101): named extractors /
  * transformers / loaders resolvable by string, with list introspection.
  * Configs are JSON objects (parsed with json4s, which ships with Spark);
  * unlike the reference CLI, transformer configs are actually wired
  * (the reference's `mdp run` default-constructs them — cli/main.py:194-197).
  * Every config goes through one reader, [[Conf]].
  */
object Registry {

  import org.json4s._
  import org.json4s.jackson.JsonMethods

  type Extractor = (SparkSession, JValue) => DataFrame
  type Transformer = JValue => DataFrame => DataFrame
  type Loader = (DataFrame, JValue) => Unit

  /** One named split for the hash_split stage; config order defines
    * the bucket ranges.
    */
  case class SplitDef(name: String, fraction: Double)

  def parseConfig(json: String): JValue =
    if (json == null || json.trim.isEmpty) JObject() else JsonMethods.parse(json)

  /** How a JSON value reads as a `T`, and what an error calls it. `read`
    * gets the value's label (`<stage>: <key>`), so that a record can name
    * its own keys; None means a value of the wrong type.
    */
  private final case class Kind[T](name: String)(val read: (String, JValue) => Option[T])

  private object Kind {
    private def scalar[T](name: String)(pf: PartialFunction[JValue, T]) =
      Kind[T](name)((_, v) => pf.lift(v))
    private def plural(k: Kind[_]) = k.name.split(' ').last + "s"
    private def all[T](xs: List[Option[T]]) =
      if (xs.forall(_.isDefined)) Some(xs.flatten) else None

    implicit val string: Kind[String] = scalar("a string") { case JString(s) => s }
    implicit val int: Kind[Int] = scalar("an integer") { case JInt(i) if i.isValidInt => i.toInt }
    implicit val long: Kind[Long] =
      scalar("an integer") { case JInt(i) if i.isValidLong => i.toLong }
    implicit val double: Kind[Double] =
      scalar("a number") { case JInt(i) => i.toDouble; case JDouble(d) => d }
    implicit val bool: Kind[Boolean] = scalar("a boolean") { case JBool(b) => b }
    /** A string, boolean or number as its text: a `ccsds` source option. */
    val option: Kind[String] = scalar("a scalar") {
      case JString(s) => s; case v @ (_: JBool | _: JNumber) => v.values.toString }
    implicit def list[T](implicit k: Kind[T]): Kind[Seq[T]] = Kind(s"a list of ${plural(k)}") {
      case (at, JArray(vs)) =>
        all(vs.zipWithIndex.map { case (v, i) => k.read(s"$at[$i]", v) })
      case _ => None
    }
    def nonEmpty[T](implicit k: Kind[T]): Kind[Seq[T]] =
      Kind(s"a non-empty list of ${plural(k)}")((at, v) => list(k).read(at, v).filter(_.nonEmpty))
    implicit def map[T](implicit k: Kind[T]): Kind[Map[String, T]] =
      Kind(s"an object of ${plural(k)}") {
        case (at, JObject(fs)) => all(fs.map { case (n, v) => k.read(s"$at.$n", v).map(n -> _) })
          .map(_.toMap)
        case _ => None
      }
    /** An object that `build` reads under the rules of a stage config. */
    def record[T](build: Conf => T): Kind[T] = Kind("an object") {
      case (at, v: JObject) => Some(Conf.read(at, v)(build))
      case _ => None
    }
  }

  /** One stage's config, read key by key with the `ccsds` source's rules
    * (`CcsdsSource.Options.parse`). A JSON null counts as absent; an
    * integer is a JSON integer in range, a number an integer or a decimal.
    * `opt` reads an absent key as None, `apply` as its default and
    * `oneOf` as the first value; to `need`, an absent key is an error.
    * Errors read `<stage>: <key> must be <kind>, got <json>`.
    */
  private final class Conf private (stage: String, private val fields: Map[String, JValue]) {
    private val taken = scala.collection.mutable.LinkedHashSet.empty[String]

    def opt[T](key: String)(implicit k: Kind[T]): Option[T] = {
      taken += key
      fields.get(key).map(v =>
        k.read(s"$stage: $key", v).getOrElse(Conf.fail(stage, key, k.name, v)))
    }
    def apply[T: Kind](key: String, default: T): T = opt[T](key).getOrElse(default)
    def need[T](key: String)(implicit k: Kind[T]): T =
      opt(key)(k).getOrElse(Conf.fail(stage, key, k.name, JNothing))
    def oneOf[T: Kind](key: String, values: T*): T = opt[T](key).fold(values.head)(v =>
      if (values.contains(v)) v
      else Conf.fail(stage, key, s"one of ${values.mkString(", ")}", fields(key)))

    /** Every key not read so far, each as a `T`. */
    def others[T](k: Kind[T]): Map[String, T] =
      (fields.keySet -- taken).toSeq.sorted.map(key => key -> need(key)(k)).toMap
  }

  private object Conf {
    def fail(stage: String, key: String, kind: String, got: JValue): Nothing =
      throw new IllegalArgumentException(s"$stage: $key must be $kind, got " +
        (if (got == JNothing) "nothing" else JsonMethods.compact(got)))

    /** Reads `json` with `body`, then fails on any key that `body` did not
      * read. An error that does not name the stage yet, such as a failed
      * `require` in a value that `body` builds, gets the stage prepended.
      */
    def read[A](stage: String, json: JValue)(body: Conf => A): A = {
      val conf = json match {
        case JObject(fs) => new Conf(stage, fs.filter(f => f._2 != JNull && f._2 != JNothing).toMap)
        case v => fail(stage, "config", "an object", v)
      }
      val result = try body(conf) catch {
        case e: IllegalArgumentException if !s"${e.getMessage}".startsWith(stage) =>
          throw new IllegalArgumentException(
            s"$stage: ${e.getMessage.stripPrefix("requirement failed: ")}", e)
      }
      val unused = conf.fields.keySet -- conf.taken
      if (unused.nonEmpty) throw new IllegalArgumentException(s"$stage: unused key(s) " +
        s"${unused.toSeq.sorted.mkString(", ")}; it reads ${conf.taken.mkString(", ")}")
      result
    }
  }

  private implicit val parameterDef: Kind[ParameterDef] = Kind.record(r => ParameterDef(
    r.need[String]("name"), r.need[Int]("apid"), r.need[Int]("byte_offset"),
    r.need[Int]("bit_length"), r.need[String]("param_type"), r.opt[String]("unit"),
    r("little_endian", false), r.opt[String]("description")))
  private implicit val calibrationEntry: Kind[CalibrationEntry] = Kind.record(r =>
    CalibrationEntry(r.need[String]("parameter_name"), r("method", "identity"),
      r.opt[String]("unit"), r("coefficients", Seq.empty[Double]),
      r("table_raw", Seq.empty[Double]), r("table_eng", Seq.empty[Double])))
  private implicit val splitDef: Kind[SplitDef] =
    Kind.record(r => SplitDef(r.need[String]("name"), r.need[Double]("fraction")))

  /** The id and text columns of the document stages. */
  private def idText(r: Conf): (String, String) =
    (r("id_column", "doc_id"), r("text_column", "text"))

  /** Keeps the rows of a stage's input whose `id` is among the ids of
    * the frame that `pick` derives from it (a semi join).
    */
  private def keepIds(id: String)(pick: DataFrame => DataFrame): DataFrame => DataFrame =
    df => df.join(pick(df).select(col(id)), Seq(id), "left_semi")

  /** A map-valued key as a column: the value of the key equal to `column`'s
    * value, else `default`.
    */
  private def perValue[V](column: String, values: Map[String, V], default: V): Column =
    values.foldLeft(lit(default)) { case (acc, (k, v)) =>
      when(col(column) === k, lit(v)).otherwise(acc)
    }

  /** The eval split of the two decontamination stages: `eval_ids`, or
    * else the boolean `eval_flag_column`, which is read only then.
    * coalesce to false: a NULL flag/id marks a TRAINING doc — without
    * this, !pred is NULL and where() silently drops every such row.
    */
  private def evalSplit(r: Conf, id: String): Column = {
    val ids = r("eval_ids", Seq.empty[Long])
    coalesce(
      if (ids.nonEmpty) col(id).isin(ids.map(x => x: Any): _*)
      else col(r.opt[String]("eval_flag_column").getOrElse(throw new IllegalArgumentException(
        "needs 'eval_ids' or 'eval_flag_column'"))) === true,
      lit(false))
  }

  /** A stage reads its keys, then returns its work: `r => reads; df => work`.
    * Each helper makes one map entry, named once.
    */
  private def extractor(name: String)(body: Conf => SparkSession => DataFrame) =
    name -> ((spark: SparkSession, c: JValue) => Conf.read(s"$name extractor", c)(body)(spark))
  private def loader(name: String)(body: Conf => DataFrame => Unit) =
    name -> ((df: DataFrame, c: JValue) => Conf.read(s"$name loader", c)(body)(df))

  /** A transformer's `scratch` columns are checked free after its config
    * is read, before its work: `withColumn` would silently OVERWRITE the
    * user's column and the stage would then drop it — data loss that
    * surfaces only rows later. A loud error with the stage name beats either.
    */
  private def transformer(name: String, scratch: String*)(body: Conf => DataFrame => DataFrame) =
    name -> ((c: JValue) => (df: DataFrame) => {
      val work = Conf.read(s"$name transformer", c)(body)
      val clash = scratch.filter(df.columns.contains)
      require(clash.isEmpty,
        s"$name: input already has column(s) ${clash.mkString(", ")} — " +
          "rename them upstream; these names are reserved stage scratch space")
      work(df)
    })

  val extractors: Map[String, Extractor] = Map(
    // V2 `ccsds` source: splittable on sync markers, APID pushdown. Every
    // other scalar key is a source option, which the source parses and
    // checks (CcsdsSource.Options.parse) here, before any file is listed.
    extractor("binary") { r =>
      // an empty list means "no filter" (the reference treats a falsy list
      // the same way). The predicate pushes into the byte walk via
      // SupportsPushDownFilters.
      val apids = r("apid_filter", Seq.empty[Int])
      val options = r.others(Kind.option)
      CcsdsSource.Options.parse(options)
      spark =>
      val df = spark.read.format("ccsds").options(options).load()
      if (apids.isEmpty) df
      else df.where(col("apid").isin(apids.map(Integer.valueOf): _*))
    },
    // generic parquet extractor — document/embedding pipelines start here
    extractor("parquet") { r =>
      val path = r.need[String]("path")
      spark => spark.read.parquet(path)
    },
    // columnar alternative where the lakehouse standard is ORC (Spark
    // built-in; same pushdown/pruning surface as parquet)
    extractor("orc") { r =>
      val path = r.need[String]("path")
      spark => spark.read.orc(path)
    },
    extractor("csv") { r =>
      val path = r.need[String]("path")
      val options = CsvTelemetrySource.Options(
        timeColumn = r("time_column", "time"),
        apidColumn = r("apid_column", "apid"),
        seqCountColumn = r("seq_count_column", "seq_count"),
        parameterColumns = Some(r("parameter_columns", Seq.empty[String])).filter(_.nonEmpty),
        delimiter = r("delimiter", ","))
      spark => CsvTelemetrySource.readSamples(spark, path, options)
    },
    // newline-delimited JSON documents (pinned schema). Corrupt lines
    // are dropped, but their count is observed on the same action that
    // runs the pipeline — any registered QueryExecutionListener
    // (Pipeline.MetricsListener included) sees the data-quality metric
    // with zero extra scans. The observation name carries the source
    // path ("jsonl_corrupt_lines:<path>") because Spark requires
    // observed-metric names to be UNIQUE per query: two jsonl extracts
    // unioned/joined in one action would otherwise fail analysis with
    // a duplicated-observed-metrics error. Listeners match the
    // "jsonl_corrupt_lines" prefix.
    extractor("jsonl") { r =>
      val path = r.need[String]("path")
      spark =>
      val raw = JsonlSource.read(spark, path)
      // the observation must reference a DATA column alongside
      // _corrupt: Spark refuses a raw-JSON scan whose only referenced
      // column is the corrupt-record column (QUERY_ONLY_CORRUPT_RECORD
      // _COLUMN), which a pruning downstream action (count) would
      // otherwise trigger; counting the first data column also yields
      // the parsed-row metric for free
      val firstData = raw.columns.find(_ != "_corrupt").getOrElse("_corrupt")
      raw
        .observe(s"jsonl_corrupt_lines:$path",
          count(when(col("_corrupt").isNotNull, lit(1))).as("rows"),
          count(col(firstData)).as("parsed_rows"))
        .where(col("_corrupt").isNull)
        .drop("_corrupt")
    })

  val transformers: Map[String, Transformer] = Map(
    transformer("apid_filter") { r =>
      val include = r("include", Seq.empty[Int])
      val exclude = r("exclude", Seq.empty[Int])
      df => Telemetry.apidFilter(df, include = include, exclude = exclude)
    },
    transformer("decom") { r =>
      val defs = r("parameters", Seq.empty[ParameterDef])
      val skipUnknownApids = r("skip_unknown_apids", true)
      df => Decom(df, defs, skipUnknownApids = skipUnknownApids)
    },
    transformer("calibration") { r =>
      val entries = r("calibrations", Seq.empty[CalibrationEntry])
      df => Calibration(df, entries)
    },
    // --- training-data stages (document pipelines) ---------------------
    transformer("exact_dedup") { r =>
      // keep one row per normalized-content group (the min id)
      val (id, text) = idText(r)
      keepIds(id)(operators.Dedup.exactGroups(_, id, text).select(col("survivor_id").as(id)))
    },
    transformer("url_dedup") { r =>
      // keep one row per canonical URL (min id survivor): the
      // CommonCrawl-style fetch-level dedup that runs BEFORE any
      // content hashing — map-only canonicalization, one groupBy
      val id = r("id_column", "doc_id")
      val url = r("url_column", "url")
      keepIds(id)(_
        .groupBy(operators.TextAnalysis.canonicalizeUrl(col(url)).as("_canon"))
        .agg(min(col(id)).as(id)))
    },
    transformer("line_dedup", "clean_text") { r =>
      // CCNet-style boilerplate removal: drop lines whose corpus-wide
      // document frequency reaches min_doc_freq, rewrite the text
      // column from the surviving lines (docs reduced to nothing are
      // dropped — an all-chrome page carries no training signal)
      val (id, text) = idText(r)
      val minDf = r("min_doc_freq", 5)
      val delim = r("delimiter", "\n")
      df =>
      val lines = df.select(col(id),
        split(col(text), java.util.regex.Pattern.quote(delim)).as("lines"))
      val cleaned = operators.Dedup.lineDedup(lines, minDf, id)
        .where(col("n_kept") > 0)
        .select(col(id), col("clean_text"))
      df.drop(text).join(cleaned, Seq(id))
        .withColumnRenamed("clean_text", text)
    },
    transformer("dup_span_strip", "_spans") { r =>
      // substring-level dedup (Lee et al. 2022 via Dedup.dupSpans):
      // CUT corpus-wide duplicated runs of >= window_len chars from
      // the text. `keep` picks the stance: "none" (default) cuts every
      // occurrence (the boilerplate stance — a run that repeats across
      // the corpus is chrome, not signal); "first" is the paper's
      // suffix-array semantics — the corpus-wide FIRST occurrence
      // survives, so exactly one copy of each duplicated substring
      // remains. Docs reduced to nothing are dropped.
      val (id, text) = idText(r)
      val win = r("window_len", 40)
      val minOcc = r("min_occurrences", 2)
      val keep = r.oneOf("keep", "none", "first")
      df =>
      val spans = operators.Dedup.dupSpans(df, win, minOcc.toLong, id, text,
        keepFirst = keep == "first")
        .groupBy(col(id))
        .agg(sort_array(collect_list(struct(col("span_start"), col("span_end"))))
          .as("_spans"))
      // fold the sorted spans left-to-right, keeping the text BETWEEN
      // them: (cursor, acc) -> append [cursor, span_start) and jump
      // the cursor past the span — one pass, no per-span explode
      val rebuilt = aggregate(
        col("_spans"),
        struct(lit(1L).as("cur"), lit("").as("acc")),
        (st, sp) => struct(
          (sp.getField("span_end") + lit(1L)).as("cur"),
          concat(st.getField("acc"),
            col(text).substr(st.getField("cur").cast("int"),
              (sp.getField("span_start") - st.getField("cur")).cast("int")))
            .as("acc")),
        st => concat(st.getField("acc"),
          col(text).substr(st.getField("cur").cast("int"),
            greatest(length(col(text)) - st.getField("cur").cast("int") + 1, lit(0)))))
      df.join(spans, Seq(id), "left")
        .withColumn(text,
          when(col("_spans").isNull, col(text)).otherwise(rebuilt))
        .drop("_spans")
        .where(length(col(text)) > 0)
    },
    transformer("gopher_filter") { r =>
      // Gopher quality rules (Rae et al. 2021): keep only docs passing
      // every deterministic rule flag; bounds for the word-count rule
      // are configurable per corpus
      val (id, text) = idText(r)
      val minW = r("min_words", 50)
      val maxW = r("max_words", 100000)
      keepIds(id)(operators.TextAnalysis.gopherFlags(_, minW, maxW, id, text).where(col("kept")))
    },
    transformer("dsir_sample", "log_weight") { r =>
      // DSIR importance resampling (Xie et al. 2023): weight each doc
      // by its unigram likelihood ratio against the target exemplar
      // set (quality >= target_quality_min), then keep the k A-ES
      // winners — sampling stays in log space, no exp anywhere
      val (id, text) = idText(r)
      val qMin = r("target_quality_min", 0.5)
      val k = r("k", 1000)
      df =>
      val lw = operators.TextAnalysis.dsirLogWeights(
        df, operators.TextAnalysis.qualityScore(col(text)) >= qMin, id, text)
      val h = operators.Dedup.hash60(concat(lit("dsir:"), col(id).cast("string")))
      val u = (h + lit(1L)).cast("double") / 1.152921504606846976e18
      val winners = lw
        .withColumn("_key", round(log(negate(log(u))) - col("log_weight"), 6))
        .orderBy(col("_key"), col(id)).limit(k)
        .select(col(id), col("log_weight"))
      df.join(winners, Seq(id))
    },
    transformer("c4_clean") { r =>
      // C4 heuristic cleaning (Raffel et al. 2020): line keeps
      // (terminal punct, min words, no "javascript") + page rejects
      // (lorem ipsum / brace / blocklist / too few surviving lines).
      // Splits the text column on `delimiter`, keeps passing pages,
      // rewrites text from the surviving lines — the line_dedup shape
      val (id, text) = idText(r)
      val minWpl = r("min_words_per_line", 5)
      val minKept = r("min_kept_lines", 3)
      val delim = r("delimiter", "\n")
      df =>
      val lines = df.select(col(id),
        split(col(text), java.util.regex.Pattern.quote(delim)).as("lines"))
      val cleaned = operators.TextAnalysis.c4Clean(lines, minWpl, minKept, idCol = id)
        .where(col("kept"))
        .select(col(id), col("clean_text"))
      df.drop(text).join(cleaned, Seq(id))
        .withColumnRenamed("clean_text", text)
    },
    transformer("ccnet_bucket_filter") { r =>
      // CCNet perplexity bucketing (Wenzek et al. 2020): keep only the
      // configured corpus-LM likelihood buckets (default head+middle —
      // the CCNet recipe's training split; tail is the noise bucket)
      val (id, text) = idText(r)
      val src = r("source_column", "source")
      val keep = Some(r("keep_buckets", Seq.empty[String]))
        .filter(_.nonEmpty).getOrElse(Seq("head", "middle"))
      keepIds(id)(operators.TextAnalysis.perplexityBuckets(_, 3, id, text, src)
        .where(col("bucket_name").isin(keep: _*)))
    },
    transformer("unimax_resample") { r =>
      // UniMax mixture (Chung et al. 2023): water-fill the token
      // budget across languages, then resample each doc at its
      // group's epoch rate via the hash-lottery upsampler — groups at
      // the cap keep every doc once, groups above the water level are
      // thinned to it. The allocation table is |groups| rows,
      // broadcast into the join; the resample itself is row-local
      val grp = r("group_column", "lang")
      val (id, text) = idText(r)
      val frac = r("budget_fraction", 0.75)
      val cap = r("epoch_cap", 1.0)
      df =>
      val alloc = operators.Mixture.unimaxAllocation(df, frac, cap, grp, text)
        .select(col(grp), col("epochs"))
      operators.Mixture.sourceUpsample(
        df.join(broadcast(alloc), Seq(grp)), col("epochs"), id)
        .drop("epochs")
    },
    transformer("temperature_mix") { r =>
      // temperature-scaled resampling (mT5-style): each group's docs
      // are repeated at its epochs rate under p_g ∝ f_g^(1/T) for ONE
      // power-of-two temperature; the |groups|-row rate table is
      // broadcast and the resample is the same hash-lottery upsampler
      // unimax_resample uses, so T is a drop-in alternative knob
      val grp = r("group_column", "source")
      val (id, text) = idText(r)
      val temp = r("temperature", 2)
      df =>
      val rates = operators.Mixture.temperatureMix(df, Seq(temp), grp, text)
        .select(col(grp),
          (col("epochs_micro").cast("double") / 1e6).as("_t_epochs"))
      operators.Mixture.sourceUpsample(
        df.join(broadcast(rates), Seq(grp)), col("_t_epochs"), id)
        .drop("_t_epochs")
    },
    transformer("domain_cap", "_rk") { r =>
      // per-registrable-domain quota (crawl balancing): keep at most
      // max_per_domain docs per domain, lowest id first — ONE window,
      // no join; the skew this fights is measured by u2_domain_stats
      val id = r("id_column", "doc_id")
      val url = r("url_column", "url")
      val cap = r("max_per_domain", 1000)
      val dom = operators.TextAnalysis.registrableDomain(
        operators.TextAnalysis.canonicalizeUrl(col(url)))
      df => df.withColumn("_rk", row_number().over(
          Window.partitionBy(dom).orderBy(col(id))))
        .where(col("_rk") <= cap)
        .drop("_rk")
    },
    transformer("semantic_dedup") { r =>
      // SemDeDup: embedding-space near-dup removal — coarse k-means
      // cells, then drop-if-any-earlier-similar within a cell
      // (Clustering.semanticDedup; stricter than leader clustering —
      // dropped vectors also suppress later ones). n_cells is the scale
      // knob (cost is sum(|cell|^2)); rows need an embedding column
      val id = r("id_column", "doc_id")
      val vec = r("vector_column", "embedding")
      val n = r("n_cells", 256)
      val tau = r("threshold", 0.9)
      keepIds(id)(operators.Clustering.semanticDedup(_, n, tau, 1, id, vec).where(col("kept")))
    },
    transformer("near_dedup") { r =>
      // n-gram Jaccard near-dup removal: pair graph -> connected
      // components -> keep one doc per cluster. max_df_fraction is the
      // stop-gram cap that bounds hot-shingle posting lists
      // (Dedup.ngramJaccardPairs) — surfaced here so the CLI pipeline
      // can set it per corpus. `keep` picks the survivor policy:
      // "min_id" (default, the reference-style deterministic pick) or
      // "best_quality" (argmax TextAnalysis.qualityScore, min id on
      // ties — what a production corpus actually wants to retain).
      val (id, text) = idText(r)
      val n = r("ngram", 3)
      val threshold = r("threshold", 0.8)
      val keep = r.oneOf("keep", "min_id", "best_quality")
      // `method` picks the pair generator: "ngram_jaccard" (default —
      // inverted-index exact Jaccard within `block_column`) or
      // "minhash_lsh" (banded MinHash candidates + exact shared-shingle
      // verify, no blocking — the d8/d10 generator, Dedup
      // .jaccardClusters). With minhash_lsh + keep=best_quality the
      // exact_dedup -> near_dedup chain reproduces the p4 funnel's
      // near-dup canonicalization exactly (CliSpec pins this). Each
      // method reads only its own keys: a config that switches methods but
      // keeps the other's would LOOK like it still blocks/caps.
      val generator = r.oneOf("method", "ngram_jaccard", "minhash_lsh") match {
        case "minhash_lsh" => Left((r("num_hashes", 8), r("rows_per_band", 2)))
        case _ => Right((r("block_column", "lang"), r.opt[Double]("max_df_fraction")))
      }
      df =>
      val cc = generator match {
        case Left((numHashes, rowsPerBand)) =>
          operators.Dedup
            .jaccardClusters(df, n, numHashes, rowsPerBand, threshold, id, text)
            .select(col(id).as("node"), col("cluster_id").as("component"))
        case Right((block, maxDf)) =>
          val pairs = operators.Dedup.ngramJaccardPairs(
            df, n, threshold, block, id, text, maxDf)
          operators.Graph.connectedComponents(pairs, "a_id", "b_id")
      }
      val losers =
        if (keep == "best_quality") {
          val scored = df.select(col(id).as("node"),
            operators.TextAnalysis.qualityScore(col(text)).as("_q"))
          cc.join(scored, "node")
            .withColumn("_best", max(struct(col("_q"),
                (-col("node")).as("negid"), col("node").as("nid")))
              .over(Window.partitionBy("component")))
            .where(col("node") =!= col("_best.nid"))
            .select(col("node").as(id))
        } else {
          cc.where(col("node") =!= col("component")).select(col("node").as(id))
        }
      df.join(losers, Seq(id), "left_anti")
    },
    transformer("simhash_dedup") { r =>
      // SimHash near-dup removal; max_hamming is the bit budget that
      // drives the pigeonhole banding (Dedup.simhashPairs) — config-
      // surfaced for the same reason as max_df_fraction above.
      val (id, text) = idText(r)
      val block = r("block_column", "lang")
      val maxHamming = r("max_hamming", 3)
      df =>
      val pairs = operators.Dedup.simhashPairs(df, maxHamming, block, id, text)
      val losers = operators.Graph.connectedComponents(pairs, "a_id", "b_id")
        .where(col("node") =!= col("component"))
        .select(col("node").as(id))
      df.join(losers, Seq(id), "left_anti")
    },
    transformer("quality_filter") { r =>
      val text = r("text_column", "text")
      val minScore = r("min_score", 0.5)
      df => df.where(operators.TextAnalysis.qualityScore(col(text)) >= minScore)
    },
    transformer("entropy_filter") { r =>
      // drop low-character-entropy docs (boilerplate/repetition) and,
      // with max_entropy, near-random blobs — the x33 signal as a stage
      val (id, text) = idText(r)
      val minH = r("min_entropy", 1.5)
      val maxH = r("max_entropy", Double.MaxValue)
      keepIds(id)(operators.TextAnalysis.charEntropyGrouped(_, id, text)
        .where(col("char_entropy_nats") >= minH &&
          col("char_entropy_nats") <= maxH))
    },
    transformer("novelty_filter") { r =>
      // drop docs whose distinct n-grams are mostly seen elsewhere in
      // the corpus (x36): the boilerplate-saturation cut. Corpus-wide
      // index pass (hash-only exchanges), then a semi-join keep.
      val (id, text) = idText(r)
      val n = r("n", 3)
      val minNov = r("min_novelty", 0.1)
      keepIds(id)(operators.Dedup.ngramNovelty(_, n, id, text).where(col("novelty") >= minNov))
    },
    transformer("code_filter") { r =>
      // route code-like docs (x35 signal as a stage): mode "drop"
      // removes them from a prose corpus, mode "keep" selects them for
      // a code corpus. codeScore is a single map-only expression, so
      // this filters in the scan pass — no join, no shuffle.
      val text = r("text_column", "text")
      val thr = r("threshold", 1.0)
      val keepCode = r.oneOf("mode", "drop", "keep") == "keep"
      // coalesce: a NULL text scores NULL, and a NULL predicate drops
      // the row under BOTH modes — keep ∪ drop would lose it from the
      // corpus. Routing NULL to the prose side makes the two modes an
      // exact partition of the input.
      val isCode = coalesce(
        operators.TextAnalysis.codeScore(col(text)) >= thr, lit(false))
      df => df.where(if (keepCode) isCode else !isCode)
    },
    transformer("classifier_filter") { r =>
      // hashed-feature linear quality model (x34): keep docs the model
      // scores above the threshold — the FineWeb-Edu filter shape
      val (id, text) = idText(r)
      val dim = r("dim", 1 << 16)
      val thr = r("threshold", 0.0)
      keepIds(id)(operators.TextAnalysis.classifierScore(_, dim, thr, id, text).where(col("kept")))
    },
    transformer("soft_dedup_weights") { r =>
      // annotate (never drop): sampling weight 1/|near-dup cluster| per
      // doc (d16) — downstream samplers consume `weight` directly.
      // Contract: OVERWRITES any pre-existing cluster_size/weight
      // columns (e.g. from an earlier weighting stage) instead of
      // producing ambiguous duplicate names after the join.
      val (id, text) = idText(r)
      df => df.drop("cluster_size", "weight")
        .join(operators.Dedup.softDedupWeights(df, idCol = id, textCol = text)
          .select(col(id), col("cluster_size"), col("weight")), Seq(id))
    },
    transformer("containment_dedup") { r =>
      // quote/subset removal (the d17 signal as a stage): drop docs
      // whose distinct shingles are >= threshold contained in a larger
      // doc — what union-normalized near_dedup cannot express.
      val (id, text) = idText(r)
      val n = r("ngram", 3)
      val thr = r("threshold", 0.8)
      df => operators.Dedup.containmentDedup(df, n, thr, idCol = id, textCol = text)
    },
    transformer("length_batching") { r =>
      // length-bucketed dynamic batching (x37): annotate each doc with
      // (n_toks, bucket, batch_id, slot) so a downstream loader writes
      // padding-efficient batches. Annotate-don't-drop, the
      // soft_dedup_weights contract: pre-existing columns of the same
      // names are overwritten, never duplicated.
      val (id, text) = idText(r)
      val batch = r("batch_size", 8)
      val bucket = r("bucket_tokens", 32)
      df => df.drop("n_toks", "bucket", "batch_id", "slot")
        .join(operators.Mixture.lengthBatching(df, batch, bucket, id, text)
          .select(col(id), col("n_toks"), col("bucket"),
            col("batch_id"), col("slot")), Seq(id))
    },
    transformer("lang_filter") { r =>
      val text = r("text_column", "text")
      val langs = r.need("languages")(Kind.nonEmpty[String])
      // langId is a single-pass kernel (one tokenization per row even
      // when the predicate is pushed and alias-inlined), so no staging
      // or temp column is needed — the filter cannot collide with any
      // user column
      df => df.where(operators.TextAnalysis.langId(col(text))
        .getField("code").isin(langs.map(x => x: Any): _*))
    },
    transformer("chunk_documents", "chunk_id", "chunk_len") { r =>
      // split long docs into context-window chunks (Mixture
      // .chunkDocuments); downstream stages see one row per chunk with
      // the chunk text in text_column's place
      val (id, text) = idText(r)
      val chunk = r("chunk_tokens", 2048)
      val overlap = r("overlap_tokens", 0)
      df =>
      val chunks = operators.Mixture.chunkDocuments(df, chunk, overlap, id, text)
        .withColumnRenamed("chunk_text", text)
      // chunks inherit their parent doc's metadata (lang, source, ...)
      df.drop(text).join(chunks, Seq(id))
    },
    transformer("pack_sequences", "pack_id", "pack_offset") { r =>
      // annotate each doc with its (pack_id, pack_offset) in the
      // concat-then-chunk layout (Mixture.packSequences); docs keep
      // their columns so later stages can still see text/metadata
      val (id, text) = idText(r)
      val block = r("block_column", "source")
      val budget = r("token_budget", 2048L)
      df =>
      val packs = operators.Mixture.packSequences(df, budget, block, id, text)
        .select(col(id), col("pack_id"), col("pack_offset"))
      df.join(packs, Seq(id))
    },
    transformer("source_mix") { r =>
      // down-sample sources toward configured mixture weights
      // (Mixture.sourceMix); unlisted sources take default_weight
      val id = r("id_column", "doc_id")
      val source = r("source_column", "source")
      val default = r("default_weight", 1.0)
      val weight = perValue(source, r("weights", Map.empty[String, Double]), default)
      df => operators.Mixture.sourceMix(df, weight, source, id)
    },
    transformer("weighted_sample", "_key", "_rk") { r =>
      // Efraimidis-Spirakis A-ES without replacement: key = -ln(u)/w,
      // u hash-derived from the id, w = quality score floored at 0.01;
      // the max_per_stratum smallest keys win per stratum column
      val (id, text) = idText(r)
      val stratum = r("stratum_column", "source")
      val k = r("max_per_stratum", 100)
      val h = operators.Dedup.hash60(concat(lit("ws:"), col(id).cast("string")))
      val u = (h + lit(1L)).cast("double") / 1.152921504606846976e18
      val wq = greatest(operators.TextAnalysis.qualityScore(col(text)), lit(0.01))
      df => df.withColumn("_key", negative(log(u)) / wq)
        .withColumn("_rk", row_number().over(
          Window.partitionBy(col(stratum)).orderBy(col("_key"), col(id))))
        .where(col("_rk") <= k)
        .drop("_key", "_rk")
    },
    transformer("source_upsample") { r =>
      // repeat-factor upsampling for under-represented sources:
      // factors is {"source_name": r, ...}; unlisted sources keep
      // factor 1.0 (passed through once). Adds a `copy` index column.
      val id = r("id_column", "doc_id")
      val sourceCol = r("source_column", "source")
      val factor = perValue(sourceCol, r("factors", Map.empty[String, Double]), 1.0)
      df => operators.Mixture.sourceUpsample(df, factor, id)
    },
    transformer("stratified_sample") { r =>
      // deterministic hash-mod sampling: rate_permille per stratum value
      val id = r("id_column", "doc_id")
      val stratum = r("stratum_column", "lang")
      val default = r("default_permille", 200)
      val rate = perValue(stratum, r("rates_permille", Map.empty[String, Int]), default)
      val h = operators.Dedup.hash60(col(id).cast("string")) % 1000
      df => df.where(h < rate)
    },
    transformer("hash_split") { r =>
      // deterministic train/valid/test assignment by hash-of-id
      // (Mixture.hashSplit): adds split_bucket + split columns; split
      // order in the config defines the bucket ranges, so it's a LIST
      // of {name, fraction}, never a map
      val id = r("id_column", "doc_id")
      val splits = r("splits", Seq(SplitDef("train", 0.9), SplitDef("valid", 0.05),
        SplitDef("test", 0.05)))(Kind("a non-empty LIST of {name, fraction} objects")(
        Kind.nonEmpty[SplitDef].read))
      df => operators.Mixture.hashSplit(df, splits.map(s => s.name -> s.fraction), id)
    },
    transformer("token_budget") { r =>
      // per-source token quota (Mixture.tokenBudgetSample): keep docs
      // in hash order while the source's running token total fits the
      // budget; all input columns pass through (semi join on id)
      val (id, text) = idText(r)
      val src = r("source_column", "source")
      val budget = r.need[Long]("budget_tokens")
      keepIds(id)(operators.Mixture.tokenBudgetSample(_, budget, src, id, text))
    },
    transformer("quality_quantile_filter", "_q", "_thr") { r =>
      // per-source RELATIVE quality floor: drop the worst p-fraction of
      // each source (quality < the source's p-quantile) — adapts to
      // per-source score distributions where quality_filter's absolute
      // threshold can't. Window-sort quantile (TextAnalysis
      // .quantileThreshold), never an in-memory percentile.
      // NULL semantics (unlike quality_filter's absolute threshold):
      // a row with a NULL quality score fails `_q >= _thr` and is
      // DROPPED, and a source whose scores are ALL NULL gets no
      // quantile row, so the inner threshold join drops the whole
      // source — a null score means unscorable content, and a relative
      // floor with no distribution to rank against keeps nothing
      val src = r("source_column", "source")
      val text = r("text_column", "text")
      val p = r("percentile", 0.25)
      df =>
      val scored = df.withColumn("_q",
        operators.TextAnalysis.qualityScore(col(text)))
      val thr = operators.TextAnalysis
        .quantileThreshold(scored, p, src, "_q")
        .select(col(src), col("threshold").as("_thr"))
      scored.join(broadcast(thr), src)
        .where(col("_q") >= col("_thr"))
        .drop("_q", "_thr")
    },
    transformer("repetition_filter") { r =>
      // drop degenerate repetition-heavy documents (Gopher-style rule)
      val (id, text) = idText(r)
      val maxTopWord = r("max_top_word_frac", 0.2)
      val maxDupTrigram = r("max_dup_3gram_frac", 0.5)
      keepIds(id)(operators.TextAnalysis.repetitionStats(_, id, text)
        .where(col("top_word_frac") <= maxTopWord &&
          col("dup_3gram_frac") <= maxDupTrigram))
    },
    transformer("pii_redact") { r =>
      // replace emails / IPv4s / phone-shaped substrings with tags
      val text = r("text_column", "text")
      df => df.withColumn(text, operators.TextAnalysis.redactPii(col(text)))
    },
    transformer("perplexity_filter") { r =>
      // keep docs whose mean log-prob (corpus-trained LM) clears the
      // floor — the CCNet-style fluency filter. order 1 = unigram
      // (default), order 2 = interpolated bigram (sharper fluency
      // signal; docs with < order tokens have no score). Token-less /
      // scoreless docs are dropped by default, kept when keep_empty is
      // set — never silently threshold-exempt
      val (id, text) = idText(r)
      val minAvg = r("min_avg_logprob", -8.0)
      val keepEmpty = r("keep_empty", false)
      val order = r.oneOf("order", 1, 2)
      df =>
      val scoredLm =
        if (order == 2) operators.TextAnalysis.bigramLogProb(df, idCol = id, textCol = text)
        else operators.TextAnalysis.unigramLogProb(df, id, text)
      val keep = scoredLm
        .where(col("avg_logprob") >= minAvg)
        .select(col(id))
      val scored = df.join(keep, Seq(id), "left_semi")
      if (!keepEmpty) scored
      else scored.unionByName(
        // scoreless = fewer tokens than the LM order needs (0 for
        // unigram, 0 or 1 for bigram)
        df.where(size(operators.TextAnalysis.wsTokens(
          operators.TextAnalysis.normalize(col(text)))) < order))
    },
    transformer("decontaminate") { r =>
      // drop training docs sharing >= min_shared n-gram shingles with
      // the eval split (eval_ids or an is_eval flag column)
      val (id, text) = idText(r)
      val n = r("ngram", 3)
      val minShared = r("min_shared", 3)
      val evalPred = evalSplit(r, id)
      df =>
      val contaminated = operators.Dedup
        .contaminationPairs(df, n, minShared.toLong, evalPred, id, text)
        .select(col("train_id").as(id)).distinct()
      df.where(!evalPred).join(contaminated, Seq(id), "left_anti")
    },
    transformer("semantic_decontaminate") { r =>
      // drop training docs whose EMBEDDING is within cosine `threshold`
      // of an eval doc's — the cross-set SemDeDup pass (query s21):
      // paraphrased or re-embedded eval leakage passes the n-gram
      // `decontaminate` stage, this one catches it. Blocked on a
      // train-side coarse quantizer (k ~ sqrt(n_train), trained on the
      // TRAIN split only and on a bounded hash-sample — eval vectors
      // must not shape the blocking they are checked against), the
      // eval side multi-probing its `nprobe` nearest cells; the only
      // corpus-wide exchange is the cell equi-join. Rows need an
      // embedding column. NOTE the measured recall boundary (SCALE.md
      // r19): blocked recall is high in the near-dup regime this pass
      // targets (tau >= ~0.45 on the fixtures) and structurally low
      // for weak-similarity taus — probe depth must GROW with the cell
      // count there. Two probe knobs, mutually exclusive:
      //   nprobe        — a fixed cell count (near-dup regime default);
      //   cell_fraction — probe ceil(f * k) cells, sized AT PLAN TIME
      //     from the trained quantizer's k, so recall holds as the
      //     corpus (and k ~ sqrt(n)) grows: the measured s21 fraction
      //     law (SCALE.md r19 — fixed nprobe 0.61 -> 0.40 recall from
      //     sf0.001 to sf1; constant fraction restores it) as an
      //     operator option instead of a footnote. Pair cost becomes
      //     n_t * n_e * f — the honest price of weak-tau recall.
      // quantizer_train_filter (optional SQL predicate) further
      // restricts the TRAINER corpus below the train split — the
      // freshness rule for corpora with in-flight increments ("the
      // quantizer must predate rows it will later assign", st10), or
      // any other must-not-shape-the-blocking exclusion.
      val id = r("id_column", "doc_id")
      val vec = r("vector_column", "embedding")
      val tau = r("threshold", 0.9)
      // nprobe is read only without cell_fraction, so giving both fails
      val probe = r.opt[Double]("cell_fraction").toLeft(r("nprobe", 4))
      val evalPred = evalSplit(r, id)
      val trainFilter = r.opt[String]("quantizer_train_filter")
      df =>
      val train = df.where(!evalPred)
      val evalSide = df.where(evalPred)
      val trainer = trainFilter.map(p => train.where(expr(p))).getOrElse(train)
      val (k, smod) = operators.Clustering.quantizerConfig(trainer.count())
      val cents = operators.Clustering.trainCentroids(
        trainer, k, iterations = 1, idCol = id, vecCol = vec, sampleMod = smod)
      // fraction mode resolves to a concrete probe depth HERE, against
      // the k this corpus actually trained
      val nprobe = probe.fold(f => operators.Clustering.fractionNprobe(f, cents.size), identity)
      val trainCells = operators.Clustering.assign(train, cents, vec).select(
        col(id).as("_t_id"), col("centroid_id").as("_cell"),
        operators.Similarity.normalized(col(vec)).as("_t_en"))
      val evalCells = evalSide.select(
          operators.Similarity.normalized(col(vec)).as("_e_en"),
          explode(functions.VectorExpressions
            .topCentroidsStruct(col(vec), cents, nprobe)).as("_pc"))
        .select(col("_e_en"), col("_pc.cid").as("_cell"))
      // shuffle_hash: sort-merge buffers ~1 KB vector rows per cell
      // group on both sides — measured 12.8x slower than hashing the
      // train side at sf3 (s22, SCALE.md r20); strategy only, results
      // identical
      val contaminated = trainCells.hint("shuffle_hash").join(evalCells, Seq("_cell"))
        .where(round(operators.Similarity.dot(col("_t_en"), col("_e_en")), 6)
          >= tau)
        .select(col("_t_id").as(id)).distinct()
      df.where(!evalPred).join(contaminated, Seq(id), "left_anti")
    },
    transformer("eval_overlap", "n_grams", "n_overlap", "overlap_frac") { r =>
      // annotate each EVAL doc with its per-doc contamination fraction
      // (share of its distinct n-grams occurring anywhere in the train
      // split — Dedup.evalOverlapFromHashes); training docs pass
      // through with NULL report columns. The annotate complement of
      // `decontaminate`: downstream stages pick the drop threshold.
      // Eval split: eval_modulus m selects hash60(id) % m == 0 (the
      // d9/x38 convention), or eval_flag_column names a boolean column.
      val (id, text) = idText(r)
      val n = r("ngram", 3)
      // eval_modulus is read only without eval_flag_column
      val evalBy = r.opt[String]("eval_flag_column").toLeft(r("eval_modulus", 20))
      df =>
      // hashedShingleTable's in-kernel dedup equals distinct-on-(id,h)
      // only when each doc id appears once in the input. That holds for
      // every framework-generated table, but this df is USER-SUPPLIED —
      // a duplicated id would inflate n_overlap/n_shared silently, so
      // the overlap fractions this stage reports are kept honest with
      // an explicit distinct here (the exchange-free path stays the
      // default for the trusted query pipelines).
      val grams = operators.Dedup.hashedShingleTable(df, n, id, text).distinct()
      val report = evalBy match {
        case Left(flagCol) =>
          // flag lives on df, not the gram table: tag the grams first.
          // groupBy(id).max(_ev) rather than dropDuplicates: one row
          // per id so a duplicate-id df can't multiply posting rows,
          // AND deterministic when duplicate ids carry CONFLICTING
          // flags — any eval-flagged duplicate marks the id eval
          // (dropDuplicates picked an arbitrary row; r17 advice)
          val tagged = grams.join(
            df.select(col(id), coalesce(col(flagCol), lit(false)).as("_ev0"))
              .groupBy(id).agg(max(col("_ev0")).as("_ev")), id)
          operators.Dedup.evalOverlapFromHashes(tagged, col("_ev"), id)
        case Right(m) =>
          operators.Dedup.evalOverlapFromHashes(grams,
            operators.Dedup.hash60(col(id).cast("string")) % m === 0, id)
      }
      df.join(report, Seq(id), "left")
    })

  val loaders: Map[String, Loader] = Map(
    // write-side counterpart of the `binary` extractor: raw CCSDS
    // packet files, one per partition
    loader("ccsds") { r =>
      val dir = r.need[String]("output_dir")
      df => graft.sinks.Sinks.writeCcsdsFiles(df, dir)
    },
    loader("parquet") { r =>
      val dir = r.need[String]("output_dir")
      val partitionByApid = r("partition_by_apid", false)
      val overwrite = r("overwrite", true)
      df => graft.sinks.Sinks.writeTidyParquet(df, dir, partitionByApid, overwrite)
    },
    loader("csv") { r =>
      val dir = r.need[String]("output_dir")
      val overwrite = r("overwrite", true)
      df => graft.sinks.Sinks.writeTidyCsv(df, dir, overwrite = overwrite)
    },
    // document-pipeline counterpart of the jsonl extractor
    loader("jsonl") { r =>
      val dir = r.need[String]("output_dir")
      df => JsonlSource.write(df, dir)
    },
    loader("orc") { r =>
      val dir = r.need[String]("output_dir")
      val mode = if (r("overwrite", true)) "overwrite" else "error"
      df => graft.sinks.Sinks.writer(df).mode(mode).orc(dir)
    })

  private def lookup[A](kind: String, stages: Map[String, A], name: String): A =
    stages.getOrElse(name, throw new NoSuchElementException(
      s"Unknown $kind '$name'. Available: ${stages.keys.toSeq.sorted.mkString(", ")}"))
  def getExtractor(name: String): Extractor = lookup("extractor", extractors, name)
  def getTransformer(name: String): Transformer = lookup("transformer", transformers, name)
  def getLoader(name: String): Loader = lookup("loader", loaders, name)

  def allStages: Map[String, Seq[String]] = Map(
    "extractors" -> extractors.keys.toSeq.sorted,
    "transformers" -> transformers.keys.toSeq.sorted,
    "loaders" -> loaders.keys.toSeq.sorted)
}
