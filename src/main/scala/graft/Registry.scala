package graft

import graft.operators.{Calibration, Decom, Telemetry}
import graft.sources.{CsvTelemetrySource, JsonlSource}
import graft.telemetry.{CalibrationEntry, ParameterDef}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Stage registry (reference core/registry.py:8-101): named extractors /
  * transformers / loaders resolvable by string, with list introspection.
  * Configs are JSON objects (parsed with json4s, which ships with Spark);
  * unlike the reference CLI, transformer configs are actually wired
  * (the reference's `mdp run` default-constructs them — cli/main.py:194-197).
  */
object Registry {

  import org.json4s._
  import org.json4s.jackson.JsonMethods
  private implicit val fmts: Formats = DefaultFormats

  type Extractor = (SparkSession, JValue) => DataFrame
  type Transformer = JValue => DataFrame => DataFrame
  type Loader = (DataFrame, JValue) => Unit

  /** One named split for the hash_split stage; config order defines
    * the bucket ranges.
    */
  case class SplitDef(name: String, fraction: Double)

  def parseConfig(json: String): JValue =
    if (json == null || json.trim.isEmpty) JObject() else JsonMethods.parse(json)

  private def str(c: JValue, k: String): Option[String] =
    (c \ k).extractOpt[String]
  private def int(c: JValue, k: String): Option[Int] = (c \ k).extractOpt[Int]
  private def bool(c: JValue, k: String): Option[Boolean] = (c \ k).extractOpt[Boolean]

  /** Fail fast when a stage's scratch column names already exist on the
    * incoming frame: `withColumn` would silently OVERWRITE the user's
    * column and the stage would then drop it — data loss that surfaces
    * only rows later. A loud error with the stage name beats either.
    */
  private def requireFree(
      df: org.apache.spark.sql.DataFrame, stage: String, names: String*): Unit = {
    val clash = names.filter(df.columns.contains)
    require(clash.isEmpty,
      s"$stage: input already has column(s) ${clash.mkString(", ")} — " +
        "rename them upstream; these names are reserved stage scratch space")
  }

  val extractors: Map[String, Extractor] = Map(
    // V2 `ccsds` source: splittable on sync markers, APID pushdown. Every
    // other scalar key is a source option, which the source parses and
    // checks (CcsdsSource.Options.parse); a JSON null counts as absent.
    "binary" -> { (spark, c) =>
      val options = (c match { case JObject(fs) => fs; case _ => Nil }).flatMap {
        case ("apid_filter", _) | (_, JNull | JNothing) => None
        case (k, v @ (_: JString | _: JBool | _: JNumber)) => Some(k -> v.values.toString)
        case (k, v) =>
          sys.error(s"binary extractor: '$k' must be a scalar, got ${JsonMethods.compact(v)}")
      }
      val df = spark.read.format("ccsds").options(options.toMap).load()
      // an empty list means "no filter" (the reference treats a falsy list
      // the same way); anything but a list of integers is an error, not a
      // filter silently dropped. The predicate pushes into the byte walk
      // via SupportsPushDownFilters.
      val apids = c \ "apid_filter" match {
        case JNothing | JNull => Nil
        case JArray(vs) if vs.forall(_.isInstanceOf[JInt]) => vs.collect { case JInt(a) => a.toInt }
        case v => sys.error(
          s"binary extractor: apid_filter must be a list of integers, got ${JsonMethods.compact(v)}")
      }
      if (apids.isEmpty) df
      else df.where(org.apache.spark.sql.functions.col("apid").isin(apids.map(Integer.valueOf): _*))
    },
    // generic parquet extractor — document/embedding pipelines start here
    "parquet" -> { (spark, c) =>
      spark.read.parquet(
        str(c, "path").getOrElse(sys.error("parquet extractor needs 'path'")))
    },
    // columnar alternative where the lakehouse standard is ORC (Spark
    // built-in; same pushdown/pruning surface as parquet)
    "orc" -> { (spark, c) =>
      spark.read.orc(
        str(c, "path").getOrElse(sys.error("orc extractor needs 'path'")))
    },
    "csv" -> { (spark, c) =>
      CsvTelemetrySource.readSamples(spark,
        str(c, "path").getOrElse(sys.error("csv extractor needs 'path'")),
        CsvTelemetrySource.Options(
          timeColumn = str(c, "time_column").getOrElse("time"),
          apidColumn = str(c, "apid_column").getOrElse("apid"),
          seqCountColumn = str(c, "seq_count_column").getOrElse("seq_count"),
          parameterColumns = (c \ "parameter_columns").extractOpt[Seq[String]].filter(_.nonEmpty),
          delimiter = str(c, "delimiter").getOrElse(",")))
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
    "jsonl" -> { (spark, c) =>
      import org.apache.spark.sql.functions.{col, count, lit, when}
      val path =
        str(c, "path").getOrElse(sys.error("jsonl extractor needs 'path'"))
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
    "apid_filter" -> { c => df =>
      Telemetry.apidFilter(df,
        include = (c \ "include").extractOpt[Seq[Int]].getOrElse(Nil),
        exclude = (c \ "exclude").extractOpt[Seq[Int]].getOrElse(Nil))
    },
    "decom" -> { c => df =>
      Decom(df, (c \ "parameters").extract[Seq[ParameterDef]],
        skipUnknownApids = bool(c, "skip_unknown_apids").getOrElse(true))
    },
    "calibration" -> { c => df =>
      val entries =
        try (c \ "calibrations").extract[Seq[CalibrationEntry]]
        catch {
          // json4s reports a failed `require` in the entry's constructor
          // as "unknown error"; the requirement's message names the entry
          case e: MappingException =>
            throw Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
              .collectFirst { case bad: IllegalArgumentException => bad }.getOrElse(e)
        }
      Calibration(df, entries)
    },
    // --- training-data stages (document pipelines) ---------------------
    "exact_dedup" -> { c => df =>
      // keep one row per normalized-content group (the min id)
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val survivors = operators.Dedup.exactGroups(df, id, text)
        .select(org.apache.spark.sql.functions.col("survivor_id").as(id))
      df.join(survivors, Seq(id), "left_semi")
    },
    "url_dedup" -> { c => df =>
      // keep one row per canonical URL (min id survivor): the
      // CommonCrawl-style fetch-level dedup that runs BEFORE any
      // content hashing — map-only canonicalization, one groupBy
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val url = str(c, "url_column").getOrElse("url")
      val survivors = df
        .groupBy(operators.TextAnalysis.canonicalizeUrl(col(url)).as("_canon"))
        .agg(min(col(id)).as(id))
        .drop("_canon")
      df.join(survivors, Seq(id), "left_semi")
    },
    "line_dedup" -> { c => df =>
      // CCNet-style boilerplate removal: drop lines whose corpus-wide
      // document frequency reaches min_doc_freq, rewrite the text
      // column from the surviving lines (docs reduced to nothing are
      // dropped — an all-chrome page carries no training signal)
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val minDf = int(c, "min_doc_freq").getOrElse(5)
      val delim = str(c, "delimiter").getOrElse("\n")
      requireFree(df, "line_dedup", "clean_text")
      val lines = df.select(col(id),
        split(col(text), java.util.regex.Pattern.quote(delim)).as("lines"))
      val cleaned = operators.Dedup.lineDedup(lines, minDf, id)
        .where(col("n_kept") > 0)
        .select(col(id), col("clean_text"))
      df.drop(text).join(cleaned, Seq(id))
        .withColumnRenamed("clean_text", text)
    },
    "dup_span_strip" -> { c => df =>
      // substring-level dedup (Lee et al. 2022 via Dedup.dupSpans):
      // CUT corpus-wide duplicated runs of >= window_len chars from
      // the text. `keep` picks the stance: "none" (default) cuts every
      // occurrence (the boilerplate stance — a run that repeats across
      // the corpus is chrome, not signal); "first" is the paper's
      // suffix-array semantics — the corpus-wide FIRST occurrence
      // survives, so exactly one copy of each duplicated substring
      // remains. Docs reduced to nothing are dropped.
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val win = int(c, "window_len").getOrElse(40)
      val minOcc = int(c, "min_occurrences").getOrElse(2)
      val keep = str(c, "keep").getOrElse("none")
      require(keep == "none" || keep == "first",
        s"dup_span_strip: unknown keep policy '$keep'")
      requireFree(df, "dup_span_strip", "_spans")
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
    "gopher_filter" -> { c => df =>
      // Gopher quality rules (Rae et al. 2021): keep only docs passing
      // every deterministic rule flag; bounds for the word-count rule
      // are configurable per corpus
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val minW = int(c, "min_words").getOrElse(50)
      val maxW = int(c, "max_words").getOrElse(100000)
      val keep = operators.TextAnalysis.gopherFlags(df, minW, maxW, id, text)
        .where(col("kept")).select(col(id))
      df.join(keep, Seq(id), "left_semi")
    },
    "dsir_sample" -> { c => df =>
      // DSIR importance resampling (Xie et al. 2023): weight each doc
      // by its unigram likelihood ratio against the target exemplar
      // set (quality >= target_quality_min), then keep the k A-ES
      // winners — sampling stays in log space, no exp anywhere
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val qMin = (c \ "target_quality_min").extractOpt[Double].getOrElse(0.5)
      val k = int(c, "k").getOrElse(1000)
      requireFree(df, "dsir_sample", "log_weight")
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
    "c4_clean" -> { c => df =>
      // C4 heuristic cleaning (Raffel et al. 2020): line keeps
      // (terminal punct, min words, no "javascript") + page rejects
      // (lorem ipsum / brace / blocklist / too few surviving lines).
      // Splits the text column on `delimiter`, keeps passing pages,
      // rewrites text from the surviving lines — the line_dedup shape
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val minWpl = int(c, "min_words_per_line").getOrElse(5)
      val minKept = int(c, "min_kept_lines").getOrElse(3)
      val delim = str(c, "delimiter").getOrElse("\n")
      val lines = df.select(col(id),
        split(col(text), java.util.regex.Pattern.quote(delim)).as("lines"))
      val cleaned = operators.TextAnalysis.c4Clean(lines, minWpl, minKept, idCol = id)
        .where(col("kept"))
        .select(col(id), col("clean_text"))
      df.drop(text).join(cleaned, Seq(id))
        .withColumnRenamed("clean_text", text)
    },
    "ccnet_bucket_filter" -> { c => df =>
      // CCNet perplexity bucketing (Wenzek et al. 2020): keep only the
      // configured corpus-LM likelihood buckets (default head+middle —
      // the CCNet recipe's training split; tail is the noise bucket)
      import org.apache.spark.sql.functions.col
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val src = str(c, "source_column").getOrElse("source")
      val keep = (c \ "keep_buckets").extractOpt[Seq[String]]
        .filter(_.nonEmpty).getOrElse(Seq("head", "middle"))
      val picked = operators.TextAnalysis.perplexityBuckets(df, 3, id, text, src)
        .where(col("bucket_name").isin(keep: _*)).select(col(id))
      df.join(picked, Seq(id), "left_semi")
    },
    "unimax_resample" -> { c => df =>
      // UniMax mixture (Chung et al. 2023): water-fill the token
      // budget across languages, then resample each doc at its
      // group's epoch rate via the hash-lottery upsampler — groups at
      // the cap keep every doc once, groups above the water level are
      // thinned to it. The allocation table is |groups| rows,
      // broadcast into the join; the resample itself is row-local
      import org.apache.spark.sql.functions._
      val grp = str(c, "group_column").getOrElse("lang")
      val text = str(c, "text_column").getOrElse("text")
      val id = str(c, "id_column").getOrElse("doc_id")
      val frac = (c \ "budget_fraction").extractOpt[Double].getOrElse(0.75)
      val cap = (c \ "epoch_cap").extractOpt[Double].getOrElse(1.0)
      val alloc = operators.Mixture.unimaxAllocation(df, frac, cap, grp, text)
        .select(col(grp), col("epochs"))
      operators.Mixture.sourceUpsample(
        df.join(broadcast(alloc), Seq(grp)), col("epochs"), id)
        .drop("epochs")
    },
    "temperature_mix" -> { c => df =>
      // temperature-scaled resampling (mT5-style): each group's docs
      // are repeated at its epochs rate under p_g ∝ f_g^(1/T) for ONE
      // power-of-two temperature; the |groups|-row rate table is
      // broadcast and the resample is the same hash-lottery upsampler
      // unimax_resample uses, so T is a drop-in alternative knob
      import org.apache.spark.sql.functions._
      val grp = str(c, "group_column").getOrElse("source")
      val text = str(c, "text_column").getOrElse("text")
      val id = str(c, "id_column").getOrElse("doc_id")
      val temp = int(c, "temperature").getOrElse(2)
      val rates = operators.Mixture.temperatureMix(df, Seq(temp), grp, text)
        .select(col(grp),
          (col("epochs_micro").cast("double") / 1e6).as("_t_epochs"))
      operators.Mixture.sourceUpsample(
        df.join(broadcast(rates), Seq(grp)), col("_t_epochs"), id)
        .drop("_t_epochs")
    },
    "domain_cap" -> { c => df =>
      // per-registrable-domain quota (crawl balancing): keep at most
      // max_per_domain docs per domain, lowest id first — ONE window,
      // no join; the skew this fights is measured by u2_domain_stats
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val url = str(c, "url_column").getOrElse("url")
      val cap = int(c, "max_per_domain").getOrElse(1000)
      val dom = operators.TextAnalysis.registrableDomain(
        operators.TextAnalysis.canonicalizeUrl(col(url)))
      requireFree(df, "domain_cap", "_rk")
      df.withColumn("_rk", row_number().over(
          Window.partitionBy(dom).orderBy(col(id))))
        .where(col("_rk") <= cap)
        .drop("_rk")
    },
    "semantic_dedup" -> { c => df =>
      // SemDeDup: embedding-space near-dup removal — coarse k-means
      // cells, then drop-if-any-earlier-similar within a cell
      // (Clustering.semanticDedup; stricter than leader clustering —
      // dropped vectors also suppress later ones). n_cells is the scale
      // knob (cost is sum(|cell|^2)); rows need an embedding column
      import org.apache.spark.sql.functions.col
      val id = str(c, "id_column").getOrElse("doc_id")
      val vec = str(c, "vector_column").getOrElse("embedding")
      val n = int(c, "n_cells").getOrElse(256)
      val tau = (c \ "threshold").extractOpt[Double].getOrElse(0.9)
      val kept = operators.Clustering.semanticDedup(df, n, tau, 1, id, vec)
        .where(col("kept")).select(col(id))
      df.join(kept, Seq(id), "left_semi")
    },
    "near_dedup" -> { c => df =>
      // n-gram Jaccard near-dup removal: pair graph -> connected
      // components -> keep one doc per cluster. max_df_fraction is the
      // stop-gram cap that bounds hot-shingle posting lists
      // (Dedup.ngramJaccardPairs) — surfaced here so the CLI pipeline
      // can set it per corpus. `keep` picks the survivor policy:
      // "min_id" (default, the reference-style deterministic pick) or
      // "best_quality" (argmax TextAnalysis.qualityScore, min id on
      // ties — what a production corpus actually wants to retain).
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val block = str(c, "block_column").getOrElse("lang")
      val n = int(c, "ngram").getOrElse(3)
      val threshold = (c \ "threshold").extractOpt[Double].getOrElse(0.8)
      val maxDf = (c \ "max_df_fraction").extractOpt[Double]
      val keep = str(c, "keep").getOrElse("min_id")
      require(keep == "min_id" || keep == "best_quality",
        s"near_dedup: unknown keep policy '$keep'")
      // `method` picks the pair generator: "ngram_jaccard" (default —
      // inverted-index exact Jaccard within `block_column`) or
      // "minhash_lsh" (banded MinHash candidates + exact shared-shingle
      // verify, no blocking — the d8/d10 generator, Dedup
      // .jaccardClusters). With minhash_lsh + keep=best_quality the
      // exact_dedup -> near_dedup chain reproduces the p4 funnel's
      // near-dup canonicalization exactly (CliSpec pins this).
      val method = str(c, "method").getOrElse("ngram_jaccard")
      val cc = method match {
        case "minhash_lsh" =>
          // fail loud, not silent: block_column and max_df_fraction are
          // only consumed by the ngram_jaccard pair generator — a
          // pipeline that switches methods but keeps them would LOOK
          // like it still blocks/caps while doing neither
          require(str(c, "block_column").isEmpty && maxDf.isEmpty,
            "near_dedup: block_column/max_df_fraction only apply to " +
              "method=ngram_jaccard; minhash_lsh bands globally and " +
              "has no df cap — remove them from the config")
          val numHashes = int(c, "num_hashes").getOrElse(8)
          val rowsPerBand = int(c, "rows_per_band").getOrElse(2)
          operators.Dedup
            .jaccardClusters(df, n, numHashes, rowsPerBand, threshold, id, text)
            .select(col(id).as("node"), col("cluster_id").as("component"))
        case "ngram_jaccard" =>
          val pairs = operators.Dedup.ngramJaccardPairs(
            df, n, threshold, block, id, text, maxDf)
          operators.Graph.connectedComponents(pairs, "a_id", "b_id")
        case other => sys.error(s"near_dedup: unknown method '$other'")
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
    "simhash_dedup" -> { c => df =>
      // SimHash near-dup removal; max_hamming is the bit budget that
      // drives the pigeonhole banding (Dedup.simhashPairs) — config-
      // surfaced for the same reason as max_df_fraction above.
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val block = str(c, "block_column").getOrElse("lang")
      val maxHamming = int(c, "max_hamming").getOrElse(3)
      val pairs = operators.Dedup.simhashPairs(df, maxHamming, block, id, text)
      val losers = operators.Graph.connectedComponents(pairs, "a_id", "b_id")
        .where(col("node") =!= col("component"))
        .select(col("node").as(id))
      df.join(losers, Seq(id), "left_anti")
    },
    "quality_filter" -> { c => df =>
      val text = str(c, "text_column").getOrElse("text")
      val minScore = (c \ "min_score").extractOpt[Double].getOrElse(0.5)
      df.where(operators.TextAnalysis.qualityScore(
        org.apache.spark.sql.functions.col(text)) >= minScore)
    },
    "entropy_filter" -> { c => df =>
      // drop low-character-entropy docs (boilerplate/repetition) and,
      // with max_entropy, near-random blobs — the x33 signal as a stage
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val minH = (c \ "min_entropy").extractOpt[Double].getOrElse(1.5)
      val maxH = (c \ "max_entropy").extractOpt[Double].getOrElse(Double.MaxValue)
      val keep = operators.TextAnalysis.charEntropyGrouped(df, id, text)
        .where(col("char_entropy_nats") >= minH &&
          col("char_entropy_nats") <= maxH)
        .select(col(id))
      df.join(keep, Seq(id), "left_semi")
    },
    "novelty_filter" -> { c => df =>
      // drop docs whose distinct n-grams are mostly seen elsewhere in
      // the corpus (x36): the boilerplate-saturation cut. Corpus-wide
      // index pass (hash-only exchanges), then a semi-join keep.
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val n = int(c, "n").getOrElse(3)
      val minNov = (c \ "min_novelty").extractOpt[Double].getOrElse(0.1)
      val keep = operators.Dedup.ngramNovelty(df, n, id, text)
        .where(col("novelty") >= minNov).select(col(id))
      df.join(keep, Seq(id), "left_semi")
    },
    "code_filter" -> { c => df =>
      // route code-like docs (x35 signal as a stage): mode "drop"
      // removes them from a prose corpus, mode "keep" selects them for
      // a code corpus. codeScore is a single map-only expression, so
      // this filters in the scan pass — no join, no shuffle.
      import org.apache.spark.sql.functions._
      val text = str(c, "text_column").getOrElse("text")
      val thr = (c \ "threshold").extractOpt[Double].getOrElse(1.0)
      // coalesce: a NULL text scores NULL, and a NULL predicate drops
      // the row under BOTH modes — keep ∪ drop would lose it from the
      // corpus. Routing NULL to the prose side makes the two modes an
      // exact partition of the input.
      val isCode = coalesce(
        operators.TextAnalysis.codeScore(col(text)) >= thr, lit(false))
      str(c, "mode").getOrElse("drop") match {
        case "keep" => df.where(isCode)
        case "drop" => df.where(!isCode)
        case other  => sys.error(s"code_filter: unknown mode '$other'")
      }
    },
    "classifier_filter" -> { c => df =>
      // hashed-feature linear quality model (x34): keep docs the model
      // scores above the threshold — the FineWeb-Edu filter shape
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val dim = int(c, "dim").getOrElse(1 << 16)
      val thr = (c \ "threshold").extractOpt[Double].getOrElse(0.0)
      val keep = operators.TextAnalysis.classifierScore(df, dim, thr, id, text)
        .where(col("kept")).select(col(id))
      df.join(keep, Seq(id), "left_semi")
    },
    "soft_dedup_weights" -> { c => df =>
      // annotate (never drop): sampling weight 1/|near-dup cluster| per
      // doc (d16) — downstream samplers consume `weight` directly.
      // Contract: OVERWRITES any pre-existing cluster_size/weight
      // columns (e.g. from an earlier weighting stage) instead of
      // producing ambiguous duplicate names after the join.
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      df.drop("cluster_size", "weight")
        .join(operators.Dedup.softDedupWeights(df, idCol = id, textCol = text)
          .select(org.apache.spark.sql.functions.col(id),
            org.apache.spark.sql.functions.col("cluster_size"),
            org.apache.spark.sql.functions.col("weight")), Seq(id))
    },
    "containment_dedup" -> { c => df =>
      // quote/subset removal (the d17 signal as a stage): drop docs
      // whose distinct shingles are >= threshold contained in a larger
      // doc — what union-normalized near_dedup cannot express.
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val n = int(c, "ngram").getOrElse(3)
      val thr = (c \ "threshold").extractOpt[Double].getOrElse(0.8)
      operators.Dedup.containmentDedup(df, n, thr, idCol = id, textCol = text)
    },
    "length_batching" -> { c => df =>
      // length-bucketed dynamic batching (x37): annotate each doc with
      // (n_toks, bucket, batch_id, slot) so a downstream loader writes
      // padding-efficient batches. Annotate-don't-drop, the
      // soft_dedup_weights contract: pre-existing columns of the same
      // names are overwritten, never duplicated.
      import org.apache.spark.sql.functions.col
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val batch = int(c, "batch_size").getOrElse(8)
      val bucket = int(c, "bucket_tokens").getOrElse(32)
      df.drop("n_toks", "bucket", "batch_id", "slot")
        .join(operators.Mixture.lengthBatching(df, batch, bucket, id, text)
          .select(col(id), col("n_toks"), col("bucket"),
            col("batch_id"), col("slot")), Seq(id))
    },
    "lang_filter" -> { c => df =>
      import org.apache.spark.sql.functions._
      val text = str(c, "text_column").getOrElse("text")
      val langs = (c \ "languages").extractOpt[Seq[String]].filter(_.nonEmpty)
        .getOrElse(sys.error("lang_filter needs 'languages'"))
      // langId is a single-pass kernel (one tokenization per row even
      // when the predicate is pushed and alias-inlined), so no staging
      // or temp column is needed — the filter cannot collide with any
      // user column
      df.where(operators.TextAnalysis.langId(col(text))
        .getField("code").isin(langs.map(x => x: Any): _*))
    },
    "chunk_documents" -> { c => df =>
      // split long docs into context-window chunks (Mixture
      // .chunkDocuments); downstream stages see one row per chunk with
      // the chunk text in text_column's place
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val chunk = int(c, "chunk_tokens").getOrElse(2048)
      val overlap = int(c, "overlap_tokens").getOrElse(0)
      requireFree(df, "chunk_documents", "chunk_id", "chunk_len")
      val chunks = operators.Mixture.chunkDocuments(df, chunk, overlap, id, text)
        .withColumnRenamed("chunk_text", text)
      // chunks inherit their parent doc's metadata (lang, source, ...)
      df.drop(text).join(chunks, Seq(id))
    },
    "pack_sequences" -> { c => df =>
      // annotate each doc with its (pack_id, pack_offset) in the
      // concat-then-chunk layout (Mixture.packSequences); docs keep
      // their columns so later stages can still see text/metadata
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val block = str(c, "block_column").getOrElse("source")
      val budget = (c \ "token_budget").extractOpt[Long].getOrElse(2048L)
      requireFree(df, "pack_sequences", "pack_id", "pack_offset")
      val packs = operators.Mixture.packSequences(df, budget, block, id, text)
        .select(col(id), col("pack_id"), col("pack_offset"))
      df.join(packs, Seq(id))
    },
    "source_mix" -> { c => df =>
      // down-sample sources toward configured mixture weights
      // (Mixture.sourceMix); unlisted sources take default_weight
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val source = str(c, "source_column").getOrElse("source")
      val default = (c \ "default_weight").extractOpt[Double].getOrElse(1.0)
      val weights = (c \ "weights").extractOpt[Map[String, Double]].getOrElse(Map.empty)
      val weight = weights.foldLeft(lit(default)) { case (acc, (k, v)) =>
        when(col(source) === k, lit(v)).otherwise(acc)
      }
      operators.Mixture.sourceMix(df, weight, source, id)
    },
    "weighted_sample" -> { c => df =>
      // Efraimidis-Spirakis A-ES without replacement: key = -ln(u)/w,
      // u hash-derived from the id, w = quality score floored at 0.01;
      // the max_per_stratum smallest keys win per stratum column
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val stratum = str(c, "stratum_column").getOrElse("source")
      val k = int(c, "max_per_stratum").getOrElse(100)
      val h = operators.Dedup.hash60(concat(lit("ws:"), col(id).cast("string")))
      val u = (h + lit(1L)).cast("double") / 1.152921504606846976e18
      val wq = greatest(operators.TextAnalysis.qualityScore(col(text)), lit(0.01))
      requireFree(df, "weighted_sample", "_key", "_rk")
      df.withColumn("_key", negative(log(u)) / wq)
        .withColumn("_rk", row_number().over(
          Window.partitionBy(col(stratum)).orderBy(col("_key"), col(id))))
        .where(col("_rk") <= k)
        .drop("_key", "_rk")
    },
    "source_upsample" -> { c => df =>
      // repeat-factor upsampling for under-represented sources:
      // factors is {"source_name": r, ...}; unlisted sources keep
      // factor 1.0 (passed through once). Adds a `copy` index column.
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val sourceCol = str(c, "source_column").getOrElse("source")
      val factors = (c \ "factors") match {
        case JObject(fields) => fields.map { case (k, v) => k -> v.extract[Double] }
        case _ => Nil
      }
      val factor = factors.foldLeft(lit(1.0)) { case (acc, (src, r)) =>
        when(col(sourceCol) === src, lit(r)).otherwise(acc)
      }
      operators.Mixture.sourceUpsample(df, factor, id)
    },
    "stratified_sample" -> { c => df =>
      // deterministic hash-mod sampling: rate_permille per stratum value
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val stratum = str(c, "stratum_column").getOrElse("lang")
      val default = int(c, "default_permille").getOrElse(200)
      val rates = (c \ "rates_permille").extractOpt[Map[String, Int]].getOrElse(Map.empty)
      val h = operators.Dedup.hash60(col(id).cast("string")) % 1000
      val rate = rates.foldLeft(lit(default)) { case (acc, (k, v)) =>
        when(col(stratum) === k, lit(v)).otherwise(acc)
      }
      df.where(h < rate)
    },
    "hash_split" -> { c => df =>
      // deterministic train/valid/test assignment by hash-of-id
      // (Mixture.hashSplit): adds split_bucket + split columns; split
      // order in the config defines the bucket ranges, so it's a LIST
      // of {name, fraction}, never a map
      val id = str(c, "id_column").getOrElse("doc_id")
      // a present-but-malformed splits config must ERROR, not silently
      // fall back to 90/5/5 — a user whose 80/20 map-shaped config is
      // ignored ships the wrong eval ratio with no failure
      val splits = (c \ "splits") match {
        case JNothing =>
          Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05)
        case v =>
          v.extractOpt[Seq[SplitDef]].filter(_.nonEmpty)
            .map(_.map(s => s.name -> s.fraction))
            .getOrElse(sys.error(
              "hash_split: 'splits' must be a non-empty LIST of " +
                s"{name, fraction} objects, got: ${JsonMethods.compact(v)}"))
      }
      operators.Mixture.hashSplit(df, splits, id)
    },
    "token_budget" -> { c => df =>
      // per-source token quota (Mixture.tokenBudgetSample): keep docs
      // in hash order while the source's running token total fits the
      // budget; all input columns pass through (semi join on id)
      import org.apache.spark.sql.functions.col
      val id = str(c, "id_column").getOrElse("doc_id")
      val src = str(c, "source_column").getOrElse("source")
      val text = str(c, "text_column").getOrElse("text")
      val budget = (c \ "budget_tokens").extractOpt[Long]
        .getOrElse(sys.error("token_budget needs 'budget_tokens'"))
      val kept = operators.Mixture
        .tokenBudgetSample(df, budget, src, id, text).select(col(id))
      df.join(kept, Seq(id), "left_semi")
    },
    "quality_quantile_filter" -> { c => df =>
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
      import org.apache.spark.sql.functions.{broadcast, col}
      val src = str(c, "source_column").getOrElse("source")
      val text = str(c, "text_column").getOrElse("text")
      val p = (c \ "percentile").extractOpt[Double].getOrElse(0.25)
      requireFree(df, "quality_quantile_filter", "_q", "_thr")
      val scored = df.withColumn("_q",
        operators.TextAnalysis.qualityScore(col(text)))
      val thr = operators.TextAnalysis
        .quantileThreshold(scored, p, src, "_q")
        .select(col(src), col("threshold").as("_thr"))
      scored.join(broadcast(thr), src)
        .where(col("_q") >= col("_thr"))
        .drop("_q", "_thr")
    },
    "repetition_filter" -> { c => df =>
      // drop degenerate repetition-heavy documents (Gopher-style rule)
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val maxTopWord = (c \ "max_top_word_frac").extractOpt[Double].getOrElse(0.2)
      val maxDupTrigram = (c \ "max_dup_3gram_frac").extractOpt[Double].getOrElse(0.5)
      val keep = operators.TextAnalysis.repetitionStats(df, id, text)
        .where(col("top_word_frac") <= maxTopWord &&
          col("dup_3gram_frac") <= maxDupTrigram)
        .select(col(id))
      df.join(keep, Seq(id), "left_semi")
    },
    "pii_redact" -> { c => df =>
      // replace emails / IPv4s / phone-shaped substrings with tags
      import org.apache.spark.sql.functions._
      val text = str(c, "text_column").getOrElse("text")
      df.withColumn(text, operators.TextAnalysis.redactPii(col(text)))
    },
    "perplexity_filter" -> { c => df =>
      // keep docs whose mean log-prob (corpus-trained LM) clears the
      // floor — the CCNet-style fluency filter. order 1 = unigram
      // (default), order 2 = interpolated bigram (sharper fluency
      // signal; docs with < order tokens have no score). Token-less /
      // scoreless docs are dropped by default, kept when keep_empty is
      // set — never silently threshold-exempt
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val minAvg = (c \ "min_avg_logprob").extractOpt[Double].getOrElse(-8.0)
      val keepEmpty = bool(c, "keep_empty").getOrElse(false)
      val order = int(c, "order").getOrElse(1)
      require(order == 1 || order == 2, s"perplexity_filter: order must be 1 or 2, got $order")
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
    "decontaminate" -> { c => df =>
      // drop training docs sharing >= min_shared n-gram shingles with
      // the eval split (eval_ids or an is_eval flag column)
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val n = int(c, "ngram").getOrElse(3)
      val minShared = int(c, "min_shared").getOrElse(3)
      // coalesce to false: a NULL flag/id marks a TRAINING doc — without
      // this, !pred is NULL and where() silently drops every such row
      val evalPred = coalesce(
        (c \ "eval_ids").extractOpt[Seq[Long]].filter(_.nonEmpty)
          .map(ids => col(id).isin(ids.map(x => x: Any): _*))
          .orElse(str(c, "eval_flag_column").map(col(_) === true))
          .getOrElse(sys.error("decontaminate needs 'eval_ids' or 'eval_flag_column'")),
        lit(false))
      val contaminated = operators.Dedup
        .contaminationPairs(df, n, minShared.toLong, evalPred, id, text)
        .select(col("train_id").as(id)).distinct()
      df.where(!evalPred).join(contaminated, Seq(id), "left_anti")
    },
    "semantic_decontaminate" -> { c => df =>
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
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val vec = str(c, "vector_column").getOrElse("embedding")
      val tau = (c \ "threshold").extractOpt[Double].getOrElse(0.9)
      val fracOpt = (c \ "cell_fraction").extractOpt[Double]
      require(fracOpt.isEmpty || int(c, "nprobe").isEmpty,
        "semantic_decontaminate: nprobe and cell_fraction are mutually exclusive")
      // coalesce to false: a NULL flag/id marks a TRAINING doc (the
      // textual decontaminate stage's convention)
      val evalPred = coalesce(
        (c \ "eval_ids").extractOpt[Seq[Long]].filter(_.nonEmpty)
          .map(ids => col(id).isin(ids.map(x => x: Any): _*))
          .orElse(str(c, "eval_flag_column").map(col(_) === true))
          .getOrElse(sys.error(
            "semantic_decontaminate needs 'eval_ids' or 'eval_flag_column'")),
        lit(false))
      val train = df.where(!evalPred)
      val evalSide = df.where(evalPred)
      val trainer = str(c, "quantizer_train_filter")
        .map(p => train.where(expr(p))).getOrElse(train)
      val (k, smod) = operators.Clustering.quantizerConfig(trainer.count())
      val cents = operators.Clustering.trainCentroids(
        trainer, k, iterations = 1, idCol = id, vecCol = vec, sampleMod = smod)
      // fraction mode resolves to a concrete probe depth HERE, against
      // the k this corpus actually trained
      val nprobe = fracOpt
        .map(f => operators.Clustering.fractionNprobe(f, cents.size))
        .getOrElse(int(c, "nprobe").getOrElse(4))
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
    "eval_overlap" -> { c => df =>
      // annotate each EVAL doc with its per-doc contamination fraction
      // (share of its distinct n-grams occurring anywhere in the train
      // split — Dedup.evalOverlapFromHashes); training docs pass
      // through with NULL report columns. The annotate complement of
      // `decontaminate`: downstream stages pick the drop threshold.
      // Eval split: eval_modulus m selects hash60(id) % m == 0 (the
      // d9/x38 convention), or eval_flag_column names a boolean column.
      import org.apache.spark.sql.functions._
      val id = str(c, "id_column").getOrElse("doc_id")
      val text = str(c, "text_column").getOrElse("text")
      val n = int(c, "ngram").getOrElse(3)
      requireFree(df, "eval_overlap", "n_grams", "n_overlap", "overlap_frac")
      // hashedShingleTable's in-kernel dedup equals distinct-on-(id,h)
      // only when each doc id appears once in the input. That holds for
      // every framework-generated table, but this df is USER-SUPPLIED —
      // a duplicated id would inflate n_overlap/n_shared silently, so
      // the overlap fractions this stage reports are kept honest with
      // an explicit distinct here (the exchange-free path stays the
      // default for the trusted query pipelines).
      val grams = operators.Dedup.hashedShingleTable(df, n, id, text).distinct()
      val report = str(c, "eval_flag_column") match {
        case Some(flagCol) =>
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
        case None =>
          val m = int(c, "eval_modulus").getOrElse(20)
          operators.Dedup.evalOverlapFromHashes(grams,
            operators.Dedup.hash60(col(id).cast("string")) % m === 0, id)
      }
      df.join(report, Seq(id), "left")
    })

  val loaders: Map[String, Loader] = Map(
    // write-side counterpart of the `binary` extractor: raw CCSDS
    // packet files, one per partition
    "ccsds" -> { (df, c) =>
      graft.sinks.Sinks.writeCcsdsFiles(df,
        str(c, "output_dir").getOrElse(sys.error("ccsds loader needs 'output_dir'")))
    },
    "parquet" -> { (df, c) =>
      graft.sinks.Sinks.writeTidyParquet(df,
        str(c, "output_dir").getOrElse(sys.error("parquet loader needs 'output_dir'")),
        partitionByApid = bool(c, "partition_by_apid").getOrElse(false),
        overwrite = bool(c, "overwrite").getOrElse(true))
    },
    "csv" -> { (df, c) =>
      graft.sinks.Sinks.writeTidyCsv(df,
        str(c, "output_dir").getOrElse(sys.error("csv loader needs 'output_dir'")),
        overwrite = bool(c, "overwrite").getOrElse(true))
    },
    // document-pipeline counterpart of the jsonl extractor
    "jsonl" -> { (df, c) =>
      JsonlSource.write(df,
        str(c, "output_dir").getOrElse(sys.error("jsonl loader needs 'output_dir'")))
    },
    "orc" -> { (df, c) =>
      graft.sinks.Sinks.writer(df)
        .mode(if (bool(c, "overwrite").getOrElse(true)) "overwrite" else "error")
        .orc(str(c, "output_dir").getOrElse(sys.error("orc loader needs 'output_dir'")))
    })

  def getExtractor(name: String): Extractor = extractors.getOrElse(name,
    throw new NoSuchElementException(
      s"Unknown extractor '$name'. Available: ${extractors.keys.toSeq.sorted.mkString(", ")}"))
  def getTransformer(name: String): Transformer = transformers.getOrElse(name,
    throw new NoSuchElementException(
      s"Unknown transformer '$name'. Available: ${transformers.keys.toSeq.sorted.mkString(", ")}"))
  def getLoader(name: String): Loader = loaders.getOrElse(name,
    throw new NoSuchElementException(
      s"Unknown loader '$name'. Available: ${loaders.keys.toSeq.sorted.mkString(", ")}"))

  def allStages: Map[String, Seq[String]] = Map(
    "extractors" -> extractors.keys.toSeq.sorted,
    "transformers" -> transformers.keys.toSeq.sorted,
    "loaders" -> loaders.keys.toSeq.sorted)
}
