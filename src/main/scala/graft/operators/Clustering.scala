package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions
import graft.sinks.Sinks

/** K-means-style clustering and IVF approximate nearest neighbor over
  * embedding columns.
  *
  * Scale shape: centroids are tiny (k x dims doubles) and always live on
  * the driver / in broadcast literals; assignments are a pure per-row
  * argmin map (no shuffle). A Lloyd update is one explode + grouped-sum
  * pass — the e1_centroids shape. IVF search = assignment of the corpus
  * once (the index), then queries probe only the nprobe nearest cells:
  * candidate set shrinks by ~k/nprobe vs brute force while staying an
  * ordinary broadcast join + top-k window.
  */
object Clustering {

  /** Squared L2 distance: left-to-right sum of (a_i - b_i)^2 — matches
    * DuckDB `list_sum(list_transform(...))` for the oracle compare.
    */
  def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vectorSqDist(a, b)

  /** Deterministic initial centroids: the vectors whose id is 0..k-1
    * (as double arrays, collected driver-side — k x dims is tiny by
    * construction at any corpus scale).
    */
  def seedCentroids(
      corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[(Int, Array[Double])] =
    corpus.where(col(idCol) < k)
      .select(col(idCol).cast("int"), col(vecCol).cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
      .toSeq

  /** Nearest-centroid id for a vector column (ties -> lowest centroid
    * id; value-identical to array_min over (dist, cid) structs). One
    * compiled argmin kernel — NOT k literal subtrees, so plan size and
    * codegen stay O(1) as n_cells grows with the corpus
    * ([[graft.functions.VectorNearestCentroid]]).
    */
  def nearestCentroid(
      vec: Column, centroids: Seq[(Int, Array[Double])]): Column =
    VectorExpressions.nearestCentroidStruct(vec, centroids).getField("cid")

  /** One assignment pass: adds `centroid_id` and `dist` (squared L2 to
    * the assigned centroid). Single kernel call per row.
    */
  def assign(
      corpus: DataFrame, centroids: Seq[(Int, Array[Double])],
      vecCol: String = "embedding"): DataFrame = {
    val best = VectorExpressions.nearestCentroidStruct(col(vecCol), centroids)
    corpus
      .withColumn("_best", best)
      .withColumn("centroid_id", col("_best.cid"))
      .withColumn("dist", col("_best.dist"))
      .drop("_best")
  }

  /** One Lloyd update: elementwise mean of each cluster's members
    * (explode + grouped sums — one shuffle on (cluster, dim)). Empty
    * clusters keep their previous centroid.
    *
    * Centroid components are QUANTIZED to 6 dp: the grouped double sum
    * is order-nondeterministic across runs/engines (ulp drift), and an
    * unquantized centroid would make downstream probe/top-k choices
    * run-dependent. Rounding in-plan (Spark `round` = DuckDB `round`
    * half-away-from-zero) makes the post-step centroids — and therefore
    * every assignment computed from them — exactly reproducible.
    */
  def lloydStep(
      assigned: DataFrame, centroids: Seq[(Int, Array[Double])],
      vecCol: String = "embedding"): Seq[(Int, Array[Double])] = {
    val dims = centroids.head._2.length
    val byDim = assigned
      .select(col("centroid_id"), posexplode(col(vecCol)))
      .select(col("centroid_id"), col("pos"), col("col").cast("double").as("x"))
      .groupBy("centroid_id", "pos")
      .agg(round(sum("x") / count(lit(1)), 6).as("m"))
      .collect()
      .groupBy(r => r.getAs[Int]("centroid_id"))
    centroids.map { case (cid, prev) =>
      byDim.get(cid) match {
        case Some(rows) =>
          val c = new Array[Double](dims)
          rows.foreach { r =>
            c(r.getAs[Int]("pos")) = r.getAs[Double]("m")
          }
          (cid, c)
        case None => (cid, prev)
      }
    }
  }

  /** Persist an IVF index partitioned by cell: one directory per coarse
    * cell holding (neighbor_id, normalized vector). At corpus scale
    * this is what makes nprobe real I/O savings, not just fewer
    * candidate rows — a probe reads nprobe/nCells of the FILES
    * (Spark's partition pruning, asserted in ScaleSpec), so a 100 TB
    * index serves a query from the few cells it touches.
    */
  def writeIvfIndex(
      corpus: DataFrame, centroids: Seq[(Int, Array[Double])], dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    Sinks.writer(corpus.select(
        col(idCol).as("neighbor_id"),
        nearestCentroid(col(vecCol), centroids).as("cell"),
        Similarity.normalized(col(vecCol)).as("c_vec")))
      .partitionBy("cell").mode("overwrite").parquet(dir)

  /** Append a batch to a PERSISTED IVF index without rebuilding it:
    * the batch is assigned against the index's FROZEN coarse
    * quantizer and written `mode("append")` into the same
    * cell-partitioned layout, so each appended row lands as a new
    * file inside its cell's directory and every existing file is
    * untouched. This is how a 100 TB index stays fresh — a rebuild
    * re-reads and re-writes the whole corpus for a 0.1% delta, an
    * append costs exactly the batch (assignment is a map-only pass,
    * the write is batch-sized). The price is quantizer staleness:
    * centroids drift as the corpus grows, so production re-trains on
    * a cadence and rebuilds THEN — between rebuilds, probes serve
    * old and new rows through the same partition-pruned read with no
    * code path caring which file a row came from
    * ([[ivfTopKFromIndex]] over an appended index is spec-pinned
    * equal to the same probe over a from-scratch rebuild at the same
    * centroids).
    */
  def appendToIvfIndex(
      batch: DataFrame, centroids: Seq[(Int, Array[Double])], dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    Sinks.writer(batch.select(
        col(idCol).as("neighbor_id"),
        nearestCentroid(col(vecCol), centroids).as("cell"),
        Similarity.normalized(col(vecCol)).as("c_vec")))
      .partitionBy("cell").mode("append").parquet(dir)

  /** Compact a persisted IVF index in place, optionally applying row
    * DELETES — the other half of the [[appendToIvfIndex]] freshness
    * story. Appends accumulate one batch-sized file per touched cell
    * per increment, so after many increments the per-cell file count
    * becomes a FileIndex/small-file wall (the s16 metadata lesson:
    * listing cost, not data cost, is what degrades first); and a
    * production index also needs to forget rows (takedowns, corrected
    * upstream dedup). Both are one per-cell rewrite: read the index,
    * anti-join the tombstone ids, `repartition(cell)` so each cell is
    * written by ONE task (the r17 rule — tasks × dirs small files
    * otherwise), bounded by `maxRecordsPerFile`, into a sibling
    * directory, then swap. The swap is two renames on a filesystem —
    * production would flip a catalog/manifest pointer instead, which
    * is atomic; the layout and probe behavior are identical either
    * way, and probes before/after are spec-pinned equal (minus
    * tombstoned rows). Cost is one pass over the index — paid on a
    * compaction cadence, never per append.
    */
  def compactIvfIndex(
      spark: SparkSession, dir: String,
      tombstones: Option[DataFrame] = None,
      maxRecordsPerFile: Long = 1000000L): Unit = {
    val rows = spark.read.parquet(dir)
      .select("cell", "neighbor_id", "c_vec")
    val kept = tombstones match {
      // shuffle anti-join, not broadcast: a takedown list can be large
      case Some(t) => rows.join(
        t.select(col(t.columns.head).as("neighbor_id")),
        Seq("neighbor_id"), "left_anti")
      case None => rows
    }
    val tmp = dir + ".compact"
    Sinks.writer(kept.repartition(col("cell")))
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("cell").mode("overwrite").parquet(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val pTmp = new org.apache.hadoop.fs.Path(tmp)
    val pOld = new org.apache.hadoop.fs.Path(dir + ".old")
    val fs = p.getFileSystem(conf)
    // swap via rename-aside, never delete-first: a crash between a
    // delete and the rename would lose the only copy of the index.
    // Every failure point here leaves either the live dir or .old
    // intact and recoverable (production flips a catalog pointer,
    // which is atomic; this is the filesystem analog).
    fs.delete(pOld, true) // clear a leftover .old from a prior crash
    require(fs.rename(p, pOld), s"compactIvfIndex: rename $dir -> $pOld failed")
    if (!fs.rename(pTmp, p)) {
      fs.rename(pOld, p) // restore the live index before failing
      throw new IllegalStateException(
        s"compactIvfIndex: rename $tmp -> $dir failed; original restored")
    }
    fs.delete(pOld, true)
  }

  /** Part-file count per cell directory of a persisted index — the
    * observable [[compactIvfIndex]] exists to shrink; spec fodder.
    */
  def indexFileCounts(spark: SparkSession, dir: String): Map[Int, Int] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
      .map { d =>
        val cell = d.getPath.getName.stripPrefix("cell=").toInt
        val n = fs.listStatus(d.getPath)
          .count(f => f.isFile && f.getPath.getName.startsWith("part-"))
        cell -> n
      }.toMap
  }

  /** Read only the probed cells of a persisted IVF index. The `isin`
    * predicate on the partition column prunes at planning time — the
    * scan never lists, opens or reads the other cells' files.
    */
  def readIvfCells(spark: SparkSession, dir: String, cells: Seq[Int]): DataFrame =
    spark.read.parquet(dir)
      .where(col("cell").isin(cells.map(Integer.valueOf): _*))

  /** Corpus-scaled quantizer size: max(16, ceil(sqrt(n/2))). Assignment
    * costs n·k and within-cell pair work Σ|cell|² ≈ n²/k, so k ∝ √n is
    * the argmin of the sum — both terms scale n^1.5 (a FIXED k
    * re-creates a quadratic pair term; k ∝ n a quadratic assignment
    * term — both measured, see d13/s12 scaladoc). The SAME formula is
    * emitted into the DuckDB oracles as SQL
    * (OracleFragments.ivfCellsCteDynamic), so engine and oracle size
    * the quantizer identically at every scale factor by construction.
    */
  def scaledCells(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(n / 2.0)).toInt)

  /** Probe depth for FRACTION-mode multi-probe: ceil(f·k) cells, capped
    * at k. The measured s21 recall law (SCALE.md r19) is that a FIXED
    * nprobe loses weak-similarity recall as the corpus grows — cells
    * refine as √n and weak pairs scatter across them — while a constant
    * nprobe/k FRACTION holds it (0.61 → 0.83 at sf1 for f = 0.25).
    * Fraction mode makes that law a caller-visible option: probe depth
    * is resolved at plan time from the k the quantizer actually
    * trained, so the same config keeps its recall at any corpus size,
    * at pair cost n_t·n_e·f. ceil on f·k is exact for any real k
    * (k ≤ ~1e6 ≪ 2^53).
    */
  def fractionNprobe(fraction: Double, k: Int): Int = {
    require(fraction > 0.0 && fraction <= 1.0,
      s"cell fraction must be in (0, 1], got $fraction")
    math.min(k, math.ceil(fraction * k).toInt)
  }

  /** Quantizer-training sample modulus: Lloyd rounds LEARN centroids,
    * and learning k cluster means needs a bounded sample, not the
    * corpus — max(10000, 40·k) vectors suffices (the PQ codebook rule,
    * "codebook training touches a sample, never the corpus", applied
    * to the coarse quantizer). A vector trains iff
    * hash60(vec_id) % sampleMod == 0, so the sample is deterministic,
    * replayable in SQL, and independent of row order; at the gate SFs
    * (n <= 10k) the modulus is 1 and training covers everything, while
    * at 100 TB each Lloyd round touches ~max(10000, 40·k) rows instead
    * of n·k work per round. Final ASSIGNMENT of the full corpus is
    * inherent and unchanged. The oracle computes the SAME modulus from
    * the same count inside the SQL (OracleFragments.ivfCellsCteDynamic
    * — the r17 lesson: never couple an oracle to an engine-side
    * data-dependent literal).
    */
  def trainSampleMod(n: Long, k: Int): Long =
    math.max(1L, n / math.max(10000L, 40L * k))

  /** (nCells, sampleMod) for a training corpus of `n` vectors — the
    * one pair every IVF-family query derives from its count() job.
    */
  def quantizerConfig(n: Long): (Int, Long) = {
    val k = scaledCells(n)
    (k, trainSampleMod(n, k))
  }

  /** Train the coarse quantizer: deterministic seeds + `iterations`
    * Lloyd rounds. Centroids are k x dims — driver-sized at any corpus
    * scale. With `sampleMod` > 1 each Lloyd round assigns only the
    * deterministic hash-sample (see [[trainSampleMod]]); seeds are
    * still the vec_id < k vectors of the full corpus (k pushed-filter
    * rows — initialization, not a per-round cost).
    */
  def trainCentroids(
      corpus: DataFrame, nCells: Int, iterations: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      sampleMod: Long = 1L): Seq[(Int, Array[Double])] = {
    val train =
      if (sampleMod <= 1L) corpus
      else corpus.where(
        pmod(Dedup.hash60(col(idCol).cast("string")), lit(sampleMod)) === 0)
    var cents = seedCentroids(corpus, nCells, idCol, vecCol)
    (0 until iterations).foreach { _ =>
      cents = lloydStep(assign(train, cents, vecCol), cents, vecCol)
    }
    cents
  }

  /** Query a PERSISTED IVF index (written by [[writeIvfIndex]]): each
    * query probes its `nprobe` nearest cells and exact-ranks by cosine
    * within them. The union of probed cells becomes a literal `isin`
    * predicate on the partition column, so the scan reads only the
    * probed cells' FILES (planning-time partition pruning) — the whole
    * point of persisting the index. The probed-cell collect is
    * O(|queries| x nprobe) driver-side: the query set is the broadcast-
    * small side by contract (same bound as the centroids themselves).
    */
  def ivfTopKFromIndex(
      spark: SparkSession, indexDir: String, queries: DataFrame,
      centroids: Seq[(Int, Array[Double])], k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // one kernel pass per query row — NOT k literal struct subtrees
    // (plan size and codegen O(1) in the corpus-scaled cell count)
    val probeCells =
      VectorExpressions.topCentroidsStruct(col(vecCol), centroids, nprobe)
    val probes = queries.select(
        col(idCol).as("query_id"),
        Similarity.normalized(col(vecCol)).as("q_vec"),
        explode(probeCells).as("pc"))
      .select(col("query_id"), col("q_vec"), col("pc.cid").as("cell"))
    val cells = probes.select("cell").distinct().collect()
      .map(_.getInt(0)).toSeq.sorted
    val scored = readIvfCells(spark, indexDir, cells)
      .join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Similarity.dot(col("q_vec"), col("c_vec")), 6).as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** The fixed label-bucket count of a [[writeLabeledIvfIndex]]
    * layout: partition directories are (cells x buckets) at ANY label
    * cardinality.
    */
  val LabelBuckets: Int = 16

  /** Persist a metadata-FILTERED IVF index: cell-partitioned like
    * [[writeIvfIndex]], but with a BOUNDED bucket of the per-vector
    * label as a second partition column and the exact label as a
    * SORTED data column. Filtered vector search ("top-k among the
    * vectors with this language / source / tenant") is the production
    * shape most retrieval over training corpora takes, and a
    * post-filter over an unfiltered probe is the wrong plan at scale:
    * it pays the full probed-cell scan and then starves (k survivors
    * of a 10%-selective filter need a 10x deeper probe).
    *
    * Why a bucket and not the raw label: the filter key's cardinality
    * GROWS with the corpus (this repo's own fixtures: 10 labels at
    * sf0.1, 300 at sf3 — measured 4,800 directories and an 11 s
    * FileIndex build per fresh read when the raw label was the
    * partition column). Partitioning by `label % LabelBuckets` caps
    * the layout at cells x buckets directories at ANY cardinality,
    * while `sortWithinPartitions(label)` keeps the exact-label
    * predicate effective BELOW the directory level: it pushes to the
    * parquet scan and row-group min/max stats skip the non-matching
    * label runs. Planning-time pruning stays bounded; per-label
    * selectivity is still paid only for the bytes it can use.
    */
  def writeLabeledIvfIndex(
      corpus: DataFrame, centroids: Seq[(Int, Array[Double])], dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): Unit =
    Sinks.writer(corpus.select(
        col(idCol).as("neighbor_id"),
        nearestCentroid(col(vecCol), centroids).as("cell"),
        pmod(col(labelCol), lit(LabelBuckets)).as("label_bucket"),
        col(labelCol).as("label"),
        Similarity.normalized(col(vecCol)).as("c_vec"))
      // co-locate each (cell, bucket) before the dynamic-partition
      // write (one file per directory instead of tasks x dirs small
      // files; cap file size via maxRecordsPerFile at corpus scale),
      // label-sorted within files so row-group stats are tight
      .repartition(col("cell"), col("label_bucket"))
      .sortWithinPartitions("cell", "label_bucket", "label"))
      .partitionBy("cell", "label_bucket").mode("overwrite").parquet(dir)

  /** Query a PERSISTED [[writeLabeledIvfIndex]] index under a
    * same-label constraint: each query probes its nprobe nearest
    * cells and exact-ranks by cosine among the probed vectors WHOSE
    * LABEL EQUALS THE QUERY'S. The filter is applied before any
    * scoring, in two bounded layers matching the index layout:
    * a `(cell = c AND label_bucket = b)` disjunction over the probed
    * pairs prunes PARTITION DIRECTORIES at planning time (bounded by
    * cells x [[LabelBuckets]] at any label cardinality), and an
    * exact-label `isin` over the queries' distinct labels pushes to
    * the parquet scan where the label-sorted row groups' min/max
    * stats skip the rest (both plan-asserted in PlanChecksSpec). The
    * driver-side pair collect is O(|queries| x nprobe), the same
    * bound as [[ivfTopKFromIndex]]'s probed-cell collect.
    */
  def ivfTopKFromIndexFiltered(
      spark: SparkSession, indexDir: String, queries: DataFrame,
      centroids: Seq[(Int, Array[Double])], k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    Similarity.requireBroadcastableQueries(queries, "ivfTopKFromIndexFiltered")
    val probeCells =
      VectorExpressions.topCentroidsStruct(col(vecCol), centroids, nprobe)
    val probes = queries.select(
        col(idCol).as("query_id"),
        col(labelCol).as("label"),
        Similarity.normalized(col(vecCol)).as("q_vec"),
        explode(probeCells).as("pc"))
      .select(col("query_id"), col("label"), col("q_vec"),
        col("pc.cid").as("cell"))
    val pairs = probes.select(col("cell"),
        pmod(col("label"), lit(LabelBuckets)).cast("int").as("b"))
      .distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq.distinct.sorted
    val qLabels = probes.select("label").distinct().collect()
      .map(_.getInt(0)).toSeq.sorted
    // reduceOption: an EMPTY query set yields lit(false) — an empty
    // result, like ivfTopKFromIndex's empty isin — instead of a
    // reduce() throw on the empty pairs seq (r17 advice)
    val pruned = spark.read.parquet(indexDir)
      .where(pairs.map { case (c, b) =>
        col("cell") === c && col("label_bucket") === b }
        .reduceOption(_ || _).getOrElse(lit(false)))
      .where(col("label").isin(qLabels.map(Integer.valueOf): _*))
    val scored = pruned
      .join(broadcast(probes), Seq("cell", "label"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("label"),
        round(Similarity.dot(col("q_vec"), col("c_vec")), 6).as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Persist an IVF-PQ index (Jégou 2011's production composition —
    * FAISS's IndexIVFPQ): cell-partitioned like [[writeIvfIndex]], but
    * each row carries the vector's PQ `codes` NEXT TO the float
    * vector, in separate parquet COLUMNS. The two access patterns the
    * search needs then cost exactly what they touch: the ADC scoring
    * scan reads (neighbor_id, codes) only — nprobe/nCells of the
    * files × the 8-byte code column — and the shortlist rerank reads
    * `c_vec` for rerankDepth rows. Columnar pruning is what lets ONE
    * index serve both passes; a row store would pay the vectors on
    * every probe.
    */
  def writeIvfPqIndex(
      corpus: DataFrame, centroids: Seq[(Int, Array[Double])],
      codebooks: Seq[Seq[(Int, Array[Double])]], dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val en = Similarity.normalized(col(vecCol))
    Sinks.writer(corpus.select(
        col(idCol).as("neighbor_id"),
        nearestCentroid(col(vecCol), centroids).as("cell"),
        Similarity.pqCodes(en, codebooks).as("codes"),
        en.as("c_vec")))
      .partitionBy("cell").mode("overwrite").parquet(dir)
  }

  /** Query a PERSISTED IVF-PQ index: probe the nprobe nearest cells
    * (partition pruning — only those cells' FILES are listed or read),
    * ADC-score the probed cells' CODES against the query's broadcast
    * lookup tables (the scan reads no float vector — column pruning,
    * plan-asserted), shortlist `rerankDepth` per query, then rerank
    * exactly from a second codes-free scan of the same probed cells.
    * The per-candidate cost is nSub array lookups; floats are touched
    * for rerankDepth rows per query, not per candidate — this is the
    * layout that serves ANN from a 100 TB index: nprobe/nCells of the
    * files, code-column bytes, vector-column bytes only for the
    * shortlist.
    */
  def ivfPqTopKFromIndex(
      spark: SparkSession, indexDir: String, queries: DataFrame,
      centroids: Seq[(Int, Array[Double])],
      codebooks: Seq[Seq[(Int, Array[Double])]],
      k: Int, nprobe: Int, rerankDepth: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probeCells =
      VectorExpressions.topCentroidsStruct(col(vecCol), centroids, nprobe)
    val en = Similarity.normalized(col(vecCol))
    val probes = queries.select(
        col(idCol).as("query_id"),
        en.as("q_en"),
        Similarity.pqLuts(en, codebooks).as("luts"),
        explode(probeCells).as("pc"))
      .select(col("query_id"), col("q_en"), col("luts"), col("pc.cid").as("cell"))
    val cells = probes.select("cell").distinct().collect()
      .map(_.getInt(0)).toSeq.sorted
    // ADC pass: the scan is pruned to (cell, neighbor_id, codes) —
    // no float vector leaves the files
    val scored = readIvfCells(spark, indexDir, cells)
      .select(col("cell"), col("neighbor_id"), col("codes"))
      .join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Similarity.adcScore(col("codes"), col("luts")), 6)
          .as("approx_cos"),
        col("q_en"))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("approx_cos").desc, col("neighbor_id"))
    val shortlist = scored
      .withColumn("_adc_rank", row_number().over(wAdc))
      .where(col("_adc_rank") <= rerankDepth)
      .select("query_id", "neighbor_id", "approx_cos", "q_en")
    // rerank pass: second pruned scan of the SAME cells, vector column
    // only, shortlist rows broadcast onto it
    val vecs = readIvfCells(spark, indexDir, cells)
      .select(col("neighbor_id"), col("c_vec"))
    val reranked = vecs
      .join(broadcast(shortlist), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("approx_cos"),
        round(Similarity.dot(col("q_en"), col("c_vec")), 6).as("cos_sim"))
    val wExact = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    reranked
      .withColumn("rank", row_number().over(wExact))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "approx_cos", "cos_sim", "rank")
  }

  /** IVF nprobe S-curve (d19's analog for the ANN index): for each
    * nprobe over ONE persisted index, measure recall@k against exact
    * ground truth alongside the two cost axes a probe actually pays —
    * candidate rows scored and index cells READ (the partition-pruned
    * file subset). The table consulted before committing an nprobe to
    * a production ANN config: recall climbs with nprobe while cost
    * climbs linearly, and the knee is corpus-specific.
    *
    * `truth` is (query_id, neighbor_id) exact top-k — pass it
    * localCheckpointed so the ground truth runs once, not once per
    * swept config. Each config pays one pruned index scan (asserted
    * file-level in ScaleSpec for every swept nprobe) plus a
    * queries-bounded top-k window; nothing corpus-scale is re-derived
    * per branch.
    *
    * Empty-query-set contract: the report spine is derived from the
    * PROBES (per-p distinct-cell counts), so an empty query set yields
    * an empty report — there is no meaningful per-nprobe row to emit
    * when nothing was probed (a tuning report over zero queries has no
    * recall denominator either). Callers wanting a zeroed row per
    * swept p should guard on `queries.isEmpty` themselves.
    */
  def ivfTuningReport(
      spark: SparkSession, indexDir: String, queries: DataFrame,
      centroids: Seq[(Int, Array[Double])], truth: DataFrame,
      k: Int, nprobes: Seq[Int],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nprobes.nonEmpty &&
      nprobes.forall(p => p >= 1 && p <= centroids.size),
      s"ivfTuningReport: each nprobe must be in [1, ${centroids.size}]")
    // ONE partition-pruned index scan at max(nprobes) serves every
    // swept config: a query's candidates at nprobe = p are exactly its
    // scored rows whose probed cell RANKS <= p (the s13 shortlist-depth
    // trick applied to the probe axis). The sweep used to re-list and
    // re-scan the index once per swept p — 4 scans, each paying the
    // FileIndex listing that grows with the corpus-scaled cell count.
    val pMax = nprobes.max
    val probeCells =
      VectorExpressions.topCentroidsStruct(col(vecCol), centroids, pMax)
    val probes = queries.select(
        col(idCol).as("query_id"),
        Similarity.normalized(col(vecCol)).as("q_vec"),
        posexplode(probeCells).as(Seq("_pos", "pc")))
      .select(col("query_id"), col("q_vec"),
        (col("_pos") + 1).as("probe_rank"), col("pc.cid").as("cell"))
      .localCheckpoint()
    val cells = probes.select("cell").distinct().collect()
      .map(_.getInt(0)).toSeq.sorted
    val scored = readIvfCells(spark, indexDir, cells)
      .join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("cell"), col("probe_rank"),
        col("neighbor_id"),
        round(Similarity.dot(col("q_vec"), col("c_vec")), 6).as("cos_sim"))
    // deliberately NOT checkpointed: the two consumers (candidate
    // counts, rank/hit branch) re-execute the pruned read, but they
    // share ONE logical relation — one FileIndex listing — and keeping
    // the scan in the plan is what lets ScaleSpec assert its partition
    // pruning end to end
    // spine: every swept p appears (probe_rank 1 rows exist whenever
    // the query set is non-empty), with the per-p distinct-cell count
    val cellsRead = probes
      .select(explode(typedlit(nprobes)).as("nprobe"),
        col("probe_rank"), col("cell"))
      .where(col("probe_rank") <= col("nprobe"))
      .groupBy("nprobe")
      .agg(countDistinct(col("cell")).as("n_cells_read"))
    val swept = scored
      .select(col("*"), explode(typedlit(nprobes)).as("nprobe"))
      .where(col("probe_rank") <= col("nprobe"))
    val w = Window.partitionBy("nprobe", "query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val annK = swept.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("nprobe"), col("query_id"), col("neighbor_id"),
        lit(true).as("_h"))
    val cand = swept.groupBy("nprobe").agg(count(lit(1)).as("n_candidates"))
    val hit = truth
      .select(explode(typedlit(nprobes)).as("nprobe"),
        col("query_id"), col("neighbor_id"))
      .join(annK, Seq("nprobe", "query_id", "neighbor_id"), "left")
      .groupBy("nprobe").agg(count(lit(1)).as("n_true"),
        sum(when(col("_h"), 1L).otherwise(0L)).as("n_hits"))
    cellsRead
      .join(cand, Seq("nprobe"), "left")
      .join(hit, Seq("nprobe"), "left")
      .select(col("nprobe"), col("n_cells_read"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        when(coalesce(col("n_true"), lit(0L)) > 0,
          floor(coalesce(col("n_hits"), lit(0L)).cast("double") * 1e6 /
            col("n_true").cast("double")).cast("long"))
          .otherwise(lit(0L)).as("recall_micro"))
  }

  /** IVF (inverted-file) approximate top-k: index = corpus assigned to
    * its nearest of k coarse cells (after `iterations` Lloyd rounds);
    * each query probes its `nprobe` nearest cells and exact-ranks by
    * cosine only within them. In-plan variant (no persisted index) —
    * the write-once-read-probed path is [[writeIvfIndex]] +
    * [[ivfTopKFromIndex]].
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int, nprobe: Int, iterations: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      sampleMod: Long = 1L): DataFrame = {
    val cents = trainCentroids(corpus, nCells, iterations, idCol, vecCol, sampleMod)
    val cell = nearestCentroid(col(vecCol), cents)
    val indexed = corpus.select(
      col(idCol).as("neighbor_id"), cell.as("cell"),
      Similarity.normalized(col(vecCol)).as("c_vec"))
    // query -> its nprobe nearest cells, exploded to (query, cell)
    val probeCells =
      VectorExpressions.topCentroidsStruct(col(vecCol), cents, nprobe)
    val probes = queries.select(
        col(idCol).as("query_id"),
        Similarity.normalized(col(vecCol)).as("q_vec"),
        explode(probeCells).as("pc"))
      .select(col("query_id"), col("q_vec"), col("pc.cid").as("cell"))
    val scored = indexed.join(broadcast(probes), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Similarity.dot(col("q_vec"), col("c_vec")), 6).as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * clustering embeddings into coarse cells, then dropping every
    * vector with ANY earlier (lower-id) same-cell neighbor at cosine >=
    * `tau` — a drop-if-any-earlier-similar policy, deterministic and
    * replayable (unlike random-representative selection). NOTE this is
    * stricter than greedy leader election: a dropped vector still
    * suppresses later ones, so in a chain v0~v1~v2 (v2 not similar to
    * v0) v2 is dropped here, whereas leader clustering would keep v2 as
    * a new leader. Cross-cell near-dups are missed by construction;
    * that is the accepted recall trade the paper makes for never
    * comparing across clusters.
    *
    * Output: (id, cell, kept). Scale shape: pairing is blocked per
    * cell (the equi-join on cell is the only corpus-wide shuffle), so
    * cost is sum(|cell|^2), never corpus^2 — nCells is the knob that
    * grows with the corpus (~sqrt(n) cells keeps expected cell size
    * flat); centroids stay k x dims driver-side like every path here.
    */
  def semanticDedup(
      corpus: DataFrame, nCells: Int, tau: Double, iterations: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      sampleMod: Long = 1L): DataFrame = {
    val cents = trainCentroids(corpus, nCells, iterations, idCol, vecCol, sampleMod)
    semanticDedupWith(corpus, cents, tau, idCol, vecCol)
  }

  /** [[semanticDedup]] against a PRE-TRAINED quantizer — the shared-
    * centroid path (one trainCentroids pass per session can serve
    * every consumer of the same (corpus, config), r20 verdict item 7).
    */
  def semanticDedupWith(
      corpus: DataFrame, cents: Seq[(Int, Array[Double])], tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(cents.nonEmpty,
      "semanticDedup: no seed vectors with id < nCells - seed ids must start at 0")
    val cells = assign(corpus, cents, vecCol).select(
      col(idCol), col("centroid_id").as("cell"),
      Similarity.normalized(col(vecCol)).as("en"))
    val a = cells.select(col("cell"), col(idCol).as("a_id"), col("en").as("a_en"))
    val b = cells.select(col("cell"), col(idCol).as("b_id"), col("en").as("b_en"))
    // shuffle_hash: sort-merge on a ~√n-key join buffers each cell's
    // ~1 KB vector rows per key group on both sides — measured 12.8x
    // slower than hashing one side at sf3 (s22, SCALE.md r20); the
    // per-partition build side is |corpus|/shuffle.partitions rows,
    // the standard SHJ sizing. Strategy only — results identical.
    //
    // NOT screened (r21, measured): the PairScreen int8 screen that
    // pays off for the cross-set contamination audits was tried here
    // and measured 2.4x SLOWER warm at sf3 (3.8 -> 9.0 s isolated).
    // Within-cell pairs cluster around their shared centroid, so at
    // the fixture's tau 22% of ALL pairs genuinely qualify and 8%
    // more sit inside the bound's uncertainty band (SCALE.md r21, sf3:
    // 11.4M pairs, 2.5M >= tau, 937k band at avg bound 0.021) — the
    // re-attach rescore join then processes millions of pair rows
    // where the r20 shape computes the exact dot in-stage for free.
    // The screen is kept where the threshold is SELECTIVE (s21/s22:
    // 5% qualify) — it is a selectivity-dependent tool, not a default.
    val dropped = a.hint("shuffle_hash").join(b, Seq("cell"))
      .where(col("a_id") < col("b_id"))
      .where(round(Similarity.dot(col("a_en"), col("b_en")), 6) >= tau)
      .select(col("b_id").as(idCol))
      .distinct()
    cells
      .join(dropped.withColumn("_dup", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("_dup").isNull.as("kept"))
  }

  /** Per-group embedding-health report — the diagnostics read before an
    * embedding column is trusted for dedup/ANN/mining:
    *
    *  - `anisotropy`: squared norm of the group's mean UNIT vector,
    *    `||mean(e/||e||)||^2` — 0 when directions cancel (isotropic),
    *    1 when all vectors point the same way. This equals the mean
    *    pairwise cosine over all ordered pairs (self included), the
    *    Ethayarajh 2019 anisotropy read, WITHOUT the O(n^2) pair scan:
    *    the identity `E[cos(x,y)] = ||mu||^2` turns it into one O(n*d)
    *    aggregation (Mu & Viswanath 2018's "common mean vector").
    *  - `top_dim_share`: the largest single dimension's share of total
    *    per-dimension variance — the rogue-dimension detector (Timkey &
    *    van Schijndel 2021): cosine is dominated by a handful of
    *    high-variance dimensions exactly when this is large.
    *  - `avg_norm`: mean raw L2 norm (collapsed/degenerate groups show
    *    up here first).
    *
    * Cross-engine determinism: unit vectors are quantized to integer
    * micro-units per component, so every per-dimension sum (S_d, and
    * the sum of squares Q_d) is EXACT integer math; S_d^2 and the
    * variance numerators n*Q_d - S_d^2 exceed int64 range at corpus
    * scale, so they accumulate in decimal(38,0) (Spark) / HUGEINT
    * (DuckDB) — exact and summation-order-free on both engines. The
    * only floating-point steps are the final divisions, each a single
    * IEEE op on exact integers.
    *
    * Scale shape: one posexplode (map-side, dims x rows), one partial-
    * aggregated shuffle keyed (group, dim) — |groups| x dims rows out —
    * then a |groups|-row reduction. No collect, no pair join; at 100 TB
    * this is a scan plus two tiny exchanges.
    */
  def embeddingDiagnostics(
      corpus: DataFrame, byCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    val qv = transform(Similarity.normalized(col(vecCol)),
      x => floor(x * lit(1e6)).cast("long"))
    val base = corpus.select(
      col(byCol).as("grp"), qv.as("qv"),
      floor(Similarity.norm(Similarity.asDouble(col(vecCol))) * lit(1e6))
        .cast("long").as("norm_micro"))
    val dims = base.select(col("grp"), posexplode(col("qv")).as(Seq("dim", "q")))
    val dec = "decimal(38,0)"
    val perDim = dims.groupBy("grp", "dim").agg(
      sum(col("q")).as("s"),
      sum((col("q") * col("q")).cast(dec)).as("q2"),
      count(lit(1)).as("n"))
    // variance numerator per dim: n*Q_d - S_d^2 (exact, >= 0)
    val varNum = (col("n").cast(dec) * col("q2") -
      col("s").cast(dec) * col("s").cast(dec)).as("v")
    val stats = perDim.select(col("grp"), col("n"), col("s"), varNum)
      .groupBy("grp").agg(
        max(col("n")).as("n"),
        sum((col("s").cast(dec) * col("s").cast(dec))).as("ss"),
        max(col("v")).as("vmax"),
        sum(col("v")).as("vsum"))
    val norms = base.groupBy("grp")
      .agg(sum(col("norm_micro")).as("nm_sum"))
    stats.join(norms, "grp")
      .select(
        col("grp").as(byCol), col("n"),
        round(col("nm_sum").cast("double") /
          col("n").cast("double") / lit(1e6), 6).as("avg_norm"),
        // ||mu||^2 = sum_d (S_d / n)^2 in micro^2 units. n is cast to
        // double BEFORE squaring: a LongType n*n silently overflows
        // past n ~ 3.0e9 rows per label group and would corrupt the
        // reported anisotropy at corpus scale (the oracle mirrors the
        // cast so both engines divide by the same double product)
        round(col("ss").cast("double") /
          (col("n").cast("double") * col("n").cast("double")) / lit(1e12), 6)
          .as("anisotropy"),
        round(col("vmax").cast("double") / col("vsum").cast("double"), 6)
          .as("top_dim_share"))
      .orderBy(byCol)
  }

  // --- graph ANN (NSW-style neighbor graph + bounded beam search) ------

  /** Persist a cell-partitioned NEIGHBOR-GRAPH index (the HNSW/NSW
    * family flattened to one layer so construction and search stay
    * deterministic and oracle-replayable): every vector stores its M
    * nearest within-cell neighbors by exact cosine (6-dp rounded,
    * neighbor-id tie-break — the house cross-engine total order),
    * next to its normalized vector, partitioned by the same coarse
    * cells as the IVF family.
    *
    * Scale shape: construction is the d13 blocking argument — within-
    * cell pairs cost Σ|cell|², bounded when cells scale ~√n — and one
    * graph row is (id, M longs, vector), so the index is the IVF index
    * plus M·8 bytes/vector. A search reads only the probed cells'
    * partitions (file-level pruning like s3/s11) and touches
    * beam-bounded row counts, not whole cells — the property that
    * distinguishes graph search from an IVF cell scan at 100 TB cell
    * sizes.
    */
  def writeGraphIndex(
      corpus: DataFrame, centroids: Seq[(Int, Array[Double])], m: Int,
      dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val en = Similarity.normalized(col(vecCol))
    val base = corpus.select(
      col(idCol).as("vec_id"),
      nearestCentroid(col(vecCol), centroids).as("cell"),
      PairScreen.code(en).as("qv"), PairScreen.scale(en).as("qs"))
    val a = base.select(col("cell"), col("vec_id"), col("qv"), col("qs"))
    val b = base.select(col("cell"), col("vec_id").as("nbr_id"),
      col("qv").as("n_qv"), col("qs").as("n_qs"))
    // SCREEN pass (r21, guide §2.3/§8 + PairScreen doc): the within-
    // cell pair join ships int8 codes instead of 512-byte unit
    // vectors, and — the bigger win here — the top-M window sorts
    // NARROW (vec_id, nbr_id, lo, hi) rows instead of pair rows
    // carrying the full vector (the r20 shape exchanged every pair
    // row with `en` aboard into the window). A pair survives when its
    // upper bound reaches the M-th largest lower bound of its group
    // (nth_value over the same window order), which provably keeps
    // every exact top-M member; survivors are re-scored exactly.
    // Null-safe: a null approx (null/mismatched vector) degrades to
    // the widest interval, so such rows rank exactly as the r20 shape
    // ranked their null cosines (present, sorted last).
    val appx = PairScreen.approx(col("qv"), col("qs"), col("n_qv"), col("n_qs"))
    val bnd = PairScreen.bound(col("qs"), col("n_qs"), size(col("qv"))) +
      lit(PairScreen.margin)
    val scoredQ = a.hint("shuffle_hash").join(b, Seq("cell"))
      .where(col("vec_id") =!= col("nbr_id"))
      .select(col("cell"), col("vec_id"), col("nbr_id"),
        coalesce(appx - bnd, lit(-2.0)).as("lo"),
        coalesce(appx + bnd, lit(2.0)).as("hi"))
    val wFull = Window.partitionBy("vec_id")
      .orderBy(col("lo").desc, col("nbr_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cand = scoredQ
      .withColumn("_lm", coalesce(nth_value(col("lo"), m).over(wFull), lit(-2.0)))
      .where(col("hi") >= col("_lm"))
      .select("cell", "vec_id", "nbr_id")
    // RESCORE pass: exact cosine + the exact top-M cut on the ~M-deep
    // survivor set only; the aggregation stays NARROW (ids), and the
    // node's own vector is re-attached once per node after it.
    val av = corpus.select(col(idCol).as("vec_id"), en.as("en"))
    val bv = corpus.select(col(idCol).as("nbr_id"), en.as("nbr_en"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos_sim").desc, col("nbr_id"))
    val nbrs = cand
      .join(av, "vec_id").join(bv, "nbr_id")
      .select(col("cell"), col("vec_id"), col("nbr_id"),
        round(Similarity.dot(col("en"), col("nbr_en")), 6).as("cos_sim"))
      .withColumn("_r", row_number().over(w))
      .where(col("_r") <= m)
      .groupBy("cell", "vec_id")
      .agg(sort_array(collect_list(col("nbr_id"))).as("nbrs"))
      .join(av, "vec_id")
      .select(col("cell"), col("vec_id"), col("en"), col("nbrs"))
    Sinks.writer(nbrs).partitionBy("cell").mode("overwrite").parquet(dir)
  }

  /** Bounded beam search over a [[writeGraphIndex]] graph — every step
    * deterministic so DuckDB can replay it CTE for CTE:
    *   V₀ = the MIN vec_id of each probed cell (the entry points),
    *        scored by exact cosine;
    *   round t: F = top-`beam` of Vₜ (cos desc, id asc, per query);
    *            Vₜ₊₁ = Vₜ ∪ scored{neighbors of F not yet visited};
    *   after `rounds` rounds: top-k of V (query itself never scored).
    * Visited sets stay inside the probed cells (neighbors are
    * within-cell by construction), so the partition pruning of the one
    * graph read covers every round. Per-query work is
    * O(rounds · beam · M) scored rows — independent of cell size,
    * which is the point of a graph index. Each round's visited set is
    * localCheckpointed: rounds-deep self-referencing lineage would
    * otherwise double the plan per round (the CC-loop precedent).
    */
  def graphTopKFromIndex(
      spark: SparkSession, indexDir: String, queries: DataFrame,
      centroids: Seq[(Int, Array[Double])], k: Int, nprobe: Int,
      beam: Int, rounds: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (graph, qSide, visited0) =
      graphWalkPrep(spark, indexDir, queries, centroids, nprobe, idCol, vecCol)
    graphWalkRounds(graph, qSide, visited0, k, beam, rounds)
  }

  /** The beam-INDEPENDENT prefix of a [[graphTopKFromIndex]] walk:
    * probe-cell selection, the one partition-pruned graph read, the
    * entry-point election and the scored V₀ — everything before the
    * first frontier is cut. Split out so a beam sweep
    * ([[graphTuningReport]]) pays the index read and entry scoring
    * once, not once per swept beam (only the expansion loop below
    * depends on the beam width).
    */
  private def graphWalkPrep(
      spark: SparkSession, indexDir: String, queries: DataFrame,
      centroids: Seq[(Int, Array[Double])], nprobe: Int,
      idCol: String, vecCol: String): (DataFrame, DataFrame, DataFrame) = {
    Similarity.requireBroadcastableQueries(queries, "graphTopKFromIndex")
    val probeCells =
      VectorExpressions.topCentroidsStruct(col(vecCol), centroids, nprobe)
    val probes = queries.select(
        col(idCol).as("query_id"),
        Similarity.normalized(col(vecCol)).as("q_en"),
        explode(probeCells).as("pc"))
      .select(col("query_id"), col("q_en"), col("pc.cid").as("cell"))
      .localCheckpoint()
    val cells = probes.select("cell").distinct().collect()
      .map(_.getInt(0)).toSeq.sorted
    val graph = readIvfCells(spark, indexDir, cells)
      .select(col("cell"), col("vec_id"), col("en"), col("nbrs"))
      .localCheckpoint()
    val qSide = probes.select("query_id", "q_en").distinct()
    // entry point = the smallest-id node of the probed cell THAT IS
    // NOT THE QUERY: a bare per-cell min orphans any cell whose min-id
    // node is the query itself — score() rightly refuses to score
    // (q, q), and with no scored entry the walk never enters the cell,
    // which is typically the query's OWN best cell (measured: recall
    // 0.13 vs 0.86 cell coverage before this rule). The two smallest
    // ids per cell always contain a valid entry, and the per-cell
    // top-2 is index-scale work, not query-scale.
    val low2 = graph.select(col("cell"), col("vec_id"))
      .withColumn("_r", row_number().over(
        Window.partitionBy("cell").orderBy("vec_id")))
      .where(col("_r") <= 2)
    val entries = probes
      .join(low2, "cell")
      .where(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "cell").agg(min("vec_id").as("vec_id"))
      .select("query_id", "vec_id").distinct()
    (graph, qSide, scoreAgainst(graph, qSide)(entries).localCheckpoint())
  }

  /** Score a (query_id, vec_id) candidate set by exact cosine against
    * the probed-cell graph rows (the query itself never scored). The
    * candidate set is per-query bounded by construction (entries <=
    * |queries| x nprobe, an expansion <= |queries| x beam x M), so it
    * is ALWAYS the broadcast side: the probed-cell graph — the only
    * corpus-scale frame in the walk — is never exchanged, each round
    * is one broadcast-hash pass over the checkpointed graph rows.
    */
  private def scoreAgainst(
      graph: DataFrame, qSide: DataFrame, carry: Seq[String] = Nil)(
      cand: DataFrame): DataFrame = graph
    .select(col("vec_id"), col("en"))
    .join(broadcast(cand), "vec_id")
    .join(broadcast(qSide), "query_id")
    .where(col("query_id") =!= col("vec_id"))
    .select(carry.map(col) ++ Seq(col("query_id"), col("vec_id"),
      round(Similarity.dot(col("q_en"), col("en")), 6).as("cos_sim")): _*)

  /** The beam-DEPENDENT expansion loop of a [[graphTopKFromIndex]]
    * walk over a [[graphWalkPrep]] result: `rounds` rounds of cut
    * frontier / expand neighbors / score unseen, then the top-k of
    * the visited set.
    */
  private def graphWalkRounds(
      graph: DataFrame, qSide: DataFrame, visited0: DataFrame,
      k: Int, beam: Int, rounds: Int): DataFrame =
    graphWalkRoundsMulti(graph, qSide, visited0, Seq(beam), k, rounds)
      .drop("beam")

  /** ALL swept beams in one expansion loop: the walk state is keyed by
    * (beam, query_id) — the per-beam frontier cut is a window
    * PARTITION, not a separate plan — so each ROUND is a single
    * broadcast-hash pass over the checkpointed graph carrying every
    * beam's frontier at once. A sweep of B beams over R rounds costs R
    * passes instead of B·R (s15 was the suite's most expensive query
    * at 12 sequential passes; the per-beam semantics are identical
    * because no window or join ever crosses a beam boundary). The
    * broadcast stays bounded: Σbeams × |queries| frontier rows, and
    * expansions ≤ Σbeams × |queries| × M.
    */
  private def graphWalkRoundsMulti(
      graph: DataFrame, qSide: DataFrame, visited0: DataFrame,
      beams: Seq[Int], k: Int, rounds: Int): DataFrame = {
    val score = scoreAgainst(graph, qSide, carry = Seq("beam")) _
    var visited = visited0
      .select(explode(typedlit(beams)).as("beam"),
        col("query_id"), col("vec_id"), col("cos_sim"))
    (1 to rounds).foreach { _ =>
      val wBeam = Window.partitionBy("beam", "query_id")
        .orderBy(col("cos_sim").desc, col("vec_id"))
      val frontier = visited
        .withColumn("_r", row_number().over(wBeam))
        .where(col("_r") <= col("beam"))
        .select("beam", "query_id", "vec_id")
      val expanded = graph
        .select(col("vec_id"), col("nbrs"))
        .join(broadcast(frontier), "vec_id")
        .select(col("beam"), col("query_id"), explode(col("nbrs")).as("vec_id"))
        .distinct()
        .join(broadcast(visited.select("beam", "query_id", "vec_id")),
          Seq("beam", "query_id", "vec_id"), "left_anti")
      visited = visited.unionByName(score(expanded)).localCheckpoint()
    }
    val wK = Window.partitionBy("beam", "query_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    visited
      .withColumn("rank", row_number().over(wK))
      .where(col("rank") <= k)
      .select(col("beam"), col("query_id"), col("vec_id").as("neighbor_id"),
        col("cos_sim"), col("rank"))
  }

  /** Beam-width S-curve for the persisted neighbor-graph index: one
    * [[graphWalkPrep]] for the whole sweep (the partition-pruned
    * graph read, entry election and scored V₀ are beam-independent),
    * then ONE [[graphWalkRoundsMulti]] expansion loop carrying every
    * swept beam — the walk state is keyed (beam, query_id), so a
    * sweep of B beams over R rounds costs R broadcast passes, not
    * B·R (12 → 3 for the shipped config; a narrow beam's frontier is
    * NOT a prefix of a wider one's, so the beams can't share one
    * ranked list — but they CAN share each round's pass). Reports
    * recall@k against `truth` plus the visited-set size (the walk's
    * actual cost, O(rounds·beam·M) rows per query) — the measured
    * backing for the beam knob, as ivfTuningReport gives nprobe.
    */
  def graphTuningReport(
      spark: SparkSession, indexDir: String, queries: DataFrame,
      centroids: Seq[(Int, Array[Double])], truth: DataFrame,
      k: Int, nprobe: Int, beams: Seq[Int], rounds: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(beams.nonEmpty && beams.forall(_ >= 1),
      "graphTuningReport: every beam must be >= 1")
    // one prep for the whole sweep: the partition-pruned graph read,
    // entry election and scored V₀ are beam-independent — only the
    // expansion loop depends on the beam, and it runs ONCE for all
    val (graph, qSide, visited0) =
      graphWalkPrep(spark, indexDir, queries, centroids, nprobe, idCol, vecCol)
    val all = graphWalkRoundsMulti(graph, qSide, visited0, beams,
        k = Int.MaxValue, rounds = rounds)
      .localCheckpoint()
    val visitedCount = all.groupBy("beam").agg(count(lit(1)).as("n_visited"))
    val annK = all.where(col("rank") <= k)
      .select(col("beam"), col("query_id"), col("neighbor_id"),
        lit(true).as("_h"))
    val hit = truth
      .select(explode(typedlit(beams)).as("beam"),
        col("query_id"), col("neighbor_id"))
      .join(annK, Seq("beam", "query_id", "neighbor_id"), "left")
      .groupBy("beam").agg(count(lit(1)).as("n_true"),
        sum(when(col("_h"), 1L).otherwise(0L)).as("n_hits"))
    visitedCount.join(hit, Seq("beam"))
      .select(col("beam"), col("n_visited"), col("n_hits"), col("n_true"),
        when(col("n_true") > 0,
          floor(col("n_hits").cast("double") * 1e6 /
            col("n_true").cast("double")).cast("long"))
          .otherwise(0L).as("recall_micro"))
      .orderBy("beam")
  }
}
