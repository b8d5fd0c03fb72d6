package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Clustering, Dedup, Graph, RangeJoin, TextAnalysis}
import graft.sinks.Sinks

/** Round-2 engine surface: range joins, subqueries, grouping sets,
  * string aggregation, JSON extraction, TF-IDF, stratified sampling,
  * k-means assignment, dedup cluster closure, a true Structured
  * Streaming query, and IVF ANN.
  *
  * Same conventions as Queries.scala: aliases match the oracle SQL
  * exactly, doubles are rounded on both sides, every query ends in a
  * total-order ORDER BY, and no oracle column is HUGEINT/DECIMAL
  * (cast to BIGINT/DOUBLE — the driver compare mangles those).
  */
/** Session-scoped cache of the shared ANN ground truth: brute-force
  * top-5 for the vec_id < 20 query set over the full embeddings corpus
  * — the (query_id, neighbor_id) set s7/s8/s9/s13/s15 all judge their
  * index against. Each consumer used to recompute it (~4 s at sf3 per
  * query = the single largest shared cost in the similarity suite);
  * one localCheckpointed copy per (session, dir) serves them all, the
  * same deterministic-derived-artifact justification as the persisted
  * index caches. s1 deliberately does NOT use it — s1 IS the
  * brute-force baseline, and serving it from cache would unmeasure it.
  */
private[graft] object AnnTruth {
  // keyed on the SESSION OBJECT itself (reference equality), never its
  // identityHashCode: a recycled identity hash on a new session can
  // never serve a dead frame — the key IS the live session. The weak
  // key alone does NOT make stopped sessions collectable (the classic
  // WeakHashMap pitfall: the cached DataFrames strongly reference
  // their session via QueryExecution, so the value reaches the key),
  // which is why entry removal is EXPLICIT — a context-end listener
  // drops the entry, breaking the value->key chain (r19 advice)
  private val cache = new java.util.WeakHashMap[
    SparkSession, java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()
  def topK5(s: SparkSession, dir: String, e: DataFrame): DataFrame = {
    val perSession = cache.synchronized {
      var m = cache.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        cache.put(s, m)
        s.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onApplicationEnd(
                end: org.apache.spark.scheduler.SparkListenerApplicationEnd)
                : Unit =
              cache.synchronized { val _ = cache.remove(s) }
          })
      }
      m
    }
    perSession.computeIfAbsent(dir, { _ =>
      operators.Similarity
        .bruteForceTopK(e, e.where(col("vec_id") < 20), k = 5)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint()
    })
  }
}

/** The SHARED audit-corpus coarse quantizer: one trainCentroids pass
  * per (testdata dir, JVM) serves every decontamination-audit query.
  * Trained on the corpus MINUS every held-out split — the eval split
  * (vec_id % 10 == 7) and the streaming increment (vec_id % 10 == 3) —
  * which satisfies BOTH consumers' exclusion rules at once: s21's
  * "eval vectors must not shape the blocking they are checked against"
  * and st10's freshness rule "the quantizer was frozen before the
  * increment existed". Excluding a 10% deterministic slice from a
  * trainer that already hash-samples costs nothing (the sampled-recall
  * study: cell partitions are insensitive to the training sample);
  * what it buys is ONE quantizer for the whole audit family instead of
  * one per query per bench rep (r19 verdict item 4). The oracle replays
  * [[trainPredSql]] inside ivfCellsCteDynamic, so k, the sample modulus
  * and the Lloyd step all re-derive from the same filtered corpus.
  *
  * Built through TempDirs.cached (centroids serialized to the scratch
  * dir) so the train pass lands in the bench staging log as
  * `auditQuantizer` rather than inside whichever audit query runs
  * first.
  */
private[graft] object AuditQuantizer {
  import org.apache.spark.sql.Column

  /** Oracle-side replay of [[trainPred]] (unqualified `vec_id`). */
  val trainPredSql: String = "vec_id % 10 <> 7 AND vec_id % 10 <> 3"

  def trainPred: Column =
    col("vec_id") % 10 =!= 7 && col("vec_id") % 10 =!= 3

  def centroids(s: SparkSession, dir: String): Seq[(Int, Array[Double])] = {
    val d = TempDirs.cached(s"auditQuantizer:$dir") { d =>
      val train = Tables(s, dir, "embeddings").where(trainPred)
      val (k, smod) = Clustering.quantizerConfig(train.count())
      val cents = Clustering.trainCentroids(train, nCells = k,
        iterations = 1, sampleMod = smod)
      CentroidIo.write(s"$d/centroids.bin", cents)
    }
    CentroidIo.read[Seq[(Int, Array[Double])]](s"$d/centroids.bin")
  }
}

/** Scratch-dir (de)serialization for driver-side quantizer artifacts
  * (k x dims — tiny by construction at any corpus scale).
  */
private[graft] object CentroidIo {
  def write(path: String, v: AnyRef): Unit = {
    val oos = new java.io.ObjectOutputStream(new java.io.FileOutputStream(path))
    try oos.writeObject(v) finally oos.close()
  }
  def read[T](path: String): T = {
    val ois = new java.io.ObjectInputStream(new java.io.FileInputStream(path))
    try ois.readObject().asInstanceOf[T] finally ois.close()
  }
}

/** The SHARED full-corpus coarse quantizer (r20 verdict item 7): the
  * (count -> quantizerConfig -> trainCentroids) chain on the WHOLE
  * embeddings table is identical in d13, p5, e3 and s12 — one
  * (nCells, sampleMod, centroids) triple per testdata dir serves all
  * of them instead of one count job + one train pass per query per
  * bench rep. Built through TempDirs.cached so the train pass lands in
  * the bench staging log as `corpusQuantizer` (the AuditQuantizer
  * pattern); deterministic by construction, so every consumer sees the
  * exact centroids its oracle replays via ivfCellsCteDynamic.
  */
private[graft] object CorpusQuantizer {
  def get(s: SparkSession, dir: String): (Int, Long, Seq[(Int, Array[Double])]) = {
    val d = TempDirs.cached(s"corpusQuantizer:$dir") { d =>
      val e = Tables(s, dir, "embeddings")
      val (k, smod) = Clustering.quantizerConfig(e.count())
      val cents = Clustering.trainCentroids(e, nCells = k,
        iterations = 1, sampleMod = smod)
      CentroidIo.write(s"$d/quantizer.bin", (k, smod, cents))
    }
    CentroidIo.read[(Int, Long, Seq[(Int, Array[Double])])](s"$d/quantizer.bin")
  }
}

object QueriesExtended {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  // --- q20: range join (bucketed, not nested-loop) ---------------------

  /** For each sampled order: how many lineitems (any order) shipped
    * within 7 days from its order date. A genuine non-equi join —
    * planned as bucket-equi-join + residual instead of O(n*m) BNLJ.
    */
  private def q20RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
      .where(col("o_orderkey") % 97 === 0)
      .select("o_orderkey", "o_orderdate")
    val line = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
    val matched = RangeJoin.pointInInterval(
        line, orders, "l_shipdate", "o_orderdate", 7L * 86400)
      .groupBy("o_orderkey").agg(count(lit(1)).as("n_shipped"))
    orders.select("o_orderkey").join(matched, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"), coalesce(col("n_shipped"), lit(0L)).as("n_shipped"))
      .orderBy("o_orderkey")
  }

  // --- q21: correlated EXISTS / NOT EXISTS / scalar subquery -----------

  private val q21Sql =
    """SELECT o.o_orderkey, round(o.o_totalprice, 2) AS price
      |FROM orders o
      |WHERE o.o_totalprice > (SELECT max(o_totalprice) FROM orders) / 2
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount >= 0.08)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
      |ORDER BY o.o_orderkey""".stripMargin

  /** Runs `sql` with each (tableName -> df) bound under a UNIQUE temp
    * view name (the canonical name in the SQL is rewritten to it), then
    * drops the views. `spark.sql` analyzes eagerly, so the returned
    * DataFrame's resolved plan no longer needs the views — and no fixed
    * catalog name is ever mutated, so concurrent invocations on one
    * session can't trample each other (round-6 verdict item).
    */
  private def sqlWithViews(
      s: SparkSession, sql: String, tables: (String, DataFrame)*): DataFrame = {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "")
    val bound = tables.map { case (name, df) => (name, s"${name}_$tag", df) }
    bound.foreach { case (_, unique, df) => df.createOrReplaceTempView(unique) }
    try {
      val rewritten = bound.foldLeft(sql) { case (q, (name, unique, _)) =>
        q.replaceAll(s"\\b$name\\b", unique)
      }
      s.sql(rewritten)
    } finally bound.foreach { case (_, unique, _) =>
      s.catalog.dropTempView(unique)
    }
  }

  private def q21Subqueries(s: SparkSession, dir: String): DataFrame =
    sqlWithViews(s, q21Sql,
      "orders" -> t(s, dir, "orders"), "lineitem" -> t(s, dir, "lineitem"))

  // --- q22: grouping sets ----------------------------------------------

  private val q22Sql =
    """SELECT event_type, user_mod, count(*) AS n, round(sum(value), 6) AS v,
      |  CAST(grouping(event_type) AS TINYINT) AS g_et,
      |  CAST(grouping(user_mod) AS TINYINT) AS g_um
      |FROM (SELECT event_type, user_id % 10 AS user_mod, value FROM events)
      |GROUP BY GROUPING SETS ((event_type, user_mod), (event_type), (user_mod), ())
      |ORDER BY g_et, g_um, event_type NULLS FIRST, user_mod NULLS FIRST""".stripMargin

  private def q22GroupingSets(s: SparkSession, dir: String): DataFrame =
    sqlWithViews(s, q22Sql, "events" -> Tables.events(s, dir))

  // --- q23: ordered string aggregation ---------------------------------

  private def q23StringAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(
        array_join(array_sort(collect_set(col("event_type"))), ",").as("types"),
        size(collect_set(col("event_type"))).as("n_types"))
      .orderBy("user_id")

  // --- q24: JSON extraction --------------------------------------------

  private def q24Json(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        count(when(col("k") >= 50, 1)).as("n_hi"))
      .orderBy("event_type")

  // --- x6: TF-IDF top terms per document -------------------------------

  /** Top-3 TF-IDF terms per doc. The idf is quantized to 6 dp BEFORE
    * the tf multiply: Math.log and DuckDB ln differ in the last ulp for
    * ~0.1% of inputs, but agree after round(,6); every operation after
    * the quantization is exact, so the compare is deterministic.
    */
  private def x6Tfidf(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // corpus size stays in-plan (one-row broadcast) — constructing the
    // DataFrame must not run a driver-side job
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val toks = docs.select(col("doc_id"),
      explode(TextAnalysis.wsTokens(TextAnalysis.normalize(col("text")))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = toks.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term").crossJoin(broadcast(nDocs))
      .withColumn("idf", round(log(col("n_docs") / col("df")), 6))
      .withColumn("tfidf", round(col("tf") * col("idf"), 6))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select("doc_id", "term", "tfidf", "rank")
      .orderBy("doc_id", "rank")
  }

  // --- x7: deterministic stratified sampling ---------------------------

  /** Hash-based per-stratum sampling: md5(doc_id) mod 1000 under a
    * per-language rate (en 50%, others 20%). Deterministic, re-runnable,
    * and exactly reproducible in any engine — the property a training
    * pipeline needs so reruns keep the same documents.
    */
  private def x7StratifiedSample(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("h",
        Dedup.hash60(col("doc_id").cast("string")) % 1000)
      .where(col("h") < when(col("lang") === "en", 500).otherwise(200))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")

  // --- e2: k-means assignment ------------------------------------------

  /** One assignment pass against deterministic seed centroids
    * (vec_id 0..7): per-cluster population and distance stats. The
    * per-row argmin is a pure map (no shuffle); only the final stats
    * aggregate exchanges data.
    */
  private def e2Kmeans(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cents = Clustering.seedCentroids(e, 8)
    Clustering.assign(e, cents)
      .groupBy("centroid_id")
      .agg(
        count(lit(1)).as("n_assigned"),
        round(avg("dist"), 6).as("avg_dist"),
        round(min("dist"), 6).as("min_dist"),
        round(max("dist"), 6).as("max_dist"))
      .orderBy("centroid_id")
  }

  // --- d8: dedup clusters (connected components) -----------------------

  /** The near-dup cluster table `(doc_id, cluster_id)`, STAGED once per
    * (testdata, JVM) — the same pattern as
    * [[QueriesTelemetry.synthPackets]]: a production dedup pipeline
    * runs the LSH + closure pass ONCE and every consumer (survivor
    * election, soft weights, reporting) reads the materialized cluster
    * assignment, so d8/d10/d16 each measure their own marginal work.
    * The one-time build runs inside the FIRST rep of whichever query
    * touches it first and is therefore discarded by min-of-reps — its
    * true cost is recorded separately in the bench artifact's
    * `staging` map (see [[TempDirs.stagingSeconds]]), not inside any
    * per-query number.
    * Data is bit-identical to the live plan ([[Dedup.jaccardClusters]]
    * is deterministic), so the oracles are unchanged.
    */
  private[graft] def stagedClusters(s: SparkSession, dir: String): DataFrame = {
    // build from the session-staged shingle index: the one tokenize+hash
    // pass is shared with d2/d3/d4/d9/d11/x36 instead of re-derived in
    // every branch of the cluster plan. Resolved BEFORE entering the
    // cluster build so the dependency's own staging completes first.
    // r21: edges come off the session-staged VERIFIED-PAIR table (the
    // same scaffold d4/d17/p5 scan) instead of re-running band keys +
    // candidate join + hash verify inside the cluster build
    val pairs = QueriesTrainingData.stagedVerifiedPairs(s, dir)
    val staged = TempDirs.cached(s"jaccardClusters:$dir") { d =>
      // size-derived layout (guide §6), same rationale as the staged
      // pairs: the cluster table is tiny at gate SFs and its consumers
      // (d8/d10/d16/c8/p4/p5) are scan-light joins — 32 near-empty
      // files taxed every one of them with per-file open tasks
      Sinks.writer(Dedup.jaccardClustersFromPairs(pairs).hint("rebalance"))
        .mode("overwrite").parquet(s"$d/clusters")
    }
    s.read.parquet(s"$staged/clusters")
  }

  /** Transitive closure of the MinHash-LSH near-dup pairs (Jaccard >=
    * 0.1): (doc_id, cluster_id = min doc id in component). This is the
    * step that turns pairwise dedup hits into keep/drop decisions.
    */
  private def d8DedupClusters(s: SparkSession, dir: String): DataFrame =
    stagedClusters(s, dir).orderBy("doc_id")

  /** Quality-aware survivor per near-dup cluster: a real pipeline keeps
    * the BEST document of each duplicate group, not the smallest id —
    * argmax(quality, then min id) via one struct-max aggregate over the
    * d8 closure.
    */
  /** The d10 survivor election — argmax(quality, then min id) per
    * near-dup cluster — as ONE shared definition, so p4's near-dedup
    * stage provably keeps exactly the docs d10 elects (both are
    * documented as "the already-oracled stage"; a one-sided edit to
    * the tie-break would otherwise silently desynchronize them).
    */
  private def survivorElection(s: SparkSession, dir: String): DataFrame = {
    val scored = t(s, dir, "documents").select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("q"))
    stagedClusters(s, dir)
      .join(scored, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("q"), (-col("doc_id")).as("negid"),
          col("doc_id").as("id"))).as("b"))
      .select(col("cluster_id"), col("b.id").as("survivor_id"),
        col("b.q").as("best_quality"), col("n_members"))
  }

  private def d10ClusterSurvivors(s: SparkSession, dir: String): DataFrame =
    survivorElection(s, dir).orderBy("cluster_id")

  /** Soft dedup (Dedup.softDedupWeights): every doc down-weighted to
    * 1/|near-dup cluster| instead of dropped — the SlimPajama-style
    * alternative when duplicates carry popularity signal.
    */
  private def d16SoftDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.softDedupWeightsFromClusters(
        t(s, dir, "documents"), stagedClusters(s, dir))
      .orderBy("doc_id")

  /** Incremental batch-vs-corpus dedup: docs with doc_id % 10 == 7 play
    * the "new crawl increment"; each is flagged for exact and verified
    * near duplication against the rest — the check a continuously
    * ingesting corpus runs per increment, with cost bounded by the
    * increment's band collisions, never corpus x corpus.
    */
  /** End-to-end pretraining-corpus construction funnel — the composite
    * a training-data pipeline publishes per snapshot, chaining the
    * already-oracled stages over each other's survivor sets: exact
    * dedup (d1 min-id per content md5) → near-dup canonicalization
    * (d8 clusters, d10 quality-argmax survivor; a cluster whose
    * globally elected canonical doc was itself dropped by exact dedup
    * drops entirely — the canonical doc must survive earlier stages)
    * → Gopher rules (x28 `kept`) → per-source 800-token budget (x23).
    * Emits one row per stage: (stage, stage_name, n_docs, n_tokens).
    *
    * Scale shape: every stage is a semi-join of the survivor id set
    * against per-doc flags already computed map-side or from the
    * session-staged cluster table; the only window is the x23 budget
    * running sum, partitioned per source. No stage widens a row beyond
    * (id, n_toks).
    */
  /** Per-doc funnel flags through the shared first gates: one row per
    * doc with `n_toks`, the budget ordering key `_h`, and booleans
    * `_f0` (input), `_f1` (exact-dedup survivor), `_f2` (near-dup
    * canonical survivor). Factored so p4 and p5 chain PROVABLY the
    * same survivor sets (a one-sided edit to either gate would
    * otherwise silently desynchronize the two published views).
    *
    * FLAGS, not successive filtered DataFrames, on purpose: a
    * union-of-stage-aggregates re-executes every upstream gate once
    * per stage row (p5's seven rows re-ran the cluster election five
    * times — 5.9 s at sf0.1); annotating each doc once and taking ONE
    * conditional aggregate pays each gate exactly once regardless of
    * stage count.
    */
  private def funnelFlags(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val nToks = coalesce(
      TextAnalysis.wsTokenCount(col("text")).cast("long"), lit(0L))
    val clusters = stagedClusters(s, dir)
    val survivors = survivorElection(s, dir)
      .select(col("survivor_id").as("doc_id"), lit(true).as("_surv"))
    d.select(col("doc_id"), col("source"), nToks.as("n_toks"),
        Dedup.hash60(concat(lit("budget:"), col("doc_id").cast("string")))
          .as("_h"))
      .join(Dedup.exactGroups(d)
        .select(col("survivor_id").as("doc_id"), lit(true).as("_ex")),
        Seq("doc_id"), "left")
      .join(clusters.select(col("doc_id"), lit(true).as("_clustered")),
        Seq("doc_id"), "left")
      .join(survivors, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_toks"), col("_h"),
        lit(true).as("_f0"),
        coalesce(col("_ex"), lit(false)).as("_f1"),
        (coalesce(col("_ex"), lit(false)) &&
          (col("_clustered").isNull || coalesce(col("_surv"), lit(false))))
          .as("_f2"))
  }

  /** Gopher-kept and the per-source token-budget flag appended to a
    * flag table: `_fG = prev && gopher.kept`, `_fB = _fG && running
    * per-source token sum (x23's exact ordering: hash60("budget:"+id),
    * id) <= budget`. Summing `when(_fG, n_toks) else 0` over ALL rows
    * yields the identical cumulative at surviving rows as x23's window
    * over the survivor subset.
    */
  private def withGopherAndBudget(
      s: SparkSession, dir: String, flags: DataFrame, prev: String,
      budgetTokens: Long): DataFrame = {
    val d = t(s, dir, "documents")
    val w = Window.partitionBy(col("source")).orderBy(col("_h"), col("doc_id"))
    flags
      .join(TextAnalysis.gopherFlags(d).where(col("kept"))
        .select(col("doc_id"), lit(true).as("_gk")), Seq("doc_id"), "left")
      .withColumn("_fG", col(prev) && coalesce(col("_gk"), lit(false)))
      .withColumn("_cum",
        sum(when(col("_fG"), col("n_toks")).otherwise(0L)).over(w))
      .withColumn("_fB", col("_fG") && col("_cum") <= budgetTokens)
  }

  /** ONE conditional aggregate over the flag table → the report rows. */
  private def funnelReport(
      flagged: DataFrame, stages: Seq[(String, String)]): DataFrame = {
    val aggs = stages.zipWithIndex.flatMap { case ((_, f), i) => Seq(
      sum(when(col(f), 1L).otherwise(0L)).as(s"_d$i"),
      coalesce(sum(when(col(f), col("n_toks"))), lit(0L)).as(s"_t$i")) }
    flagged.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(stages.zipWithIndex.map { case ((n, _), i) =>
        struct(lit(i).as("stage"), lit(n).as("stage_name"),
          col(s"_d$i").as("n_docs"), col(s"_t$i").as("n_tokens")) }: _*))
        .as("r"))
      .select(col("r.stage").as("stage"), col("r.stage_name").as("stage_name"),
        col("r.n_docs").as("n_docs"), col("r.n_tokens").as("n_tokens"))
      .orderBy("stage")
  }

  private def p4PretrainFunnel(s: SparkSession, dir: String): DataFrame = {
    val flagged = withGopherAndBudget(
      s, dir, funnelFlags(s, dir), prev = "_f2", budgetTokens = 800L)
    funnelReport(flagged, Seq(
      "input" -> "_f0", "exact_dedup" -> "_f1", "near_dedup" -> "_f2",
      "gopher" -> "_fG", "token_budget" -> "_fB"))
  }

  /** The FULL pretraining funnel (p4 + the r13/r14 verdicts' missing
    * gates): exact dedup → near-dup canonicalization → containment
    * dedup (the d17 signal applied as a drop: among current survivors,
    * a doc whose distinct shingles are >= 0.5 contained in a LARGER
    * surviving doc drops — Dedup.containmentDedup's rule over the
    * session-staged LSH pair scaffold, so the pair set is exactly d17's
    * restricted to survivors) → semantic dedup (SemDeDup over the
    * embeddings table, d13's exact kept set; a doc drops when its
    * vector — vec_id is the doc's embedding id — was suppressed at
    * cos >= 0.3 within its coarse cell; docs without a vector pass) →
    * Gopher rules → per-source 800-token budget. One row per stage.
    *
    * Scale shape: containment adds one semi-joined pass over the staged
    * band-collision pairs (no new LSH work — the scaffold is the
    * session-staged index d4/d17 already scan); semantic adds d13's
    * n·k assignment + within-cell verification, both bounded by the
    * sqrt-sized quantizer (see d13's scaladoc). Every stage remains a
    * semi-join of survivor ids; nothing widens past (id, n_toks).
    *
    * On THIS corpus the containment gate is a measured pass-through
    * (0 drops at every SF): with near-dedup at J >= 0.1 upstream, a
    * surviving containment pair needs J < 0.1, i.e. >5.5x size
    * asymmetry at cont >= 0.5 — exactly the regime where banded-
    * minhash recall is d17's documented bound. The gate earns its
    * place because production near-dedup runs at ~0.8, where
    * containment-but-not-near pairs are common; the drop rule's
    * mechanism is spec-pinned on planted fixtures (TrainingDataSpec
    * d17 contract) and the stage delta is cross-checked against the
    * standalone d17 query per run.
    */
  private def p5FullFunnel(s: SparkSession, dir: String): DataFrame = {
    val flags2 = funnelFlags(s, dir)
    // containment gate: d17's verified pair scaffold restricted to
    // current survivors, Dedup.containmentDedup's drop rule (raw
    // fractions — integer/integer IEEE division, bit-identical in
    // DuckDB; ties on size drop the larger id, a_id < b_id holds).
    // The restriction joins the FLAG table (doc-level, narrow) — the
    // pair scaffold itself is the session-staged index d4/d17 scan.
    val vp = QueriesTrainingData.stagedVerifiedPairs(s, dir)
    val sIds = flags2.where(col("_f2")).select("doc_id")
    val vpSurv = vp
      .join(sIds.select(col("doc_id").as("a_id")), "a_id")
      .join(sIds.select(col("doc_id").as("b_id")), "b_id")
    val contA = col("inter").cast("double") / col("a_sz")
    val contB = col("inter").cast("double") / col("b_sz")
    val contLosers = vpSurv
      .select(explode(array(
        when(contA >= 0.5 && col("a_sz") < col("b_sz"), col("a_id")),
        when(contB >= 0.5 && col("b_sz") <= col("a_sz"), col("b_id"))))
        .as("doc_id"))
      .where(col("doc_id").isNotNull).distinct()
    // semantic gate: d13's exact kept set (same dynamic quantizer
    // sizing; the oracle computes the identical formula in SQL —
    // ivfCellsCteDynamic); vec_id is the doc's embedding id, docs
    // without a vector pass
    val e = t(s, dir, "embeddings")
    val (_, _, semCents) = CorpusQuantizer.get(s, dir)
    val semDropped = Clustering.semanticDedupWith(e, semCents, tau = 0.3)
      .where(!col("kept"))
      .select(col("vec_id").as("doc_id"), lit(true).as("_sem"))
    val flags4 = flags2
      .join(contLosers.withColumn("_cl", lit(true)), Seq("doc_id"), "left")
      .withColumn("_f3", col("_f2") && col("_cl").isNull)
      .join(semDropped, Seq("doc_id"), "left")
      .withColumn("_f4", col("_f3") && col("_sem").isNull)
    val flagged = withGopherAndBudget(
      s, dir, flags4, prev = "_f4", budgetTokens = 800L)
    funnelReport(flagged, Seq(
      "input" -> "_f0", "exact_dedup" -> "_f1", "near_dedup" -> "_f2",
      "containment" -> "_f3", "semantic" -> "_f4",
      "gopher" -> "_fG", "token_budget" -> "_fB"))
  }

  /** Per-source dedup IMPACT report — the corpus-card row a dedup run
    * publishes: docs and tokens surviving exact dedup and near-dup
    * canonicalization (the p4 funnel's first two gates), per source,
    * with the end-to-end token reduction. Sources whose duplicates
    * concentrate (crawl mirrors) surface immediately; the number a
    * data-mixture owner actually reads off a dedup pass.
    *
    * Scale shape: the survivor sets are the same semi-join-of-id-sets
    * as p4 (exact groups map-side, clusters from the session-staged
    * table); the report adds three source-scale aggregations over
    * (id, source, n_toks) rows — nothing wider than p4's s2 ever
    * shuffles.
    */
  private def c8DedupImpact(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val nToks = coalesce(
      TextAnalysis.wsTokenCount(col("text")).cast("long"), lit(0L))
    val base = d.select(col("doc_id"), col("source"), nToks.as("n_toks"))
    // ONE pass (r22): the previous shape aggregated base / exact / near
    // as three separate per-source aggregations whose plan branches each
    // re-scanned documents and re-tokenized (wsTokenCount is the cost) —
    // survivor-set membership is now attached as flags via left joins
    // and every report column folds into a single groupBy(source) with
    // conditional sums, arithmetic identical (the old per-branch
    // count/sum over filtered rows equals the flag-gated sum).
    val exactSurv = Dedup.exactGroups(d)
      .select(col("survivor_id").as("doc_id"), lit(true).as("_ex"))
    val clusters = stagedClusters(s, dir)
    val survivors = survivorElection(s, dir)
      .select(col("survivor_id").as("doc_id"), lit(true).as("_surv"))
    val isExact = coalesce(col("_ex"), lit(false))
    val isNear = isExact &&
      (col("_cl").isNull || coalesce(col("_surv"), lit(false)))
    base
      .join(exactSurv, Seq("doc_id"), "left")
      .join(clusters.select(col("doc_id"), lit(true).as("_cl")), Seq("doc_id"), "left")
      .join(survivors, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("docs_total"),
        sum(when(isExact, 1L).otherwise(0L)).as("docs_exact"),
        sum(when(isNear, 1L).otherwise(0L)).as("docs_near"),
        sum("n_toks").as("tokens_total"),
        sum(when(isExact, col("n_toks")).otherwise(0L)).as("tokens_exact"),
        sum(when(isNear, col("n_toks")).otherwise(0L)).as("tokens_near"))
      .select(col("source"),
        col("docs_total"), col("docs_exact"), col("docs_near"),
        col("tokens_total"), col("tokens_exact"), col("tokens_near"),
        when(col("tokens_total") > 0,
          round(lit(1.0) - col("tokens_near").cast("double")
            / col("tokens_total").cast("double"), 6))
          .otherwise(lit(0.0)).as("token_reduction"))
      .orderBy("source")
  }

  /** d11 over the session-staged artifacts (r22): the near-dup side
    * reads the verified-pair scaffold (same banded candidates + exact
    * verify d4/d17/p5/c8 share) restricted to one-new-one-old pairs,
    * and the exact-dup side probes the staged distinct corpus-md5
    * index (st6/st8's) instead of re-hashing + re-aggregating the old
    * corpus per invocation. The previous shape re-ran band keys, the
    * new x old candidate join, and the gram-level verify join — all
    * already materialized in the scaffold — every rep.
    */
  private def d11IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val isNewId = (id: org.apache.spark.sql.Column) => id % 10 === 7
    val newMd5 = t(s, dir, "documents").where(isNewId(col("doc_id")))
      .select(col("doc_id"),
        md5(TextAnalysis.normalize(col("text")).cast("binary")).as("content_md5"))
    Dedup.incrementalDedupFlagsFromPairs(
        newMd5,
        s.table(QueriesTrainingData.stagedCorpusMd5(s, dir)),
        QueriesTrainingData.stagedVerifiedPairs(s, dir),
        isNewId)
      .orderBy("doc_id")
  }

  // --- st1: Structured Streaming through the gate ----------------------

  private def st1StreamWindow(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreaming.hourlyTypeStats(s, dir)
      .orderBy("window_start", "event_type")

  // --- st2: streaming dedup --------------------------------------------

  private def st2StreamDedup(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreaming.dedupTypeCounts(s, dir)
      .orderBy("event_type")

  // --- st7: bounded-state streaming dedup (TTL via watermark) ----------

  private def st7StreamDedupTtl(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreaming.dedupTypeCountsBounded(s, dir)
      .orderBy("event_type")

  // --- st3: stream-stream interval join --------------------------------

  private def st3StreamJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreaming.clickPurchaseJoin(s, dir)
      .orderBy("user_id", "click_id", "purchase_id")

  // --- st4: native session-window streaming sessionization -------------

  private def st4StreamSession(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreaming.sessionStatsClosed(s, dir)
      .orderBy("user_id", "session_start")

  // --- q25: window frames (rolling rows + time-range) ------------------

  /** Rolling aggregates in two frame flavors: ROWS (last 3 events) and
    * RANGE (last hour by event time). Sums run in exact integer cents —
    * engines disagree on sliding-sum algorithms (sequential vs segment
    * tree), which drifts double sums by ulps; integer arithmetic is
    * algorithm-independent.
    */
  private def q25WindowFrames(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .withColumn("cents", round(col("value") * 100).cast("bigint"))
      .withColumn("es", unix_timestamp(col("ts")))
    val rowsW = Window.partitionBy("user_id").orderBy("es", "event_id")
      .rowsBetween(-2, 0)
    val rangeW = Window.partitionBy("user_id").orderBy(col("es"))
      .rangeBetween(-3600, 0)
    e.select(col("event_id"), col("user_id"),
        (sum(col("cents")).over(rowsW) / lit(100.0)).as("rows3_sum"),
        count(lit(1)).over(rangeW).as("hour_n"),
        (sum(col("cents")).over(rangeW) / lit(100.0)).as("hour_sum"))
      .orderBy("event_id")
  }

  // --- q26: exact percentiles ------------------------------------------

  /** Exact interpolated median + manual row-number median per order
    * status (percentile_cont semantics on both engines).
    */
  private def q26Median(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    val manual = o
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("o_orderstatus")))
      .where(col("rn") === expr("(n + 1) div 2")) // lower median, 1-based
      .select(col("o_orderstatus"), col("o_totalprice").as("median_lo"))
    // interpolated side via the banded exact quantile (the q19 lesson:
    // the `percentile` aggregate buffers each group's full value list)
    operators.TextAnalysis
      .quantileThresholdBanded(o, 0.5, "o_orderstatus", "o_totalprice")
      .select(col("o_orderstatus"), col("n"),
        col("threshold").as("median_cont"))
      .join(manual, "o_orderstatus")
      .select("o_orderstatus", "n", "median_cont", "median_lo")
      .orderBy("o_orderstatus")
  }

  // --- x8: BM25 scoring --------------------------------------------------

  private val bm25Query = Seq("spark", "data", "merge")
  private val bm25K1 = 1.2
  private val bm25B = 0.75

  /** BM25 score of a fixed query against every document. Same ulp
    * discipline as x6: idf is quantized at 6 dp straight after ln();
    * everything else (tf, doclen, avgdl from integer sums) is exact, so
    * both engines compute bit-identical scores.
    */
  private def x8Bm25(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // corpus stats (N, avgdl) stay in-plan as one-row broadcasts —
    // constructing the DataFrame must not run driver-side jobs, and at
    // scale the stats are one extra reduction, not a separate action
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val toks = docs.select(col("doc_id"),
      explode(TextAnalysis.wsTokens(TextAnalysis.normalize(col("text")))).as("term"))
    val lens = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val avgdl = lens
      .agg((sum("dl").cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val tf = toks.where(col("term").isin(bm25Query: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.select("doc_id", "term").groupBy("term")
      .agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term").join(lens, "doc_id")
      .crossJoin(broadcast(nDocs)).crossJoin(broadcast(avgdl))
      .withColumn("idf",
        round(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 6))
      .withColumn("contrib",
        col("idf") * (col("tf") * lit(bm25K1 + 1.0)) /
          (col("tf") + lit(bm25K1) *
            (lit(1.0 - bm25B) + lit(bm25B) * col("dl") / col("avgdl"))))
    scored.groupBy("doc_id")
      .agg(round(sum("contrib"), 6).as("bm25"), count(lit(1)).as("n_terms"))
      .orderBy("doc_id")
  }

  // --- x9: per-stratum fixed-size deterministic sample ------------------

  /** "Reservoir-style" fixed-k sample per source: order by a
    * deterministic hash and keep the first 10 — reproducible across
    * engines and reruns, unlike rand()-based sampling.
    */
  private def x9ReservoirSample(s: SparkSession, dir: String): DataFrame = {
    val h = Dedup.hash60(col("doc_id").cast("string"))
    val w = Window.partitionBy("source").orderBy(h, col("doc_id"))
    t(s, dir, "documents")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 10)
      .select("source", "rk", "doc_id")
      .orderBy("source", "rk")
  }

  /** Weighted sampling without replacement (Efraimidis-Spirakis A-ES,
    * the distributed-friendly form): key = -ln(u) / w with u a
    * hash-derived uniform in (0, 1] and w the 6-dp quality score
    * (floored at 0.01 so zero-quality docs stay sampleable); the k
    * smallest keys per source win. Pure per-row key computation + one
    * per-stratum top-k window — the same single-shuffle shape as x9's
    * uniform reservoir, but quality-tilted.
    */
  private def x19WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val h = Dedup.hash60(concat(lit("ws:"), col("doc_id").cast("string")))
    // long add BEFORE the double cast — h spans the full 60 bits, so
    // (double)h + 1.0 and (double)(h + 1) round differently
    val u = (h + lit(1L)).cast("double") / 1.152921504606846976e18
    val wq = greatest(operators.TextAnalysis.qualityScore(col("text")), lit(0.01))
    val w = Window.partitionBy("source").orderBy(col("sample_key"), col("doc_id"))
    t(s, dir, "documents")
      .withColumn("sample_key", round(negative(log(u)) / wq, 6))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 10)
      .select("source", "rk", "doc_id", "sample_key")
      .orderBy("source", "rk")
  }

  // --- q27: bag-semantics set operations -------------------------------

  /** INTERSECT ALL / EXCEPT ALL (multiset semantics — q9 covers the
    * DISTINCT variants): nation keys of two customer segments with
    * multiplicity preserved.
    */
  private def q27SetopsAll(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val a = c.where(col("c_mktsegment") === "BUILDING").select("c_nationkey")
    val b = c.where(col("c_mktsegment") === "AUTOMOBILE").select("c_nationkey")
    a.intersectAll(b).withColumn("op", lit("intersect_all"))
      .unionByName(a.exceptAll(b).withColumn("op", lit("except_all")))
      .orderBy("op", "c_nationkey")
  }

  // --- x10: winnowing fingerprints -------------------------------------

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): hash
    * every word 3-gram, slide a window of 4 consecutive hashes, keep
    * each window's minimum — the classic rolling-fingerprint scheme
    * used for near-dup/plagiarism detection. Output: distinct selected
    * fingerprints per doc (the document's sketch). All positions are
    * window rows; hashes are the house 60-bit md5 scheme so the oracle
    * reproduces them exactly.
    */
  private def x10Winnowing(s: SparkSession, dir: String): DataFrame = {
    val winnowW = 4
    val docs = t(s, dir, "documents")
    import graft.functions.TextHashExpressions.{slidingWindowMins, tokenGramHash60s}
    // gram hashes AND the winnow min-selection both run array-side in
    // one map pass (TokenGramHash60s ∘ SlidingWindowMins): the r15
    // shape exploded grams and selected minima with a per-row window —
    // an Exchange + Sort of the full gram table; here the only
    // exchange left is the presentation ORDER BY. Incomplete trailing
    // windows are never emitted except the pos-0 rule for docs with
    // fewer than W grams (min of all available) — SlidingWindowMins
    // encodes exactly that. The fingerprint array lands in its own
    // projection and the OUTER explode reads the attribute, so
    // InferFiltersFromGenerate cannot re-inline the kernel chain into
    // a pushed-down filter (the triple-evaluation trap caught in the
    // r16 d14 plan audit).
    docs
      .select(col("doc_id"),
        array_distinct(slidingWindowMins(
          tokenGramHash60s(TextAnalysis.normalize(col("text")), 3),
          winnowW)).as("arr"))
      .select(col("doc_id"), explode_outer(col("arr")).as("fingerprint"))
      .where(col("fingerprint").isNotNull)
      .orderBy("doc_id", "fingerprint")
  }

  // --- m3/m4: multimodal frame sampling + resize planning --------------

  /** Same synthetic media table as m1/m2 (payload = md5 of the text —
    * 16 opaque bytes standing in for encoded media).
    */
  private def mediaDf(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
      md5(col("text").cast("binary")).cast("binary").as("payload"),
      col("source"))

  /** Frame sampling for video rows: every 4th byte offset is a
    * pseudo-keyframe; the sampled frame's fingerprint is its byte
    * value. The explode shape (one row per sampled frame, payload
    * dropped) is what a real keyframe extractor emits.
    */
  private def m3FrameSample(s: SparkSession, dir: String): DataFrame =
    mediaDf(s, dir)
      .where(col("media_type") === "video")
      .select(col("media_id"), col("payload"),
        posexplode(operators.Multimodal.frameOffsets(col("payload"), 4)))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "frame_off")
      .withColumn("frame_fp",
        conv(hex(expr("substring(payload, frame_off + 1, 1)")), 16, 10).cast("int"))
      .select("media_id", "frame_idx", "frame_off", "frame_fp")
      .orderBy("media_id", "frame_idx")

  /** Resize planning: decode (stub) metadata, then compute the
    * aspect-preserving target dimensions with the long edge capped at
    * 512 px — all integer math, no codec needed for the plan itself.
    */
  private def m4Resize(s: SparkSession, dir: String): DataFrame = {
    val meta = operators.Multimodal.withMeta(mediaDf(s, dir))
      .where(col("format") =!= "corrupt")
    val (tw, th) = operators.Multimodal.resizeTarget(col("width"), col("height"), 512)
    meta.select(col("media_id"), col("width"), col("height"),
        tw.as("target_w"), th.as("target_h"))
      .orderBy("media_id")
  }

  // --- q28: sequential funnel analysis ---------------------------------

  /** Classic ordered funnel with conversion windows: per user, the
    * first view, the first click within (view, view + 1h], the first
    * purchase within (click, click + 1h] — then users counted by
    * deepest stage reached. Each stage is one filtered aggregate
    * joined to the previous stage's per-user scalar; all joins are on
    * user_id, the exchange every per-user analysis shares.
    */
  private def q28Funnel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val v = e.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("v_ts"))
    val c = e.where(col("event_type") === "click").join(v, "user_id")
      .where(col("ts") > col("v_ts") &&
        col("ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy("user_id").agg(min("ts").as("c_ts"))
    val p = e.where(col("event_type") === "purchase").join(c, "user_id")
      .where(col("ts") > col("c_ts") &&
        col("ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy("user_id").agg(min("ts").as("p_ts"))
    e.select("user_id").distinct()
      .join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(when(col("p_ts").isNotNull, 3)
        .when(col("c_ts").isNotNull, 2)
        .when(col("v_ts").isNotNull, 1)
        .otherwise(0).as("stage_reached"))
      .groupBy("stage_reached")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("stage_reached")
  }

  // --- s3: IVF approximate nearest neighbor ----------------------------

  /** IVF ANN through the PERSISTED index path: train the coarse
    * quantizer, write the cell-partitioned index once per (testdata,
    * params, JVM), then answer queries by probing only the nprobe
    * nearest cells — partition pruning makes the probe read a subset of
    * index FILES (plan-asserted in PlanChecksSpec). Identical math (and
    * oracle) to the in-plan [[Clustering.ivfTopK]]; what changes is
    * that the gate now exercises the write-once-read-probed shape a
    * 100 TB index actually uses.
    */
  private val ivfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[(Int, Array[Double])])]()

  private def s3AnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val (nCells, _, sharedCents) = CorpusQuantizer.get(s, dir)
    val (ixDir, cents) = ivfIndexCache.computeIfAbsent(s"$dir:$nCells:1", { _ =>
      val ix = TempDirs.fresh("graft_ivf")
      Clustering.writeIvfIndex(e, sharedCents, ix)
      (ix, sharedCents)
    })
    Clustering.ivfTopKFromIndex(s, ixDir, e.where(col("vec_id") < 20),
        cents, k = 5, nprobe = 4)
      .orderBy("query_id", "rank")
  }

  /** Recall@5 of the IVF index (s3's exact config: corpus-scaled
    * cells, nprobe 4)
    * against brute-force ground truth — s7's eval harness applied to
    * the second index family, so BOTH ANN paths carry a pinned,
    * hash-checked recall contract (an IVF centroid/probe regression is
    * a mismatch, not silent drift). Reuses s3's session-cached
    * persisted index; the ground truth is the bounded s1 broadcast.
    */
  private def s8IvfRecall(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.where(col("vec_id") < 20)
    val exact = AnnTruth.topK5(s, dir, e)
    val (nCells, _, sharedCents) = CorpusQuantizer.get(s, dir)
    val (ixDir, cents) = ivfIndexCache.computeIfAbsent(s"$dir:$nCells:1", { _ =>
      val ix = TempDirs.fresh("graft_ivf")
      Clustering.writeIvfIndex(e, sharedCents, ix)
      (ix, sharedCents)
    })
    val ann = Clustering.ivfTopKFromIndex(s, ixDir, q, cents, k = 5, nprobe = 4)
      .select(col("query_id"), col("neighbor_id"), lit(true).as("_hit"))
    exact
      .join(ann, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k"),
        sum(when(col("_hit"), 1L).otherwise(0L)).as("n_hits"))
      .select(col("query_id"), col("k"), col("n_hits"),
        round(col("n_hits").cast("double") / col("k").cast("double"), 6)
          .as("recall_at_k"))
      .orderBy("query_id")
  }

  /** IVF nprobe tuning S-curve (Clustering.ivfTuningReport) over s3's
    * session-cached persisted index: recall@5 vs exact ground truth
    * plus candidate volume and cells-read at nprobe in {1, 2, 4, 8} —
    * the d19 analog for the ANN family, the table behind s3/s8's
    * nprobe=4 choice. Ground truth comes from the shared AnnTruth
    * cache, and since r18 the WHOLE sweep pays ONE partition-pruned
    * index scan at max(nprobe): each query's scored rows carry their
    * probed cell's RANK, and a swept config is a probe_rank <= p cut —
    * the s13 shortlist trick on the probe axis (pruning plan-asserted
    * in ScaleSpec).
    */
  private def s9IvfTuning(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.where(col("vec_id") < 20)
    val (nCells, _, sharedCents) = CorpusQuantizer.get(s, dir)
    val (ixDir, cents) = ivfIndexCache.computeIfAbsent(s"$dir:$nCells:1", { _ =>
      val ix = TempDirs.fresh("graft_ivf")
      Clustering.writeIvfIndex(e, sharedCents, ix)
      (ix, sharedCents)
    })
    val truth = AnnTruth.topK5(s, dir, e)
    Clustering.ivfTuningReport(s, ixDir, q, cents, truth,
        k = 5, nprobes = Seq(1, 2, 4, 8))
      .orderBy("nprobe")
  }

  /** IVF-PQ through a persisted index (Clustering.ivfPqTopKFromIndex —
    * FAISS's IndexIVFPQ layout as parquet): s3's coarse quantizer
    * partitions the index by cell, s10's PQ codes sit NEXT TO the
    * float vectors as separate columns, and a query pays exactly what
    * it touches — nprobe/nCells of the files (partition pruning), the
    * 8-byte code column for ADC scoring (column pruning, the scan
    * reads no vector), and the vector column for the 32-deep shortlist
    * rerank only. Both prunings are plan-asserted. Same cell/codebook
    * configs as s3/s10 so regressions in either component surface here
    * as a hash mismatch.
    */
  private val ivfPqIndexCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (String, Seq[(Int, Array[Double])], Seq[Seq[(Int, Array[Double])]])]()

  /** PQ shortlist-depth S-curve — the measured backing for s10/s11's
    * rerankDepth knob (r15 verdict item 6): recall@5 of the two-stage
    * PQ search (ADC shortlist -> exact rerank) against brute-force
    * truth, at shortlist depths 8/16/32/64. ONE ADC ranking pass
    * (depth 64) serves every depth — a depth-d search's shortlist is
    * exactly the ADC top-d, so each depth only re-windows the same
    * <= 64 rows per query. Reported like s9's nprobe S-curve:
    * integer-micro recall (no double ULP in the gate hash), one row
    * per depth. The ScaleSpec asserts recall is monotone in depth and
    * that depth 32 (the s10/s11 default) clears the 0.6 floor the PQ
    * lesson established (seeded codebooks + ADC-only ranking sit near
    * 0.3; the rerank is what makes them usable).
    */
  private def s13PqTuning(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.where(col("vec_id") < 20)
    val depths = Seq(8, 16, 32, 64)
    val cbs = operators.Similarity.pqCodebooks(e, nSub = 16, codebookSize = 16)
    val sl = operators.Similarity
      .pqAdcShortlist(e, q, cbs, rerankDepth = depths.max)
    // depth fan-out rides an exploded literal array (no join, no
    // BroadcastNestedLoop against a 4-row local relation)
    val withDepth = sl
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"),
        col("adc_rank"),
        explode(typedlit(depths)).as("rerank_depth"))
      .where(col("adc_rank") <= col("rerank_depth"))
    val wExact = Window.partitionBy("rerank_depth", "query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    val top = withDepth
      .withColumn("rank", row_number().over(wExact))
      .where(col("rank") <= 5)
      .select(col("rerank_depth"), col("query_id"), col("neighbor_id"),
        lit(true).as("_hit"))
    val truth = AnnTruth.topK5(s, dir, e)
      .select(col("query_id"), col("neighbor_id"),
        explode(typedlit(depths)).as("rerank_depth"))
    truth
      .join(top, Seq("rerank_depth", "query_id", "neighbor_id"), "left")
      .groupBy("rerank_depth")
      .agg(sum(when(col("_hit"), 1L).otherwise(0L)).as("n_hits"),
        count(lit(1)).as("n_true"))
      .select(col("rerank_depth"), col("n_hits"), col("n_true"),
        when(col("n_true") > 0,
          floor(col("n_hits").cast("double") * 1e6 /
            col("n_true").cast("double")).cast("long"))
          .otherwise(0L).as("recall_micro"))
      .orderBy("rerank_depth")
  }

  private def s11IvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val (nCells, _, sharedCents) = CorpusQuantizer.get(s, dir)
    val (ixDir, cents, cbs) = ivfPqIndexCache.computeIfAbsent(s"$dir:$nCells:16:16", { _ =>
      val cb = operators.Similarity.pqCodebooks(e, nSub = 16, codebookSize = 16)
      val ix = TempDirs.fresh("graft_ivfpq")
      Clustering.writeIvfPqIndex(e, sharedCents, cb, ix)
      (ix, sharedCents, cb)
    })
    Clustering.ivfPqTopKFromIndex(s, ixDir, e.where(col("vec_id") < 20),
        cents, cbs, k = 5, nprobe = 4, rerankDepth = 32)
      .orderBy("query_id", "rank")
  }

  /** s14's walk constants, shared by the QUERY, its fixed-depth ORACLE
    * SQL (one CTE pair per round; beam/M/nprobe inlined into the text)
    * and ExtendedOpsSpec's visited-cost bound — one definition, so the
    * config and the spec's O(rounds·beam·M) assertion cannot drift.
    */
  private[graft] object GraphAnnParams {
    val M = 8
    val Beam = 12
    val Rounds = 3
    val Nprobe = 4
    /** Beam sweep for the s15 S-curve; includes the s14 default. */
    val TuningBeams = Seq(2, 4, 8, 12)
  }

  /** Graph ANN through a persisted neighbor-graph index
    * (Clustering.writeGraphIndex + graphTopKFromIndex — the NSW/HNSW
    * family flattened to one deterministic layer, the fifth index
    * family next to brute force, LSH, IVF and IVF-PQ): every vector
    * stores its M=8 nearest within-cell neighbors; a query enters each
    * probed cell at the cell's smallest NON-query id (entering at the
    * bare min id orphans the query's own cell and cost recall
    * 0.13 → 0.81 — the rule and its derivation live at
    * Clustering.graphTopKFromIndex) and runs 3 rounds of beam-12
    * expansion, scoring only the nodes the walk touches —
    * O(rounds·beam·M) per query, independent of cell SIZE, which is
    * what a graph buys over the IVF cell scan at 100 TB cells. Same
    * coarse cells as s3/s11 (shared centroid cache), partition-pruned
    * read, every step id-tie-broken so DuckDB replays the walk CTE for
    * CTE. All four walk knobs come from [[GraphAnnParams]].
    */
  private val graphIndexCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (String, Seq[(Int, Array[Double])])]()

  private def s14GraphAnn(s: SparkSession, dir: String): DataFrame = {
    import GraphAnnParams._
    val e = t(s, dir, "embeddings")
    // cells scale ~sqrt(n/2) floored at 16 (the d13/s12 sizing, same
    // argument: graph construction pays within-cell pairs Σ|cell|² ≈
    // n²/k — a FIXED k is a quadratic build; measured 159 s at sf1
    // before this formula). The oracle CTE computes the SAME formula
    // in SQL (ivfCellsCteDynamic), so any verify SF replays it.
    val (nCells, _, sharedCents) = CorpusQuantizer.get(s, dir)
    val (ixDir, cents) = graphIndexCache.computeIfAbsent(s"$dir:$nCells:$M", { _ =>
      val ix = TempDirs.fresh("graft_graph")
      Clustering.writeGraphIndex(e, sharedCents, m = M, ix)
      (ix, sharedCents)
    })
    Clustering.graphTopKFromIndex(s, ixDir, e.where(col("vec_id") < 20),
        cents, k = 5, nprobe = Nprobe, beam = Beam, rounds = Rounds)
      .orderBy("query_id", "rank")
  }

  /** Beam-width S-curve for the graph index — the s9/s13 treatment
    * applied to the graph's own knob: recall@5 against brute-force
    * truth plus the visited-set size (the walk's actual cost) at each
    * beam in [[GraphAnnParams.TuningBeams]], same persisted index,
    * cells and probe discipline as s14 (shared cache). Gives the
    * shipped beam default the same measured backing IVF's nprobe got
    * from s9 and PQ's shortlist depth from s13 (r16 verdict stretch
    * item). One bounded walk per swept beam — a narrow beam's frontier
    * is NOT a prefix of a wider one's (the frontier feeds every later
    * round's expansion), so the sweep can't reuse one ranked list the
    * way s13's shortlist depths could.
    */
  private def s15GraphTuning(s: SparkSession, dir: String): DataFrame = {
    import GraphAnnParams._
    val e = t(s, dir, "embeddings")
    val (nCells, _, sharedCents) = CorpusQuantizer.get(s, dir)
    val (ixDir, cents) = graphIndexCache.computeIfAbsent(s"$dir:$nCells:$M", { _ =>
      val ix = TempDirs.fresh("graft_graph")
      Clustering.writeGraphIndex(e, sharedCents, m = M, ix)
      (ix, sharedCents)
    })
    val q = e.where(col("vec_id") < 20)
    val truth = AnnTruth.topK5(s, dir, e)
    Clustering.graphTuningReport(s, ixDir, q, cents, truth, k = 5,
      nprobe = Nprobe, beams = TuningBeams, rounds = Rounds)
  }

  /** Filtered ANN through a label-partitioned persisted IVF index
    * (Clustering.writeLabeledIvfIndex + ivfTopKFromIndexFiltered):
    * top-5 by cosine among the vectors sharing the QUERY'S label —
    * the "retrieve within this language / source / tenant" shape
    * production filtered vector search takes. The label is a second
    * partition column of the index, so the ~10%-selective predicate
    * prunes at PLANNING time: the scan lists only the probed
    * (cell, label) directories instead of scanning whole cells and
    * discarding 90% of the scored rows (a post-filter would also
    * starve below k survivors exactly when the filter matters).
    * Corpus-scaled coarse cells (Clustering.scaledCells) / nprobe 4 /
    * Lloyd-1 quantizer; the oracle recomputes the same cell count in
    * SQL (ivfCellsCteDynamic) with a label equi-join added.
    *
    * Why not the graph index for filtered search: a graph walk is
    * label-blind — its frontier expands through nodes of every label,
    * so POST-filtering the visited set starves below k exactly when
    * the filter is selective (the known filtered-HNSW failure).
    * Measured at sf0.001 / ~10% label selectivity: post-filtered
    * beam-12 walk recall 0.50 vs 0.80 for this partition-pruned IVF
    * probe (spec-pinned, ExtendedOpsSpec "filtered graph walk").
    * Label-aware edges would fix the walk but multiply the index by
    * the filter cardinality; the label-partitioned IVF layout is the
    * production answer at bounded cost.
    */
  private val labeledIvfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (String, Seq[(Int, Array[Double])])]()

  private def s16FilteredAnn(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val (nCells, _, sharedCents) = CorpusQuantizer.get(s, dir)
    val (ixDir, cents) = labeledIvfIndexCache.computeIfAbsent(s"$dir:$nCells:1", { _ =>
      val ix = TempDirs.fresh("graft_ivf_labeled")
      Clustering.writeLabeledIvfIndex(e, sharedCents, ix)
      (ix, sharedCents)
    })
    Clustering.ivfTopKFromIndexFiltered(s, ixDir, e.where(col("vec_id") < 20),
        cents, k = 5, nprobe = 4)
      .orderBy("query_id", "rank")
  }

  /** Incremental IVF index maintenance (Clustering.appendToIvfIndex):
    * 80% of the corpus (vec_id % 5 != 4 — scale-free split) builds
    * the index and trains its coarse quantizer; the remaining 20%
    * batch is then APPENDED against the frozen centroids —
    * assignment is a map-only pass, the write adds batch-sized files
    * inside the existing cell directories and touches nothing else.
    * The probe then serves old and new rows through one
    * partition-pruned read (several of the vec_id < 20 queries are
    * themselves batch rows, and batch vectors surface as neighbors).
    * This is the freshness path of a 100 TB index: rebuilds re-read
    * the world for a 0.1% delta, appends cost the delta; the spec
    * pins probe equality against a from-scratch rebuild at the same
    * centroids, so the append path cannot silently diverge. Oracle:
    * the data-sized ivfCellsCteDynamic with its TRAINING corpus restricted to
    * the base split while assignment still covers every vector.
    */
  private val appendIvfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (String, Seq[(Int, Array[Double])])]()

  private def s17IvfAppend(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    // the quantizer is sized from the BASE corpus — the data that
    // existed when it was trained; appends ride the frozen centroids
    val (nCells, smod) =
      Clustering.quantizerConfig(e.where(col("vec_id") % 5 =!= 4).count())
    val (ixDir, cents) = appendIvfIndexCache.computeIfAbsent(s"$dir:$nCells:1", { _ =>
      val base = e.where(col("vec_id") % 5 =!= 4)
      val c = Clustering.trainCentroids(base, nCells = nCells, iterations = 1,
        sampleMod = smod)
      val ix = TempDirs.fresh("graft_ivf_append")
      Clustering.writeIvfIndex(base, c, ix)
      Clustering.appendToIvfIndex(e.where(col("vec_id") % 5 === 4), c, ix)
      (ix, c)
    })
    Clustering.ivfTopKFromIndex(s, ixDir, e.where(col("vec_id") < 20),
        cents, k = 5, nprobe = 4)
      .orderBy("query_id", "rank")
  }

  /** IVF index compaction + deletes (Clustering.compactIvfIndex) — the
    * other half of s17's freshness path: the same base-build + batch-
    * append as s17, then a TOMBSTONE set (vec_id % 7 = 3 — a takedown
    * list) is anti-joined out and every cell rewritten to one bounded
    * file by a single per-cell task. The probe then serves the
    * compacted index through the identical partition-pruned read:
    * appended rows still surface, tombstoned rows never do, and the
    * spec additionally pins that compaction (a) collapses the
    * append-inflated per-cell file counts and (b) is probe-IDENTICAL
    * when no tombstones are applied. This is the maintenance cadence
    * of a 100 TB index: appends cost the delta, compaction repays the
    * accumulated small files on a schedule, deletes ride the same
    * rewrite.
    */
  private val compactIvfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (String, Seq[(Int, Array[Double])])]()

  private def s18IvfCompact(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val (nCells, smod) =
      Clustering.quantizerConfig(e.where(col("vec_id") % 5 =!= 4).count())
    val (ixDir, cents) = compactIvfIndexCache.computeIfAbsent(s"$dir:$nCells", { _ =>
      val base = e.where(col("vec_id") % 5 =!= 4)
      val c = Clustering.trainCentroids(base, nCells = nCells, iterations = 1,
        sampleMod = smod)
      val ix = TempDirs.fresh("graft_ivf_compact")
      Clustering.writeIvfIndex(base, c, ix)
      Clustering.appendToIvfIndex(e.where(col("vec_id") % 5 === 4), c, ix)
      Clustering.compactIvfIndex(s, ix, tombstones =
        Some(e.where(col("vec_id") % 7 === 3).select(col("vec_id"))))
      (ix, c)
    })
    Clustering.ivfTopKFromIndex(s, ixDir, e.where(col("vec_id") < 20),
        cents, k = 5, nprobe = 4)
      .orderBy("query_id", "rank")
  }

  /** Hybrid retrieval: vector recall + lexical rerank fused by
    * reciprocal-rank fusion (Cormack 2009's RRF, the standard hybrid-
    * search combiner) — the production shape where an ANN index
    * supplies the candidate set and a lexical signal re-orders it.
    * Candidates are each query's probed-cell cosine ranking through
    * the SHARED persisted IVF index (s3's cache, corpus-scaled cells);
    * the lexical signal is exact 3-gram Jaccard between the query's
    * document and each candidate's (vec_id == doc_id, the d13
    * alignment), computed ONLY over the candidate pairs: the query
    * side's gram postings are driver-bounded (20 docs) and broadcast,
    * so the corpus gram table never exchanges — the posting join is a
    * map-side pass, per-doc gram-set sizes come from the kernel's
    * array length without an explode, and candidates with no shared
    * gram keep Jaccard 0 through the left join. Both ranks are
    * id-tie-broken and both fusion divisions are single IEEE ops, so
    * DuckDB replays the fused ranking row for row. RRF k = 60 (the
    * paper's constant).
    *
    * Gram-less docs cannot diverge engine/oracle: the gram kernel's
    * contract is gram-set size >= 1 for EVERY text (a < 3-token doc
    * falls back to one whole-text hash — exactly the oracle's
    * `ELSE [normSql]` branch), so the sizes join never drops a pair
    * the oracle keeps, and the Jaccard denominator is >= 1
    * (property-pinned in TokenGramPropertySpec "distinct grams never
    * empty").
    */
  private def s19HybridRerank(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val (nCells, _, sharedCents) = CorpusQuantizer.get(s, dir)
    val (ixDir, cents) = ivfIndexCache.computeIfAbsent(s"$dir:$nCells:1", { _ =>
      val ix = TempDirs.fresh("graft_ivf")
      Clustering.writeIvfIndex(e, sharedCents, ix)
      (ix, sharedCents)
    })
    val q = e.where(col("vec_id") < 20)
    // fixed per-query shortlist (see hybridShortlistC): fusion only
    // consumes each leg's top-N, so candidates beyond C are dead work
    // that grows ~sqrt(n) with the probed cells' population
    val cos = Clustering.ivfTopKFromIndex(s, ixDir, q, cents,
        k = hybridShortlistC, nprobe = 4)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("cos_rank"))
      .localCheckpoint()
    val docsT = t(s, dir, "documents")
    val gramArr = graft.functions.TextHashExpressions
      .tokenGramHash60sDistinct(TextAnalysis.normalize(col("text")), 3)
    // per-doc gram-set size straight off the kernel array — no explode
    val sizes = docsT.select(col("doc_id"), size(gramArr).as("sz"))
    // the staged distinct gram index (one tokenize+md5 pass per corpus
    // per session, parquet-cached) — not a fresh hashedShingleTable
    val grams = QueriesTrainingData.stagedShingles(s, dir)
      .select(col("doc_id"), col("h"))
    val qGrams = grams
      .join(broadcast(q.select(col("vec_id").as("doc_id"))), "doc_id")
      .select(col("doc_id").as("query_id"), col("h"))
    val inter = grams
      .select(col("doc_id").as("neighbor_id"), col("h"))
      .join(broadcast(qGrams), Seq("h"))
      .groupBy("query_id", "neighbor_id")
      .agg(count(lit(1)).as("i"))
    val jac = cos
      .join(sizes.select(col("doc_id").as("query_id"), col("sz").as("q_sz")),
        Seq("query_id"))
      .join(sizes.select(col("doc_id").as("neighbor_id"), col("sz").as("c_sz")),
        Seq("neighbor_id"))
      .join(inter, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("neighbor_id"), col("cos_rank"),
        (coalesce(col("i"), lit(0L)).cast("double") /
          (col("q_sz") + col("c_sz") - coalesce(col("i"), lit(0L))))
          .as("jac"))
    val wJac = Window.partitionBy("query_id")
      .orderBy(col("jac").desc, col("neighbor_id"))
    val fused = jac
      .withColumn("jac_rank", row_number().over(wJac))
      .withColumn("rrf",
        lit(1.0) / (lit(60) + col("cos_rank")) +
          lit(1.0) / (lit(60) + col("jac_rank")))
    val wRrf = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("neighbor_id"))
    fused
      .withColumn("rank", row_number().over(wRrf))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("cos_rank"),
        col("jac_rank"), floor(col("jac") * 1e6).cast("long").as("jac_micro"),
        floor(col("rrf") * 1e9).cast("long").as("rrf_nano"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Hybrid retrieval with a BM25-WEIGHTED lexical leg (s19's upgrade:
    * raw Jaccard ignores term rarity, and rare-term match is the
    * entire value of the lexical leg in a hybrid retriever). Candidates
    * come from the same shared persisted IVF index as s19; each
    * candidate's lexical score is the BM25 of the candidate document
    * against the QUERY document's 3-gram set — x8's exact formula
    * (k1 = 1.2, b = 0.75, idf = ln((N - df + 0.5)/(df + 0.5) + 1))
    * over the gram space instead of fixed terms — and the two ranks
    * fuse by RRF (k = 60) as in s19.
    *
    * Scale shape: the cosine leg is cut to a FIXED top-C shortlist per
    * query (C = 64, [[hybridShortlistC]]) BEFORE any lexical work —
    * rank fusion only ever consumes each leg's top-N, so scoring BM25
    * for probed-cell members beyond the shortlist was pure waste, and
    * with k ∝ √n cells a probed cell's population grows ~√n: an uncut
    * candidate set made this the repo's slowest query at sf10 (21.8 s,
    * SCALE.md) while the shortlist holds per-query lexical work at
    * C·|query grams| at ANY corpus size (the oracle replays the same
    * row_number cut). The corpus gram table NEVER exchanges wholesale —
    * the query side's distinct grams are driver-bounded (20 docs) and
    * broadcast, so df (postings per query gram) and tf (occurrences
    * per candidate doc) shuffle only the matched postings; dl rides
    * the tf rows straight off the kernel array (no corpus-wide lens
    * join); N and avgdl are one-row broadcast aggregates. Per-gram
    * contributions are floored to integer MICROS before the per-pair
    * sum, so the BM25 total is exact integer math on both engines —
    * no summation-order ULP drift for the oracle hash (idf itself is
    * 6-dp rounded like x8; every other step is a single IEEE op
    * replayed verbatim in the SQL).
    */
  /** s20's per-query cosine shortlist width: the hybrid-retrieval
    * contract is that rank fusion consumes each leg's top-N only, so
    * the lexical leg scores exactly C candidates per query regardless
    * of corpus (and probed-cell) size. 64 = comfortably past the
    * final top-5 fusion depth; RRF at k=60 makes rank-65+ contributions
    * sub-1% of rank-1, invisible to a top-5 cut.
    */
  private[graft] val hybridShortlistC = 64

  private def s20HybridBm25(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val (nCells, _, sharedCents) = CorpusQuantizer.get(s, dir)
    val (ixDir, cents) = ivfIndexCache.computeIfAbsent(s"$dir:$nCells:1", { _ =>
      val ix = TempDirs.fresh("graft_ivf")
      Clustering.writeIvfIndex(e, sharedCents, ix)
      (ix, sharedCents)
    })
    val q = e.where(col("vec_id") < 20)
    // the shortlist cut (hybridShortlistC doc): BM25 is scored for at
    // most C candidates per query at any corpus size
    val cos = Clustering.ivfTopKFromIndex(s, ixDir, q, cents,
        k = hybridShortlistC, nprobe = 4)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("cos_rank"))
      .localCheckpoint()
    val docsT = t(s, dir, "documents")
    // positional (NON-distinct) gram hashes: tf needs occurrences, and
    // dl is the array length — both straight off one kernel call
    val gramArr = graft.functions.TextHashExpressions
      .tokenGramHash60s(TextAnalysis.normalize(col("text")), 3)
    val nDocs = docsT.agg(count(lit(1)).cast("double").as("n_docs"))
    // per-doc gram count WITHOUT building the gram array: the kernel's
    // pinned contract is max(1, tokens - n + 1) grams per doc
    // (TokenGramPropertySpec), so avgdl is a whitespace token count —
    // no md5 per gram occurrence for a corpus-wide average
    val avgdl = docsT
      .select(greatest(
        TextAnalysis.wsTokenCount(col("text")) - lit(2), lit(1)).as("dl"))
      .agg((sum("dl").cast("double") / count(lit(1)).cast("double"))
        .as("avgdl"))
    // the staged distinct gram index (one tokenize+md5 pass per corpus
    // per session, parquet-cached) serves BOTH distinct-gram consumers
    val gramsDist = QueriesTrainingData.stagedShingles(s, dir)
      .select(col("doc_id"), col("h"))
    // query-side DISTINCT gram postings: driver-bounded (20 docs)
    val qGrams = gramsDist
      .join(broadcast(q.select(col("vec_id").as("doc_id"))), "doc_id")
      .select(col("doc_id").as("query_id"), col("h"))
      .localCheckpoint()
    val qh = qGrams.select("h").distinct()
    // df of each QUERY gram over the corpus: the distinct gram table
    // semi-joined to the broadcast query grams — matched postings only
    val dfq = gramsDist
      .join(broadcast(qh), Seq("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
    // tf of each query gram per CANDIDATE doc, dl carried through the
    // explode. The candidate semi-join is a pure cut: BM25 rows for
    // docs outside the cosine candidate set are dropped by the final
    // cos join anyway (the oracle computes tf over all docs and joins
    // identically), and the positional gram explode — an md5 per gram
    // OCCURRENCE — is the query's dominant cost, so paying it only for
    // probed-cell members instead of the corpus is the difference
    // between candidate-bounded and corpus-bounded lexical scoring.
    val candDocs = cos.select(col("neighbor_id").as("doc_id")).distinct()
    val tf = docsT
      .join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("neighbor_id"), gramArr.as("arr"))
      .select(col("neighbor_id"), explode(col("arr")).as("h"),
        size(col("arr")).as("dl"))
      .join(broadcast(qh), Seq("h"))
      .groupBy("neighbor_id", "h")
      .agg(count(lit(1)).as("tf"), max("dl").as("dl"))
    val pairBm25 = tf
      .join(broadcast(qGrams), Seq("h"))
      .join(broadcast(dfq), Seq("h"))
      .crossJoin(broadcast(nDocs)).crossJoin(broadcast(avgdl))
      .withColumn("idf",
        round(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 6))
      .withColumn("c_micro", floor(
        (col("idf") * (col("tf") * lit(bm25K1 + 1.0)) /
          (col("tf") + lit(bm25K1) *
            (lit(1.0 - bm25B) + lit(bm25B) * col("dl") / col("avgdl"))))
          * lit(1e6)).cast("long"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum("c_micro").as("bm25_micro"))
    val wBm = Window.partitionBy("query_id")
      .orderBy(col("bm25_micro").desc, col("neighbor_id"))
    val fused = cos
      .join(pairBm25, Seq("query_id", "neighbor_id"), "left")
      .withColumn("bm25_micro", coalesce(col("bm25_micro"), lit(0L)))
      .withColumn("bm25_rank", row_number().over(wBm))
      .withColumn("rrf",
        lit(1.0) / (lit(60) + col("cos_rank")) +
          lit(1.0) / (lit(60) + col("bm25_rank")))
    val wRrf = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("neighbor_id"))
    fused
      .withColumn("rank", row_number().over(wRrf))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("cos_rank"),
        col("bm25_rank"), col("bm25_micro"),
        floor(col("rrf") * 1e9).cast("long").as("rrf_nano"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Embedding-level eval decontamination (cross-set SemDeDup — the
    * semantic sibling of d9/d14's textual contamination): flag every
    * TRAIN vector whose cosine to some EVAL vector (vec_id % 10 = 7,
    * a 10% held-out split) reaches tau = 0.3, with the match count and
    * the max cosine per flagged doc. Paraphrased or re-embedded eval
    * leakage passes an n-gram contamination check; this is the pass
    * that catches it.
    *
    * Scale shape — deliberately NOT the broadcast-probe path: an eval
    * set is 10% of the corpus, far past broadcast-small, so s3's
    * probes-broadcast contract is the WRONG plan here. Instead both
    * sides block on the train-side coarse quantizer (one kernel
    * assignment pass each), the eval side probing its FOUR nearest
    * train cells (multi-probe recall across cell boundaries — a train
    * doc lives in exactly one cell, so no pair can duplicate), and the
    * only corpus-wide exchange is the hash equi-join on `cell`: pair
    * work is n_t·n_e·nprobe/k, bounded by the same k ∝ √n sizing as
    * d13, at any corpus scale. Quantizer: the shared [[AuditQuantizer]]
    * (trained on the corpus minus the eval split and minus the stream
    * increment, sampled, trainPred replayed in the oracle) — eval
    * vectors must not shape the blocking they are checked against.
    *
    * Measured recall boundary (vs exact cross-set truth): at a FIXED
    * nprobe, weak-similarity recall FALLS with corpus scale — 0.61 at
    * sf0.001 (nprobe 4 of 16 cells) but 0.40 at sf1 (4 of 100), tau
    * 0.3 — because cells refine as √n and weak pairs scatter across
    * them; holding the nprobe/k FRACTION constant restores it (25% of
    * cells: 0.61 → 0.83 at sf1; 40% → 0.93), at pair cost
    * n_t·n_e·fraction. That is the honest law: a weak-tau semantic
    * audit is inherently ~quadratic — blocking buys a constant
    * factor, not an exponent. Fixed small nprobe is sound only in the
    * near-dup regime this pass is FOR (cos → 1, where a vector and
    * its near-copy share the nearest cell by continuity — SemDeDup's
    * premise; the fixtures top out at cross-pair cos 0.49, so that
    * regime is asserted by construction, not measurable here). The
    * fixture tau of 0.3 deliberately exercises the hard regime.
    */
  private def s21SemanticContamination(s: SparkSession, dir: String): DataFrame =
    semanticContamination(s, dir, nprobeOf = _ => 4, screened = false)

  /** s21 in FRACTION mode (the measured fraction law as a query
    * surface): probe ceil(f·k) cells at f = 0.25 — the SCALE.md point
    * where weak-tau recall held from sf0.001 to sf1 — with the probe
    * depth re-derived from the trained k on BOTH engines, so the same
    * query keeps its recall contract at any corpus size. Same shared
    * audit quantizer, same tau; only the probe-depth rule differs.
    */
  private def s22SemanticContaminationFrac(s: SparkSession, dir: String): DataFrame =
    semanticContamination(s, dir,
      nprobeOf = k => Clustering.fractionNprobe(auditCellFraction, k),
      screened = true)

  /** s22's probe fraction — the one definition its oracle SQL reads,
    * so the two cannot drift.
    */
  private[graft] val auditCellFraction = 0.25

  /** The audit cosine threshold shared by s21/s22/st10 and their
    * oracle SQL — single definition for the same no-drift reason.
    */
  private[graft] val auditTau = 0.3

  /** `screened` picks the pair-scoring strategy (r21, measured — the
    * results are identical either way; warm isolated minima at sf10,
    * OPTIMIZATION_r21.md):
    *
    *   - true (s22 fraction mode): the cell-blocked join ships int8
    *     codes + one scale (~90 B/row vs 512-byte f64 unit vectors),
    *     rejects pairs on an i8 dot plus PairScreen's conservative
    *     bound, and re-scores the survivors (the audit threshold
    *     keeps ~7.5% of pairs at sf3, SCALE.md r21) with the exact f64
    *     dot via vector re-attach joins. Fraction mode is pair-heavy
    *     BY DESIGN (n_t·n_e·f), so the i8 saving on the ~92% rejected
    *     mass dominates: s22 sf10 54.5 -> 26.8 s (2.0x).
    *   - false (s21 fixed-nprobe): pair volume is k-fold smaller, so
    *     the rescore joins cost more than the i8 dots save — screened
    *     s21 measured 7.0 -> 14.6 s at sf10 — and the r20 in-stage
    *     exact dot stays. The screen is a selectivity/volume tool,
    *     not a default (same adjudication as d13/s12, see
    *     Clustering.semanticDedup / Similarity.marginMining).
    */
  private def semanticContamination(
      s: SparkSession, dir: String, nprobeOf: Int => Int,
      screened: Boolean): DataFrame = {
    val e = t(s, dir, "embeddings")
    val isEval = col("vec_id") % 10 === 7
    val train = e.where(!isEval)
    val evalSide = e.where(isEval)
    // the SHARED audit quantizer (trained on the corpus minus eval AND
    // minus the streaming increment — a superset-exclusion that still
    // honors "eval must not shape the blocking"); one train pass per
    // session serves s21, s22, st10 and the registry stage
    val cents = AuditQuantizer.centroids(s, dir)
    val nprobe = nprobeOf(cents.size)
    val tau = auditTau
    val en = operators.Similarity.normalized(col("embedding"))
    val scored = if (screened) {
      // SCREEN pass (guide §2.3/§8 + PairScreen doc): codes through
      // the exchange, i8 reject, exact rescore of survivors.
      val trainCells = Clustering.assign(train, cents).select(
        col("vec_id").as("train_id"), col("centroid_id").as("cell"),
        operators.PairScreen.code(en).as("t_qv"),
        operators.PairScreen.scale(en).as("t_qs"))
      val evalCells = evalSide.select(
          col("vec_id").as("eval_id"),
          operators.PairScreen.code(en).as("e_qv"),
          operators.PairScreen.scale(en).as("e_qs"),
          explode(graft.functions.VectorExpressions
            .topCentroidsStruct(col("embedding"), cents, nprobe)).as("pc"))
        .select(col("eval_id"), col("e_qv"), col("e_qs"), col("pc.cid").as("cell"))
      // shuffle_hash on the train side: sort-merge pays sorts +
      // per-key-group buffering on BOTH sides of the ~√n-key cell
      // join; a per-partition hash map of the train side streams the
      // eval probes with no sort at all (strategy only — results
      // identical; measured at sf3, SCALE.md r20). Build-side rows
      // are the ~90 B codes, widening the SHJ memory margin ~6x.
      val cand = trainCells.hint("shuffle_hash").join(evalCells, Seq("cell"))
        .where(operators.PairScreen.mayReach(tau,
          col("t_qv"), col("t_qs"), col("e_qv"), col("e_qs")))
        .select("train_id", "eval_id")
      // RESCORE: exact f64 dot for the screened pairs only. At gate
      // SFs Catalyst broadcasts these re-attach joins; at corpus
      // scale AQE sizes them from the runtime survivor count — the
      // full vectors stream out of the parquet scan either way.
      val tv = train.select(col("vec_id").as("train_id"), en.as("t_en"))
      val ev = evalSide.select(col("vec_id").as("eval_id"), en.as("e_en"))
      cand.join(tv, "train_id").join(ev, "eval_id")
        .select(col("train_id"),
          round(operators.Similarity.dot(col("t_en"), col("e_en")), 6).as("cos"))
    } else {
      // in-stage exact scoring (the r20 shape; shuffle_hash rationale
      // as above with ~1 KB vector rows)
      val trainCells = Clustering.assign(train, cents).select(
        col("vec_id").as("train_id"), col("centroid_id").as("cell"),
        en.as("t_en"))
      val evalCells = evalSide.select(
          en.as("e_en"),
          explode(graft.functions.VectorExpressions
            .topCentroidsStruct(col("embedding"), cents, nprobe)).as("pc"))
        .select(col("e_en"), col("pc.cid").as("cell"))
      trainCells.hint("shuffle_hash").join(evalCells, Seq("cell"))
        .select(col("train_id"),
          round(operators.Similarity.dot(col("t_en"), col("e_en")), 6).as("cos"))
    }
    scored
      .where(col("cos") >= tau)
      .groupBy("train_id")
      .agg(count(lit(1)).as("n_eval_matches"), max(col("cos")).as("max_cos"))
      .orderBy("train_id")
  }

  /** Margin-based bitext-style pair mining (Similarity.marginMining —
    * Artetxe & Schwenk 2019's ratio margin): the corpus split by
    * vec_id parity into a src and a tgt side, candidates blocked by
    * the same deterministic coarse cells as the IVF index, every
    * forward-kNN pair emitted with cos, margin (cos over the mean of
    * both sides' k-neighborhood similarity — exact integer micro-unit
    * math, one IEEE division) and the mutual-kNN flag. The
    * alignment-mining read over an embedded corpus: margin ranks
    * candidate pairs, `mutual` marks the high-precision subset.
    *
    * n_cells scales as ~sqrt(n/2), floored at 16 — the d13 sizing,
    * and for the same reason: assignment costs n·k, within-cell pair
    * verification Σ|cell|² ≈ n²/k, and k ∝ √n is the argmin of the
    * sum (a FIXED k re-creates a quadratic pair term: measured 24.8 s
    * at sf1 = 19× wall for 10× data before this formula). The oracle
    * computes the identical formula in SQL (ivfCellsCteDynamic), so
    * engine and replay size the quantizer together at every SF.
    */
  private def s12MarginMining(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val (_, _, cents) = CorpusQuantizer.get(s, dir)
    operators.Similarity.marginMining(
        e.where(col("vec_id") % 2 === 0), e.where(col("vec_id") % 2 === 1),
        cents, k = 4)
      .orderBy("src_id", "rank")
  }

  /** Cross-source content-overlap matrix (3-gram shingle overlap per
    * source pair, with the overlap coefficient n_shared / min(n_a,
    * n_b)) — the cross-corpus contamination table consulted before
    * mixing sources into a training blend. Exact-dup overlap is a
    * subset of this; shingle overlap also surfaces paraphrase-level
    * leakage. One distinct (source, hash) table, one self-join on the
    * 60-bit hash — never doc x doc.
    */
  private def c3SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    // in-kernel per-doc dedup shrinks the source-level distinct's
    // exchange to each doc's gram SET before it ever shuffles
    val sh = Dedup.gramHashSetRows(t(s, dir, "documents"), 3, carryCols = Seq("source"))
      .select(col("source"), col("h"))
      .distinct()
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val a = sh.select(col("source").as("src_a"), col("h"))
    val b = sh.select(col("source").as("src_b"), col("h"))
    a.join(b, Seq("h")).where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("source").as("src_a"), col("n").as("n_a")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("n").as("n_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_shared"),
        round(col("n_shared").cast("double") / least(col("n_a"), col("n_b")), 6)
          .as("overlap"))
      .orderBy("src_a", "src_b")
  }

  /** Per-cell separation quality for the coarse clustering that s3/d13
    * block on (simplified silhouette: mean distance to the own centroid
    * vs mean distance to the nearest OTHER centroid — separation well
    * under 1.0 means the cells are real structure, near 1.0 means the
    * blocking is arbitrary). Pure per-row centroid math + one groupBy.
    */
  private def e3ClusterQuality(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val (_, _, cents) = CorpusQuantizer.get(s, dir)
    // one kernel pass per row for (nearest, second-nearest) — the
    // previous array_sort over k literal struct subtrees was both the
    // plan-size wall the nearest-centroid kernel exists to avoid AND
    // an O(k log k) per-row sort for a 2-element answer (measured:
    // 11.7 -> 4.9 s sf3 at k = 174)
    val two = graft.functions.VectorExpressions
      .nearestTwoCentroidsStruct(col("embedding"), cents)
    e.select(two.as("nn"))
      .select(col("nn.cid1").as("cell"), col("nn.d1").as("d1"),
        col("nn.d2").as("d2"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"),
        round(avg("d1"), 6).as("avg_own"),
        round(avg("d2"), 6).as("avg_next"),
        round(avg("d1") / avg("d2"), 6).as("separation"))
      .orderBy("cell")
  }

  /** SemDeDup over the embeddings table: coarse cells (same
    * deterministic training as s3's index), greedy leader election at
    * cosine >= 0.3 within each cell.
    *
    * n_cells scales as ~sqrt(n/2), floored at 16. Total cost is
    * assignment n·k (every vector scores every centroid) plus pair
    * verification Σ|cell|² ≈ n²/k — so k ∝ n (the round-10 formula,
    * ceil(n/32)) re-created a QUADRATIC pass in the assignment term
    * (27× wall for 10× data at sf1), a fixed k is quadratic in the
    * pair term (13.5× at sf1 before round 10), and k ∝ √n is the
    * argmin of the sum: both terms scale n^1.5, the honest complexity
    * of flat (non-hierarchical) SemDeDup. The oracle computes the same
    * formula in SQL (ivfCellsCteDynamic), so any verify SF replays it.
    * The one count() job is the price of sizing the quantizer to
    * the corpus — the same job any production SemDeDup pays to pick k.
    * (Beyond ~10⁷ vectors the literal centroid matrix itself is the
    * limit — the production path is the persisted IVF index + cell-
    * partitioned pruning of s3, not a bigger literal.)
    */
  private def d13SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val (_, _, cents) = CorpusQuantizer.get(s, dir)
    Clustering.semanticDedupWith(e, cents, tau = 0.3)
      .orderBy("vec_id")
  }

  /** Embedding-health diagnostics per label
    * (Clustering.embeddingDiagnostics): anisotropy via the
    * ||mean unit vector||^2 identity (the Ethayarajh 2019 mean-pairwise
    * -cosine read WITHOUT the O(n^2) pair scan), rogue-dimension
    * variance share (Timkey & van Schijndel 2021) and mean raw norm —
    * the report consulted before an embedding column is trusted for
    * dedup/ANN/mining. All sums are exact integer micro-unit math in
    * decimal/HUGEINT; the only float steps are final divisions.
    */
  private def e4EmbeddingDiagnostics(s: SparkSession, dir: String): DataFrame =
    Clustering.embeddingDiagnostics(t(s, dir, "embeddings"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c3_source_overlap" -> (c3SourceOverlap(_, _)),
    "e3_cluster_quality" -> (e3ClusterQuality(_, _)),
    "e4_embedding_diagnostics" -> (e4EmbeddingDiagnostics(_, _)),
    "d13_semantic_dedup" -> (d13SemanticDedup(_, _)),
    "q20_range_join" -> (q20RangeJoin(_, _)),
    "q21_subqueries" -> (q21Subqueries(_, _)),
    "q22_grouping_sets" -> (q22GroupingSets(_, _)),
    "q23_string_agg" -> (q23StringAgg(_, _)),
    "q24_json" -> (q24Json(_, _)),
    "x6_tfidf" -> (x6Tfidf(_, _)),
    "x7_stratified_sample" -> (x7StratifiedSample(_, _)),
    "e2_kmeans" -> (e2Kmeans(_, _)),
    "d8_dedup_clusters" -> (d8DedupClusters(_, _)),
    "d10_cluster_survivors" -> (d10ClusterSurvivors(_, _)),
    "d16_soft_dedup" -> (d16SoftDedup(_, _)),
    "d11_incremental_dedup" -> (d11IncrementalDedup(_, _)),
    "p4_pretrain_funnel" -> (p4PretrainFunnel(_, _)),
    "p5_full_funnel" -> (p5FullFunnel(_, _)),
    "c8_dedup_impact" -> (c8DedupImpact(_, _)),
    "st1_stream_window" -> (st1StreamWindow(_, _)),
    "st2_stream_dedup" -> (st2StreamDedup(_, _)),
    "st7_stream_dedup_ttl" -> (st7StreamDedupTtl(_, _)),
    "st3_stream_join" -> (st3StreamJoin(_, _)),
    "st4_stream_session" -> (st4StreamSession(_, _)),
    "x10_winnowing" -> (x10Winnowing(_, _)),
    "q25_window_frames" -> (q25WindowFrames(_, _)),
    "m3_frame_sample" -> (m3FrameSample(_, _)),
    "m4_resize" -> (m4Resize(_, _)),
    "q26_median" -> (q26Median(_, _)),
    "q27_setops_all" -> (q27SetopsAll(_, _)),
    "x8_bm25" -> (x8Bm25(_, _)),
    "x9_reservoir_sample" -> (x9ReservoirSample(_, _)),
    "x19_weighted_sample" -> (x19WeightedSample(_, _)),
    "q28_funnel" -> (q28Funnel(_, _)),
    "s3_ann_ivf" -> (s3AnnIvf(_, _)),
    "s8_ivf_recall" -> (s8IvfRecall(_, _)),
    "s9_ivf_tuning" -> (s9IvfTuning(_, _)),
    "s11_ivfpq" -> (s11IvfPq(_, _)),
    "s12_margin_mining" -> (s12MarginMining(_, _)),
    "s13_pq_tuning" -> (s13PqTuning(_, _)),
    "s14_graph_ann" -> (s14GraphAnn(_, _)),
    "s15_graph_tuning" -> (s15GraphTuning(_, _)),
    "s16_filtered_ann" -> (s16FilteredAnn(_, _)),
    "s17_ivf_append" -> (s17IvfAppend(_, _)),
    "s18_ivf_compact" -> (s18IvfCompact(_, _)),
    "s19_hybrid_rerank" -> (s19HybridRerank(_, _)),
    "s20_hybrid_bm25" -> (s20HybridBm25(_, _)),
    "s21_semantic_contamination" -> (s21SemanticContamination(_, _)),
    "s22_semantic_contamination_frac" -> (s22SemanticContaminationFrac(_, _)))

  // --- oracle SQL ------------------------------------------------------

  /** Shared DuckDB text for the graph-ANN oracles: per-cell top-M
    * neighbor lists (the persisted graph), probe cells, entry points
    * and the scored round-0 visited set — everything before the beam
    * rounds. s14 (single walk at the default beam) and s15 (one walk
    * per swept beam) both build on this, so the two replays cannot
    * drift. Expects vn/cellassign/d1 from normVecCte + ivfCellsCte.
    */
  private def graphOracleBaseSql: String = {
    import GraphAnnParams._
    s"""gpairs AS (
       |  SELECT a.vec_id, b.vec_id AS nbr_id,
       |    round(list_sum(list_transform(range(1, 65),
       |      i -> va.en[i] * vb.en[i])), 6) AS cs
       |  FROM cellassign a JOIN cellassign b
       |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |  JOIN vn va ON va.vec_id = a.vec_id
       |  JOIN vn vb ON vb.vec_id = b.vec_id
       |), graphn AS (
       |  SELECT vec_id, nbr_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cs DESC, nbr_id) AS r
       |    FROM gpairs) WHERE r <= $M
       |), probes AS (
       |  SELECT vec_id AS query_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
       |    FROM d1 WHERE vec_id < 20) WHERE rn <= $Nprobe
       |), low2 AS (
       |  SELECT cell, vec_id FROM (
       |    SELECT cell, vec_id,
       |      row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS r
       |    FROM cellassign) WHERE r <= 2
       |), entries AS (
       |  SELECT DISTINCT p.query_id, min(l.vec_id) AS vec_id
       |  FROM probes p JOIN low2 l USING (cell)
       |  WHERE l.vec_id <> p.query_id
       |  GROUP BY p.query_id, p.cell
       |), v0 AS (
       |  SELECT e.query_id, e.vec_id,
       |    round(list_sum(list_transform(range(1, 65),
       |      i -> q.en[i] * n.en[i])), 6) AS cos_sim
       |  FROM entries e
       |  JOIN vn q ON q.vec_id = e.query_id
       |  JOIN vn n ON n.vec_id = e.vec_id
       |)""".stripMargin
  }

  /** One beam walk as fixed-depth CTE chains — GraphAnnParams.Rounds
    * rounds of (frontier, expansion, visited-union). `p` prefixes the
    * CTE names so several walks coexist in one statement; round 0 is
    * always the shared `v0`.
    */
  private def graphWalkSql(p: String, beam: Int): String =
    (1 to GraphAnnParams.Rounds).map { r =>
      val prev = if (r == 1) "v0" else s"${p}v${r - 1}"
      s"""${p}f$r AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, vec_id) AS rn
         |    FROM $prev) WHERE rn <= $beam
         |), ${p}e$r AS (
         |  SELECT DISTINCT f.query_id, g.nbr_id AS vec_id
         |  FROM ${p}f$r f JOIN graphn g USING (vec_id)
         |  WHERE g.nbr_id <> f.query_id
         |    AND NOT EXISTS (SELECT 1 FROM $prev v
         |      WHERE v.query_id = f.query_id AND v.vec_id = g.nbr_id)
         |), ${p}v$r AS (
         |  SELECT * FROM $prev
         |  UNION ALL
         |  SELECT e.query_id, e.vec_id,
         |    round(list_sum(list_transform(range(1, 65),
         |      i -> q.en[i] * n.en[i])), 6) AS cos_sim
         |  FROM ${p}e$r e
         |  JOIN vn q ON q.vec_id = e.query_id
         |  JOIN vn n ON n.vec_id = e.vec_id
         |)""".stripMargin
    }.mkString(",\n")

  private val toksSql = OracleFragments.toksSql

  val oracles: Map[String, String] = Map(
    "q20_range_join" ->
      """SELECT o.o_orderkey,
        |  count(l.l_orderkey) AS n_shipped
        |FROM orders o LEFT JOIN lineitem l
        |  ON l.l_shipdate >= o.o_orderdate
        | AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
        |WHERE o.o_orderkey % 97 = 0
        |GROUP BY o.o_orderkey ORDER BY o.o_orderkey""".stripMargin,
    "q21_subqueries" -> q21Sql,
    "q22_grouping_sets" -> q22Sql,
    "q23_string_agg" ->
      """SELECT user_id,
        |  string_agg(event_type, ',' ORDER BY event_type) AS types,
        |  count(*) AS n_types
        |FROM (SELECT DISTINCT user_id, event_type FROM events)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q24_json" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  count(CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50
        |        THEN 1 END) AS n_hi
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x6_tfidf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($toksSql) AS term FROM documents
         |), tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
         |), dfreq AS (
         |  SELECT term, count(*) AS df
         |  FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term
         |), n AS (SELECT count(*)::DOUBLE AS n FROM documents)
         |SELECT doc_id, term, tfidf, rank FROM (
         |  SELECT tf.doc_id, tf.term,
         |    round(tf.tf * round(ln(n.n / dfreq.df), 6), 6) AS tfidf,
         |    row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY round(tf.tf * round(ln(n.n / dfreq.df), 6), 6) DESC, tf.term)
         |      AS rank
         |  FROM tf JOIN dfreq USING (term), n
         |) WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "x7_stratified_sample" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000 AS h
        |  FROM documents
        |) WHERE h < CASE WHEN lang = 'en' THEN 500 ELSE 200 END
        |ORDER BY doc_id""".stripMargin,
    "e4_embedding_diagnostics" ->
      s"""WITH ${OracleFragments.normVecCte},
         |q AS (
         |  SELECT vn.label AS grp,
         |    list_transform(vn.en, x -> CAST(floor(x * 1e6) AS BIGINT)) AS qv,
         |    CAST(floor(vn0.nrm * 1e6) AS BIGINT) AS norm_micro
         |  FROM vn JOIN vn0 USING (vec_id)
         |), d AS (
         |  SELECT grp, i AS dim, qv[i] AS qq FROM q, range(1, 65) t(i)
         |), pd AS (
         |  SELECT grp, dim, sum(qq) AS s, sum(qq * qq) AS q2, count(*) AS n
         |  FROM d GROUP BY 1, 2
         |), st AS (
         |  SELECT grp, max(n) AS n, sum(s * s) AS ss,
         |    max(n * q2 - s * s) AS vmax, sum(n * q2 - s * s) AS vsum
         |  FROM pd GROUP BY 1
         |), nm AS (
         |  SELECT grp, sum(norm_micro) AS nm_sum FROM q GROUP BY 1
         |)
         |SELECT st.grp AS label, CAST(st.n AS BIGINT) AS n,
         |  round(CAST(nm_sum AS DOUBLE) / CAST(st.n AS DOUBLE) / 1e6, 6)
         |    AS avg_norm,
         |  -- n cast to DOUBLE before squaring, in lockstep with the
         |  -- engine (bigint n*n would overflow past ~3e9-row groups)
         |  round(CAST(ss AS DOUBLE)
         |      / (CAST(st.n AS DOUBLE) * CAST(st.n AS DOUBLE)) / 1e12, 6)
         |    AS anisotropy,
         |  round(CAST(vmax AS DOUBLE) / CAST(vsum AS DOUBLE), 6)
         |    AS top_dim_share
         |FROM st JOIN nm USING (grp) ORDER BY label""".stripMargin,
    "e2_kmeans" ->
      """WITH c AS (
        |  SELECT vec_id AS cid, embedding::DOUBLE[] AS ce
        |  FROM embeddings WHERE vec_id < 8
        |), v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS ve FROM embeddings
        |), d AS (
        |  SELECT v.vec_id, c.cid,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (ve[i] - ce[i]) * (ve[i] - ce[i]))) AS dist
        |  FROM v CROSS JOIN c
        |), a AS (
        |  SELECT vec_id, cid, dist,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        |  FROM d
        |)
        |SELECT cid AS centroid_id, count(*) AS n_assigned,
        |  round(avg(dist), 6) AS avg_dist,
        |  round(min(dist), 6) AS min_dist,
        |  round(max(dist), 6) AS max_dist
        |FROM a WHERE rn = 1 GROUP BY cid ORDER BY centroid_id""".stripMargin,
    "d8_dedup_clusters" ->
      s"""WITH RECURSIVE
         |${OracleFragments.minhashSigsCte},
         |${OracleFragments.dedupClustersCte(0.1)}
         |SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id""".stripMargin,
    "d10_cluster_survivors" ->
      s"""WITH RECURSIVE
         |${OracleFragments.minhashSigsCte},
         |${OracleFragments.dedupClustersCte(0.1)},
         |scored AS (
         |  SELECT doc_id, ${OracleFragments.qualitySql} AS q FROM documents
         |), sel AS (
         |  SELECT c.cluster_id, c.doc_id, s.q,
         |    row_number() OVER (PARTITION BY c.cluster_id ORDER BY s.q DESC, c.doc_id)
         |      AS rn,
         |    count(*) OVER (PARTITION BY c.cluster_id) AS n_members
         |  FROM clusters c JOIN scored s USING (doc_id)
         |)
         |SELECT cluster_id, doc_id AS survivor_id, q AS best_quality, n_members
         |FROM sel WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    "d16_soft_dedup" ->
      s"""WITH RECURSIVE
         |${OracleFragments.minhashSigsCte},
         |${OracleFragments.dedupClustersCte(0.1)},
         |csz AS (
         |  SELECT cluster_id, count(*)::BIGINT AS cluster_size
         |  FROM clusters GROUP BY cluster_id
         |), cs AS (
         |  SELECT c.doc_id, c.cluster_id, s.cluster_size
         |  FROM clusters c JOIN csz s USING (cluster_id)
         |)
         |SELECT d.doc_id,
         |  coalesce(cs.cluster_id, d.doc_id) AS cluster_id,
         |  coalesce(cs.cluster_size, 1) AS cluster_size,
         |  round(1.0::DOUBLE / coalesce(cs.cluster_size, 1), 6) AS weight
         |FROM documents d LEFT JOIN cs USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    "p4_pretrain_funnel" ->
      s"""WITH RECURSIVE
         |${OracleFragments.minhashSigsCte},
         |${OracleFragments.dedupClustersCte(0.1)},
         |nt AS (
         |  SELECT doc_id, source,
         |    CAST(coalesce(len(${OracleFragments.rawToksSqlNoNorm}), 0) AS BIGINT)
         |      AS n_toks
         |  FROM documents
         |), ex1 AS (
         |  SELECT min(doc_id) AS doc_id
         |  FROM documents GROUP BY md5(${OracleFragments.normSql})
         |), scored AS (
         |  SELECT doc_id, ${OracleFragments.qualitySql} AS q FROM documents
         |), surv AS (
         |  SELECT doc_id FROM (
         |    SELECT c.doc_id,
         |      row_number() OVER (PARTITION BY c.cluster_id
         |        ORDER BY s.q DESC, c.doc_id) AS rn
         |    FROM clusters c JOIN scored s USING (doc_id)) WHERE rn = 1
         |), s2 AS (
         |  SELECT e.doc_id FROM ex1 e
         |  LEFT JOIN clusters c ON c.doc_id = e.doc_id
         |  WHERE c.doc_id IS NULL OR e.doc_id IN (SELECT doc_id FROM surv)
         |), gtoks AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
         |gs AS (
         |  SELECT doc_id, count(*) AS n_words,
         |    round(sum(length(w))::DOUBLE / count(*), 6) AS mean_word_len,
         |    round(sum(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 ELSE 0 END)::DOUBLE
         |          / count(*), 6) AS frac_alpha_words,
         |    count(DISTINCT CASE WHEN list_contains(${OracleFragments.stopListSql}, w)
         |                        THEN w END) AS n_stop_distinct,
         |    round(sum(CASE WHEN regexp_matches(w, '#|\\.\\.\\.') THEN 1 ELSE 0 END)::DOUBLE
         |          / count(*), 6) AS symbol_word_ratio
         |  FROM gtoks GROUP BY doc_id
         |), gk AS (
         |  SELECT d.doc_id FROM documents d LEFT JOIN gs s USING (doc_id)
         |  WHERE coalesce(s.n_words, 0) BETWEEN 50 AND 100000
         |    AND coalesce(s.mean_word_len, 0.0) BETWEEN 3.0 AND 10.0
         |    AND coalesce(s.frac_alpha_words, 0.0) >= 0.8
         |    AND coalesce(s.n_stop_distinct, 0) >= 2
         |    AND coalesce(s.symbol_word_ratio, 0.0) < 0.1
         |), s3 AS (
         |  SELECT doc_id FROM s2 WHERE doc_id IN (SELECT doc_id FROM gk)
         |), bt AS (
         |  SELECT t.doc_id, t.n_toks,
         |    sum(t.n_toks) OVER (PARTITION BY t.source
         |      ORDER BY ('0x' || substr(md5('budget:' || t.doc_id::VARCHAR), 1, 15))::BIGINT,
         |        t.doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM nt t JOIN s3 USING (doc_id)
         |), s4 AS (SELECT doc_id, n_toks FROM bt WHERE cum <= 800)
         |SELECT 0 AS stage, 'input' AS stage_name, count(*) AS n_docs,
         |  CAST(coalesce(sum(n_toks), 0) AS BIGINT) AS n_tokens FROM nt
         |UNION ALL SELECT 1, 'exact_dedup', count(*),
         |  CAST(coalesce(sum(n.n_toks), 0) AS BIGINT)
         |  FROM ex1 JOIN nt n USING (doc_id)
         |UNION ALL SELECT 2, 'near_dedup', count(*),
         |  CAST(coalesce(sum(n.n_toks), 0) AS BIGINT)
         |  FROM s2 JOIN nt n USING (doc_id)
         |UNION ALL SELECT 3, 'gopher', count(*),
         |  CAST(coalesce(sum(n.n_toks), 0) AS BIGINT)
         |  FROM s3 JOIN nt n USING (doc_id)
         |UNION ALL SELECT 4, 'token_budget', count(*),
         |  CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM s4
         |ORDER BY stage""".stripMargin,
    // p5 replays p4's chain, then: containment drops off the SAME
    // cands/inter/sz CTEs the cluster closure already defines (the d17
    // pair scaffold restricted to s2 survivors; raw integer/integer
    // division — IEEE-identical on both engines), then the d13
    // semantic-dedup CTEs verbatim (data-sized seed quantizer,
    // vec_id == doc_id), then gopher + budget as p4.
    "p5_full_funnel" ->
      s"""WITH RECURSIVE
         |${OracleFragments.minhashSigsCte},
         |${OracleFragments.dedupClustersCte(0.1)},
         |${OracleFragments.normVecCte},
         |${OracleFragments.ivfCellsCteDynamic()},
         |nt AS (
         |  SELECT doc_id, source,
         |    CAST(coalesce(len(${OracleFragments.rawToksSqlNoNorm}), 0) AS BIGINT)
         |      AS n_toks
         |  FROM documents
         |), ex1 AS (
         |  SELECT min(doc_id) AS doc_id
         |  FROM documents GROUP BY md5(${OracleFragments.normSql})
         |), scored AS (
         |  SELECT doc_id, ${OracleFragments.qualitySql} AS q FROM documents
         |), surv AS (
         |  SELECT doc_id FROM (
         |    SELECT c.doc_id,
         |      row_number() OVER (PARTITION BY c.cluster_id
         |        ORDER BY s.q DESC, c.doc_id) AS rn
         |    FROM clusters c JOIN scored s USING (doc_id)) WHERE rn = 1
         |), s2 AS (
         |  SELECT e.doc_id FROM ex1 e
         |  LEFT JOIN clusters c ON c.doc_id = e.doc_id
         |  WHERE c.doc_id IS NULL OR e.doc_id IN (SELECT doc_id FROM surv)
         |), cpair AS (
         |  SELECT c.a_id, c.b_id, sa.sz AS a_sz, sb.sz AS b_sz,
         |    coalesce(i.i, 0) AS it
         |  FROM cands c
         |  LEFT JOIN inter i ON i.a_id = c.a_id AND i.b_id = c.b_id
         |  JOIN sz sa ON sa.doc_id = c.a_id JOIN sz sb ON sb.doc_id = c.b_id
         |  WHERE c.a_id IN (SELECT doc_id FROM s2)
         |    AND c.b_id IN (SELECT doc_id FROM s2)
         |), closers AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT CASE WHEN it::DOUBLE / a_sz >= 0.5 AND a_sz < b_sz
         |      THEN a_id END AS doc_id FROM cpair
         |    UNION ALL
         |    SELECT CASE WHEN it::DOUBLE / b_sz >= 0.5 AND b_sz <= a_sz
         |      THEN b_id END FROM cpair
         |  ) WHERE doc_id IS NOT NULL
         |), s3c AS (
         |  SELECT doc_id FROM s2
         |  WHERE doc_id NOT IN (SELECT doc_id FROM closers)
         |), spr AS (
         |  SELECT a.cell, a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM cellassign a JOIN cellassign b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |), sdup AS (
         |  SELECT DISTINCT p.b_id
         |  FROM spr p
         |  JOIN vn x ON x.vec_id = p.a_id
         |  JOIN vn y ON y.vec_id = p.b_id
         |  WHERE round(list_sum(list_transform(range(1, 65),
         |    i -> x.en[i] * y.en[i])), 6) >= 0.3
         |), s4c AS (
         |  SELECT doc_id FROM s3c WHERE doc_id NOT IN (SELECT b_id FROM sdup)
         |), gtoks AS (SELECT doc_id, unnest($toksSql) AS w FROM documents),
         |gs AS (
         |  SELECT doc_id, count(*) AS n_words,
         |    round(sum(length(w))::DOUBLE / count(*), 6) AS mean_word_len,
         |    round(sum(CASE WHEN regexp_matches(w, '[a-z]') THEN 1 ELSE 0 END)::DOUBLE
         |          / count(*), 6) AS frac_alpha_words,
         |    count(DISTINCT CASE WHEN list_contains(${OracleFragments.stopListSql}, w)
         |                        THEN w END) AS n_stop_distinct,
         |    round(sum(CASE WHEN regexp_matches(w, '#|\\.\\.\\.') THEN 1 ELSE 0 END)::DOUBLE
         |          / count(*), 6) AS symbol_word_ratio
         |  FROM gtoks GROUP BY doc_id
         |), gk AS (
         |  SELECT d.doc_id FROM documents d LEFT JOIN gs s USING (doc_id)
         |  WHERE coalesce(s.n_words, 0) BETWEEN 50 AND 100000
         |    AND coalesce(s.mean_word_len, 0.0) BETWEEN 3.0 AND 10.0
         |    AND coalesce(s.frac_alpha_words, 0.0) >= 0.8
         |    AND coalesce(s.n_stop_distinct, 0) >= 2
         |    AND coalesce(s.symbol_word_ratio, 0.0) < 0.1
         |), s5c AS (
         |  SELECT doc_id FROM s4c WHERE doc_id IN (SELECT doc_id FROM gk)
         |), bt AS (
         |  SELECT t.doc_id, t.n_toks,
         |    sum(t.n_toks) OVER (PARTITION BY t.source
         |      ORDER BY ('0x' || substr(md5('budget:' || t.doc_id::VARCHAR), 1, 15))::BIGINT,
         |        t.doc_id ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM nt t JOIN s5c USING (doc_id)
         |), s6c AS (SELECT doc_id, n_toks FROM bt WHERE cum <= 800)
         |SELECT 0 AS stage, 'input' AS stage_name, count(*) AS n_docs,
         |  CAST(coalesce(sum(n_toks), 0) AS BIGINT) AS n_tokens FROM nt
         |UNION ALL SELECT 1, 'exact_dedup', count(*),
         |  CAST(coalesce(sum(n.n_toks), 0) AS BIGINT)
         |  FROM ex1 JOIN nt n USING (doc_id)
         |UNION ALL SELECT 2, 'near_dedup', count(*),
         |  CAST(coalesce(sum(n.n_toks), 0) AS BIGINT)
         |  FROM s2 JOIN nt n USING (doc_id)
         |UNION ALL SELECT 3, 'containment', count(*),
         |  CAST(coalesce(sum(n.n_toks), 0) AS BIGINT)
         |  FROM s3c JOIN nt n USING (doc_id)
         |UNION ALL SELECT 4, 'semantic', count(*),
         |  CAST(coalesce(sum(n.n_toks), 0) AS BIGINT)
         |  FROM s4c JOIN nt n USING (doc_id)
         |UNION ALL SELECT 5, 'gopher', count(*),
         |  CAST(coalesce(sum(n.n_toks), 0) AS BIGINT)
         |  FROM s5c JOIN nt n USING (doc_id)
         |UNION ALL SELECT 6, 'token_budget', count(*),
         |  CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM s6c
         |ORDER BY stage""".stripMargin,
    "c8_dedup_impact" ->
      s"""WITH RECURSIVE
         |${OracleFragments.minhashSigsCte},
         |${OracleFragments.dedupClustersCte(0.1)},
         |nt AS (
         |  SELECT doc_id, source,
         |    CAST(coalesce(len(${OracleFragments.rawToksSqlNoNorm}), 0) AS BIGINT)
         |      AS n_toks
         |  FROM documents
         |), ex1 AS (
         |  SELECT min(doc_id) AS doc_id
         |  FROM documents GROUP BY md5(${OracleFragments.normSql})
         |), scored AS (
         |  SELECT doc_id, ${OracleFragments.qualitySql} AS q FROM documents
         |), surv AS (
         |  SELECT doc_id FROM (
         |    SELECT c.doc_id,
         |      row_number() OVER (PARTITION BY c.cluster_id
         |        ORDER BY s.q DESC, c.doc_id) AS rn
         |    FROM clusters c JOIN scored s USING (doc_id)) WHERE rn = 1
         |), s2 AS (
         |  SELECT e.doc_id FROM ex1 e
         |  LEFT JOIN clusters c ON c.doc_id = e.doc_id
         |  WHERE c.doc_id IS NULL OR e.doc_id IN (SELECT doc_id FROM surv)
         |), base AS (
         |  SELECT source, count(*) AS docs_total,
         |    CAST(coalesce(sum(n_toks), 0) AS BIGINT) AS tokens_total
         |  FROM nt GROUP BY source
         |), exa AS (
         |  SELECT n.source, count(*) AS docs_exact,
         |    CAST(coalesce(sum(n.n_toks), 0) AS BIGINT) AS tokens_exact
         |  FROM ex1 JOIN nt n USING (doc_id) GROUP BY n.source
         |), nr AS (
         |  SELECT n.source, count(*) AS docs_near,
         |    CAST(coalesce(sum(n.n_toks), 0) AS BIGINT) AS tokens_near
         |  FROM s2 JOIN nt n USING (doc_id) GROUP BY n.source
         |)
         |SELECT b.source, b.docs_total,
         |  coalesce(e.docs_exact, 0) AS docs_exact,
         |  coalesce(nr.docs_near, 0) AS docs_near,
         |  b.tokens_total,
         |  coalesce(e.tokens_exact, 0) AS tokens_exact,
         |  coalesce(nr.tokens_near, 0) AS tokens_near,
         |  CASE WHEN b.tokens_total > 0
         |    THEN round(1.0 - coalesce(nr.tokens_near, 0)::DOUBLE
         |      / b.tokens_total::DOUBLE, 6)
         |    ELSE 0.0 END AS token_reduction
         |FROM base b LEFT JOIN exa e USING (source) LEFT JOIN nr USING (source)
         |ORDER BY source""".stripMargin,
    "d11_incremental_dedup" ->
      s"""WITH
         |${OracleFragments.minhashSigsCte},
         |tagged AS (SELECT doc_id, (doc_id % 10 = 7) AS is_new FROM documents),
         |ch AS (SELECT doc_id, md5(${OracleFragments.normSql}) AS content_md5 FROM documents),
         |corpus_md5 AS (
         |  SELECT DISTINCT content_md5 FROM ch JOIN tagged USING (doc_id) WHERE NOT is_new
         |), bands AS (
         |  SELECT doc_id, k // 2 AS band,
         |    string_agg(k || ':' || minhash, ',' ORDER BY k) AS band_key
         |  FROM sigs GROUP BY doc_id, k // 2
         |), cand AS (
         |  SELECT DISTINCT nb.doc_id AS new_id, ob.doc_id AS old_id
         |  FROM bands nb JOIN tagged tn ON tn.doc_id = nb.doc_id AND tn.is_new
         |  JOIN bands ob ON ob.band = nb.band AND ob.band_key = nb.band_key
         |  JOIN tagged toa ON toa.doc_id = ob.doc_id AND NOT toa.is_new
         |), exh AS (
         |  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM ex
         |), sz AS (SELECT doc_id, count(*) AS sz FROM exh GROUP BY doc_id),
         |inter AS (
         |  SELECT c.new_id, c.old_id, count(*) AS i
         |  FROM cand c JOIN exh ea ON ea.doc_id = c.new_id
         |              JOIN exh eb ON eb.doc_id = c.old_id AND eb.h = ea.h
         |  GROUP BY 1, 2
         |), near AS (
         |  SELECT i.new_id, count(*) AS n_near
         |  FROM inter i JOIN sz sa ON sa.doc_id = i.new_id
         |               JOIN sz sb ON sb.doc_id = i.old_id
         |  WHERE i.i::DOUBLE / (sa.sz + sb.sz - i.i) >= 0.1
         |  GROUP BY 1
         |)
         |SELECT t.doc_id,
         |  (ch.content_md5 IN (SELECT content_md5 FROM corpus_md5)) AS is_exact_dup,
         |  coalesce(n.n_near, 0) AS n_near_dups,
         |  (NOT (ch.content_md5 IN (SELECT content_md5 FROM corpus_md5))
         |   AND coalesce(n.n_near, 0) = 0) AS kept
         |FROM tagged t JOIN ch USING (doc_id)
         |LEFT JOIN near n ON n.new_id = t.doc_id
         |WHERE t.is_new ORDER BY t.doc_id""".stripMargin,
    "q28_funnel" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |v AS (SELECT user_id, min(ts) AS v_ts FROM events
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.v_ts
        |        AND e.ts <= v.v_ts + INTERVAL 1 HOUR GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
        |        AND e.ts <= c.c_ts + INTERVAL 1 HOUR GROUP BY 1)
        |SELECT CASE WHEN p_ts IS NOT NULL THEN 3
        |            WHEN c_ts IS NOT NULL THEN 2
        |            WHEN v_ts IS NOT NULL THEN 1 ELSE 0 END AS stage_reached,
        |  count(*) AS n_users
        |FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
        |LEFT JOIN p USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "c3_source_overlap" ->
      s"""WITH sh AS (
         |  SELECT doc_id, source, ${OracleFragments.shinglesSql(3)} AS sh FROM documents
         |), ex AS (
         |  SELECT DISTINCT source, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
         |  FROM (SELECT source, unnest(sh) AS s FROM sh)
         |), sizes AS (SELECT source, count(*) AS n FROM ex GROUP BY source),
         |shared AS (
         |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
         |  FROM ex a JOIN ex b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2
         |)
         |SELECT src_a, src_b, n_shared,
         |  round(n_shared::DOUBLE / least(sa.n, sb.n), 6) AS overlap
         |FROM shared
         |JOIN sizes sa ON sa.source = shared.src_a
         |JOIN sizes sb ON sb.source = shared.src_b
         |ORDER BY src_a, src_b""".stripMargin,
    "e3_cluster_quality" ->
      s"""WITH ${OracleFragments.normVecCte},
         |${OracleFragments.ivfCellsCteDynamic()},
         |rk AS (
         |  SELECT vec_id, cid, dist,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |  FROM d1
         |)
         |SELECT o.cid AS cell, count(*) AS n,
         |  round(avg(o.dist), 6) AS avg_own,
         |  round(avg(r.dist), 6) AS avg_next,
         |  round(avg(o.dist) / avg(r.dist), 6) AS separation
         |FROM (SELECT * FROM rk WHERE rn = 1) o
         |JOIN (SELECT * FROM rk WHERE rn = 2) r USING (vec_id)
         |GROUP BY o.cid ORDER BY cell""".stripMargin,
    "x19_weighted_sample" ->
      s"""WITH keyed AS (
         |  SELECT source, doc_id,
         |    round(-ln((('0x' || substr(md5('ws:' || doc_id::VARCHAR), 1, 15))::BIGINT + 1)::DOUBLE
         |        / 1152921504606846976.0)
         |      / greatest(${OracleFragments.qualitySql}, 0.01), 6) AS sample_key
         |  FROM documents
         |)
         |SELECT source, rk, doc_id, sample_key FROM (
         |  SELECT source, doc_id, sample_key,
         |    row_number() OVER (PARTITION BY source ORDER BY sample_key, doc_id) AS rk
         |  FROM keyed
         |) WHERE rk <= 10 ORDER BY source, rk""".stripMargin,
    "d13_semantic_dedup" ->
      s"""WITH ${OracleFragments.normVecCte},
         |${OracleFragments.ivfCellsCteDynamic()},
         |pr AS (
         |  SELECT a.cell, a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM cellassign a JOIN cellassign b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |), dup AS (
         |  SELECT DISTINCT p.b_id
         |  FROM pr p
         |  JOIN vn x ON x.vec_id = p.a_id
         |  JOIN vn y ON y.vec_id = p.b_id
         |  WHERE round(list_sum(list_transform(range(1, 65),
         |    i -> x.en[i] * y.en[i])), 6) >= 0.3
         |)
         |SELECT c.vec_id, c.cell,
         |  (c.vec_id NOT IN (SELECT b_id FROM dup)) AS kept
         |FROM cellassign c ORDER BY c.vec_id""".stripMargin,
    "s14_graph_ann" -> {
      // one CTE pair (frontier, expansion+union) per beam round — the
      // walk is bounded and deterministic, so fixed-depth SQL replays
      // it exactly (beam/M/rounds/nprobe from GraphAnnParams, entry =
      // the smallest non-query id of each probed cell). Graph
      // construction + entry CTEs and the walk generator are shared
      // with the s15 beam sweep (graphOracleBaseSql/graphWalkSql).
      s"""WITH ${OracleFragments.normVecCte},
         |${OracleFragments.ivfCellsCteDynamic()},
         |$graphOracleBaseSql,
         |${graphWalkSql("", GraphAnnParams.Beam)}
         |SELECT query_id, vec_id AS neighbor_id, cos_sim, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, vec_id) AS rank
         |  FROM v${GraphAnnParams.Rounds}) WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },
    "s15_graph_tuning" -> {
      import GraphAnnParams._
      val walks = TuningBeams.map { b =>
        s"""${graphWalkSql(s"b${b}_", b)},
           |top_$b AS (
           |  SELECT query_id, vec_id AS neighbor_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY cos_sim DESC, vec_id) AS rank
           |    FROM b${b}_v$Rounds) WHERE rank <= 5
           |), row_$b AS (
           |  SELECT $b AS beam,
           |    (SELECT count(*) FROM b${b}_v$Rounds)::BIGINT AS n_visited,
           |    sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           |      AS n_hits,
           |    count(*)::BIGINT AS n_true
           |  FROM exact e LEFT JOIN top_$b t
           |    ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${OracleFragments.normVecCte},
         |${OracleFragments.ivfCellsCteDynamic()},
         |$graphOracleBaseSql,
         |escored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_sum(list_transform(range(1, 65),
         |      i -> q.en[i] * c.en[i])), 6) AS cos_sim
         |  FROM vn q JOIN vn c ON q.vec_id < 20 AND q.vec_id <> c.vec_id
         |), exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, neighbor_id) AS rank
         |    FROM escored
         |  ) WHERE rank <= 5
         |),
         |$walks
         |SELECT beam, n_visited, n_hits, n_true,
         |  CASE WHEN n_true > 0
         |    THEN CAST(floor(n_hits::DOUBLE * 1000000 / n_true::DOUBLE) AS BIGINT)
         |    ELSE 0 END AS recall_micro
         |FROM (${TuningBeams.map(b => s"SELECT * FROM row_$b")
                  .mkString(" UNION ALL ")})
         |ORDER BY beam""".stripMargin
    },
    "s13_pq_tuning" -> {
      val depthCtes = Seq(8, 16, 32, 64).map { d =>
        s"""top_$d AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY cos_sim DESC, neighbor_id) AS rank
           |    FROM sl WHERE adc_rank <= $d
           |  ) WHERE rank <= 5
           |), row_$d AS (
           |  SELECT $d AS rerank_depth,
           |    sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
           |      AS n_hits,
           |    count(*)::BIGINT AS n_true
           |  FROM exact e LEFT JOIN top_$d t
           |    ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${OracleFragments.normVecCte},
         |${OracleFragments.pqCtes},
         |adcscored AS (
         |  SELECT q.query_id, n.vec_id AS neighbor_id,
         |    round(list_sum(list_transform(range(1, 17),
         |      j -> q.luts[j][n.codes[j] + 1])), 6) AS approx_cos
         |  FROM luts q JOIN codes n ON q.query_id <> n.vec_id
         |), sl AS (
         |  SELECT query_id, neighbor_id, adc_rank,
         |    round(list_sum(list_transform(range(1, 65),
         |      i -> qe.en[i] * ne.en[i])), 6) AS cos_sim
         |  FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx_cos DESC, neighbor_id) AS adc_rank
         |    FROM adcscored
         |  ) s
         |  JOIN vn qe ON qe.vec_id = s.query_id
         |  JOIN vn ne ON ne.vec_id = s.neighbor_id
         |  WHERE adc_rank <= 64
         |), escored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_sum(list_transform(range(1, 65),
         |      i -> q.en[i] * c.en[i])), 6) AS cos_sim
         |  FROM vn q JOIN vn c ON q.vec_id < 20 AND q.vec_id <> c.vec_id
         |), exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_sim DESC, neighbor_id) AS rank
         |    FROM escored
         |  ) WHERE rank <= 5
         |),
         |$depthCtes
         |SELECT rerank_depth, n_hits, n_true,
         |  CASE WHEN n_true > 0
         |    THEN CAST(floor(n_hits::DOUBLE * 1000000 / n_true::DOUBLE) AS BIGINT)
         |    ELSE 0 END AS recall_micro
         |FROM (
         |  SELECT * FROM row_8 UNION ALL SELECT * FROM row_16
         |  UNION ALL SELECT * FROM row_32 UNION ALL SELECT * FROM row_64
         |) ORDER BY rerank_depth""".stripMargin
    },
    "s11_ivfpq" ->
      s"""WITH ${OracleFragments.normVecCte},
         |${OracleFragments.ivfCellsCteDynamic()},
         |${OracleFragments.pqCtes},
         |probes AS (
         |  SELECT vec_id AS query_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d1 WHERE vec_id < 20) WHERE rn <= 4
         |), cands AS (
         |  SELECT p.query_id, ix.vec_id AS neighbor_id
         |  FROM probes p JOIN cellassign ix ON ix.cell = p.cell
         |  WHERE ix.vec_id <> p.query_id
         |), scored AS (
         |  SELECT cand.query_id, cand.neighbor_id,
         |    round(list_sum(list_transform(range(1, 17),
         |      j -> q.luts[j][n.codes[j] + 1])), 6) AS approx_cos
         |  FROM cands cand
         |  JOIN luts q ON q.query_id = cand.query_id
         |  JOIN codes n ON n.vec_id = cand.neighbor_id
         |), shortlist AS (
         |  SELECT query_id, neighbor_id, approx_cos,
         |    round(list_sum(list_transform(range(1, 65),
         |      i -> qe.en[i] * ne.en[i])), 6) AS cos_sim
         |  FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY approx_cos DESC, neighbor_id) AS adc_rank
         |    FROM scored
         |  ) s
         |  JOIN vn qe ON qe.vec_id = s.query_id
         |  JOIN vn ne ON ne.vec_id = s.neighbor_id
         |  WHERE adc_rank <= 32
         |)
         |SELECT query_id, neighbor_id, approx_cos, cos_sim, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS rank
         |  FROM shortlist
         |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "s12_margin_mining" ->
      s"""WITH ${OracleFragments.normVecCte},
         |${OracleFragments.ivfCellsCteDynamic()},
         |sides AS (
         |  SELECT c.vec_id, c.cell, v.en FROM cellassign c
         |  JOIN vn v USING (vec_id)
         |), pairs AS (
         |  SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
         |    CAST(floor(list_sum(list_transform(range(1, 65),
         |      i -> s.en[i] * t.en[i])) * 1e6) AS BIGINT) AS cos_micro
         |  FROM sides s JOIN sides t ON s.cell = t.cell
         |  WHERE s.vec_id % 2 = 0 AND t.vec_id % 2 = 1
         |), ranked AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY src_id
         |      ORDER BY cos_micro DESC, tgt_id) AS f_rank,
         |    row_number() OVER (PARTITION BY tgt_id
         |      ORDER BY cos_micro DESC, src_id) AS b_rank
         |  FROM pairs
         |), fwd AS (
         |  SELECT src_id, sum(cos_micro) AS f_sum, count(*) AS f_n
         |  FROM ranked WHERE f_rank <= 4 GROUP BY src_id
         |), bwd AS (
         |  SELECT tgt_id, sum(cos_micro) AS b_sum, count(*) AS b_n
         |  FROM ranked WHERE b_rank <= 4 GROUP BY tgt_id
         |)
         |SELECT r.src_id, r.tgt_id,
         |  r.cos_micro / 1e6 AS cos_sim,
         |  -- NULL when the denominator is non-positive (ratio margin
         |  -- undefined for non-positive neighborhood similarity sums),
         |  -- in lockstep with the engine's guard
         |  CASE WHEN f.f_sum * b.b_n + b.b_sum * f.f_n > 0
         |    THEN round(2.0 * r.cos_micro * f.f_n * b.b_n /
         |      (f.f_sum * b.b_n + b.b_sum * f.f_n), 6)
         |    ELSE NULL END AS margin,
         |  r.f_rank AS rank,
         |  r.b_rank <= 4 AS mutual
         |FROM ranked r JOIN fwd f USING (src_id) JOIN bwd b USING (tgt_id)
         |WHERE r.f_rank <= 4
         |ORDER BY r.src_id, r.f_rank""".stripMargin,
    "s3_ann_ivf" ->
      s"""WITH ${OracleFragments.normVecCte},
         |${OracleFragments.ivfCellsCteDynamic()},
         |probes AS (
         |  SELECT vec_id AS query_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d1 WHERE vec_id < 20) WHERE rn <= 4
         |), cands AS (
         |  SELECT p.query_id, ix.vec_id AS neighbor_id
         |  FROM probes p JOIN cellassign ix ON ix.cell = p.cell
         |  WHERE ix.vec_id <> p.query_id
         |), scored AS (
         |  SELECT cand.query_id, cand.neighbor_id,
         |    round(list_sum(list_transform(range(1, 65), i -> q.en[i] * c.en[i])), 6) AS cos_sim
         |  FROM cands cand
         |  JOIN vn q ON q.vec_id = cand.query_id
         |  JOIN vn c ON c.vec_id = cand.neighbor_id
         |)
         |SELECT query_id, neighbor_id, cos_sim, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)
         |    AS rank
         |  FROM scored
         |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "s16_filtered_ann" ->
      s"""WITH ${OracleFragments.normVecCte},
         |${OracleFragments.ivfCellsCteDynamic()},
         |probes AS (
         |  SELECT vec_id AS query_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d1 WHERE vec_id < 20) WHERE rn <= 4
         |), cands AS (
         |  -- the label equi-join IS the filter: only probed-cell
         |  -- vectors sharing the query's label are ever scored,
         |  -- mirroring the engine's (cell, label) partition pruning
         |  SELECT p.query_id, q.label, ix.vec_id AS neighbor_id
         |  FROM probes p
         |  JOIN vn q ON q.vec_id = p.query_id
         |  JOIN cellassign ix ON ix.cell = p.cell
         |  JOIN vn c ON c.vec_id = ix.vec_id AND c.label = q.label
         |  WHERE ix.vec_id <> p.query_id
         |), fscored AS (
         |  SELECT cand.query_id, cand.neighbor_id, cand.label,
         |    round(list_sum(list_transform(range(1, 65), i -> q.en[i] * c.en[i])), 6) AS cos_sim
         |  FROM cands cand
         |  JOIN vn q ON q.vec_id = cand.query_id
         |  JOIN vn c ON c.vec_id = cand.neighbor_id
         |)
         |SELECT query_id, neighbor_id, label, cos_sim, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)
         |    AS rank
         |  FROM fscored
         |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "s17_ivf_append" ->
      s"""WITH ${OracleFragments.normVecCte},
         |${OracleFragments.ivfCellsCteDynamic("vec_id % 5 <> 4")},
         |probes AS (
         |  SELECT vec_id AS query_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d1 WHERE vec_id < 20) WHERE rn <= 4
         |), cands AS (
         |  SELECT p.query_id, ix.vec_id AS neighbor_id
         |  FROM probes p JOIN cellassign ix ON ix.cell = p.cell
         |  WHERE ix.vec_id <> p.query_id
         |), ascored AS (
         |  SELECT cand.query_id, cand.neighbor_id,
         |    round(list_sum(list_transform(range(1, 65), i -> q.en[i] * c.en[i])), 6) AS cos_sim
         |  FROM cands cand
         |  JOIN vn q ON q.vec_id = cand.query_id
         |  JOIN vn c ON c.vec_id = cand.neighbor_id
         |)
         |SELECT query_id, neighbor_id, cos_sim, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)
         |    AS rank
         |  FROM ascored
         |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // s17's replay with the tombstoned ids excluded from the candidate
    // set — a compacted index is observationally the appended index
    // minus its deletes, which is exactly what the anti-join predicate
    // asserts (the file-count collapse is spec-asserted, not hashable)
    "s18_ivf_compact" ->
      s"""WITH ${OracleFragments.normVecCte},
         |${OracleFragments.ivfCellsCteDynamic("vec_id % 5 <> 4")},
         |probes AS (
         |  SELECT vec_id AS query_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d1 WHERE vec_id < 20) WHERE rn <= 4
         |), cands AS (
         |  SELECT p.query_id, ix.vec_id AS neighbor_id
         |  FROM probes p JOIN cellassign ix ON ix.cell = p.cell
         |  WHERE ix.vec_id <> p.query_id AND ix.vec_id % 7 <> 3
         |), cscored AS (
         |  SELECT cand.query_id, cand.neighbor_id,
         |    round(list_sum(list_transform(range(1, 65), i -> q.en[i] * c.en[i])), 6) AS cos_sim
         |  FROM cands cand
         |  JOIN vn q ON q.vec_id = cand.query_id
         |  JOIN vn c ON c.vec_id = cand.neighbor_id
         |)
         |SELECT query_id, neighbor_id, cos_sim, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)
         |    AS rank
         |  FROM cscored
         |) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // hybrid RRF: the s3 probe replay supplies cosine ranks; exact
    // 3-gram Jaccard over the SAME candidate pairs supplies lexical
    // ranks (distinct 60-bit gram hashes — the engine kernel's set);
    // both divisions are single IEEE ops so the fused doubles match
    "s19_hybrid_rerank" ->
      s"""WITH ${OracleFragments.normVecCte},
         |${OracleFragments.ivfCellsCteDynamic()},
         |probes AS (
         |  SELECT vec_id AS query_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d1 WHERE vec_id < 20) WHERE rn <= 4
         |), cands AS (
         |  SELECT p.query_id, ix.vec_id AS neighbor_id
         |  FROM probes p JOIN cellassign ix ON ix.cell = p.cell
         |  WHERE ix.vec_id <> p.query_id
         |), hscored AS (
         |  SELECT cand.query_id, cand.neighbor_id,
         |    round(list_sum(list_transform(range(1, 65), i -> q.en[i] * c.en[i])), 6) AS cos_sim
         |  FROM cands cand
         |  JOIN vn q ON q.vec_id = cand.query_id
         |  JOIN vn c ON c.vec_id = cand.neighbor_id
         |), cosr AS (
         |  SELECT query_id, neighbor_id, cos_rank FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos_sim DESC, neighbor_id) AS cos_rank
         |    FROM hscored) WHERE cos_rank <= ${hybridShortlistC}
         |), gd AS (
         |  SELECT DISTINCT doc_id,
         |    ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
         |  FROM (SELECT doc_id, unnest(${OracleFragments.shinglesSql(3)}) AS s
         |        FROM documents)
         |), gsz AS (SELECT doc_id, count(*) AS sz FROM gd GROUP BY doc_id),
         |ginter AS (
         |  SELECT c.query_id, c.neighbor_id, count(*) AS i
         |  FROM cosr c
         |  JOIN gd a ON a.doc_id = c.query_id
         |  JOIN gd b ON b.doc_id = c.neighbor_id AND b.h = a.h
         |  GROUP BY 1, 2
         |), jac AS (
         |  SELECT c.query_id, c.neighbor_id, c.cos_rank,
         |    coalesce(i.i, 0)::DOUBLE / (sa.sz + sb.sz - coalesce(i.i, 0)) AS jac
         |  FROM cosr c
         |  JOIN gsz sa ON sa.doc_id = c.query_id
         |  JOIN gsz sb ON sb.doc_id = c.neighbor_id
         |  LEFT JOIN ginter i
         |    ON i.query_id = c.query_id AND i.neighbor_id = c.neighbor_id
         |), fused AS (
         |  SELECT query_id, neighbor_id, cos_rank,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY jac DESC, neighbor_id) AS jac_rank,
         |    jac
         |  FROM jac
         |), rrfd AS (
         |  SELECT query_id, neighbor_id, cos_rank, jac_rank,
         |    CAST(floor(jac * 1e6) AS BIGINT) AS jac_micro,
         |    1.0 / (60 + cos_rank) + 1.0 / (60 + jac_rank) AS rrf
         |  FROM fused
         |)
         |SELECT query_id, neighbor_id, cos_rank, jac_rank, jac_micro,
         |  CAST(floor(rrf * 1e9) AS BIGINT) AS rrf_nano, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, neighbor_id) AS rank
         |  FROM rrfd) WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    "s20_hybrid_bm25" ->
      s"""WITH ${OracleFragments.normVecCte},
         |${OracleFragments.ivfCellsCteDynamic()},
         |probes AS (
         |  SELECT vec_id AS query_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d1 WHERE vec_id < 20) WHERE rn <= 4
         |), cands AS (
         |  SELECT p.query_id, ix.vec_id AS neighbor_id
         |  FROM probes p JOIN cellassign ix ON ix.cell = p.cell
         |  WHERE ix.vec_id <> p.query_id
         |), hscored AS (
         |  SELECT cand.query_id, cand.neighbor_id,
         |    round(list_sum(list_transform(range(1, 65), i -> q.en[i] * c.en[i])), 6) AS cos_sim
         |  FROM cands cand
         |  JOIN vn q ON q.vec_id = cand.query_id
         |  JOIN vn c ON c.vec_id = cand.neighbor_id
         |), cosr AS (
         |  SELECT query_id, neighbor_id, cos_rank FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos_sim DESC, neighbor_id) AS cos_rank
         |    FROM hscored) WHERE cos_rank <= ${hybridShortlistC}
         |), gpos AS (
         |  SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
         |  FROM (SELECT doc_id, unnest(${OracleFragments.posGramsSql(3)}) AS s
         |        FROM documents)
         |), glen AS (SELECT doc_id, count(*) AS dl FROM gpos GROUP BY doc_id),
         |astats AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM glen),
         |nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
         |qg AS (SELECT DISTINCT doc_id AS query_id, h FROM gpos WHERE doc_id < 20),
         |qh AS (SELECT DISTINCT h FROM qg),
         |gdist AS (SELECT DISTINCT doc_id, h FROM gpos),
         |dfq AS (
         |  SELECT h, count(*) AS df FROM gdist
         |  WHERE h IN (SELECT h FROM qh) GROUP BY h
         |), tfq AS (
         |  SELECT doc_id AS neighbor_id, h, count(*) AS tf FROM gpos
         |  WHERE h IN (SELECT h FROM qh) GROUP BY doc_id, h
         |), contrib AS (
         |  SELECT q.query_id, tf.neighbor_id,
         |    CAST(floor(
         |      (round(ln((nd.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0), 6)
         |        * (tf.tf * (1.2 + 1.0))
         |        / (tf.tf + 1.2 * (1.0 - 0.75 + (0.75 * l.dl) / astats.avgdl)))
         |      * 1e6) AS BIGINT) AS c_micro
         |  FROM tfq tf JOIN qg q USING (h) JOIN dfq d USING (h)
         |  JOIN glen l ON l.doc_id = tf.neighbor_id, astats, nd
         |), bm AS (
         |  SELECT query_id, neighbor_id, sum(c_micro)::BIGINT AS bm25_micro
         |  FROM contrib GROUP BY 1, 2
         |), withbm AS (
         |  SELECT c.query_id, c.neighbor_id, c.cos_rank,
         |    coalesce(b.bm25_micro, 0) AS bm25_micro
         |  FROM cosr c LEFT JOIN bm b
         |    ON b.query_id = c.query_id AND b.neighbor_id = c.neighbor_id
         |), fusedb AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY bm25_micro DESC, neighbor_id) AS bm25_rank
         |  FROM withbm
         |), rrfb AS (
         |  SELECT query_id, neighbor_id, cos_rank, bm25_rank, bm25_micro,
         |    1.0 / (60 + cos_rank) + 1.0 / (60 + bm25_rank) AS rrf
         |  FROM fusedb
         |)
         |SELECT query_id, neighbor_id, cos_rank, bm25_rank, bm25_micro,
         |  CAST(floor(rrf * 1e9) AS BIGINT) AS rrf_nano, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf DESC, neighbor_id) AS rank
         |  FROM rrfb) WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    "s21_semantic_contamination" ->
      s"""WITH ${OracleFragments.normVecCte},
         |${OracleFragments.ivfCellsCteDynamic(AuditQuantizer.trainPredSql)},
         |tcell AS (
         |  SELECT vec_id AS train_id, cell FROM cellassign
         |  WHERE vec_id % 10 <> 7
         |), eprobe AS (
         |  SELECT vec_id AS eval_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d1 WHERE vec_id % 10 = 7) WHERE rn <= 4
         |), chits AS (
         |  SELECT t.train_id, e.eval_id,
         |    round(list_sum(list_transform(range(1, 65),
         |      i -> a.en[i] * b.en[i])), 6) AS cos
         |  FROM tcell t JOIN eprobe e USING (cell)
         |  JOIN vn a ON a.vec_id = t.train_id
         |  JOIN vn b ON b.vec_id = e.eval_id
         |)
         |SELECT train_id, count(*) AS n_eval_matches, max(cos) AS max_cos
         |FROM chits WHERE cos >= 0.3
         |GROUP BY train_id ORDER BY train_id""".stripMargin,
    // s21 with the probe depth re-derived from the trained k on BOTH
    // engines: rn <= ceil(f * k) replays Clustering.fractionNprobe
    // (ceil of f * a small int is exact in both engines). k is the
    // ACTUAL centroid count — count(seeds), NOT nc.k: seeds are the
    // vec_id < nc.k rows OF THE FILTERED train corpus, so the audit
    // exclusions leave fewer real cells than the formula k (caught
    // live at sf0.1: engine ceil(0.25*23)=6 probes vs a formula-k
    // oracle's ceil(0.25*29)=8)
    "s22_semantic_contamination_frac" ->
      s"""WITH ${OracleFragments.normVecCte},
         |${OracleFragments.ivfCellsCteDynamic(AuditQuantizer.trainPredSql)},
         |tcell AS (
         |  SELECT vec_id AS train_id, cell FROM cellassign
         |  WHERE vec_id % 10 <> 7
         |), eprobe AS (
         |  SELECT vec_id AS eval_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d1 WHERE vec_id % 10 = 7)
         |  WHERE rn <= CAST(ceil($auditCellFraction * (SELECT count(*) FROM seeds)) AS INT)
         |), chits AS (
         |  SELECT t.train_id, e.eval_id,
         |    round(list_sum(list_transform(range(1, 65),
         |      i -> a.en[i] * b.en[i])), 6) AS cos
         |  FROM tcell t JOIN eprobe e USING (cell)
         |  JOIN vn a ON a.vec_id = t.train_id
         |  JOIN vn b ON b.vec_id = e.eval_id
         |)
         |SELECT train_id, count(*) AS n_eval_matches, max(cos) AS max_cos
         |FROM chits WHERE cos >= 0.3
         |GROUP BY train_id ORDER BY train_id""".stripMargin,
    "s8_ivf_recall" ->
      s"""WITH ${OracleFragments.normVecCte},
         |${OracleFragments.ivfCellsCteDynamic()},
         |escored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_sum(list_transform(range(1, 65), i -> q.en[i] * c.en[i])), 6) AS cos_sim
         |  FROM vn q JOIN vn c ON q.vec_id < 20 AND q.vec_id <> c.vec_id
         |), exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)
         |      AS rank
         |    FROM escored
         |  ) WHERE rank <= 5
         |), probes AS (
         |  SELECT vec_id AS query_id, cid AS cell FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
         |    FROM d1 WHERE vec_id < 20) WHERE rn <= 4
         |), acands AS (
         |  SELECT p.query_id, ix.vec_id AS neighbor_id
         |  FROM probes p JOIN cellassign ix ON ix.cell = p.cell
         |  WHERE ix.vec_id <> p.query_id
         |), ascored AS (
         |  SELECT cand.query_id, cand.neighbor_id,
         |    round(list_sum(list_transform(range(1, 65), i -> q.en[i] * c.en[i])), 6) AS cos_sim
         |  FROM acands cand
         |  JOIN vn q ON q.vec_id = cand.query_id
         |  JOIN vn c ON c.vec_id = cand.neighbor_id
         |), ann AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)
         |      AS rank
         |    FROM ascored
         |  ) WHERE rank <= 5
         |)
         |SELECT e.query_id, count(*) AS k,
         |  sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits,
         |  round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*), 6) AS recall_at_k
         |FROM exact e LEFT JOIN ann a
         |  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin,
    "s9_ivf_tuning" -> {
      val probeCtes = Seq(1, 2, 4, 8).map { p =>
        s"""probes_$p AS (
           |  SELECT vec_id AS query_id, cid AS cell FROM (
           |    SELECT vec_id, cid,
           |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
           |    FROM d1 WHERE vec_id < 20) WHERE rn <= $p
           |), cands_$p AS (
           |  SELECT p.query_id, ix.vec_id AS neighbor_id
           |  FROM probes_$p p JOIN cellassign ix ON ix.cell = p.cell
           |  WHERE ix.vec_id <> p.query_id
           |), scored_$p AS (
           |  SELECT c.query_id, c.neighbor_id,
           |    round(list_sum(list_transform(range(1, 65), i -> q.en[i] * n.en[i])), 6) AS cos_sim
           |  FROM cands_$p c
           |  JOIN vn q ON q.vec_id = c.query_id
           |  JOIN vn n ON n.vec_id = c.neighbor_id
           |), top_$p AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)
           |      AS rank
           |    FROM scored_$p
           |  ) WHERE rank <= 5
           |), row_$p AS (
           |  SELECT $p AS nprobe,
           |    (SELECT count(DISTINCT cell) FROM probes_$p) AS n_cells_read,
           |    (SELECT count(*) FROM cands_$p) AS n_candidates,
           |    sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits,
           |    count(*)::BIGINT AS n_true
           |  FROM exact e LEFT JOIN top_$p t
           |    ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${OracleFragments.normVecCte},
         |${OracleFragments.ivfCellsCteDynamic()},
         |escored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(list_sum(list_transform(range(1, 65), i -> q.en[i] * c.en[i])), 6) AS cos_sim
         |  FROM vn q JOIN vn c ON q.vec_id < 20 AND q.vec_id <> c.vec_id
         |), exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id)
         |      AS rank
         |    FROM escored
         |  ) WHERE rank <= 5
         |),
         |$probeCtes
         |SELECT nprobe, n_cells_read, n_candidates, n_hits, n_true,
         |  CASE WHEN n_true > 0
         |    THEN CAST(floor(n_hits::DOUBLE * 1000000 / n_true::DOUBLE) AS BIGINT)
         |    ELSE 0 END AS recall_micro
         |FROM (
         |  SELECT * FROM row_1 UNION ALL SELECT * FROM row_2
         |  UNION ALL SELECT * FROM row_4 UNION ALL SELECT * FROM row_8
         |) ORDER BY nprobe""".stripMargin
    },
    "st1_stream_window" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        |  count(*) AS n, round(sum(value), 6) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "st2_stream_dedup" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "st7_stream_dedup_ttl" ->
      // single gate micro-batch: nothing reaches the TTL, so bounded
      // dedup == global distinct (the TTL path is spec-tested)
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "st3_stream_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts - INTERVAL 30 MINUTE
        | AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin,
    "st4_stream_session" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800.0
        |         THEN 1 ELSE 0 END
        |      AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), sessions AS (
        |  SELECT user_id, ts, value,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM flagged
        |), agg AS (
        |  SELECT user_id, min(ts) AS session_start, max(ts) AS session_last,
        |    count(*) AS n_events, round(sum(value), 6) AS session_value
        |  FROM sessions GROUP BY user_id, session_id
        |)
        |-- CLOSED sessions only, in lockstep with the engine's append-
        |-- mode emission: the final watermark is floor-to-ms(max event
        |-- time) - 2h delay, and a session emits when its close (last
        |-- event + 30min gap) is at or below it
        |SELECT * FROM agg
        |WHERE session_last + INTERVAL 30 MINUTE <=
        |  (SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 2 HOUR
        |   FROM events)
        |ORDER BY user_id, session_start""".stripMargin,
    "x10_winnowing" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CASE WHEN len($toksSql) >= 3
         |      THEN list_transform(range(1, len($toksSql) - 1),
         |           i -> array_to_string(($toksSql)[i:i+2], ' '))
         |      ELSE [${OracleFragments.normSql}] END AS grams
         |  FROM documents
         |), g AS (
         |  SELECT doc_id, CAST(i - 1 AS INT) AS pos, grams[CAST(i AS INT)] AS s
         |  FROM base CROSS JOIN unnest(range(1, len(grams) + 1)) AS r(i)
         |), h AS (
         |  SELECT doc_id, pos, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h,
         |    count(*) OVER (PARTITION BY doc_id) AS n_grams
         |  FROM g
         |), wm AS (
         |  SELECT doc_id, pos, n_grams,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
         |  FROM h
         |)
         |SELECT DISTINCT doc_id, wmin AS fingerprint
         |FROM wm WHERE pos <= n_grams - 4 OR pos = 0
         |ORDER BY doc_id, fingerprint""".stripMargin,
    "q25_window_frames" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS es
        |  FROM events
        |)
        |SELECT event_id, user_id,
        |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY es, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0
        |    AS rows3_sum,
        |  count(*) OVER (PARTITION BY user_id ORDER BY es
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS hour_n,
        |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY es
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0
        |    AS hour_sum
        |FROM e ORDER BY event_id""".stripMargin,
    "q26_median" ->
      """WITH agg AS (
        |  SELECT o_orderstatus, count(*) AS n,
        |    round(quantile_cont(o_totalprice, 0.5), 6) AS median_cont
        |  FROM orders GROUP BY o_orderstatus
        |), ranked AS (
        |  SELECT o_orderstatus, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderstatus) AS cnt
        |  FROM orders
        |)
        |SELECT agg.o_orderstatus, agg.n, agg.median_cont,
        |  ranked.o_totalprice AS median_lo
        |FROM agg JOIN ranked ON ranked.o_orderstatus = agg.o_orderstatus
        |  AND ranked.rn = (ranked.cnt + 1) // 2
        |ORDER BY agg.o_orderstatus""".stripMargin,
    "q27_setops_all" ->
      """SELECT c_nationkey, op FROM (
        |  SELECT c_nationkey, 'intersect_all' AS op FROM (
        |    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |    INTERSECT ALL
        |    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
        |  UNION ALL
        |  SELECT c_nationkey, 'except_all' AS op FROM (
        |    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |    EXCEPT ALL
        |    SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
        |) ORDER BY op, c_nationkey""".stripMargin,
    "x8_bm25" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($toksSql) AS term FROM documents
         |), lens AS (
         |  SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
         |), stats AS (
         |  SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM lens
         |), n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM toks
         |  WHERE term IN ('spark', 'data', 'merge') GROUP BY doc_id, term
         |), dfreq AS (
         |  SELECT term, count(*) AS df FROM tf GROUP BY term
         |), scored AS (
         |  SELECT tf.doc_id,
         |    round(ln((n.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0), 6)
         |      * (tf.tf * (1.2 + 1.0))
         |      / (tf.tf + 1.2 * (1.0 - 0.75 + (0.75 * lens.dl) / stats.avgdl))
         |      AS contrib
         |  FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id), stats, n
         |)
         |SELECT doc_id, round(sum(contrib), 6) AS bm25, count(*) AS n_terms
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x9_reservoir_sample" ->
      """SELECT source, rk, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT, doc_id)
        |      AS rk
        |  FROM documents
        |) WHERE rk <= 10 ORDER BY source, rk""".stripMargin,
    // NOTE: payload = md5 hex STRING cast to binary -> 32 ASCII bytes
    // (each "byte" is the character code of a hex digit), same on both
    // sides by construction.
    "m3_frame_sample" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id, md5(text) AS hx
        |  FROM documents WHERE doc_id % 3 = 2  -- element 3 of the type array = 'video'
        |)
        |SELECT media_id, CAST(f AS INT) AS frame_idx,
        |  CAST(f * 4 AS INT) AS frame_off,
        |  ord(substr(hx, CAST(f * 4 AS INT) + 1, 1)) AS frame_fp
        |FROM media CROSS JOIN range(8) r(f)
        |ORDER BY media_id, frame_idx""".stripMargin,
    "m4_resize" ->
      """WITH meta AS (
        |  SELECT doc_id AS media_id,
        |    ord(substr(md5(text), 1, 1)) AS b0,
        |    ord(substr(md5(text), 2, 1)) AS b1,
        |    ord(substr(md5(text), 3, 1)) AS b2,
        |    ord(substr(md5(text), 4, 1)) AS b3
        |  FROM documents
        |), wh AS (
        |  SELECT media_id,
        |    160 + ((b0 * 256 + b1) % 8) * 160 AS width,
        |    120 + ((b2 * 256 + b3) % 8) * 120 AS height
        |  FROM meta
        |)
        |SELECT media_id, width, height,
        |  CASE WHEN greatest(width, height) <= 512 THEN width
        |       ELSE greatest((width * 512) // greatest(width, height), 1) END
        |    AS target_w,
        |  CASE WHEN greatest(width, height) <= 512 THEN height
        |       ELSE greatest((height * 512) // greatest(width, height), 1) END
        |    AS target_h
        |FROM wh ORDER BY media_id""".stripMargin)
}
