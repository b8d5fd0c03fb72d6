package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The scaffold-sharing invariant (r21 verdict item 3 / next-round
  * item 8): a TempDirs-staged artifact in Bench's prestage list moves
  * its build cost out of every consumer's per-query bench time and
  * into the `staging` map. That is honest amortization ONLY while the
  * artifact is genuinely shared (>= 2 registry consumers) or is a
  * query's DECLARED input fixture / index (building the file a source
  * query exists to ingest is not part of that query's computation).
  * A refactor that leaves a shared COMPUTE scaffold with a single
  * consumer would silently turn staging into cost-hiding — that query
  * must inline the build again. This spec pins the classification:
  * adding a stager to Bench without classifying it here fails, and a
  * shared scaffold dropping below 2 consumers fails.
  */
class ScaffoldSharingSpec extends AnyFunSuite {

  private val srcRoot = Paths.get("src/main/scala/graft")

  /** Shared compute scaffolds: work >= 2 registry queries would each
    * redo. Keyed exactly as Bench's stagers list.
    */
  private val sharedScaffolds: Map[String, String] = Map(
    "shingles3" -> "stagedShingles", // d2/d3/d4(pairs)/d9/x38/...
    "lshPairs" -> "stagedVerifiedPairs", // d4/d17/p5/c8(clusters)/d11
    "jaccardClusters" -> "stagedClusters", // d8/d10/c8/p4/p5/d16
    "synthPackets" -> "synthPackets", // t1-t14 telemetry family
    "jsonl" -> "stagedJsonl", // j1 + st5
    "jsonl_new" -> "stagedJsonlNew", // st6/st8/st9
    "corpusmd5" -> "stagedCorpusMd5", // st6/st8/d11 bucketed exact index
    "bpeMerges" -> "stagedBpeMerges", // x25 (learn) + x26 (apply)
    "auditQuantizer" -> "AuditQuantizer.centroids", // s21/s22/st10
    "corpusQuantizer" -> "CorpusQuantizer.get") // d13/p5/e3/s12 + IVF family

  /** Declared single-consumer fixtures/indexes: the artifact IS the
    * query's input (a source file it exists to ingest, or its declared
    * static index), so one consumer is the honest shape.
    */
  private val declaredFixtures: Map[String, String] = Map(
    "t15" -> "stagedCcsdsFiles", // t15 ingests the V2 source files
    "st9grams" -> "stagedCorpusGrams", // st9's declared static gram index
    "lineDf" -> "stagedLineDf", // d12's synthesized line table (gate plumbing)
    "st10eval" -> "st10EvalIndex", // st10's declared static eval index
    "vecs_new" -> "stagedVecStreamNew") // st-family vector increment files

  private def read(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  private lazy val benchSrc = read(srcRoot.resolve("Bench.scala"))

  /** Consumer files: everything under src/main/scala/graft except the
    * bench harness (its references are not registry consumers).
    */
  private lazy val consumerSources: Seq[(String, String)] =
    Files.walk(srcRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(_.getFileName.toString != "Bench.scala")
      .map(p => p.getFileName.toString -> read(p))
      .toSeq

  private def callSites(fn: String): Seq[String] = {
    val simple = fn.split('.').last
    // a preceding '.' is allowed (qualified call sites like
    // `QueriesTrainingData.stagedVerifiedPairs(...)` count)
    val re = ("(?<![A-Za-z0-9_])" +
      java.util.regex.Pattern.quote(fn) + "\\b").r
    consumerSources.flatMap { case (name, txt) =>
      txt.linesIterator
        .map(_.trim)
        // comment-only references ([[scaladoc links]]) are not consumers
        .filterNot(l =>
          l.startsWith("*") || l.startsWith("//") || l.startsWith("/*"))
        .filter(l => re.findFirstIn(l).isDefined)
        .filterNot(_.contains(s"def $simple")) // the definition itself
        .map(l => s"$name: $l")
    }
  }

  test("every Bench prestage key is classified as shared or declared-fixture") {
    val stagerKeys = """"([A-Za-z0-9_]+)"\s*->\s*\(\(\)\s*=>""".r
      .findAllMatchIn(benchSrc).map(_.group(1)).toSet
    assert(stagerKeys.nonEmpty, "failed to parse Bench's stagers list")
    val classified = sharedScaffolds.keySet ++ declaredFixtures.keySet
    val unclassified = stagerKeys -- classified
    assert(unclassified.isEmpty,
      s"Bench prestages $unclassified without a sharing classification " +
        s"in ScaffoldSharingSpec — classify it (shared needs >= 2 " +
        s"registry consumers) before staging its cost out of the bench")
    val stale = classified -- stagerKeys
    assert(stale.isEmpty,
      s"ScaffoldSharingSpec classifies $stale which Bench no longer " +
        s"prestages — drop the stale entries")
  }

  test("shared compute scaffolds keep >= 2 registry consumers") {
    sharedScaffolds.foreach { case (key, fn) =>
      val sites = callSites(fn)
      assert(sites.size >= 2,
        s"staged scaffold '$key' ($fn) has ${sites.size} consumer call " +
          s"site(s): ${sites.mkString("; ")} — a single-consumer staged " +
          s"build hides that query's cost in the staging map; inline the " +
          s"build or reclassify as a declared fixture with justification")
    }
  }

  test("declared fixtures keep >= 1 consumer") {
    declaredFixtures.foreach { case (key, fn) =>
      val sites = callSites(fn)
      assert(sites.nonEmpty,
        s"declared fixture '$key' ($fn) has no consumer — dead staging")
    }
  }
}
