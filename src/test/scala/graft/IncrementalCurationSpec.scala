package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.Dedup
import graft.sources.IncrementalFiles

/** The nightly-crawl-increment composition OPERATIONALLY — the
  * file-manifest form of `q_incremental_curation` (which proves the
  * same chain hash-exactly against a from-scratch DuckDB recompute at
  * three SFs): a landing directory accretes parquet batches;
  * each round reads ONLY unprocessed files
  * ([[IncrementalFiles.readNewParquet]], a manifest anti-join), runs
  * per-doc hygiene (cleanTextV2) → token floor → shipped-artifact
  * classifier gate, folds the gated survivors into the standing
  * near-dup labeling via within + across pairs and
  * [[Dedup.mergeComponents]], and returns the manifest rows the caller
  * commits ATOMICALLY with its outputs: an uncommitted round is simply
  * re-read and recomputed, so the contract under test is the pipeline's
  * replay shape.
  *
  * The governing assertion is the merge theorem end-to-end: after N
  * increments, the standing labels equal a FROM-SCRATCH recompute over
  * everything landed so far — valid because every pre-dedup stage is
  * per-doc and the pair rule (uncapped jaccard) is corpus-independent.
  */
class IncrementalCurationSpec extends SparkSpec {
  import spark.implicits._

  private lazy val weights = TextAnalysis.classifierFixtureWeights(spark, 512)

  /** Per-doc hygiene + gates: cleanTextV2 → ≥8-token floor →
    * classifier gate. Everything here is per-document, which is what
    * makes incremental ≡ from-scratch provable. */
  private def curate(docs: DataFrame): DataFrame = {
    val cleaned = docs.select(col("doc_id"),
        TextAnalysis.cleanTextV2(col("text")).as("text"))
      .filter(size(split(trim(col("text")), "\\s+")) >= 8)
    val pos = TextAnalysis.classifierApplyTable(cleaned, "doc_id", "text",
        weights, buckets = 512)
      .filter(col("label")).select("doc_id")
    cleaned.join(pos, Seq("doc_id"), "left_semi")
  }

  private def pairsWithin(docs: DataFrame): DataFrame =
    Dedup.jaccardNearDupPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.5).select("id_a", "id_b")

  private def pairsAcross(fresh: DataFrame, standing: DataFrame): DataFrame =
    Dedup.jaccardNearDupPairsAcross(fresh, "doc_id", "text",
        standing, "doc_id", "text", n = 3, threshold = 0.5)
      .select(col("id_left").as("id_a"), col("id_right").as("id_b"))

  /** One increment round: read new files only; gate; fold into the
    * standing state. Returns (curated increment, merged labels,
    * manifest rows to commit with the outputs), or None when the
    * landing directory holds nothing new. */
  private def processIncrement(landing: String, manifest: DataFrame,
      standing: Option[(DataFrame, DataFrame)])
      : Option[(DataFrame, DataFrame, DataFrame)] =
    IncrementalFiles.readNewParquet(spark, landing, manifest).map {
      case (raw, manifestRows) =>
        val surv = curate(raw)
        val labels = standing match {
          case None =>
            Dedup.nearDupComponents(surv, "doc_id", pairsWithin(surv))
          case Some((standingDocs, standingLabels)) =>
            Dedup.mergeComponents(standingLabels,
              surv.select("doc_id"), "doc_id",
              pairsWithin(surv).unionByName(pairsAcross(surv, standingDocs)))
        }
        (surv, labels, manifestRows)
    }

  private def labelSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("doc_id"), col("component_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  // 12-token docs: 10 3-shingles each; a one-token tail change keeps
  // jaccard at 9/11 ≈ 0.82 ≥ 0.5 (near-dup); the word sets are
  // chosen so every doc's fixture-classifier score is POSITIVE
  // (computed offline against the (bucket·2654435761 + 104729)
  // % 2001 − 1000 weight rule at 512 buckets) and unrelated docs
  // share < 0.01 shingle jaccard.
  private def doc(id: Long, words: String): (Long, String) = (id, words)

  private val batch1 = Seq(
    doc(1L, "yarn ocean briar reef grape island kelp jungle zebra xray cloud mu"),
    // near-dup of doc 1 (tail token differs) — within-batch pair
    doc(2L, "yarn ocean briar reef grape island kelp jungle zebra xray cloud nu"),
    doc(3L, "maple kelp fern thyme garnet mica river piano sage yarn xray briar"),
    // dirty page: control char + double space + decomposed accent —
    // the hygiene stage must actually fire before shingling
    doc(4L, "nectar reef piano fern cloud garnet island grape mica" +
      "\u0001 jungle  maple cafe\u0301"),
    doc(5L, "piano jungle maple xray ocean island kelp grape briar stone yarn zebra"))

  private val batch2 = Seq(
    // near-dup of doc 1 ACROSS batches — the cross-corpus merge case
    doc(101L, "yarn ocean briar reef grape island kelp jungle zebra xray cloud xi"),
    // within-increment near-dup pair
    doc(103L, "garnet river grape island dune nectar reef stone kelp vale elm spin"),
    doc(104L, "garnet river grape island dune nectar reef stone kelp vale elm turn"),
    // below the token floor: must be gated out, never labeled
    doc(105L, "too short to survive"))

  test("WARC-rooted nights: readNewWarc → latestByUrl → gates → merge ≡ from-scratch") {
    import graft.sources.Warc
    val landing = Files.createTempDirectory("inc-warc").toString
    def rec(id: Long, text: String, date: String): Array[Byte] =
      Warc.buildRecord("WARC/1.0", Seq(
        "WARC-Type" -> "conversion",
        "WARC-Target-URI" -> s"https://h.example.com/d/$id",
        "WARC-Record-ID" -> s"<urn:x:$id:$date>",
        "WARC-Date" -> date),
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def wdocs(recs: DataFrame): DataFrame =
      Warc.latestByUrl(Warc.documentsFrame(recs))
        .select(regexp_extract(col("url"), "([0-9]+)$", 1).cast("long")
          .as("doc_id"), col("text"), col("warc_date"))
    // night 1: batch1 as WET records + a same-text RECRAWL of doc 1
    val n1 = batch1.flatMap { case (id, t) =>
      Seq(rec(id, t, "2026-08-01T00:00:00Z")) ++
        (if (id == 1L) Seq(rec(id, t, "2026-08-02T00:00:00Z")) else Nil)
    }
    Files.write(java.nio.file.Paths.get(landing, "n1.warc.gz"),
      Warc.gzip(n1.reduce(_ ++ _)))
    val (recs1, man1) = IncrementalFiles.readNewWarc(spark, landing,
      Seq.empty[String].toDF("path")).get
    val docs1 = wdocs(recs1)
    // latestByUrl collapsed the recrawl and kept the LATER capture
    assert(docs1.count() === batch1.size.toLong)
    assert(docs1.filter(col("doc_id") === 1L)
      .select("warc_date").head.getString(0) === "2026-08-02T00:00:00Z")
    val surv1 = curate(docs1.select("doc_id", "text"))
    val labels1 = Dedup.nearDupComponents(surv1, "doc_id",
      pairsWithin(surv1))
    val manifest1 = man1.select("path").collect().map(_.getString(0))
      .toSeq.toDF("path")
    // night 2 lands in the SAME directory; only its file is parsed
    val n2 = batch2.map { case (id, t) => rec(id, t, "2026-08-03T00:00:00Z") }
    Files.write(java.nio.file.Paths.get(landing, "n2.warc.gz"),
      Warc.gzip(n2.reduce(_ ++ _)))
    val (recs2, _) = IncrementalFiles.readNewWarc(spark, landing,
      manifest1).get
    val docs2 = wdocs(recs2)
    assert(docs2.select("doc_id").collect().map(_.getLong(0))
      .forall(_ >= 100L), "night 2 re-read night-1 records")
    val surv2 = curate(docs2.select("doc_id", "text"))
    val labels2 = Dedup.mergeComponents(labels1, surv2.select("doc_id"),
      "doc_id",
      pairsWithin(surv2).unionByName(pairsAcross(surv2, surv1)))
    // the merge theorem through the WARC root: ≡ from-scratch over
    // everything landed so far
    val all = (batch1 ++ batch2).toDF("doc_id", "text")
    val scratchSurv = curate(all)
    val scratch = Dedup.nearDupComponents(scratchSurv, "doc_id",
      pairsWithin(scratchSurv))
    assert(labelSet(labels2) === labelSet(scratch))
  }

  test("incremental rounds over a landing dir ≡ from-scratch recompute") {
    val landing = Files.createTempDirectory("inc-curation").toString
    batch1.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(landing)

    // round 1: empty manifest — everything is new
    val r1 = processIncrement(landing, Seq.empty[String].toDF("path"), None)
    assert(r1.isDefined)
    val (surv1, labels1, m1) = r1.get
    val surv1Ids = surv1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(Set(1L, 2L).subsetOf(surv1Ids),
      s"planted near-dup pair gated out (survivors $surv1Ids) — " +
        "fixture classifier weights drifted; adjust the planted texts")
    // the within-batch dup pair shares a component
    val l1 = labelSet(labels1)
    assert(l1.find(_._1 == 1L).map(_._2) === l1.find(_._1 == 2L).map(_._2))
    // commit: manifest rows land together with the outputs
    val manifest1 = m1.select("path")

    // replay round 1 with the UNCOMMITTED manifest: same files, same
    // labels — the retry is deterministic, the manifest decides afresh
    val r1b = processIncrement(landing, Seq.empty[String].toDF("path"), None)
    assert(labelSet(r1b.get._2) === l1)

    // round 2: a new batch lands; only its files are read
    batch2.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").parquet(landing)
    val r2 = processIncrement(landing, manifest1, Some((surv1, labels1)))
    assert(r2.isDefined)
    val (surv2, labels2, m2) = r2.get
    val readIds = surv2.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(readIds.forall(_ >= 100L), s"round 2 re-read old docs: $readIds")
    assert(!readIds.contains(105L), "sub-floor doc survived the gate")
    assert(Set(101L, 103L, 104L).subsetOf(readIds),
      s"planted increment docs gated out ($readIds) — " +
        "fixture classifier weights drifted; adjust the planted texts")

    // the merge theorem end-to-end: incremental labels ≡ from-scratch
    val allDocs = (batch1 ++ batch2).toDF("doc_id", "text")
    val scratchSurv = curate(allDocs)
    val scratch = Dedup.nearDupComponents(scratchSurv, "doc_id",
      pairsWithin(scratchSurv))
    assert(labelSet(labels2) === labelSet(scratch))
    // and the planted cross-batch dup actually merged
    val l2 = labelSet(labels2)
    assert(l2.find(_._1 == 101L).map(_._2) === l2.find(_._1 == 1L).map(_._2),
      "cross-batch near-dup did not merge into the standing component")
    assert(l2.find(_._1 == 103L).map(_._2) === l2.find(_._1 == 104L).map(_._2))

    // round 3: everything committed — nothing new, loud-by-type None
    val fullManifest = manifest1.unionByName(m2.select("path"))
    assert(processIncrement(landing, fullManifest,
      Some((surv1, labels1))).isEmpty)
  }
}
