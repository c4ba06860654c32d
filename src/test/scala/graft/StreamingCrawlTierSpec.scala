package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.functions.TextAnalysis
import graft.streaming.Windows

/** The v6 extraction-tier recipe in its OPERATIONAL streaming posture —
  * the crawl-tier job a production corpus refresh runs continuously:
  * file-stream page increments → effectively-once ingress
  * ([[Windows.dedupWithinWatermark]] absorbs at-least-once crawl
  * replays BEFORE the extractor, so replays never pay extraction) →
  * mainContent block classifier → token floor → shipped-artifact
  * classifier gate → append sink with checkpointing.
  *
  * The batch `q_curated_corpus_v6` recipe is the CONTRACT: after a
  * backfill run, a checkpoint restart, and a replayed page, the sink's
  * end-state must equal the batch chain over the distinct pages landed
  * so far — no new oracle needed, batch equivalence is the oracle.
  * (StreamRestartSpec pins the generic restart/late-data semantics;
  * this spec pins the crawl-tier COMPOSITION on top of them. The
  * keyed idempotent upsert a production sink would replay through is
  * executed branch-by-branch in JdbcUpsertExecSpec.)
  */
class StreamingCrawlTierSpec extends SparkSpec {
  import spark.implicits._

  private val pageSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("html", StringType),
    StructField("ts", StringType)))

  /** The wrappedPages shape from the batch v6 query: nav chrome, short
    * heading, the real paragraph (with an inline link), a link-list,
    * footer, script — only the paragraph survives extraction, as
    * "<body> See more here". */
  private def pageHtml(id: Long, body: String): String =
    "<html><head><title>d</title><style>p{color:#888}</style></head>" +
      "<body><div class=\"nav\"><a href=\"/\">Home</a> " +
      "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div>" +
      s"<h1>Doc $id</h1><p>$body See <a href=\"/m\">more here</a></p>" +
      "<div class=\"rel\"><a href=\"/1\">doc one</a> " +
      "<a href=\"/2\">doc two</a> <a href=\"/3\">doc three</a></div>" +
      "<footer>Copyright 2026 Example</footer>" +
      "<script>if(1<2){x=1;}</script></body></html>"

  private lazy val weightArr: Seq[Long] = {
    val rows = TextAnalysis.classifierFixtureWeights(spark, 512)
      .select(col("bucket").cast("int"), col("w").cast("long")).collect()
    val arr = new Array[Long](512)
    rows.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr.toSeq
  }

  /** The extraction tier, batch and streaming alike (pure per-row
    * Column ops — no join, so the same plan serves both run modes):
    * mainContent → kept-block + ≥8-token floor → classifier gate. */
  private def extractAndGate(pages: DataFrame): DataFrame =
    TextAnalysis.mainContent(pages, "doc_id", "html")
      .withColumn("__s",
        graft.expressions.ClassifierScore.score(col("main_text"), weightArr))
      .filter(col("n_kept") > 0 &&
        size(split(trim(col("main_text")), "\\s+")) >= 8 &&
        col("__s").isNotNull && col("__s.n_feats") > 0 &&
        col("__s.score_sum") > 0)
      .select(col("doc_id"), col("main_text"), col("n_blocks"),
        col("n_kept"))

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  private var fileSeq = 0
  /** One JSON file per landed batch with a strictly increasing mtime
    * (the StreamRestartSpec discipline: FileStreamSource orders by
    * modification time, and back-to-back writes can share a tick). */
  private def landPages(dir: Path, rows: Seq[(Long, String, String)]): Unit = {
    fileSeq += 1
    val staging = Files.createTempDirectory("crawl_stage").toString
    rows.toDF("doc_id", "html", "ts").coalesce(1)
      .write.mode("overwrite").json(staging)
    val part = new java.io.File(staging).listFiles()
      .filter(f => f.getName.endsWith(".json")).head
    val target = dir.resolve(f"batch_$fileSeq%04d.json")
    Files.move(part.toPath, target)
    Files.setLastModifiedTime(target,
      java.nio.file.attribute.FileTime.fromMillis(
        1700000000000L + fileSeq * 10000L))
  }

  private def runOnce(in: Path, out: Path, cp: Path): Unit = {
    val stream = spark.readStream
      .schema(pageSchema)
      .option("maxFilesPerTrigger", "1")
      .json(in.toString)
      .withColumn("ts", to_timestamp(col("ts")))
    val deduped = Windows.dedupWithinWatermark(stream, Seq("doc_id"), "ts",
      watermark = "1 hour")
    val q = extractAndGate(deduped).writeStream
      .format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", cp.toString)
      .outputMode(OutputMode.Append())
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  // bodies chosen offline so the extracted "<body> See more here"
  // scores POSITIVE under the 512-bucket fixture weights (the
  // IncrementalCurationSpec method); negDoc scores strongly negative.
  private val body1 = "xray island cloud mica fern dune briar garnet zebra elm sage jungle"
  private val body2 = "vale maple cloud stone nectar elm thyme jungle island zebra reef river"
  private val body4 = "cloud garnet reef dune zebra grape river mica nectar yarn island xray"
  private val negBody = "echo kite book house queen amber data umbra note apple mount wind"

  test("crawl tier: backfill, checkpoint restart, replayed page ≡ batch recipe") {
    val (in, out, cp) = (tmp("ct_in"), tmp("ct_out"), tmp("ct_cp"))
    val t0 = "2026-08-15 10:00:00"

    // backfill: two good pages, one classifier-negative, one chrome-only
    val batch1 = Seq(
      (1L, pageHtml(1L, body1), t0),
      (2L, pageHtml(2L, body2), t0),
      (3L, pageHtml(3L, negBody), t0),
      (9L, pageHtml(9L, "tiny"), t0)) // paragraph under the token floor
    landPages(in, batch1.take(2))
    landPages(in, batch1.drop(2))
    runOnce(in, out, cp)

    def sinkIds(): Seq[Long] = spark.read.parquet(out.toString)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(sinkIds() === Seq(1L, 2L))

    // a new increment lands WITH a replayed copy of page 2 (the
    // at-least-once crawl): the restart restores dedup state from the
    // checkpoint, so the replay is dropped ACROSS the restart, and
    // already-emitted rows are not re-emitted
    landPages(in, Seq(
      (4L, pageHtml(4L, body4), t0),
      (2L, pageHtml(2L, body2), t0)))
    runOnce(in, out, cp)
    assert(sinkIds() === Seq(1L, 2L, 4L),
      "restart re-emitted rows or the replayed page escaped dedup")

    // end-state ≡ the batch v6 recipe over the DISTINCT pages landed
    val allPages = (batch1 ++ Seq((4L, pageHtml(4L, body4), t0)))
      .toDF("doc_id", "html", "ts")
    val batch = extractAndGate(allPages)
      .select("doc_id", "main_text", "n_blocks", "n_kept")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    val streamed = spark.read.parquet(out.toString)
      .select("doc_id", "main_text", "n_blocks", "n_kept")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(streamed === batch)

    // nothing new → a third run emits nothing
    runOnce(in, out, cp)
    assert(sinkIds() === Seq(1L, 2L, 4L))
  }

  test("outlink extraction runs unchanged in an append-mode stream") {
    // extractOutlinks is a stateless projection + explode, so the SAME
    // operator serves the continuous crawl job: pages stream in, link
    // candidates stream out, batch ≡ stream end-state. pageHtml's nav/
    // list/footer anchors are the links under test.
    import graft.functions.UrlOps
    val (in, out, cp) = (tmp("ol_in"), tmp("ol_out"), tmp("ol_cp"))
    val t0 = "2026-08-15 10:00:00"
    val pages = Seq(
      (1L, pageHtml(1L, body1), t0),
      (2L, pageHtml(2L, body2), t0),
      (4L, pageHtml(4L, body4), t0))
    landPages(in, pages.take(2))
    landPages(in, pages.drop(2))
    def withUrl(df: DataFrame): DataFrame = df.withColumn("url",
      concat(lit("https://h.com/d/"), col("doc_id").cast("string"),
        lit("/index.html")))
    val stream = spark.readStream.schema(pageSchema)
      .option("maxFilesPerTrigger", "1").json(in.toString)
    val q = UrlOps.extractOutlinks(withUrl(stream), "url", "html")
      .select("doc_id", "outlink")
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", cp.toString)
      .outputMode(OutputMode.Append())
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(out.toString)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = UrlOps.extractOutlinks(
        withUrl(pages.toDF("doc_id", "html", "ts")), "url", "html")
      .select("doc_id", "outlink")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed === batch)
    // absolutization really happened: root-relative nav links resolve
    // against each page's own URL
    assert(batch.contains((1L, "https://h.com/a")))
    assert(batch.contains((4L, "https://h.com/m")))
    assert(batch.size === pages.size * 7) // 7 anchors per planted page
  }
}
