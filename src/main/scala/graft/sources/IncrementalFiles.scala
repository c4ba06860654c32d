package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch-incremental file ingestion — the "process only new files"
  * contract a nightly ETL needs over a landing directory that
  * accretes files forever. Structured Streaming's file source solves
  * this with its own checkpoint log (`readStream` + `AvailableNow`,
  * spec'd in StreamRestartSpec) — THIS is the batch half for jobs that
  * own their manifest (a table of already-processed file paths, e.g.
  * a JDBC/Delta-less bookkeeping table):
  *
  *   1. [[listDataFiles]] — recursive listing of data files (metadata
  *      files `_*`/`.*` excluded) as a (path, bytes, mtime) frame;
  *   2. [[newFiles]] — the listing anti-joined against the manifest's
  *      `path` column (a JOIN, not a driver set: manifests at corpus
  *      scale are millions of rows);
  *   3. [[readNewParquet]] — read exactly the new files and return
  *      their manifest rows for the caller to commit ATOMICALLY with
  *      its outputs (committing the manifest after a failed write, or
  *      vice versa, is the classic double-/zero-processing bug).
  *
  * The listing itself is driver-side and file-count-sized (the same
  * budget every Spark file source pays at planning time); paths of new
  * files are collected to the driver to build the read — bounded by
  * the per-increment file count, not the corpus. The per-increment
  * count is CAPPED by default ([[DefaultMaxFiles]], the
  * `maxFilesPerTrigger` analog): a first backfill over a multi-
  * million-file lake must drain in bounded rounds — commit each
  * round's manifest with its outputs and call again — never land the
  * whole listing in one driver array and one million-path plan. */
object IncrementalFiles {

  /** Default per-increment file cap. 100k paths ≈ a few tens of MB of
    * driver strings and a plan Spark handles comfortably; a NIGHTLY
    * increment is far smaller, so only first backfills ever hit it —
    * and they drain deterministically ((mtime, path)-ordered) across
    * repeated capped calls. Raise explicitly if a deployment has the
    * driver memory for more. */
  val DefaultMaxFiles: Int = 100000

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** A full-to-the-cap increment almost certainly means the backlog
    * exceeds `maxFiles` — tell the caller so a once-per-night job
    * doesn't silently fall behind; drain by looping until None. */
  private def warnIfTruncated(n: Int, maxFiles: Int, dir: String): Unit =
    if (n == maxFiles) log.warn(
      s"increment from $dir hit the maxFiles=$maxFiles cap — files likely " +
        "remain; call again (loop until None) to drain the backlog")

  /** Recursive (path, bytes, mtime_ms) listing of data files under
    * `dir` — `_`-prefixed (e.g. _SUCCESS) and dot-files excluded, the
    * Spark file-source convention. */
  def listDataFiles(spark: SparkSession, dir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, Long)]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val s = it.next()
      val name = s.getPath.getName
      if (s.isFile && !name.startsWith("_") && !name.startsWith("."))
        buf += ((s.getPath.toUri.getPath, s.getLen,
          s.getModificationTime))
    }
    import spark.implicits._
    buf.toSeq.toDF("path", "bytes", "mtime_ms")
  }

  /** Files under `dir` whose path is NOT in `manifest.path` — a
    * left-anti join, never a driver-side set. */
  def newFiles(spark: SparkSession, dir: String,
      manifest: DataFrame): DataFrame = {
    require(manifest.columns.contains("path"),
      s"manifest needs a 'path' column, got ${manifest.columns.mkString(", ")}")
    listDataFiles(spark, dir).join(
      manifest.select(col("path").cast("string").as("path")),
      Seq("path"), "left_anti")
  }

  /** Read EXACTLY the unprocessed parquet files: returns None when the
    * increment is empty (no schema to read), otherwise
    * Some((data, manifestRows)) where `manifestRows` is the (path,
    * bytes, mtime_ms) frame the caller must persist together with its
    * outputs. `maxFiles` bounds one increment (the AvailableNow
    * `maxFilesPerTrigger` analog; default [[DefaultMaxFiles]]) —
    * ordered by (mtime, path) so repeated capped runs drain the
    * backlog deterministically. */
  def readNewParquet(spark: SparkSession, dir: String, manifest: DataFrame,
      maxFiles: Int = DefaultMaxFiles): Option[(DataFrame, DataFrame)] = {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    val nf = newFiles(spark, dir, manifest)
      .orderBy(col("mtime_ms"), col("path"))
      .limit(maxFiles)
    val rows = nf.collect()
    warnIfTruncated(rows.length, maxFiles, dir)
    if (rows.isEmpty) None
    else {
      val paths = rows.map(_.getString(0))
      Some((spark.read.parquet(paths: _*), nf))
    }
  }

  /** [[readNewParquet]] for WARC/WET crawl segments — the nightly
    * "parse only the new segments" shape ([[Warc]]'s unit of
    * parallelism is already the file, so the increment IS the task
    * set). Returns None when no new segments, else Some((records,
    * manifestRows)); compose [[Warc.documentsFrame]] + the curation
    * tier downstream and persist `manifestRows` with the outputs. */
  def readNewWarc(spark: SparkSession, dir: String, manifest: DataFrame,
      maxFiles: Int = DefaultMaxFiles): Option[(DataFrame, DataFrame)] = {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    val nf = newFiles(spark, dir, manifest)
      .orderBy(col("mtime_ms"), col("path"))
      .limit(maxFiles)
    val rows = nf.collect()
    warnIfTruncated(rows.length, maxFiles, dir)
    if (rows.isEmpty) None
    else Some((Warc.readWarcFiles(spark, rows.map(_.getString(0)).toSeq), nf))
  }
}
