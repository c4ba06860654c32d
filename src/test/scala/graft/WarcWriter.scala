package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Warc

/** WARC segment writers for specs: a record frame back to `.warc.gz`
  * files that [[Warc.readWarcFiles]] reads. No query, Bench or Verify
  * path writes WARC, so the writers live with the specs. */
object WarcWriter {

  /** Write a record frame as WARC segments — the write half of
    * [[Warc.readWarcFiles]] that WarcSpec round-trips through: one
    * `.warc.gz` file per PARTITION, one gzip member per RECORD (the
    * Common Crawl layout `Warc.MemberDecoder` reads back with
    * member-sized memory), streamed per-partition
    * through Hadoop output streams — no driver collect, memory ∝ one
    * record. Rows quarantined by the reader (`error` non-null, when the
    * column exists) are SKIPPED — a dead-letter span is not a record.
    *
    * Header reconstruction: the `headers` map (when present) carries
    * the record's raw header block minus Content-Length (re-framed
    * from the actual payload — the one header a writer must never
    * trust); otherwise the typed columns (warc_type, target_uri,
    * record_id, warc_date, content_type) synthesize a minimal block.
    * Expected columns: payload (binary, required); warc_version,
    * warc_type, target_uri, record_id, warc_date, content_type,
    * headers, error (each optional).
    *
    * File naming is `part-{partitionId}.warc.gz` — deterministic for a
    * given partitioning; empty (or all-quarantined) partitions write
    * nothing. Returns the written file count.
    *
    * Atomicity (task-level commit): every attempt streams into an
    * ATTEMPT-UNIQUE staging file under `_temporary/` (the `_` prefix
    * keeps Spark's file listing blind to it) and renames into place
    * only after the partition completes — a task that dies mid-write
    * leaves no visible partial file, and two racing attempts of the
    * same partition (speculation, a zombie racing a retry) each commit
    * a COMPLETE identical file via atomic rename instead of
    * interleaving bytes in one open stream. Failed-attempt staging
    * files are swept by the job-end `_temporary` cleanup of the next
    * successful run. Job-level atomicity is the caller's manifest
    * ledger: [[writeWarcFilesManifest]] returns one row per committed
    * file (path, n_records, bytes, sha256 of the file bytes) — join it
    * against the directory listing before trusting a resumed output
    * dir (the manifest-commit discipline of
    * `IncrementalFiles.readNewParquet`). */
  def writeWarcFiles(records: DataFrame, outDir: String): Long =
    writeWarcFilesManifest(records, outDir).count()

  /** [[writeWarcFiles]] returning the commit manifest instead of a bare
    * count: one row per committed segment — (path, n_records, bytes,
    * sha256). The write executes EAGERLY here (the returned frame is a
    * small local one, file-registry-sized); acting on it twice never
    * re-writes. */
  def writeWarcFilesManifest(records: DataFrame, outDir: String)
      : DataFrame = {
    val spark = records.sparkSession
    val cols = records.columns.toSet
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val hasHeaders = cols.contains("headers")
    val opt = Seq("warc_version", "warc_type", "target_uri", "record_id",
      "warc_date", "content_type").filter(cols.contains)
    val withError = cols.contains("error")
    val proj = records.select(
      (opt.map(col) ++
        (if (hasHeaders) Seq(col("headers")) else Nil) ++
        (if (withError) Seq(col("error")) else Nil) :+
        col("payload")): _*)
    // one entry per SUCCESSFUL task (Spark applies action-stage
    // accumulator updates once per partition, from the first completed
    // attempt only) — file-registry-sized metadata, not corpus data
    val manifest = spark.sparkContext
      .collectionAccumulator[(String, Long, Long, String)]("warc_manifest")
    proj.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      if (it.hasNext) {
        val tc = org.apache.spark.TaskContext.get()
        val name = f"part-${tc.partitionId()}%05d.warc.gz"
        val finalPath = new org.apache.hadoop.fs.Path(outDir, name)
        val tmpPath = new org.apache.hadoop.fs.Path(outDir,
          s"_temporary/$name.attempt-${tc.taskAttemptId()}.tmp")
        val fs = finalPath.getFileSystem(conf.value)
        val md = java.security.MessageDigest.getInstance("SHA-256")
        var n = 0L
        var bytes = 0L
        val out = fs.create(tmpPath, true)
        try {
          it.foreach { row =>
            def str(c: String): String =
              if (row.schema.fieldNames.contains(c)) {
                val i = row.fieldIndex(c)
                if (row.isNullAt(i)) null else row.getString(i)
              } else null
            if (!withError || str("error") == null) {
              val pi = row.fieldIndex("payload")
              val payload = if (row.isNullAt(pi)) Array.emptyByteArray
                else row.getAs[Array[Byte]](pi)
              val hdrs: Seq[(String, String)] =
                if (hasHeaders && !row.isNullAt(row.fieldIndex("headers"))) {
                  row.getAs[Map[String, String]]("headers").toSeq
                    .filterNot(_._1.equalsIgnoreCase("content-length"))
                    .sortBy(_._1)
                } else {
                  Seq("WARC-Type" -> str("warc_type"),
                    "WARC-Target-URI" -> str("target_uri"),
                    "WARC-Record-ID" -> str("record_id"),
                    "WARC-Date" -> str("warc_date"),
                    "Content-Type" -> str("content_type"))
                    .filter(_._2 != null)
                }
              val version = Option(str("warc_version")).getOrElse("WARC/1.0")
              // member-sized buffer: build + gzip ONE record, stream it
              val member = Warc.gzip(Warc.buildRecord(version, hdrs, payload))
              md.update(member)
              out.write(member)
              n += 1
              bytes += member.length
            }
          }
        } finally out.close()
        if (n == 0) {
          // all rows quarantined: nothing to commit, drop the stage
          fs.delete(tmpPath, false)
          ()
        } else {
          // commit: atomic whole-file rename. If a racing attempt of
          // this partition already committed (rename refuses because
          // the destination exists), replace it — both attempts hold
          // the same complete content, so last-complete-file-wins is
          // safe where interleaved writes into one stream were not
          if (!fs.rename(tmpPath, finalPath)) {
            fs.delete(finalPath, false)
            if (!fs.rename(tmpPath, finalPath) && !fs.exists(finalPath))
              throw new java.io.IOException(
                s"writeWarcFiles: commit failed: $tmpPath -> $finalPath")
          }
          manifest.add((finalPath.toString, n, bytes,
            md.digest.map(b => f"$b%02x").mkString))
        }
      }
    }
    // job succeeded: sweep the staging dir (failed/zombie attempt
    // files; a FAILED job leaves its stage behind for the next
    // successful run's sweep — `_`-prefixed, so readers never see it)
    val stage = new org.apache.hadoop.fs.Path(outDir, "_temporary")
    stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(stage, true)
    import spark.implicits._
    manifest.value.asScala.toSeq.sortBy(_._1)
      .toDF("path", "n_records", "bytes", "sha256")
  }
}
