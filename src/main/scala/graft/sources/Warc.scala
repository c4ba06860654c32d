package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** WARC/WET ingestion: the format a production curation run actually
  * starts from (Common-Crawl-style crawl archives), parsed with the
  * same quarantine semantics as [[graft.ingest.Json.readJsonlFiles]] —
  * a malformed record becomes a quarantined ROW (error set, raw bytes
  * kept), never a failed task, and the parser resynchronizes on the
  * next record marker so one corrupt record cannot eat a 1 GB file.
  *
  * Format (public spec, ISO 28500 / WARC 1.1; also the reference for
  * Common Crawl WET "conversion" records, which are plain WARC): each
  * record is `WARC/1.x CRLF`, header lines `Name: value CRLF`, a blank
  * CRLF, exactly `Content-Length` payload BYTES, then CRLF CRLF. The
  * payload is sliced by Content-Length — never by delimiter scanning —
  * so binary payloads containing `CRLF CRLF` round-trip bit-exactly.
  *
  * Scale shape: WARC.gz members are not splittable, so the unit of
  * parallelism is the FILE — exactly how Common Crawl ships (segments
  * of ~1 GB gzip files; a 100 TB crawl is ~10⁵ files = ample tasks for
  * 1000 executors). Each task STREAMS one file: gzip members decode
  * incrementally off a bounded window ([[ByteFeed]]) and records parse
  * as bytes are consumed ([[WarcStreamParser]]), so task memory is
  * proportional to the largest RECORD (for `.warc.gz`, the largest
  * member — Common Crawl writes one record per member), never the
  * file: a real ~1 GiB segment (~3–5 GiB decoded, past the 2 GiB JVM
  * array limit) parses in a few tens of MB. Payload bytes stay in the
  * task that read them — downstream projections (text extraction,
  * digests) should run before any shuffle. Garbage spans longer than
  * [[QuarantineCap]] quarantine in capped CHUNKS (multiple records)
  * instead of one unbounded record — the one deliberate divergence
  * from the former whole-buffer parser. */
object Warc {

  /** One parsed record (or one quarantined byte range, `error` set).
    * `payload` for a quarantined range is the raw unparsed bytes up to
    * the next record marker — the dead-letter content. */
  final case class WarcRecord(
      path: String,
      record_idx: Long,
      warc_version: String,
      warc_type: String,
      target_uri: String,
      record_id: String,
      warc_date: String,
      content_type: String,
      content_length: Long,
      headers: Map[String, String],
      payload: Array[Byte],
      error: String)

  /** Cap on ONE quarantine record's payload and on the parser window
    * while scanning a garbage span: a span longer than this emits
    * multiple capped quarantine records (all bytes kept, memory
    * bounded) instead of one unbounded record. 64 MiB — far above any
    * real header block or inter-record gap. */
  private[graft] val QuarantineCap: Int = 1 << 26

  /** Header-block scan bound per record (a WARC header block is a few
    * hundred bytes in practice; 1 MiB of header without a blank line
    * is corruption and quarantines as "truncated header block"). */
  private val HeaderCap: Int = 1 << 20

  /** Peak-memory instrumentation for [[streamFile]] (test evidence
    * that task memory tracks record size, not file size). */
  private[graft] final class StreamStats {
    @volatile var windowPeak: Long = 0L
    @volatile var memberPeak: Long = 0L
  }

  /** Decoded prefix of a gzip buffer: `data` = the concatenation of
    * every VALID member, `consumed` = exact input bytes those members
    * span, `error` = null iff the whole buffer decoded. A non-null
    * error means bytes [consumed, length) are an undecodable remainder
    * the caller must quarantine — NOT silently drop. */
  private[graft] final case class Gunzipped(data: Array[Byte], consumed: Int,
      error: String)

  /** Fully decode a (possibly multi-member) gzip buffer, MEMBER BY
    * MEMBER with exact byte accounting (RFC 1952 framing + raw-deflate
    * Inflater + CRC32/ISIZE trailer check). `GZIPInputStream` over a
    * concatenated buffer treats a garbage member header after a valid
    * member as clean EOF — silent record loss; here a garbage,
    * truncated, or CRC-failing member stops the decode with the
    * remainder reported so the caller can quarantine it. */
  private[graft] def gunzipMembers(bytes: Array[Byte]): Gunzipped = {
    // initial-capacity HINT only — clamped so a ~1 GB segment cannot
    // overflow Int (negative size throws) or eagerly grab 4 GB
    val out = new ByteArrayOutputStream(
      math.min(bytes.length.toLong * 4, 1L << 26).toInt max 64)
    var pos = 0
    var err: String = null
    while (err == null && pos < bytes.length) {
      if (!(pos + 2 <= bytes.length && (bytes(pos) & 0xff) == 0x1f &&
          (bytes(pos + 1) & 0xff) == 0x8b))
        err = s"not a gzip member header at offset $pos"
      else decodeMember(bytes, pos) match {
        case Right((data, next)) => out.write(data, 0, data.length); pos = next
        case Left(e) => err = e
      }
    }
    Gunzipped(out.toByteArray, pos, err)
  }

  /** Decode ONE gzip member starting at `pos`: parse the RFC 1952
    * header (FEXTRA/FNAME/FCOMMENT/FHCRC honored), inflate the raw
    * deflate stream, verify the CRC32 + ISIZE trailer. Returns the
    * member's decoded bytes and the offset just past its trailer, or
    * an error (nothing consumed). */
  private def decodeMember(bytes: Array[Byte],
      pos: Int): Either[String, (Array[Byte], Int)] = {
    def fail(m: String) = Left(s"gzip member at offset $pos: $m")
    if (pos + 10 > bytes.length) return fail("truncated header")
    if ((bytes(pos + 2) & 0xff) != 8)
      return fail(s"unknown compression method ${bytes(pos + 2) & 0xff}")
    val flg = bytes(pos + 3) & 0xff
    var i = pos + 10
    if ((flg & 4) != 0) { // FEXTRA: 2-byte LE length + payload
      if (i + 2 > bytes.length) return fail("truncated FEXTRA length")
      i += 2 + ((bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8))
      if (i > bytes.length) return fail("truncated FEXTRA payload")
    }
    for (bit <- Seq(8, 16)) if ((flg & bit) != 0) { // FNAME / FCOMMENT
      while (i < bytes.length && bytes(i) != 0) i += 1
      if (i >= bytes.length) return fail("unterminated FNAME/FCOMMENT")
      i += 1
    }
    if ((flg & 2) != 0) { // FHCRC
      if (i + 2 > bytes.length) return fail("truncated FHCRC")
      i += 2
    }
    val inf = new java.util.zip.Inflater(true)
    val out = new ByteArrayOutputStream(
      math.min((bytes.length - i).toLong * 4, 1L << 26).toInt max 64)
    val crc = new java.util.zip.CRC32
    try {
      inf.setInput(bytes, i, bytes.length - i)
      val buf = new Array[Byte](1 << 16)
      while (!inf.finished()) {
        val n =
          try inf.inflate(buf)
          catch { case e: java.util.zip.DataFormatException =>
            return fail(s"corrupt deflate stream: ${e.getMessage}") }
        if (n > 0) { out.write(buf, 0, n); crc.update(buf, 0, n) }
        else if (!inf.finished())
          return fail("truncated deflate stream")
      }
      val trailer = i + inf.getBytesRead.toInt
      if (trailer + 8 > bytes.length) return fail("truncated trailer")
      def le32(o: Int): Long =
        ((bytes(o) & 0xffL)) | ((bytes(o + 1) & 0xffL) << 8) |
          ((bytes(o + 2) & 0xffL) << 16) | ((bytes(o + 3) & 0xffL) << 24)
      if (le32(trailer) != crc.getValue)
        return fail("CRC32 mismatch")
      if (le32(trailer + 4) != (out.size().toLong & 0xffffffffL))
        return fail("ISIZE mismatch")
      Right((out.toByteArray, trailer + 8))
    } finally inf.end()
  }

  // ---- bounded-memory streaming decode ----

  /** Pull-based buffered reader over an InputStream — the parser
    * window. The buffer grows to the largest `ensure` span (≈ the
    * largest record) and is the ONLY record-sized allocation in the
    * pipeline besides the payloads themselves; `prevByte` keeps the
    * two bytes just before the window so record-marker CRLF context
    * survives a `skip`. */
  private[sources] final class ByteFeed(in: java.io.InputStream,
      stats: StreamStats = null) {
    private var buf = new Array[Byte](1 << 16)
    private var s = 0
    private var e = 0
    private var sawEof = false
    private var p1 = -1 // byte at absPos - 1
    private var p2 = -1 // byte at absPos - 2
    /** absolute stream offset of the window start */
    var absPos: Long = 0L

    def available: Int = e - s

    /** Make at least `n` bytes available (growing/compacting the
      * window as needed); returns the available count, < n only at
      * EOF. */
    def ensure(n: Int): Int = {
      if (e - s >= n || sawEof) return e - s
      if (buf.length - s < n) { // compact to make room from offset 0
        System.arraycopy(buf, s, buf, 0, e - s); e -= s; s = 0
      }
      if (buf.length < n) { // grow to the next power of two >= n
        var cap = buf.length.toLong
        while (cap < n) cap <<= 1
        val nb = new Array[Byte](math.min(cap, (Int.MaxValue - 8).toLong).toInt)
        System.arraycopy(buf, s, nb, 0, e - s)
        buf = nb
        if (stats != null && buf.length > stats.windowPeak)
          stats.windowPeak = buf.length.toLong
      }
      while (e - s < n && !sawEof) {
        // window already at the max array cap and still short of n:
        // return short (callers treat < n as truncation/quarantine)
        // instead of spinning on zero-length reads forever
        if (buf.length == e) return e - s
        val r = in.read(buf, e, buf.length - e)
        if (r < 0) sawEof = true else e += r
      }
      e - s
    }

    def apply(i: Int): Int = buf(s + i) & 0xff
    /** Byte just before the window: i = -1 or -2; -1 when unknown. */
    def prevByte(i: Int): Int = if (i == -1) p1 else p2
    def skip(n: Int): Unit = {
      if (n >= 2) { p2 = buf(s + n - 2) & 0xff; p1 = buf(s + n - 1) & 0xff }
      else if (n == 1) { p2 = p1; p1 = buf(s) & 0xff }
      s += n; absPos += n
    }
    def take(from: Int, until: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(buf, s + from, s + until)
    def array: Array[Byte] = buf
    def offset: Int = s
  }

  /** Streaming member-by-member gzip decode over a raw [[ByteFeed]]:
    * whole members or nothing (header + CRC32/ISIZE trailer verified
    * before a single byte is exposed — exactly [[gunzipMembers]]'s
    * batch contract, so a mid-member failure never leaks a partial
    * member downstream). Raw window memory is inflater-chunk-sized;
    * decoded memory is ONE member (Common Crawl writes one record per
    * member, so member ≈ record). On failure `error`/`errorOffset`
    * report the failed member's message and raw start offset — the
    * caller quarantines the raw remainder from there. */
  private final class MemberDecoder(raw: ByteFeed, stats: StreamStats = null) {
    var error: String = null
    var errorOffset: Long = -1L
    private var finished = false

    /** Next member's decoded bytes; null at end (clean iff error == null). */
    def next(): Array[Byte] = {
      if (finished) return null
      if (raw.ensure(1) == 0) { finished = true; return null } // clean EOF
      val memberStart = raw.absPos
      def fail(m: String): Array[Byte] = {
        error = s"gzip member at offset $memberStart: $m"
        errorOffset = memberStart; finished = true; null
      }
      if (raw.ensure(2) < 2 || raw(0) != 0x1f || raw(1) != 0x8b) {
        error = s"not a gzip member header at offset $memberStart"
        errorOffset = memberStart; finished = true; return null
      }
      if (raw.ensure(10) < 10) return fail("truncated header")
      if (raw(2) != 8)
        return fail(s"unknown compression method ${raw(2)}")
      val flg = raw(3)
      raw.skip(10)
      if ((flg & 4) != 0) { // FEXTRA: 2-byte LE length + payload
        if (raw.ensure(2) < 2) return fail("truncated FEXTRA length")
        val xlen = raw(0) | (raw(1) << 8)
        raw.skip(2)
        if (raw.ensure(xlen) < xlen) return fail("truncated FEXTRA payload")
        raw.skip(xlen)
      }
      var bit = 8
      while (bit <= 16) { // FNAME / FCOMMENT: NUL-terminated, skip as scanned
        if ((flg & bit) != 0) {
          var term = false
          while (!term) {
            if (raw.ensure(1) < 1) return fail("unterminated FNAME/FCOMMENT")
            term = raw(0) == 0
            raw.skip(1)
          }
        }
        bit <<= 1
      }
      if ((flg & 2) != 0) { // FHCRC
        if (raw.ensure(2) < 2) return fail("truncated FHCRC")
        raw.skip(2)
      }
      val inf = new java.util.zip.Inflater(true)
      val out = new ByteArrayOutputStream(1 << 16)
      val crc = new java.util.zip.CRC32
      val chunk = new Array[Byte](1 << 16)
      var supplied = 0
      try {
        while (!inf.finished()) {
          if (inf.needsInput()) {
            raw.skip(supplied); supplied = 0
            if (raw.ensure(1) == 0) return fail("truncated deflate stream")
            inf.setInput(raw.array, raw.offset, raw.available)
            supplied = raw.available
          }
          val n =
            try inf.inflate(chunk)
            catch { case e: java.util.zip.DataFormatException =>
              return fail(s"corrupt deflate stream: ${e.getMessage}") }
          if (n > 0) { out.write(chunk, 0, n); crc.update(chunk, 0, n) }
          else if (!inf.finished() && !inf.needsInput())
            return fail("truncated deflate stream")
        }
        raw.skip(supplied - inf.getRemaining); supplied = 0
        if (raw.ensure(8) < 8) return fail("truncated trailer")
        def le32(o: Int): Long =
          (raw(o).toLong) | (raw(o + 1).toLong << 8) |
            (raw(o + 2).toLong << 16) | (raw(o + 3).toLong << 24)
        if (le32(0) != crc.getValue) return fail("CRC32 mismatch")
        if (le32(4) != (out.size().toLong & 0xffffffffL))
          return fail("ISIZE mismatch")
        raw.skip(8)
        if (stats != null && out.size().toLong > stats.memberPeak)
          stats.memberPeak = out.size().toLong
        out.toByteArray
      } finally inf.end()
    }
  }

  /** The decoded-bytes view of a [[MemberDecoder]] as an InputStream
    * (holds at most one member at a time). */
  private final class MemberStream(d: MemberDecoder) extends java.io.InputStream {
    private var cur: Array[Byte] = null
    private var pos = 0
    override def read(): Int = {
      val b = new Array[Byte](1)
      if (read(b, 0, 1) < 0) -1 else b(0) & 0xff
    }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (len == 0) return 0
      while (cur == null || pos >= cur.length) {
        cur = d.next(); pos = 0
        if (cur == null) return -1
      }
      val n = math.min(len, cur.length - pos)
      System.arraycopy(cur, pos, b, off, n); pos += n
      n
    }
  }

  /** Incremental WARC parser over a DECODED [[ByteFeed]] — one record
    * (or quarantined span) at a time, window memory ∝ the current
    * record. Semantics match the former whole-buffer parser on every
    * fixture, including quarantine-resync on the next `WARC/`-after-
    * CRLF marker; the one divergence is the [[QuarantineCap]] chunking
    * of over-long garbage spans. */
  private final class WarcStreamParser(path: String, feed: ByteFeed,
      onExhausted: () => Unit) extends Iterator[WarcRecord] {

    private val q = new scala.collection.mutable.Queue[WarcRecord]()
    private var idx = 0L
    private var finished = false
    private var closed = false
    private var beforeFirst = true

    /** total records emitted (the gzip tail record's record_idx). */
    def emitted: Long = idx

    override def hasNext: Boolean = {
      while (q.isEmpty && !finished) step()
      if (q.isEmpty && !closed) {
        closed = true
        try onExhausted() catch { case _: Exception => () }
      }
      q.nonEmpty
    }
    override def next(): WarcRecord = {
      if (!hasNext) throw new NoSuchElementException("WarcStreamParser")
      q.dequeue()
    }

    private def quarantine(payload: Array[Byte], err: String): Unit = {
      q += WarcRecord(path, idx, null, null, null, null, null, null,
        -1L, Map.empty, payload, err)
      idx += 1
    }

    private def step(): Unit =
      if (beforeFirst) scanFirst() else parseRecord()

    /** Is there a valid record marker at relative offset `i`? Valid =
      * `WARC/` at the absolute start of input or right after a CRLF
      * (the CRLF may be the previous record's payload tail — matched
      * via the feed's prev-byte memory). */
    private def markerAt(i: Int): Boolean =
      feed(i) == 'W' && feed(i + 1) == 'A' && feed(i + 2) == 'R' &&
        feed(i + 3) == 'C' && feed(i + 4) == '/' &&
        ((feed.absPos + i == 0L) ||
          (byteAt(i - 2) == '\r' && byteAt(i - 1) == '\n'))

    private def byteAt(i: Int): Int =
      if (i >= 0) feed(i) else feed.prevByte(i)

    /** Scan for the next valid marker from relative offset `from`;
      * returns its relative offset or -1 at EOF. Spans longer than
      * [[QuarantineCap]] flush as `overflowLabel` quarantine chunks
      * (the window is then shifted — the returned offset is relative
      * to the CURRENT window start). */
    /** Did the last [[scanForMarker]] call flush overflow chunks (i.e.
      * shift the window)? When true, the returned offset is NOT
      * relative to the span start, so positional tolerances (the CRLF
      * CRLF framing allowance in [[afterPayload]]) must not apply. */
    private var lastScanOverflowed = false

    private def scanForMarker(from: Int, overflowLabel: String): Int = {
      lastScanOverflowed = false
      var i = from
      while (feed.ensure(i + 5) >= i + 5) {
        if (markerAt(i)) return i
        i += 1
        if (i > QuarantineCap) {
          val keep = 6
          quarantine(feed.take(0, i - keep), overflowLabel)
          feed.skip(i - keep)
          i = keep
          lastScanOverflowed = true
        }
      }
      -1
    }

    /** One CRLF-terminated line starting at relative `i`: (line,
      * offset-after-CRLF), or null when EOF (or [[HeaderCap]]) arrives
      * first. Header lines are ASCII per spec; decoded UTF-8 for
      * tolerance. */
    private def readLine(i: Int): (String, Int) = {
      var j = i
      while (feed.ensure(j + 2) >= j + 2 && j - i <= HeaderCap) {
        if (feed(j) == '\r' && feed(j + 1) == '\n')
          return (new String(feed.array, feed.offset + i, j - i, UTF_8), j + 2)
        j += 1
      }
      null
    }

    private def scanFirst(): Unit = {
      if (feed.ensure(1) == 0) { finished = true; return } // empty input
      val m = scanForMarker(0, "leading bytes before first record")
      if (m < 0) {
        quarantine(feed.take(0, feed.available), "no WARC record marker")
        feed.skip(feed.available)
        finished = true
      } else {
        if (m > 0)
          quarantine(feed.take(0, m), "leading bytes before first record")
        feed.skip(m)
        beforeFirst = false
      }
    }

    /** Quarantine [record start, next marker | EOF) as `err` and leave
      * the window at the resync point. */
    private def failResync(err: String): Unit = {
      val m = scanForMarker(5, err)
      if (m < 0) {
        quarantine(feed.take(0, feed.available), err)
        feed.skip(feed.available)
        finished = true
      } else {
        quarantine(feed.take(0, m), err)
        feed.skip(m)
      }
    }

    /** Parse the record whose marker sits at window offset 0. */
    private def parseRecord(): Unit = {
      readLine(0) match {
        case null => failResync("truncated version line")
        case (version, afterVersion) =>
          // header block until the blank CRLF line
          var hdrs = Map.empty[String, String]
          var i = afterVersion
          var blank = false
          var broken: String = null
          while (!blank && broken == null) {
            readLine(i) match {
              case null => broken = "truncated header block"
              case ("", after) => i = after; blank = true
              case (line, after) =>
                val c = line.indexOf(':')
                if (c <= 0) broken = s"malformed header line: $line"
                else {
                  hdrs += (line.substring(0, c).trim -> line.substring(c + 1).trim)
                  i = after
                }
            }
          }
          if (broken != null) { failResync(broken); return }
          // ISO 28500 field names are case-insensitive: look up via a
          // lowercased key map; `hdrs` keeps the raw casing for the
          // headers column
          val lk = hdrs.map { case (k, v) =>
            k.toLowerCase(java.util.Locale.ROOT) -> v }
          lk.get("content-length").flatMap(_.toLongOption) match {
            case None => failResync("missing or non-numeric Content-Length")
            case Some(len) if len < 0 => failResync("negative Content-Length")
            // the header offset `i` participates in the window size, so
            // the cap check MUST bound i + len in Long — a len just
            // under Int.MaxValue would otherwise wrap `need` negative
            // (skipping the truncation branch into a take() throw) or
            // land in the (MaxValue-8, MaxValue] window where ensure()
            // can never satisfy the request
            case Some(len) if i.toLong + len > Int.MaxValue - 8 =>
              failResync(s"Content-Length $len exceeds the per-record buffer cap")
            case Some(len) =>
              val need = i + len.toInt
              val avail = feed.ensure(need)
              if (avail < need) {
                // truncation: every remaining input byte is now in the
                // window, so the resync scan (a marker may hide inside
                // the partial payload) behaves exactly like the batch
                // parser's did
                failResync(
                  s"truncated payload: need $len bytes, have ${avail - i}")
              } else {
                val payload = feed.take(i, need)
                q += WarcRecord(path, idx, version,
                  lk.getOrElse("warc-type", null),
                  lk.getOrElse("warc-target-uri", null),
                  lk.getOrElse("warc-record-id", null),
                  lk.getOrElse("warc-date", null),
                  lk.getOrElse("content-type", null),
                  len, hdrs, payload, null)
                idx += 1
                feed.skip(need)
                afterPayload()
              }
          }
      }
    }

    /** After a payload: spec says CRLF CRLF; tolerate EOF (last
      * record), quarantine gaps longer than the 4 framing bytes, and
      * resync on the next marker. */
    private def afterPayload(): Unit = {
      if (feed.ensure(1) == 0) { finished = true; return }
      val m = scanForMarker(0, "inter-record garbage")
      // the 4-byte tolerance is for the spec's CRLF CRLF framing right
      // after the payload; once overflow chunks shifted the window the
      // tail span is mid-garbage, not framing — keep EVERY byte
      val tol = if (lastScanOverflowed) 0 else 4
      if (m < 0) {
        val rem = feed.available
        if (rem > tol)
          quarantine(feed.take(0, rem), "trailing bytes after last record")
        feed.skip(rem)
        finished = true
      } else {
        if (m > tol) quarantine(feed.take(0, m), "inter-record garbage")
        feed.skip(m)
      }
    }
  }

  /** Re-open the input to recover the raw bytes from `from` to EOF for
    * the gzip-remainder quarantine record: (first [[QuarantineCap]]
    * bytes, total remainder length). Error path only. */
  private def readRemainder(open: () => java.io.InputStream,
      from: Long): (Array[Byte], Long) = {
    val in = open()
    try {
      var toSkip = from
      var eof = false
      while (toSkip > 0 && !eof) {
        val s = in.skip(toSkip)
        if (s > 0) toSkip -= s
        else if (in.read() >= 0) toSkip -= 1
        else eof = true
      }
      val head = new ByteArrayOutputStream(1 << 16)
      var total = 0L
      val buf = new Array[Byte](1 << 16)
      var r = if (eof) -1 else in.read(buf)
      while (r >= 0) {
        val keep = math.min(r.toLong, QuarantineCap.toLong - head.size()).toInt
        if (keep > 0) head.write(buf, 0, keep)
        total += r
        r = in.read(buf)
      }
      (head.toByteArray, total)
    } finally in.close()
  }

  /** Stream-parse one WARC/WET file (gzip auto-detected by magic, so
    * `.warc`, `.warc.gz` and `.wet.gz` all work) with BOUNDED memory:
    * window ∝ the largest record / gzip member, never the file. Gzip
    * decode is member-by-member with byte accounting: valid members
    * parse normally and an undecodable REMAINDER (garbage member
    * header after a valid member, truncation, CRC failure) becomes one
    * quarantine record carrying the raw undecoded bytes (re-read via
    * `open`, capped at [[QuarantineCap]]) — never a silent drop, never
    * a failed task. A file whose very first member is undecodable
    * quarantines as one record, as before. `open` must produce a fresh
    * stream per call. */
  private[graft] def streamFile(path: String,
      open: () => java.io.InputStream,
      stats: StreamStats = null): Iterator[WarcRecord] = {
    val in = open()
    // backstop for a non-drained iterator (a downstream limit()): the
    // task-completion listener reclaims the stream; exhaustion closes
    // eagerly via the parser's onExhausted
    Option(org.apache.spark.TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ =>
        try in.close() catch { case _: Exception => () }))
    val raw = new ByteFeed(in, stats)
    val gz = raw.ensure(2) >= 2 && raw(0) == 0x1f && raw(1) == 0x8b
    if (!gz) new WarcStreamParser(path, raw, () => in.close())
    else {
      val dec = new MemberDecoder(raw, stats)
      val parser = new WarcStreamParser(path,
        new ByteFeed(new MemberStream(dec), stats), () => in.close())
      // the tail is evaluated only after the parser exhausts — by then
      // the decoder's error state is final
      parser ++ {
        if (dec.error == null) Iterator.empty[WarcRecord]
        else {
          val (bytes, total) = readRemainder(open, dec.errorOffset)
          if (dec.errorOffset == 0L)
            Iterator.single(WarcRecord(path, 0L, null, null, null, null,
              null, null, -1L, Map.empty, bytes, dec.error))
          else
            Iterator.single(WarcRecord(path, parser.emitted, null, null,
              null, null, null, null, -1L, Map.empty, bytes,
              s"undecoded gzip remainder ($total bytes): ${dec.error}"))
        }
      }
    }
  }

  /** Parse a whole (decoded) WARC buffer into records + quarantines —
    * the array form of [[WarcStreamParser]] (tests and small
    * fixtures; production reads go through [[readWarcFiles]]'s
    * streams). */
  def parseBuffer(path: String, bytes: Array[Byte]): Seq[WarcRecord] =
    new WarcStreamParser(path,
      new ByteFeed(new java.io.ByteArrayInputStream(bytes)), () => ())
      .toVector

  /** Parse one file's raw bytes — [[streamFile]] over an in-memory
    * buffer (gzip auto-detected; identical record/quarantine
    * semantics). */
  def parseFile(path: String, bytes: Array[Byte]): Seq[WarcRecord] =
    streamFile(path, () => new java.io.ByteArrayInputStream(bytes)).toVector

  /** Read a directory (or glob) of WARC/WET files into a DataFrame:
    * (path, record_idx, warc_version, warc_type, target_uri,
    * record_id, warc_date, content_length, headers, payload, error) —
    * `error` IS NULL for clean records, set for quarantined byte
    * ranges (the JSONL dead-letter posture). One task per file (gzip
    * is not splittable); see the object doc for why that is the right
    * 100 TB shape. */
  def readWarcFiles(spark: SparkSession, path: String): DataFrame =
    readWarcFiles(spark, Seq(path))

  /** Multi-path form — the [[IncrementalFiles.readNewWarc]] entry
    * point (an increment is an explicit file list, not a glob).
    *
    * Listing/packing rides the binaryFile source (size-aware file
    * packing, glob/dir semantics) with ONLY the path column — content
    * is NOT materialized into rows (that would cap files at the 2 GiB
    * array limit and hold compressed + decoded + records at once);
    * each task opens its files as Hadoop streams and runs the bounded
    * [[streamFile]] pipeline. */
  def readWarcFiles(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    spark.read.format("binaryFile").load(paths: _*)
      .select(col("path"))
      .as[String]
      .flatMap { p =>
        // Path's String constructor tolerates URI-illegal characters
        // (spaces etc.) that Hadoop may emit unescaped in the
        // binaryFile path column; `new java.net.URI(p)` would throw
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(conf.value)
        streamFile(p, () => fs.open(hp))
      }
      .toDF()
  }

  /** Parsed crawl records → the documents-shaped frame the curation
    * tier ingests (url, record_id, warc_date, text + envelope/decode
    * columns): WET `conversion` payloads are plain text — UTF-8 by the
    * Common Crawl WET convention, decoded STRICTLY with a windows-1252
    * fallback ([[graft.expressions.PlainTextDecode]]) so a corrupt
    * payload reports its real charset instead of silent U+FFFD
    * mojibake; `response` payloads carry an HTTP
    * message, decoded byte-exactly by
    * [[graft.expressions.HttpBodyDecode]] — body after the first CRLF
    * CRLF, `Content-Encoding: gzip/deflate` honored, charset resolved
    * Content-Type param → meta sniff → UTF-8-strict-else-windows-1252.
    * An undecodable body yields a NULL text with `decode_error` set
    * (the quarantine posture). Quarantined and non-document record
    * types (warcinfo, request, metadata) are filtered.
    *
    * A pure projection over the record frame — decompression, charset
    * trial, and the body slice run in the task that parsed the file,
    * before any shuffle; compose [[graft.functions.TextAnalysis]]
    * gates directly downstream. Output: (url, record_id, warc_date,
    * http_status, http_content_type, text, charset, content_encoding,
    * decode_error). */
  def documentsFrame(records: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftglue.Bridge
    // ISO-8859-1 decode for the ENVELOPE extracts: byte-position-exact
    // (headers are ASCII per spec; a binary body cannot shift offsets)
    val txt = decode(col("payload"), "ISO-8859-1")
    val bodyPos = locate("\r\n\r\n", txt)
    val isResp = col("warc_type") === "response"
    // HTTP envelope signals a crawl gate reads (status != 200 and
    // non-text content-type rows are dropped before the text tier):
    // RE2-safe extracts over the HEADER BLOCK only — a Content-Type
    // string inside the body must not match
    val hdr = when(bodyPos > 0, txt.substr(lit(1), bodyPos - 1))
      .otherwise(txt)
    val status = regexp_extract(hdr, "^HTTP/[0-9.]+ ([0-9]{3})", 1)
    val ctype = regexp_extract(hdr,
      "(?i)(?:^|\r\n)content-type:\\s*([^\r\n;]+)", 1)
    val dec = Bridge.column(
      graft.expressions.HttpBodyDecode(Bridge.expression(col("payload"))))
    // conversion payloads take the SAME strict-UTF-8-else-windows-1252
    // trial as an undeclared response body — Spark's lenient decode
    // would report charset='utf-8' while silently replacing malformed
    // bytes with U+FFFD (mojibake into dedup digests/quality gates)
    val pdec = Bridge.column(
      graft.expressions.PlainTextDecode(Bridge.expression(col("payload"))))
    records
      .filter(col("error").isNull &&
        col("warc_type").isin("conversion", "response"))
      // CaseWhen is lazy per row: WET conversion records never pay the
      // HTTP envelope scan/decompress/charset trial and response
      // records never pay the plain trial
      .withColumn("__dec", when(isResp, dec))
      .withColumn("__pdec", when(!isResp, pdec))
      .select(col("target_uri").as("url"), col("record_id"),
        col("warc_date"),
        when(isResp && status =!= "", status.cast("int"))
          .otherwise(lit(null).cast("int")).as("http_status"),
        when(isResp && ctype =!= "", lower(trim(ctype)))
          .otherwise(lit(null).cast("string")).as("http_content_type"),
        when(isResp, col("__dec.text"))
          .otherwise(col("__pdec.text")).as("text"),
        when(isResp, col("__dec.charset"))
          .otherwise(col("__pdec.charset")).as("charset"),
        when(isResp, col("__dec.content_encoding"))
          .otherwise(lit(null).cast("string")).as("content_encoding"),
        when(isResp, col("__dec.error"))
          .otherwise(lit(null).cast("string")).as("decode_error"))
  }

  /** URL-level crawl dedup — the keep-latest-per-URL pass between WARC
    * ingestion and the text tiers: the same page re-crawled across
    * segments (or reached via casing/trailing-slash/tracking-param URL
    * variants) must enter dedup/quality gates ONCE, as its latest
    * capture. Keys on [[graft.functions.UrlOps.canonical]] of `urlCol`
    * and keeps the row with the max (`dateCol`, `tieCol`) — WARC dates
    * are ISO 8601, so lexicographic max IS chronological; `tieCol`
    * (record_id) makes same-instant recrawls deterministic. NULL dates
    * lose to any dated capture (coalesced to "").
    *
    * Scale shape: ONE hash aggregation (`max_by` of the whole row) on
    * the canonical key — the CDC keep-latest shape
    * ([[graft.operators.Analytics]] `applyChangelog`), no window over
    * the corpus. Partial aggregation collapses same-key recrawls
    * map-side, so at Common-Crawl recrawl rates the shuffle carries
    * barely more than one row per URL. Output: `canonical_url` + the
    * input columns of the kept row. */
  def latestByUrl(docs: DataFrame, urlCol: String = "url",
      dateCol: String = "warc_date",
      tieCol: String = "record_id"): DataFrame = {
    require(Seq(urlCol, dateCol, tieCol).forall(docs.columns.contains),
      s"latestByUrl needs ($urlCol, $dateCol, $tieCol), got " +
        docs.columns.mkString(", "))
    val others = docs.columns.toSeq
    // canonical() maps an unparseable target URI (no scheme://host —
    // e.g. angle-bracket-wrapped URIs some WARC writers emit) to ""
    // and a NULL url to NULL; keying on that verbatim would collapse
    // EVERY such record into one group and max_by would silently keep
    // exactly one. Fall back to the RAW url (each distinct unparseable
    // string stays its own group — no data loss), and give url-less
    // records a per-record surrogate key (tieCol) so none is dropped;
    // their canonical_url reads back as NULL.
    val canon = graft.functions.UrlOps.canonicalWithQuery(col(urlCol))
    val key = when(col(urlCol).isNull,
        concat(lit(NoUrlKeyPrefix), col(tieCol).cast("string")))
      .when(canon === "", col(urlCol).cast("string"))
      .otherwise(canon)
    docs
      .withColumn("__canon", key)
      .groupBy(col("__canon"))
      .agg(max_by(struct(others.map(col): _*),
        struct(coalesce(col(dateCol).cast("string"), lit("")),
          col(tieCol))).as("__r"))
      .select(when(col("__canon").startsWith(NoUrlKeyPrefix),
          lit(null).cast("string"))
          .otherwise(col("__canon")).as("canonical_url") +:
        others.map(c => col(s"__r.`$c`").as(c)): _*)
  }

  /** Surrogate group-key prefix for url-less records in
    * [[latestByUrl]] — U+0000 cannot appear in a real URL, so the
    * prefix cannot collide with a canonical key. */
  private val NoUrlKeyPrefix = "\u0000nourl:"

  /** WARC `revisit` records (ISO 28500; the Common Crawl dedupe
    * convention): a revisit marks "this URL was fetched again and the
    * content was unchanged" — it carries no body worth the text tier,
    * but its `warc_date` is a FRESHNESS signal the URL-dedup tier
    * should absorb instead of dropping. Scan-local projection; the
    * refers-to headers are looked up case-insensitively (the parser
    * keeps raw casing in the headers column). Output: (url, record_id,
    * warc_date, refers_to, refers_to_date). */
  def revisitFrame(records: DataFrame): DataFrame = {
    // FIRST case-insensitive match per field — a map_from_entries of
    // lowercased keys would THROW on case-variant duplicate headers
    // (mapKeyDedupPolicy=EXCEPTION), violating the never-fail posture.
    // `get` (0-based) returns NULL on an empty filter result where
    // element_at would throw INVALID_ARRAY_INDEX_IN_ELEMENT_AT under
    // ANSI mode — WARC-Refers-To-Date is a WARC 1.1 OPTIONAL header,
    // so a revisit without it must yield NULL, not a failed task
    def hdr(name: String) = get(filter(
      map_entries(col("headers")),
      e => lower(e.getField("key")) === name), lit(0)).getField("value")
    records
      .filter(col("error").isNull && col("warc_type") === "revisit")
      .select(col("target_uri").as("url"), col("record_id"),
        col("warc_date"),
        hdr("warc-refers-to").as("refers_to"),
        hdr("warc-refers-to-date").as("refers_to_date"))
  }

  /** WAT-style metadata frame — the third Common Crawl artifact
    * format next to WARC (raw) and WET (text): per `response` record,
    * the crawl METADATA a link-graph / frontier / indexing pipeline
    * consumes without ever touching bodies downstream. Envelope
    * fields (status, mime, redirect `Location` — the header a
    * redirect-chain resolver follows), decode fields (charset,
    * content_encoding via [[graft.expressions.HttpBodyDecode]]), and
    * for HTML bodies a [[graft.expressions.HtmlLinks]] single-pass
    * rollup: title (whitespace-collapsed), the effective `<base
    * href>`, link/anchor counts, and the sorted distinct RESOLVED
    * outlink hosts (RFC 3986 resolution per ref, in-array — no
    * explode, no shuffle). Non-HTML and undecodable bodies report
    * zero links with NULL title/base. Pure scan-local projection over
    * the record frame: payload bytes stay in the task that parsed the
    * file; the output is metadata-sized. Output: (url, record_id,
    * warc_date, http_status, mime, redirect_location, charset,
    * content_encoding, title, base_href, n_links, n_anchor_links,
    * n_link_hosts, link_hosts). */
  def watFrame(records: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftglue.Bridge
    import graft.functions.UrlOps
    // envelope extracts over the latin1 header block (byte-exact, the
    // documentsFrame discipline)
    val txt = decode(col("payload"), "ISO-8859-1")
    val bodyPos = locate("\r\n\r\n", txt)
    val hdrBlock = when(bodyPos > 0, txt.substr(lit(1), bodyPos - 1))
      .otherwise(txt)
    val status = regexp_extract(hdrBlock, "^HTTP/[0-9.]+ ([0-9]{3})", 1)
    val ctype = regexp_extract(hdrBlock,
      "(?i)(?:^|\r\n)content-type:\\s*([^\r\n;]+)", 1)
    val location = regexp_extract(hdrBlock,
      "(?i)(?:^|\r\n)location:\\s*([^\r\n]+)", 1)
    val dec = Bridge.column(
      graft.expressions.HttpBodyDecode(Bridge.expression(col("payload"))))
    val base0 = records
      .filter(col("error").isNull && col("warc_type") === "response")
      .withColumn("__dec", dec)
      .select(col("target_uri").as("url"), col("record_id"),
        col("warc_date"),
        when(status =!= "", status.cast("int")).as("http_status"),
        when(ctype =!= "", lower(trim(ctype))).as("mime"),
        when(location =!= "", trim(location)).as("redirect_location"),
        col("__dec.charset").as("charset"),
        col("__dec.content_encoding").as("content_encoding"),
        col("__dec.text").as("__text"))
    val isHtml = (col("mime").isNull || col("mime").contains("html")) &&
      col("__text").isNotNull
    val hl = Bridge.column(
      graft.expressions.HtmlLinks(Bridge.expression(col("__text"))))
    val withHl = base0.withColumn("__hl", when(isHtml, hl))
    val effBase = when(col("__hl.base").isNull, col("url"))
      .otherwise(coalesce(UrlOps.resolveRef(col("url"), col("__hl.base")),
        col("url")))
    val resolvedHosts = array_sort(array_distinct(filter(
      transform(col("__hl.refs"),
        r => UrlOps.hostNoPort(
          UrlOps.resolveRef(col("__base"), r.getField("ref")))),
      h => h.isNotNull && h =!= "")))
    val title = regexp_extract(col("__text"),
      "(?is)<title[^>]*>(.*?)</title>", 1)
    withHl
      .withColumn("__base", when(col("__hl").isNotNull, effBase))
      .select(col("url"), col("record_id"), col("warc_date"),
        col("http_status"), col("mime"), col("redirect_location"),
        col("charset"), col("content_encoding"),
        when(col("__hl").isNotNull && title =!= "",
          trim(regexp_replace(title, "\\s+", " "))).as("title"),
        col("__hl.base").as("base_href"),
        coalesce(size(col("__hl.refs")), lit(0)).cast("long")
          .as("n_links"),
        coalesce(size(filter(col("__hl.refs"),
          r => r.getField("anchor").isNotNull)), lit(0)).cast("long")
          .as("n_anchor_links"),
        coalesce(size(when(col("__hl").isNotNull, resolvedHosts)), lit(0))
          .cast("long").as("n_link_hosts"),
        concat_ws("|", when(col("__hl").isNotNull, resolvedHosts))
          .as("link_hosts"))
  }

  /** Resolve revisit records to the capture they duplicate — the
    * WARC-Payload-Digest convention (Common Crawl): a `revisit` may
    * name its original via `WARC-Refers-To` (+ the optional 1.1
    * `WARC-Refers-To-Date`), but in the wild the reference is often
    * ABSENT and only the payload digest identifies the duplicated
    * capture, possibly in another segment. For each revisit:
    * explicitly-referenced ones pass through (`resolved_via =
    * 'header'`); reference-less ones with a digest join to the LATEST
    * capture of the same canonical URL carrying the same
    * `WARC-Payload-Digest` dated at or before the revisit
    * (`resolved_via = 'digest'` — URL-scoped, so a same-digest capture
    * of a different page never claims the chain); the rest stay
    * unresolved (NULL refers_to, NULL resolved_via) — never dropped.
    * Digests compare as opaque strings (the writer's `sha1:B32`
    * labels), exactly like the reference resolution tools.
    *
    * Scale shape: one equi-join on the (canonical URL, digest) key —
    * revisits and the capture REGISTRY (four registry-sized columns,
    * never payload bytes) shuffle on it — plus one max_by per revisit
    * (partial-aggregated). Output: (url, record_id, warc_date,
    * payload_digest, refers_to, refers_to_date, resolved_via). */
  def resolveRevisits(records: DataFrame): DataFrame = {
    def hdr(name: String) = get(filter(
      map_entries(col("headers")),
      e => lower(e.getField("key")) === name), lit(0)).getField("value")
    val canon = graft.functions.UrlOps.canonicalWithQuery(col("target_uri"))
    val rv = records
      .filter(col("error").isNull && col("warc_type") === "revisit")
      .select(col("target_uri").as("url"), col("record_id"),
        col("warc_date"),
        hdr("warc-refers-to").as("__hdr_ref"),
        hdr("warc-refers-to-date").as("__hdr_ref_date"),
        hdr("warc-payload-digest").as("payload_digest"),
        canon.as("__cu"))
    val caps = records
      .filter(col("error").isNull &&
        col("warc_type").isin("response", "conversion"))
      .select(canon.as("__ccu"),
        hdr("warc-payload-digest").as("__cdigest"),
        col("record_id").as("__cap_id"),
        col("warc_date").cast("string").as("__cap_date"))
      .filter(col("__cdigest").isNotNull && col("__cap_date").isNotNull)
    val need = rv.filter(col("__hdr_ref").isNull &&
      col("payload_digest").isNotNull)
    val resolved = need
      .join(caps,
        need("__cu") === caps("__ccu") &&
          need("payload_digest") === caps("__cdigest") &&
          caps("__cap_date") <= need("warc_date").cast("string"))
      .groupBy(need("record_id").as("__rid"))
      .agg(max_by(struct(col("__cap_id"), col("__cap_date")),
        struct(col("__cap_date"), col("__cap_id"))).as("__c"))
      .select(col("__rid"), col("__c.__cap_id").as("__res_id"),
        col("__c.__cap_date").as("__res_date"))
    rv.join(resolved, rv("record_id") === resolved("__rid"), "left")
      .select(col("url"), rv("record_id"), col("warc_date"),
        col("payload_digest"),
        coalesce(col("__hdr_ref"), col("__res_id")).as("refers_to"),
        coalesce(col("__hdr_ref_date"), col("__res_date"))
          .as("refers_to_date"),
        when(col("__hdr_ref").isNotNull, lit("header"))
          .when(col("__res_id").isNotNull, lit("digest"))
          .otherwise(lit(null).cast("string")).as("resolved_via"))
  }

  /** [[latestByUrl]] with revisit freshness folded in: the kept row
    * per canonical URL is still the latest CAPTURE (revisits carry no
    * body), and `last_seen` = max(kept capture date, any revisit date
    * for the URL) — the signal a recrawl scheduler reads (a page whose
    * last_seen is a recent revisit need not be refetched even though
    * its body capture is old). Revisits for URLs with no capture are
    * dropped — there is nothing to keep. One extra registry-shaped
    * aggregation + one join on the canonical key; text still shuffles
    * at most once, in latestByUrl. */
  def latestWithRevisits(docs: DataFrame, revisits: DataFrame,
      urlCol: String = "url", dateCol: String = "warc_date",
      tieCol: String = "record_id"): DataFrame = {
    val kept = latestByUrl(docs, urlCol, dateCol, tieCol)
    val rv = revisits
      .select(graft.functions.UrlOps.canonicalWithQuery(col(urlCol))
        .as("canonical_url"),
        col(dateCol).cast("string").as("__rd"))
      .filter(col("__rd").isNotNull)
      .groupBy("canonical_url").agg(max(col("__rd")).as("__rv_max"))
    kept.join(rv, Seq("canonical_url"), "left")
      .withColumn("last_seen",
        greatest(coalesce(col(dateCol).cast("string"), lit("")),
          coalesce(col("__rv_max"), lit(""))))
      .drop("__rv_max")
  }

  // ---- fixture/writer side (tests and deterministic oracles) ----

  /** Serialize one record with correct Content-Length framing. */
  def buildRecord(version: String, headers: Seq[(String, String)],
      payload: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(version).append("\r\n")
    headers.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
    sb.append("Content-Length: ").append(payload.length).append("\r\n\r\n")
    val head = sb.toString.getBytes(UTF_8)
    val out = new ByteArrayOutputStream(head.length + payload.length + 4)
    out.write(head); out.write(payload); out.write("\r\n\r\n".getBytes(UTF_8))
    out.toByteArray
  }

  /** Gzip a buffer (single member). */
  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(bytes.length / 2 + 64)
    val gz = new GZIPOutputStream(out)
    gz.write(bytes); gz.close()
    out.toByteArray
  }

  /** zlib-deflate a buffer (the HTTP `deflate` content coding). */
  def deflate(bytes: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(bytes); d.finish()
    val out = new ByteArrayOutputStream(bytes.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) { val n = d.deflate(buf); out.write(buf, 0, n) }
    d.end()
    out.toByteArray
  }
}
