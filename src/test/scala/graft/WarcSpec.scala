package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Warc

class WarcSpec extends SparkSpec {

  // a hand-written WARC (NOT via buildRecord — the parser must not be
  // tested against its own writer): response record whose payload
  // embeds CRLF CRLF, proving Content-Length slicing over delimiter
  // scanning, followed by a WET-style conversion record
  private val handWritten: Array[Byte] =
    ("WARC/1.0\r\n" +
      "WARC-Type: response\r\n" +
      "WARC-Target-URI: http://example.com/a\r\n" +
      "WARC-Record-ID: <urn:uuid:0001>\r\n" +
      "WARC-Date: 2026-08-15T00:00:00Z\r\n" +
      "Content-Type: application/http\r\n" +
      "Content-Length: 20\r\n" +
      "\r\n" +
      "AB\r\n\r\nCD binary-ish!" + // exactly 20 payload bytes incl CRLFCRLF
      "\r\n\r\n" +
      "WARC/1.1\r\n" +
      "WARC-Type: conversion\r\n" +
      "WARC-Target-URI: http://example.com/b\r\n" +
      "Content-Length: 5\r\n" +
      "\r\n" +
      "hello" +
      "\r\n\r\n").getBytes(UTF_8)

  test("hand-written WARC parses bit-exactly (headers + payload)") {
    val recs = Warc.parseBuffer("f", handWritten)
    assert(recs.length === 2)
    val r0 = recs(0)
    assert(r0.error === null)
    assert(r0.warc_version === "WARC/1.0")
    assert(r0.warc_type === "response")
    assert(r0.target_uri === "http://example.com/a")
    assert(r0.record_id === "<urn:uuid:0001>")
    assert(r0.warc_date === "2026-08-15T00:00:00Z")
    assert(r0.content_type === "application/http")
    assert(r0.content_length === 20L)
    assert(new String(r0.payload, UTF_8) === "AB\r\n\r\nCD binary-ish!")
    assert(r0.headers("WARC-Type") === "response")
    val r1 = recs(1)
    assert(r1.warc_version === "WARC/1.1")
    assert(r1.warc_type === "conversion")
    assert(new String(r1.payload, UTF_8) === "hello")
  }

  test("buildRecord round-trips through the parser, plain and gzip") {
    val a = Warc.buildRecord("WARC/1.0",
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "http://x/1"),
      Array.tabulate[Byte](257)(i => (i % 251).toByte)) // binary payload
    val b = Warc.buildRecord("WARC/1.0",
      Seq("WARC-Type" -> "conversion", "WARC-Target-URI" -> "http://x/2"),
      "text body".getBytes(UTF_8))
    val buf = a ++ b
    for (bytes <- Seq(buf, Warc.gzip(buf))) {
      val recs = Warc.parseFile("f", bytes)
      assert(recs.length === 2, recs.map(_.error).mkString("|"))
      assert(recs.forall(_.error == null))
      assert(recs(0).payload.toSeq ===
        Array.tabulate[Byte](257)(i => (i % 251).toByte).toSeq)
      assert(recs(1).target_uri === "http://x/2")
    }
  }

  test("multi-member gzip (the .warc.gz convention) decodes fully") {
    val a = Warc.gzip(Warc.buildRecord("WARC/1.0",
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "http://x/1"),
      "one".getBytes(UTF_8)))
    val b = Warc.gzip(Warc.buildRecord("WARC/1.0",
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "http://x/2"),
      "two".getBytes(UTF_8)))
    val recs = Warc.parseFile("f", a ++ b)
    assert(recs.length === 2)
    assert(recs.map(_.target_uri).toSeq === Seq("http://x/1", "http://x/2"))
  }

  test("malformed records quarantine and the parser resynchronizes") {
    val good = Warc.buildRecord("WARC/1.0",
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "http://x/ok"),
      "fine".getBytes(UTF_8))
    // bad Content-Length (non-numeric), then garbage, then a good record
    val bad = ("WARC/1.0\r\n" +
      "WARC-Type: response\r\n" +
      "Content-Length: NOT_A_NUMBER\r\n\r\nxx\r\n\r\n").getBytes(UTF_8)
    val leading = "not a warc file at all\r\n".getBytes(UTF_8)
    val recs = Warc.parseBuffer("f", leading ++ bad ++ good)
    val errs = recs.filter(_.error != null)
    val oks = recs.filter(_.error == null)
    assert(oks.length === 1 && oks.head.target_uri === "http://x/ok")
    assert(errs.exists(_.error.contains("leading bytes")))
    assert(errs.exists(_.error.contains("Content-Length")))
    // quarantined ranges keep the raw bytes (dead-letter content)
    assert(errs.forall(_.payload.nonEmpty))

    // truncated payload at EOF
    val trunc = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "Content-Length: 100\r\n\r\nonly a few bytes").getBytes(UTF_8)
    val t = Warc.parseBuffer("f", trunc)
    assert(t.length === 1 && t.head.error.contains("truncated payload"))

    // garbage gzip: one quarantine record for the file
    val gz = Warc.gzip(good).take(10)
    val g = Warc.parseFile("f", gz)
    assert(g.length === 1 && g.head.error != null)
  }

  test("gzip remainder after a valid member quarantines — no silent truncation") {
    val good = Warc.buildRecord("WARC/1.0",
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "http://x/ok"),
      "fine".getBytes(UTF_8))
    val member = Warc.gzip(good)
    // garbage that STARTS like a gzip member header (the case
    // GZIPInputStream silently swallows as EOF)
    val garbage = Array[Byte](0x1f, 0x8b.toByte, 8, 0, 1, 2, 3, 4, 5, 6,
      99, 98, 97)
    val recs = Warc.parseFile("f", member ++ garbage)
    assert(recs.count(_.error == null) === 1)
    assert(recs.filter(_.error == null).head.target_uri === "http://x/ok")
    val q = recs.filter(_.error != null)
    assert(q.length === 1, recs.map(_.error).mkString("|"))
    assert(q.head.error.contains("undecoded gzip remainder"))
    assert(q.head.payload.toSeq === garbage.toSeq) // dead-letter bytes kept
    // arbitrary trailing junk (not even a gzip magic) also quarantines
    val junk = "NOT GZIP".getBytes(UTF_8)
    val r2 = Warc.parseFile("f", member ++ junk)
    assert(r2.count(_.error == null) === 1)
    assert(r2.exists(r => r.error != null && r.payload.toSeq === junk.toSeq))
    // a TRUNCATED second member: first member's records survive,
    // remainder quarantined
    val second = Warc.gzip(Warc.buildRecord("WARC/1.0",
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "http://x/2"),
      "two".getBytes(UTF_8)))
    val r3 = Warc.parseFile("f", member ++ second.dropRight(3))
    assert(r3.count(_.error == null) === 1)
    assert(r3.exists(_.error != null))
    // and a fully valid two-member file still has ZERO quarantines
    val r4 = Warc.parseFile("f", member ++ second)
    assert(r4.length === 2 && r4.forall(_.error == null))
  }

  test("WARC header field names match case-insensitively (ISO 28500)") {
    val odd = ("WARC/1.0\r\n" +
      "warc-type: response\r\n" +
      "WARC-TARGET-URI: http://example.com/ci\r\n" +
      "Warc-Record-Id: <urn:uuid:0002>\r\n" +
      "warc-DATE: 2026-08-16T00:00:00Z\r\n" +
      "CONTENT-TYPE: application/http\r\n" +
      "content-length: 4\r\n" +
      "\r\n" +
      "body" +
      "\r\n\r\n").getBytes(UTF_8)
    val recs = Warc.parseBuffer("f", odd)
    assert(recs.length === 1)
    val r = recs.head
    assert(r.error === null)
    assert(r.warc_type === "response")
    assert(r.target_uri === "http://example.com/ci")
    assert(r.record_id === "<urn:uuid:0002>")
    assert(r.warc_date === "2026-08-16T00:00:00Z")
    assert(r.content_type === "application/http")
    assert(new String(r.payload, UTF_8) === "body")
    // the headers column keeps the RAW casing
    assert(r.headers.contains("WARC-TARGET-URI"))
  }

  test("documentsFrame: response bodies sliced at the FIRST CRLFCRLF, WET passthrough") {
    val dir = Files.createTempDirectory("warc_docs")
    dir.toFile.deleteOnExit()
    val resp = Warc.buildRecord("WARC/1.0",
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "http://x/r"),
      // body itself contains CRLF CRLF — must stay intact
      "HTTP/1.1 200 OK\r\nServer: t\r\n\r\nbody part1\r\n\r\nbody part2"
        .getBytes(UTF_8))
    val wet = Warc.buildRecord("WARC/1.0",
      Seq("WARC-Type" -> "conversion", "WARC-Target-URI" -> "http://x/w"),
      "plain wet text é世".getBytes(UTF_8))
    val headerOnly = Warc.buildRecord("WARC/1.0",
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "http://x/h"),
      "HTTP/1.1 304 Not Modified\r\nServer: t".getBytes(UTF_8))
    val typed = Warc.buildRecord("WARC/1.0",
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "http://x/t"),
      // Content-Type with charset param + a DECOY content-type in the
      // body that must not be extracted
      ("HTTP/1.1 404 Not Found\r\nContent-Type: Text/HTML; charset=utf-8\r\n\r\n" +
        "body says Content-Type: application/pdf here").getBytes(UTF_8))
    val info = Warc.buildRecord("WARC/1.0",
      Seq("WARC-Type" -> "warcinfo"), "software: x\r\n".getBytes(UTF_8))
    Files.write(dir.resolve("a.warc"),
      info ++ resp ++ wet ++ headerOnly ++ typed)
    val out = Warc.documentsFrame(Warc.readWarcFiles(spark, dir.toString))
      .select("url", "http_status", "http_content_type", "text")
      .collect()
      .map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) -1 else r.getInt(1)),
          Option(r.getString(2)).orNull, r.getString(3)))
      .toMap
    assert(out("http://x/r") ===
      ((200, null, "body part1\r\n\r\nbody part2")))
    assert(out("http://x/w") === ((-1, null, "plain wet text é世")))
    assert(out("http://x/h") === ((304, null, ""))) // header-only: kept
    assert(out("http://x/t") === ((404, "text/html",
      "body says Content-Type: application/pdf here")))
  }

  test("documentsFrame: charset + Content-Encoding aware body decode") {
    val dir = Files.createTempDirectory("warc_cs")
    dir.toFile.deleteOnExit()
    def msg(headers: Seq[String], body: Array[Byte]): Array[Byte] =
      ("HTTP/1.1 200 OK\r\n" + headers.map(_ + "\r\n").mkString + "\r\n")
        .getBytes(UTF_8) ++ body
    def resp(uri: String, headers: Seq[String], body: Array[Byte]) =
      Warc.buildRecord("WARC/1.0",
        Seq("WARC-Type" -> "response", "WARC-Target-URI" -> uri),
        msg(headers, body))
    def cs(s: String, charset: String): Array[Byte] =
      s.getBytes(java.nio.charset.Charset.forName(charset))
    val latin1Text = "<html>café au lait</html>"
    val metaText = "<html><meta charset=\"windows-1252\">“q” — d</html>"
    val gbkText = "<html>中文文档</html>"
    val gzText = "<html>gzipped é世 body</html>"
    val dfText = "deflated body text"
    val fbText = "naïve résumé" // invalid as UTF-8 in 1252 bytes
    val recs =
      resp("http://x/latin1", Seq("Content-Type: text/html; charset=ISO-8859-1"),
        cs(latin1Text, "ISO-8859-1")) ++
      resp("http://x/meta", Seq("Content-Type: text/html"),
        cs(metaText, "windows-1252")) ++
      resp("http://x/gbk", Seq("Content-Type: text/html; charset=GBK"),
        cs(gbkText, "GBK")) ++
      resp("http://x/gzip", Seq("Content-Type: text/html; charset=UTF-8",
        "Content-Encoding: gzip"), Warc.gzip(cs(gzText, "UTF-8"))) ++
      resp("http://x/deflate", Seq("Content-Type: text/plain",
        "Content-Encoding: deflate"), Warc.deflate(cs(dfText, "UTF-8"))) ++
      resp("http://x/fb1252", Seq("Content-Type: text/html"),
        cs(fbText, "windows-1252")) ++
      resp("http://x/badcs", Seq("Content-Type: text/html; charset=UTF-8"),
        Array[Byte](0x3c, 'x'.toByte, 0xff.toByte, 0xfe.toByte, 0x3e)) ++
      resp("http://x/br", Seq("Content-Type: text/html",
        "Content-Encoding: br"), "whatever".getBytes(UTF_8))
    Files.write(dir.resolve("cs.warc"), recs)
    val out = Warc.documentsFrame(Warc.readWarcFiles(spark, dir.toString))
      .select("url", "text", "charset", "content_encoding", "decode_error")
      .collect()
      .map(r => r.getString(0) -> ((Option(r.getString(1)).orNull,
        Option(r.getString(2)).orNull, Option(r.getString(3)).orNull,
        Option(r.getString(4)).orNull)))
      .toMap
    assert(out("http://x/latin1") === ((latin1Text, "iso-8859-1", null, null)))
    assert(out("http://x/meta") === ((metaText, "windows-1252", null, null)))
    assert(out("http://x/gbk") === ((gbkText, "gbk", null, null)))
    assert(out("http://x/gzip") === ((gzText, "utf-8", "gzip", null)))
    // deflate body is ASCII with no declaration: utf-8 strict succeeds
    assert(out("http://x/deflate") === ((dfText, "utf-8", "deflate", null)))
    assert(out("http://x/fb1252") === ((fbText, "windows-1252", null, null)))
    // declared charset that fails: NULL text, error set (never mojibake)
    assert(out("http://x/badcs") ===
      ((null, "utf-8", null, "charset decode failed: utf-8")))
    assert(out("http://x/br") ===
      ((null, null, "br", "unsupported content-encoding: br")))
  }

  test("latestByUrl: keep-latest per canonical URL, record_id tiebreak, null dates lose") {
    import spark.implicits._
    val docs = Seq(
      // one page, three URL variants + three dates: latest wins
      (1L, "http://E.com/a/", "r1", "2026-08-01T00:00:00Z"),
      (2L, "http://e.com/a?utm_source=x", "r2", "2026-08-03T00:00:00Z"),
      (3L, "http://e.com/a", "r3", "2026-08-02T00:00:00Z"),
      // same-instant recrawl: record_id breaks the tie
      (4L, "http://e.com/b", "r4", "2026-08-01T00:00:00Z"),
      (5L, "http://e.com/b", "r5", "2026-08-01T00:00:00Z"),
      // a NULL date loses to any dated capture
      (6L, "http://e.com/c", "r6", null),
      (7L, "http://e.com/c", "r7", "2026-08-01T00:00:00Z"),
      // singleton passes through
      (8L, "http://e.com/d", "r8", "2026-08-01T00:00:00Z"))
      .toDF("doc_id", "url", "record_id", "warc_date")
    val out = graft.sources.Warc.latestByUrl(docs)
      .select("canonical_url", "doc_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map(
      "http://e.com/a" -> 2L, "http://e.com/b" -> 5L,
      "http://e.com/c" -> 7L, "http://e.com/d" -> 8L))
    // MEANINGFUL query params distinguish pages — only TRACKING params
    // collapse (canonicalWithQuery, not the query-dropping canonical)
    val qdocs = Seq(
      (1L, "http://e.com/watch?v=A", "q1", "2026-08-01T00:00:00Z"),
      (2L, "http://e.com/watch?v=B", "q2", "2026-08-02T00:00:00Z"),
      (3L, "http://e.com/watch?v=A&utm_source=x", "q3",
        "2026-08-03T00:00:00Z"))
      .toDF("doc_id", "url", "record_id", "warc_date")
    val qout = graft.sources.Warc.latestByUrl(qdocs)
      .select("canonical_url", "doc_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(qout === Map(
      "http://e.com/watch?v=A" -> 3L, // tracking variant collapsed
      "http://e.com/watch?v=B" -> 2L)) // distinct page kept
    // all input columns survive on the kept row
    val kept = graft.sources.Warc.latestByUrl(docs)
      .filter(col("canonical_url") === "http://e.com/a").collect()(0)
    assert(kept.getAs[String]("record_id") === "r2")
    assert(kept.getAs[String]("warc_date") === "2026-08-03T00:00:00Z")
    intercept[IllegalArgumentException](
      graft.sources.Warc.latestByUrl(docs.drop("warc_date")))
  }

  test("revisitFrame + latestWithRevisits: freshness advances, captures keep bodies") {
    import spark.implicits._
    // revisitFrame reads refers-to headers case-insensitively off the
    // parsed record frame
    val dir = Files.createTempDirectory("warc_rv")
    dir.toFile.deleteOnExit()
    Files.write(dir.resolve("rv.warc"),
      Warc.buildRecord("WARC/1.0",
        Seq("WARC-Type" -> "revisit", "WARC-Target-URI" -> "http://x/r",
          "WARC-Date" -> "2026-08-04T00:00:00Z",
          "warc-refers-to" -> "<urn:o>",
          // a case-variant DUPLICATE of the same field must not crash
          // the lookup (first match wins)
          "WARC-Refers-To" -> "<urn:dup>",
          "WARC-REFERS-TO-DATE" -> "2026-08-01T00:00:00Z"),
        Array.emptyByteArray))
    val rvp = Warc.revisitFrame(Warc.readWarcFiles(spark, dir.toString))
      .collect()
    assert(rvp.length === 1)
    assert(rvp(0).getAs[String]("url") === "http://x/r")
    // duplicate case-variant headers: ONE of them is returned (map
    // entry order is a HashMap's), and nothing throws
    assert(Set("<urn:o>", "<urn:dup>")
      .contains(rvp(0).getAs[String]("refers_to")))
    assert(rvp(0).getAs[String]("refers_to_date") === "2026-08-01T00:00:00Z")

    val docs = Seq(
      (1L, "http://e.com/a", "r-a1", "2026-08-01T00:00:00Z", "alpha"),
      (2L, "http://e.com/b", "r-b1", "2026-08-02T00:00:00Z", "bravo v1"),
      (3L, "http://e.com/b?utm_source=x", "r-b2", "2026-08-03T00:00:00Z",
        "bravo v2"))
      .toDF("doc_id", "url", "record_id", "warc_date", "text")
    val rv = Seq(
      ("http://e.com/a", "rv-1", "2026-08-05T00:00:00Z"), // advances
      ("http://e.com/b", "rv-2", "2026-08-02T06:00:00Z"), // older: no-op
      ("http://e.com/c", "rv-3", "2026-08-04T00:00:00Z")) // no capture
      .toDF("url", "record_id", "warc_date")
    val out = Warc.latestWithRevisits(docs, rv).collect().map(r =>
      r.getAs[String]("canonical_url") ->
        ((r.getAs[String]("record_id"), r.getAs[String]("last_seen"),
          r.getAs[String]("text")))).toMap
    assert(out === Map(
      "http://e.com/a" -> (("r-a1", "2026-08-05T00:00:00Z", "alpha")),
      "http://e.com/b" -> (("r-b2", "2026-08-03T00:00:00Z", "bravo v2"))))
  }

  test("revisitFrame: OPTIONAL refers-to headers missing yield NULL, never a throw") {
    // WARC-Refers-To-Date is a WARC 1.1 addition — a 1.0 revisit
    // legitimately omits both headers; under ANSI mode an element_at
    // over the empty filtered array would fail the task
    val dir = Files.createTempDirectory("warc_rv_min")
    dir.toFile.deleteOnExit()
    Files.write(dir.resolve("rv.warc"),
      Warc.buildRecord("WARC/1.0",
        Seq("WARC-Type" -> "revisit", "WARC-Target-URI" -> "http://x/m",
          "WARC-Date" -> "2026-08-04T00:00:00Z"),
        Array.emptyByteArray))
    val out = Warc.revisitFrame(Warc.readWarcFiles(spark, dir.toString))
      .collect()
    assert(out.length === 1)
    assert(out(0).getAs[String]("refers_to") === null)
    assert(out(0).getAs[String]("refers_to_date") === null)
  }

  test("latestByUrl: unparseable and NULL urls never silently collapse") {
    import spark.implicits._
    val docs = Seq(
      // two DIFFERENT unparseable targets (the angle-bracket convention
      // some WARC writers emit): canonical folds both to "" — each must
      // keep its own group on the raw-url fallback key
      (1L, "<http://e.com/a>", "r1", "2026-08-01T00:00:00Z"),
      (2L, "<http://e.com/b>", "r2", "2026-08-02T00:00:00Z"),
      (3L, "<http://e.com/a>", "r3", "2026-08-03T00:00:00Z"),
      // two url-less records: per-record surrogate keys — BOTH survive
      (4L, null, "r4", "2026-08-01T00:00:00Z"),
      (5L, null, "r5", "2026-08-02T00:00:00Z"),
      // a normal URL rides along untouched
      (6L, "http://e.com/ok", "r6", "2026-08-01T00:00:00Z"))
      .toDF("doc_id", "url", "record_id", "warc_date")
    val out = graft.sources.Warc.latestByUrl(docs)
      .select("canonical_url", "doc_id", "url").collect()
    val byDoc = out.map(r => r.getLong(1) ->
      ((Option(r.getString(0)).orNull, r.getString(2)))).toMap
    // <...a> dedups to its latest (doc 3), <...b> stays, both NULL-url
    // rows survive with a NULL canonical_url
    assert(byDoc.keySet === Set(2L, 3L, 4L, 5L, 6L))
    assert(byDoc(3L) === (("<http://e.com/a>", "<http://e.com/a>")))
    assert(byDoc(2L) === (("<http://e.com/b>", "<http://e.com/b>")))
    assert(byDoc(4L)._1 === null)
    assert(byDoc(5L)._1 === null)
    assert(byDoc(6L)._1 === "http://e.com/ok")
  }

  test("documentsFrame: WET conversion decode is strict — malformed UTF-8 reports windows-1252") {
    val dir = Files.createTempDirectory("warc_wet_strict")
    dir.toFile.deleteOnExit()
    // 'café' in ISO-8859-1/windows-1252: 0xE9 is NOT valid UTF-8
    val bytes1252 = Array[Byte]('c', 'a', 'f', 0xe9.toByte)
    Files.write(dir.resolve("w.wet"),
      Warc.buildRecord("WARC/1.0",
        Seq("WARC-Type" -> "conversion", "WARC-Target-URI" -> "http://x/w1"),
        bytes1252) ++
      Warc.buildRecord("WARC/1.0",
        Seq("WARC-Type" -> "conversion", "WARC-Target-URI" -> "http://x/w2"),
        "plain utf-8 é世".getBytes(UTF_8)))
    val out = Warc.documentsFrame(Warc.readWarcFiles(spark, dir.toString))
      .select("url", "text", "charset", "decode_error").collect()
      .map(r => r.getString(0) ->
        ((r.getString(1), r.getString(2), r.getString(3)))).toMap
    // the malformed payload decodes via the 1252 fallback and SAYS so —
    // no U+FFFD mojibake labeled utf-8
    assert(out("http://x/w1") === (("café", "windows-1252", null)))
    assert(!out("http://x/w1")._1.contains('�'))
    assert(out("http://x/w2") === (("plain utf-8 é世", "utf-8", null)))
  }

  test("watFrame: metadata-only rollup — gzip body, mime gate, anchors inside bodies") {
    val dir = Files.createTempDirectory("warc_wat")
    dir.toFile.deleteOnExit()
    // a gzip-encoded HTML body: the WAT rollup must decode through
    // Content-Encoding exactly like the text tier
    val html = "<html><head><title>T</title></head><body>" +
      "<a href=\"https://a.example.com/x\">a</a>" +
      "<a href=\"https://a.example.com/y\">b</a></body></html>"
    val body = Warc.gzip(html.getBytes(UTF_8))
    Files.write(dir.resolve("w.warc"),
      Warc.buildRecord("WARC/1.0",
        Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "http://x/gz",
          "WARC-Date" -> "2026-08-10T00:00:00Z",
          "WARC-Record-ID" -> "<urn:wat:gz>"),
        ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n" +
          "Content-Encoding: gzip\r\n\r\n").getBytes(UTF_8) ++ body))
    val out = Warc.watFrame(Warc.readWarcFiles(spark, dir.toString))
      .collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getAs[String]("content_encoding") === "gzip")
    assert(r.getAs[String]("title") === "T")
    assert(r.getAs[Long]("n_links") === 2L)
    assert(r.getAs[Long]("n_anchor_links") === 2L)
    assert(r.getAs[Long]("n_link_hosts") === 1L)
    assert(r.getAs[String]("link_hosts") === "a.example.com")
  }

  test("resolveRevisits: conversion captures resolve too; URL variants share a chain") {
    val dir = Files.createTempDirectory("warc_dg")
    dir.toFile.deleteOnExit()
    def rec(t: String, uri: String, date: String, rid: String,
        digest: String, body: String) =
      Warc.buildRecord("WARC/1.0",
        Seq("WARC-Type" -> t, "WARC-Target-URI" -> uri,
          "WARC-Date" -> date, "WARC-Record-ID" -> rid,
          "WARC-Payload-Digest" -> digest),
        body.getBytes(UTF_8))
    Files.write(dir.resolve("s.warc"),
      // a WET conversion capture is a valid chain target
      rec("conversion", "http://x/w", "2026-08-01T00:00:00Z",
        "<urn:w1>", "sha1:WWW", "wet text") ++
      // the revisit reaches it through a tracking-param URL variant
      // (canonical keying)
      rec("revisit", "http://x/w?utm_source=z", "2026-08-02T00:00:00Z",
        "<urn:wr>", "sha1:WWW", ""))
    val out = Warc.resolveRevisits(Warc.readWarcFiles(spark, dir.toString))
      .collect()
    assert(out.length === 1)
    assert(out(0).getAs[String]("refers_to") === "<urn:w1>")
    assert(out(0).getAs[String]("refers_to_date") === "2026-08-01T00:00:00Z")
    assert(out(0).getAs[String]("resolved_via") === "digest")
  }

  test("readNewWarc: nightly increment parses only unseen segments") {
    import graft.sources.IncrementalFiles
    val dir = Files.createTempDirectory("warc_inc")
    dir.toFile.deleteOnExit()
    def seg(name: String, uri: String): Unit =
      Files.write(dir.resolve(name), Warc.gzip(Warc.buildRecord("WARC/1.0",
        Seq("WARC-Type" -> "conversion", "WARC-Target-URI" -> uri),
        s"text of $uri".getBytes(UTF_8))))
    seg("seg-1.warc.gz", "http://x/1")
    seg("seg-2.warc.gz", "http://x/2")
    import spark.implicits._
    val empty = Seq.empty[String].toDF("path")
    val Some((recs1, man1)) = IncrementalFiles.readNewWarc(spark,
      dir.toString, empty)
    assert(recs1.select("target_uri").collect().map(_.getString(0)).sorted
      .toSeq === Seq("http://x/1", "http://x/2"))
    val persisted = man1.select("path").collect().map(_.getString(0))
      .toSeq.toDF("path")
    // no new segments -> None, never a re-parse
    assert(IncrementalFiles.readNewWarc(spark, dir.toString,
      persisted).isEmpty)
    // a third segment lands: ONLY it is parsed
    seg("seg-3.warc.gz", "http://x/3")
    val Some((recs2, _)) = IncrementalFiles.readNewWarc(spark,
      dir.toString, persisted)
    assert(recs2.select("target_uri").collect().map(_.getString(0))
      .toSeq === Seq("http://x/3"))
  }

  /** Serves `template` repeated `n` times — a multi-GiB synthetic
    * segment with no multi-GiB allocation on the generator side. */
  private final class RepeatingStream(template: Array[Byte], n: Long)
      extends java.io.InputStream {
    private var served = 0L
    private val total = template.length.toLong * n
    override def read(): Int =
      if (served >= total) -1
      else {
        val b = template((served % template.length).toInt); served += 1
        b & 0xff
      }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (served >= total) return -1
      val m = math.min(len.toLong, total - served).toInt
      var i = 0
      while (i < m) {
        b(off + i) = template(((served + i) % template.length).toInt)
        i += 1
      }
      served += m
      m
    }
  }

  test("a segment DECODING past the 2 GiB array limit streams with record-sized memory") {
    // 1100 members x 2 MiB payload ≈ 2.26 GiB decoded — STRICTLY more
    // than any single JVM array can hold, so completing at all proves
    // the pipeline never materializes the decoded file; the
    // instrumentation pins the actual working set to record scale
    val payload = Array.fill[Byte](2 << 20)('a')
    val member = Warc.gzip(Warc.buildRecord("WARC/1.0",
      Seq("WARC-Type" -> "conversion",
        "WARC-Target-URI" -> "http://big.example.com/doc"), payload))
    val members = 1100L
    val stats = new Warc.StreamStats
    val it = Warc.streamFile("synthetic-big.warc.gz",
      () => new RepeatingStream(member, members), stats)
    var count = 0L
    var badPayload = 0L
    while (it.hasNext) {
      val r = it.next()
      assert(r.error === null, s"record $count quarantined: ${r.error}")
      assert(r.content_length === (2 << 20).toLong)
      val p = r.payload
      if (p.length != (2 << 20) || p(0) != 'a' || p(p.length - 1) != 'a')
        badPayload += 1
      count += 1
    }
    assert(count === members)
    assert(badPayload === 0L)
    // decoded total ≈ 2.26 GiB; the working set stayed record-sized:
    // one decoded member (~2 MiB) + the parser window (~4 MiB pow2)
    assert(stats.memberPeak < (4L << 20),
      s"decoded-member peak ${stats.memberPeak} not record-sized")
    assert(stats.windowPeak < (16L << 20),
      s"window peak ${stats.windowPeak} not record-sized")
  }

  test("garbage spans beyond the quarantine cap chunk — all bytes kept, memory bounded") {
    val cap = Warc.QuarantineCap
    val rec = Warc.buildRecord("WARC/1.0",
      Seq("WARC-Type" -> "conversion", "WARC-Target-URI" -> "http://x/1"),
      "hello".getBytes(UTF_8))
    // a 64 MiB + 8 MiB garbage run between two records, CRLF-terminated
    // so the second record's marker is valid
    val garbage = Array.fill[Byte](cap + (8 << 20))('x')
    garbage(garbage.length - 2) = '\r'
    garbage(garbage.length - 1) = '\n'
    val recs = Warc.parseFile("f", rec ++ garbage ++ rec)
    val clean = recs.filter(_.error == null)
    val quar = recs.filter(_.error != null)
    assert(clean.length === 2)
    assert(clean.forall(r => new String(r.payload, UTF_8) == "hello"))
    // batch would have emitted ONE unbounded record; streaming chunks,
    // keeping every byte (the record separator CRLFs ride along in the
    // quarantined span, exactly like the batch > 4 rule)
    assert(quar.length > 1)
    assert(quar.forall(_.error == "inter-record garbage"))
    assert(quar.map(_.payload.length.toLong).sum === garbage.length.toLong + 4)
    assert(quar.forall(_.payload.length <= cap))
  }

  test("readWarcFiles: end-to-end over a planted directory") {
    val dir = Files.createTempDirectory("warc_spec")
    dir.toFile.deleteOnExit()
    val f1 = Warc.buildRecord("WARC/1.0",
      Seq("WARC-Type" -> "warcinfo"), "software: graft\r\n".getBytes(UTF_8)) ++
      Warc.buildRecord("WARC/1.0",
        Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "http://a/1"),
        "alpha".getBytes(UTF_8))
    val f2 = Warc.gzip(Warc.buildRecord("WARC/1.1",
      Seq("WARC-Type" -> "conversion", "WARC-Target-URI" -> "http://b/2"),
      "beta".getBytes(UTF_8)))
    Files.write(dir.resolve("seg-00001.warc"), f1)
    Files.write(dir.resolve("seg-00002.warc.gz"), f2)
    val df = Warc.readWarcFiles(spark, dir.toString)
    val rows = df.select(col("warc_type"), col("target_uri"),
        col("content_length"), col("error"))
      .collect()
      .map(r => (r.getString(0), Option(r.getString(1)).orNull, r.getLong(2),
        r.getString(3)))
    assert(rows.length === 3)
    assert(rows.forall(_._4 == null))
    assert(rows.map(_._1).sorted.toSeq ===
      Seq("conversion", "response", "warcinfo"))
    assert(rows.find(_._1 == "response").get._2 === "http://a/1")
    // payload digest survives the DataFrame hop bit-exactly
    val dig = df.filter(col("target_uri") === "http://b/2")
      .select(sha2(col("payload"), 256)).collect()(0).getString(0)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val want = md.digest("beta".getBytes(UTF_8))
      .map(b => f"$b%02x").mkString
    assert(dig === want)
  }

  test("writeWarcFiles round-trip ≡ input at multi-hundred-MB scale — no driver collect") {
    // ~330 MB of payload across 8 partitions: far past driver-collect
    // comfort; one gzip member per record so the reader gets it back
    // with member-sized memory
    val n = 3000L
    val dir = Files.createTempDirectory("warc_write").toString
    val df = spark.range(n).repartition(8)
      .select(
        concat(lit("https://w.example.com/p"), col("id")).as("target_uri"),
        lit("response").as("warc_type"),
        concat(lit("<urn:w:"), col("id"), lit(">")).as("record_id"),
        lit("2026-08-16T00:00:00Z").as("warc_date"),
        lit("application/octet-stream").as("content_type"),
        encode(repeat(concat(col("id").cast("string"), lit("-abcdefgh")),
          10000), "UTF-8").as("payload"))
    val files = WarcWriter.writeWarcFiles(df, dir)
    assert(files === 8L)
    val back = Warc.readWarcFiles(spark, dir)
    // bad rows, counts, and byte-exactness in ONE distributed compare:
    // anti-join the read-back digests against the expected digests
    assert(back.filter(col("error").isNotNull).count() === 0L)
    assert(back.count() === n)
    val expect = df.select(col("target_uri"),
      sha2(col("payload"), 256).as("sha"))
    val got = back.select(col("target_uri"),
      sha2(col("payload"), 256).as("sha"))
    assert(got.join(expect, Seq("target_uri", "sha"), "left_anti")
      .count() === 0L)
    assert(back.select(col("warc_type"), col("warc_date")).distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("response", "2026-08-16T00:00:00Z")))
  }

  test("writeWarcFiles preserves parsed headers (minus re-framed Content-Length); quarantined rows skipped") {
    val dir = Files.createTempDirectory("warc_write_hdr").toString
    val r1 = Warc.buildRecord("WARC/1.1",
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "http://h/1",
        "WARC-Date" -> "2026-08-01T00:00:00Z",
        "WARC-Record-ID" -> "<urn:h:1>",
        "X-Custom" -> "kept-verbatim"),
      "payload one".getBytes(UTF_8))
    val garbage = "not a warc record at all\r\n".getBytes(UTF_8)
    val parsed = Warc.parseBuffer("f", garbage ++ r1)
    assert(parsed.count(_.error != null) === 1)
    import spark.implicits._
    val frame = spark.createDataFrame(
      spark.sparkContext.parallelize(parsed, 1))
    assert(WarcWriter.writeWarcFiles(frame, dir) === 1L)
    val back = Warc.readWarcFiles(spark, dir).collect()
    // the quarantined leading-garbage row was skipped, the record
    // round-trips byte-exactly with its custom header and version
    assert(back.length === 1 && back.head.getAs[String]("error") == null)
    val hdrs = back.head.getAs[Map[String, String]]("headers")
    assert(back.head.getAs[String]("warc_version") === "WARC/1.1")
    assert(hdrs("X-Custom") === "kept-verbatim")
    assert(hdrs("Content-Length") === "11")
    assert(new String(back.head.getAs[Array[Byte]]("payload"), UTF_8) ===
      "payload one")
  }

  test("writeWarcFilesManifest: staged attempt-unique commit — manifest ≡ files; mid-write failure leaves no visible partial") {
    val dir = Files.createTempDirectory("warc_commit").toString
    val good = spark.range(40).repartition(4)
      .select(
        concat(lit("https://m.example.com/p"), col("id")).as("target_uri"),
        lit("response").as("warc_type"),
        concat(lit("<urn:m:"), col("id"), lit(">")).as("record_id"),
        lit("2026-08-17T00:00:00Z").as("warc_date"),
        lit("application/octet-stream").as("content_type"),
        encode(col("id").cast("string"), "UTF-8").as("payload"))
    val man = WarcWriter.writeWarcFilesManifest(good, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(man.length === 4)
    // manifest ≡ directory: same file set, byte sizes, content hashes,
    // and the record counts sum to the input
    val onDisk = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".warc.gz")).map(f => f.getName).toSet
    assert(man.map(m => new java.io.File(m._1).getName).toSet === onDisk)
    man.foreach { case (p, _, bytes, sha) =>
      val f = new java.io.File(p)
      assert(f.length === bytes, f.getName)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      assert(md.digest(java.nio.file.Files.readAllBytes(f.toPath))
        .map(b => f"$b%02x").mkString === sha, f.getName)
    }
    assert(man.map(_._2).sum === 40L)
    // the staging dir is swept on success and never visible to readers
    assert(!new java.io.File(dir, "_temporary").exists)
    assert(Warc.readWarcFiles(spark, dir)
      .filter(col("error").isNotNull).count() === 0L)

    // poison one partition mid-iterator: the write dies AFTER opening
    // its staging file — no partial part-NNNNN.warc.gz may become
    // visible, and every file that IS visible must read back complete
    val dir2 = Files.createTempDirectory("warc_commit_fail").toString
    val boom = udf { (id: Long) =>
      if (id == 7L) throw new RuntimeException("injected mid-write failure")
      id.toString.getBytes(UTF_8)
    }
    val bad = spark.range(10).repartition(2, col("id") % 2)
      .select(
        concat(lit("https://m.example.com/q"), col("id")).as("target_uri"),
        lit("response").as("warc_type"),
        concat(lit("<urn:q:"), col("id"), lit(">")).as("record_id"),
        lit("2026-08-17T00:00:00Z").as("warc_date"),
        lit("application/octet-stream").as("content_type"),
        boom(col("id")).as("payload"))
    intercept[org.apache.spark.SparkException](
      WarcWriter.writeWarcFilesManifest(bad, dir2))
    val visible = Option(new java.io.File(dir2).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".warc.gz"))
    assert(visible.size < 2, "poisoned partition must not commit a file")
    if (visible.nonEmpty) {
      // the survivor (the healthy partition, if its task finished
      // before the job aborted) is a COMPLETE segment
      val back = Warc.readWarcFiles(spark, dir2)
      assert(back.filter(col("error").isNotNull).count() === 0L)
      assert(back.count() === 5L)
    }
  }

  test("adversarial Content-Length near Int.MaxValue quarantines — never throws or loops") {
    val good = Warc.buildRecord("WARC/1.0",
      Seq("WARC-Type" -> "response", "WARC-Target-URI" -> "http://x/ok"),
      "fine".getBytes(UTF_8))
    // len alone under the cap, but header offset pushes i + len past
    // Int.MaxValue - 8: an Int `i + len.toInt` would wrap negative
    // (ArrayIndexOutOfBounds in take) or land in the un-ensurable
    // (MaxValue-8, MaxValue] window (zero-read spin) — both must
    // instead quarantine-and-resync like any other corrupt length
    for (len <- Seq(Int.MaxValue - 20L, Int.MaxValue.toLong,
        Int.MaxValue - 8L, 4294967296L /* 2^32: Long, wraps Int to 0 */)) {
      val bad = ("WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        s"Content-Length: $len\r\n\r\nxx\r\n\r\n").getBytes(UTF_8)
      val recs = Warc.parseBuffer("f", bad ++ good)
      val oks = recs.filter(_.error == null)
      val errs = recs.filter(_.error != null)
      assert(oks.length === 1 && oks.head.target_uri === "http://x/ok",
        s"len=$len: good record lost")
      assert(errs.exists(_.error.contains("buffer cap")),
        s"len=$len: expected a buffer-cap quarantine, got ${errs.map(_.error)}")
    }
  }
}
