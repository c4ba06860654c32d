package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private def markerHits(text: Column, markers: Seq[String]): Column =
    size(filter(TextAnalysis.tokens(text), t => t.isInCollection(markers)))

  /** Column-only reference implementation of [[TextAnalysis.langId]],
    * the parity reference for the custom expression. */
  private def langIdColumns(text: Column): Column = {
    import TextAnalysis.langMarkers
    val scores = langMarkers.map { case (lang, ms) => lang -> markerHits(text, ms) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val cases = scores.foldLeft(when(best === 0, lit("und"))) {
      case (acc, (lang, s)) => acc.when(s === best, lit(lang))
    }
    when(text.isNull, lit(null).cast("string"))
      .otherwise(cases.otherwise(lit("und")))
  }

  /** The Column-built-ins reference formulation of
    * [[TextAnalysis.gopherRules]] — semantically identical, the parity
    * reference (the LangId / TextStats discipline: every custom
    * expression is pinned against a compositional reference). Slower by
    * design: the interpreted HOF subtrees (tokenize ×4, line split ×2)
    * clone into every feature. */
  private def gopherRulesColumns(text: Column,
      minWords: Long = 50L, maxWords: Long = 100000L,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
      minStopHits: Int = 2): Column = {
    import TextAnalysis.{gopherStops, tokens}
    val toks = tokens(text)
    val nWords = when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(toks).cast("long"))
    val lenSum = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val meanLen = when(nWords === 0, lit(0.0))
      .otherwise(lenSum.cast("double") / nWords)
    // the paper's "symbol" set: hash marks and ellipses ("..." or '…')
    val symbols = (regexp_count(text, lit("#")) +
      regexp_count(text, lit("(\\.\\.\\.|…)"))).cast("long")
    val symbolRatio = when(nWords === 0, lit(0.0))
      .otherwise(symbols.cast("double") / nWords)
    val lines = split(text, "\n")
    val nLines = size(lines).cast("long")
    val bulletFrac = size(filter(lines, l => l.rlike("^\\s*[-*•]")))
      .cast("double") / nLines
    val ellipsisFrac = size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$")))
      .cast("double") / nLines
    val alphaWords = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    val alphaFrac = when(nWords === 0, lit(0.0))
      .otherwise(alphaWords.cast("double") / nWords)
    val stopHits = size(array_intersect(
      array(gopherStops.map(lit): _*), toks)).cast("long")
    val pass = nWords >= minWords && nWords <= maxWords &&
      meanLen >= minMeanLen && meanLen <= maxMeanLen &&
      symbolRatio <= maxSymbolRatio && bulletFrac <= maxBulletFrac &&
      ellipsisFrac <= maxEllipsisFrac && alphaFrac >= minAlphaFrac &&
      stopHits >= minStopHits
    struct(
      nWords.as("n_words"), meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"), bulletFrac.as("bullet_line_frac"),
      ellipsisFrac.as("ellipsis_line_frac"), alphaFrac.as("alpha_word_frac"),
      stopHits.as("stop_hits"), pass.as("pass"))
  }

  private def one(c: org.apache.spark.sql.Column, text: String) =
    Seq(text).toDF("t").select(c.as("v")).collect().head

  test("tokens trims and splits on whitespace runs") {
    val r = Seq("  a b   c ").toDF("t")
      .select(TextAnalysis.tokens(col("t")).as("v")).collect().head
    assert(r.getSeq[String](0) === Seq("a", "b", "c"))
  }

  test("tokenCount / punctRatio / stopwordRatio basics") {
    assert(one(TextAnalysis.tokenCount(col("t")), "the cat sat").getInt(0) === 3)
    val pr = one(TextAnalysis.punctRatio(col("t")), "ab,.").getDouble(0)
    assert(pr === 0.5)
    val sr = one(TextAnalysis.stopwordRatio(col("t")), "the cat is here").getDouble(0)
    assert(sr === 0.5) // "the", "is" of 4
  }

  test("qualityScore is in [0,1] on the fixture") {
    val bad = Tables.documents(spark, sf)
      .select(TextAnalysis.qualityScore(col("text")).as("q"))
      .filter(col("q") < 0.0 || col("q") > 1.0)
    assert(bad.count() === 0)
  }

  test("langId picks marker-dominant language, und when no markers") {
    assert(one(TextAnalysis.langId(col("t")), "the cat and the dog is here")
      .getString(0) === "en")
    assert(one(TextAnalysis.langId(col("t")), "der hund und die katze ist")
      .getString(0) === "de")
    assert(one(TextAnalysis.langId(col("t")), "xyzzy qwerty").getString(0) === "und")
  }

  test("single-pass langId expression matches the Column reference impl") {
    val mismatches = Tables.documents(spark, sf)
      .select(TextAnalysis.langId(col("text")).as("fast"),
        langIdColumns(col("text")).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(mismatches.count() === 0)
    // overlap ("la" scores both es and fr) + tie-break order + null
    val edge = Seq("la la la", null.asInstanceOf[String]).toDF("t")
      .select(TextAnalysis.langId(col("t")).as("fast"),
        langIdColumns(col("t")).as("ref"))
      .collect()
    edge.foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("fingerprint matches the reference polynomial on a known string") {
    // "abc": ((0*31+97)*31+98)*31+99 = 96354 (verified against DuckDB)
    assert(one(TextAnalysis.fingerprint(col("t")), "abc").getLong(0) === 96354L)
  }

  test("fingerprint is order-sensitive (not a bag hash)") {
    val a = one(TextAnalysis.fingerprint(col("t")), "ab").getLong(0)
    val b = one(TextAnalysis.fingerprint(col("t")), "ba").getLong(0)
    assert(a !== b)
  }

  test("wordNgrams produces overlapping shingles; short docs give empty") {
    val r = Seq("a b c d").toDF("t")
      .select(TextAnalysis.wordNgrams(col("t"), 3).as("v")).collect().head
    assert(r.getSeq[String](0) === Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(TextAnalysis.wordNgrams(col("t"), 3).as("v")).collect().head
    assert(short.getSeq[String](0) === Seq())
  }

  test("bpeTokenCount splits like a GPT-2 pre-tokenizer") {
    // "Hello" ","  " world" "!" " it" "'s" " 42" "x"  → 8
    assert(one(TextAnalysis.bpeTokenCount(col("t")), "Hello, world! it's 42x")
      .getInt(0) === 8)
    assert(one(TextAnalysis.bpeTokenCount(col("t")), "").getInt(0) === 0)
    // punctuation-heavy text: whitespace counting sees 1 token, BPE-ish 5
    assert(one(TextAnalysis.bpeTokenCount(col("t")), "a.b.c").getInt(0) === 5)
    assert(one(TextAnalysis.tokenCount(col("t")), "a.b.c").getInt(0) === 1)
  }

  test("scrubPii replaces URLs then emails with typed tags") {
    val in = "mail bob@corp.io or see https://x.io/a?u=jo@x.io plain text"
    val out = one(TextAnalysis.scrubPii(col("t")), in).getString(0)
    // the URL (including its embedded email-like query param) collapses
    // to <URL>; the standalone email to <EMAIL>
    assert(out === "mail <EMAIL> or see <URL> plain text")
    assert(one(TextAnalysis.scrubPii(col("t")), "no pii here").getString(0)
      === "no pii here")
  }

  test("chunkDocs: overlapping windows, short-doc single chunk, empty none") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // shorter than a chunk
      (3L, "")                                        // no chunks
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocs(docs, "doc_id", "text",
        chunkTokens = 4, overlap = 1) // stride 3
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val doc1 = out.filter(_._1 == 1L).sortBy(_._2)
    // nChunks = 1 + ceil((10-4)/3) = 3; token starts 0, 3, 6
    assert(doc1.map(_._3).toSeq === Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(doc1.map(_._4).toSeq === Seq(4, 4, 4))
    // consecutive chunks share exactly `overlap` tokens
    assert(doc1(0)._3.split(" ").last === doc1(1)._3.split(" ").head)
    assert(out.filter(_._1 == 2L).toSeq === Seq((2L, 0, "a b c", 3)))
    assert(!out.exists(_._1 == 3L))
  }

  test("termCounts/topTerms: exact frequencies, ties lexicographic, empty docs ignored") {
    val docs = Seq("b a b", "a b", "  ", "c").toDF("text")
    val counts = TextAnalysis.termCounts(docs, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("a" -> 2L, "b" -> 3L, "c" -> 1L))
    val top = TextAnalysis.topTerms(docs, "text", 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top === Seq(("b", 3L), ("a", 2L)))
    // tie at the cut: lexicographic order decides deterministically
    val tied = TextAnalysis.topTerms(Seq("x y", "y x z").toDF("text"), "text", 2)
      .collect().map(_.getString(0)).toSeq
    assert(tied === Seq("x", "y")) // x=2, y=2 — ties break on term asc
  }

  test("tokenRepetition: exact fractions incl. the blank-doc [''] quirk") {
    val docs = Seq(
      (1L, "a a a b"),   // n=4, distinct=2, dup=0.5, top=3/4
      (2L, "w x y z"),   // all distinct: dup=0, top=1/4
      (3L, "spam spam"), // fully repeated: dup=0.5, top=1
      (4L, "   ")).toDF("doc_id", "text") // [''] quirk: one empty token
    val out = TextAnalysis.tokenRepetition(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out === Map(
      1L -> ((4L, 2L, 0.5, 0.75)),
      2L -> ((4L, 4L, 0.0, 0.25)),
      3L -> ((2L, 1L, 0.5, 1.0)),
      4L -> ((1L, 1L, 0.0, 1.0))))
  }

  test("dropRepetitive gates on both fractions") {
    val docs = Seq(
      (1L, "a a a b"),   // top 0.75: dropped on top_token_frac
      (2L, "w x y z"),   // clean: kept
      (3L, "a b c c"),   // dup 0.25, top 0.5: dropped on top at 0.4
      (4L, "p q r p")).  // dup 0.25, top 0.5: dropped too
      toDF("doc_id", "text")
    val kept = TextAnalysis.dropRepetitive(docs, "doc_id", "text",
        maxDupFrac = 0.3, maxTopFrac = 0.4)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept === Seq(2L))
    // loosening top to 0.5 readmits the 0.5-top docs (boundary is <=)
    val kept2 = TextAnalysis.dropRepetitive(docs, "doc_id", "text",
        maxDupFrac = 0.3, maxTopFrac = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept2 === Seq(2L, 3L, 4L))
  }

  test("compressionRatio: repetitive text compresses far below varied text") {
    val spam = "buy now " * 500
    val prose = (1 to 500).map(i => s"word$i token${i * 7 % 301}").mkString(" ")
    val docs = Seq((1L, spam), (2L, prose), (3L, ""), (4L, null: String))
      .toDF("doc_id", "text")
    val out = TextAnalysis.compressionRatio(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val (spamLen, _, spamRatio) = out(1L)
    val (_, _, proseRatio) = out(2L)
    assert(spamLen === spam.getBytes("UTF-8").length.toLong)
    assert(spamRatio < 0.05, s"spam should crush: $spamRatio")
    assert(proseRatio > 2 * spamRatio, s"prose must compress worse: $proseRatio")
    // empty and null docs report ratio 1.0 (nothing to judge), len 0
    assert(out(3L) === ((0L, out(3L)._2, 1.0)))
    assert(out(4L)._3 === 1.0)
    // the gate drops the spam row only (prose ratio is above the floor)
    val kept = TextAnalysis.dropIncompressible(docs, "doc_id", "text",
        minRatio = spamRatio + 0.01)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(1L) && kept.contains(2L))
  }

  test("nfcNormalize composes decomposed text; fast paths avoid allocation") {
    import org.apache.spark.unsafe.types.UTF8String
    val composed = "caf\u00e9"      // \u00e9 = composed e-acute
    val decomposed = "cafe\u0301"         // e + combining acute
    assert(composed != decomposed, "sanity: different code units")
    val out = Seq(decomposed).toDF("t")
      .select(TextAnalysis.nfcNormalize(col("t")).as("v"))
      .collect().head.getString(0)
    assert(out === composed)
    // ASCII fast path: the SAME UTF8String comes back, no decode
    val ascii = UTF8String.fromString("plain ascii")
    assert(graft.expressions.NfcNormalize.compute(ascii) eq ascii)
    // already-NFC non-ASCII keeps its bytes too
    val nfc = UTF8String.fromString(composed)
    assert(graft.expressions.NfcNormalize.compute(nfc) eq nfc)
    // null passes through the null-safe wrapper
    val n = Seq((1, null: String)).toDF("i", "t")
      .select(TextAnalysis.nfcNormalize(col("t")).as("v")).collect().head
    assert(n.isNullAt(0))
  }

  test("foldAccents strips diacritics, keeps strokes/CJK, fast-path identity") {
    import org.apache.spark.unsafe.types.UTF8String
    val cases = Seq(
      "café né"      -> "cafe ne",       // composed accents
      "cafe\u0301"        -> "cafe",           // decomposed accent
      "Ångström"     -> "Angstrom",
      "Đường"   -> "Đuong",     // Đ has a STROKE, not a mark — survives
      "北京 café" -> "北京 cafe", // CJK untouched
      "øre Å"        -> "øre A",     // ø is a distinct letter, not accented o
      "ё Ё"          -> "е Е",  // Cyrillic ё → е
      "Φαιστός" -> "Φαιστος")
    val out = cases.map(_._1).toDF("t")
      .select(TextAnalysis.foldAccents(col("t")).as("v"))
      .collect().map(_.getString(0)).toSeq
    assert(out === cases.map(_._2))
    // ASCII fast path: the SAME UTF8String comes back, no decode
    val ascii = UTF8String.fromString("plain ascii")
    assert(graft.expressions.FoldAccents.compute(ascii) eq ascii)
    // mark-free already-NFC non-ASCII keeps its bytes (北京 has no Mn)
    val cjk = UTF8String.fromString("北京")
    assert(graft.expressions.FoldAccents.compute(cjk) eq cjk)
    // idempotent: folding a folded string is the identity
    val once = cases.map(_._2).toDF("t")
      .select(TextAnalysis.foldAccents(col("t")).as("v"))
      .collect().map(_.getString(0)).toSeq
    assert(once === cases.map(_._2))
    // null passes through the null-safe wrapper
    val n = Seq((1, null: String)).toDF("i", "t")
      .select(TextAnalysis.foldAccents(col("t")).as("v")).collect().head
    assert(n.isNullAt(0))
  }

  test("cleanText strips controls (keeps tab/newline), collapses spaces, trims") {
    val dirty = " ab\r\nkeep\ttab   wide  end "
    val out = Seq(dirty).toDF("t")
      .select(TextAnalysis.cleanText(col("t")).as("v"))
      .collect().head.getString(0)
    assert(out === "ab\nkeep\ttab wide end")
    // NFC runs first: decomposed é survives cleaning as the composed form
    val out2 = Seq("cafe\u0301  x").toDF("t")
      .select(TextAnalysis.cleanText(col("t")).as("v"))
      .collect().head.getString(0)
    assert(out2 === "caf\u00e9 x")
  }

  test("tokenRepetition hashed ≡ exact on the fixture corpus") {
    val docs = Tables.documents(spark, sf)
    val exact = TextAnalysis.tokenRepetition(docs, "doc_id", "text")
    val hashed = TextAnalysis.tokenRepetition(docs, "doc_id", "text",
      hashTokens = true)
    assert(exact.exceptAll(hashed).isEmpty && hashed.exceptAll(exact).isEmpty)
  }

  test("tfIdfTopTerms: hand-computed RSJ scores, rare terms outrank common") {
    // N=3; df: apple=1 date=1 → idf 2.5/1.5; banana=2 cherry=2 → idf 1.5/2.5
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "cherry date date date")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    val rare = 2.5 / 1.5  // (3-1+0.5)/(1+0.5)
    val common = 1.5 / 2.5
    assert(out === Seq(
      (1L, 1, "apple", 2 * rare), (1L, 2, "banana", common),
      // doc 2: banana and cherry tie exactly (same tf, df) → term asc
      (2L, 1, "banana", common), (2L, 2, "cherry", common),
      (3L, 1, "date", 3 * rare), (3L, 2, "cherry", common)))
  }

  test("tfIdfTopTerms ≡ row_number window formulation on the fixture corpus") {
    val docs = Tables.documents(spark, sf)
    val agg = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 3)
    // independent window reference over the same scored frame
    val toks = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.count().toDouble
    val scored = tf.join(dfreq, "term").withColumn("score",
      col("tf") * ((lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    val ref = scored
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "term", "score")
    assert(agg.exceptAll(ref).isEmpty && ref.exceptAll(agg).isEmpty)
  }

  test("topKTermsPerGroup ties break on UTF-8 bytes, not UTF-16 code units") {
    // U+FF61 (EF BD A1 in UTF-8, code unit FF61) vs U+10000 (F0 90 80 80,
    // surrogates D800 DC00): byte order says FF61 first, Java compareTo
    // says the opposite — Spark/DuckDB sort bytes, so bytes must win
    val halfwidthStop = "｡"
    val linearB = new String(Character.toChars(0x10000))
    val ds = Seq((1L, 1.0, linearB), (1L, 1.0, halfwidthStop), (1L, 1.0, "z"))
      .toDS()
    val got = graft.functions.TopKAggregator.topKTermsPerGroup(ds, k = 3)
      .orderBy("rank").collect().map(_.getString(3)).toSeq
    assert(halfwidthStop.compareTo(linearB) > 0, "sanity: UTF-16 disagrees")
    assert(got === Seq("z", halfwidthStop, linearB))
  }

  test("vocabCoverage: cumulative head coverage with deterministic tie order") {
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // counts: a=2, b=2, c=1; total 5 tokens; tie a/b broken term-asc
    val top2 = TextAnalysis.vocabCoverage(docs, "text", 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(top2 === Seq(("a", 2L, 0.4), ("b", 2L, 0.8)))
    // k beyond the vocabulary: the curve ends at exactly 1.0
    val all = TextAnalysis.vocabCoverage(docs, "text", 10)
      .orderBy(col("coverage")).collect()
    assert(all.length === 3)
    assert(all.last.getDouble(2) === 1.0)
    // blank docs contribute no tokens (the [''] quirk is filtered)
    val withBlank = TextAnalysis.vocabCoverage(
        docs.union(Seq((3L, "   ")).toDF("doc_id", "text")), "text", 10)
      .collect()
    assert(withBlank.length === 3)
  }

  test("bigramCounts: adjacent pairs, blank and single-token docs excluded") {
    val docs = Seq((1L, "a b c a b"), (2L, "x"), (3L, " "), (4L, "a b"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramCounts(docs, "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got === Map(
      ("a", "b") -> 3L, ("b", "c") -> 1L, ("c", "a") -> 1L))
  }

  test("pmiBigrams: exact odds ratio, minCount gate, deterministic cut") {
    // corpus: "p q" ×3, "a b" ×1, fillers to pad counts
    val docs = Seq(
      (1L, "p q"), (2L, "p q"), (3L, "p q"), (4L, "a b"), (5L, "p a q b")
    ).toDF("doc_id", "text")
    // bigrams: (p,q)=3, (a,b)=1, (p,a)=1, (a,q)=1, (q,b)=1 → N=7
    // unigrams: p=4, q=4, a=2, b=2
    val got = TextAnalysis.pmiBigrams(docs, "text", minCount = 2L, k = 10)
      .collect()
    assert(got.length === 1) // only (p,q) passes minCount
    val r = got.head
    assert((r.getString(0), r.getString(1), r.getLong(2)) === (("p", "q", 3L)))
    assert(r.getDouble(3) === (3.0 * 7.0) / (4.0 * 4.0))
    // minCount 1: all five pairs, ranked by ratio desc then lexicographic
    val all = TextAnalysis.pmiBigrams(docs, "text", minCount = 1L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    // ratios: (a,b)=7/4=1.75, (p,q)=21/16=1.3125, (p,a)=7/8, (a,q)=7/8, (q,b)=7/8
    assert(all.take(2) === Seq(("a", "b"), ("p", "q")))
    assert(all.drop(2) === Seq(("a", "q"), ("p", "a"), ("q", "b")))
  }

  test("readability: hand-computed Flesch, clamps and null guards") {
    val docs = Seq(
      (1L, "the cat sat. the dog ran!"), // 6 words, 2 sentences, 6 syllables
      (2L, "word word word"),            // no sentence breaks → clamp to 1
      (3L, "  ")                         // wordless → NULL flesch
    ).toDF("doc_id", "text")
    val rows = docs
      .select(col("doc_id"), TextAnalysis.readability(col("text")).as("r"))
      .select(col("doc_id"), col("r.n_words"), col("r.n_sentences"),
        col("r.n_syllables"), col("r.flesch"))
      .orderBy("doc_id").collect()
    assert((rows(0).getLong(1), rows(0).getLong(2), rows(0).getLong(3)) ===
      ((6L, 2L, 6L)))
    assert(rows(0).getDouble(4) ===
      206.835 - (1.015 * (6.0 / 2L)) - (84.6 * (6.0 / 6L)))
    assert(rows(1).getLong(2) === 0L)
    assert(rows(1).getDouble(4) ===
      206.835 - (1.015 * (3.0 / 1L)) - (84.6 * (3.0 / 3L)))
    assert(rows(2).getLong(1) === 0L && rows(2).isNullAt(4))
  }

  test("oovRate: hand-computed counts against a top-k bigram vocabulary") {
    // corpus bigrams: "a b"×3 (docs 1,2,3), "b c"×2 (docs 1,2),
    // "x y"×1 (doc 3). vocabK=2 keeps {"a b","b c"} (counts 3,2);
    // "x y" is OOV.
    val docs = Seq(
      (1L, "a b c"),      // bigrams: a b, b c  → 0 OOV of 2
      (2L, "a b c"),      // same
      (3L, "a b x y"),    // bigrams: a b, b x, x y → "b x","x y" OOV
      (4L, "solo"),       // < 2 tokens → no bigrams → absent
      (5L, "")            // empty → absent
    ).toDF("doc_id", "text")
    val out = TextAnalysis.oovRate(docs, "doc_id", "text", vocabK = 2)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    val byId = out.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(byId(1L) === ((2L, 0L, 0.0)))
    assert(byId(2L) === ((2L, 0L, 0.0)))
    // doc 3: 3 bigrams, "b x" and "x y" outside the top-2 vocab
    assert(byId(3L) === ((3L, 2L, 2.0 / 3.0)))
  }

  test("oovRate vocabulary cut is deterministic under count ties") {
    // two bigrams tie at count 1; (count desc, bigram asc) must keep
    // the lexicographically smaller one for any partitioning
    val docs = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    val out = TextAnalysis.oovRate(docs, "doc_id", "text", vocabK = 1)
      .orderBy("doc_id").collect()
    // vocab = {"a b"}; doc 1 fully in-vocab, doc 2 fully OOV
    assert(out(0).getLong(2) === 0L)
    assert(out(1).getLong(2) === 1L && out(1).getDouble(3) === 1.0)
  }

  test("unigramCrossEntropy: hand-computed bits under the corpus LM") {
    // corpus tokens: a×2 (doc 1), b×2 (docs 1,2), c×1 (doc 2) → N=5
    // p(a)=p(b)=2/5, p(c)=1/5
    val docs = Seq(
      (1L, "a a b"),
      (2L, "b c"),
      (3L, "   ")          // blank → filtered, no row
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramCrossEntropy(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    val log2 = (x: Double) => math.log(x) / math.log(2.0)
    assert(out(0).getLong(1) === 3L)
    // doc 1: all three tokens have p=2/5
    assert(math.abs(out(0).getDouble(2) - -log2(0.4)) < 1e-12)
    assert(out(1).getLong(1) === 2L)
    // doc 2: (−log2(2/5) − log2(1/5)) / 2
    assert(math.abs(out(1).getDouble(2) -
      (-log2(0.4) - log2(0.2)) / 2.0) < 1e-12)
  }

  test("bigramCrossEntropy: hand-computed interpolated probabilities") {
    // corpus bigrams: "a b"×1 (doc 1), "b a"×2 (docs 1,2)
    // ctx counts: a→1, b→2
    // unigrams INCLUDE the bigram-less doc 3: a=3, b=2, solo=1 → N=6
    val docs = Seq(
      (1L, "a b a"),
      (2L, "b a"),
      (3L, "solo"),        // 1 token → no bigrams → absent from output
      (4L, "")             // empty → absent
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramCrossEntropy(docs, "doc_id", "text",
        lambda = 0.5)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    val log2 = (x: Double) => math.log(x) / math.log(2.0)
    // p("b"|"a") = 0.5·(1/1) + 0.5·(2/6) = 2/3
    // p("a"|"b") = 0.5·(2/2) + 0.5·(3/6) = 3/4
    assert(out(0).getLong(1) === 2L)
    assert(math.abs(out(0).getDouble(2) -
      (-log2(2.0 / 3.0) - log2(3.0 / 4.0)) / 2.0) < 1e-12)
    assert(out(1).getLong(1) === 1L)
    assert(math.abs(out(1).getDouble(2) - -log2(3.0 / 4.0)) < 1e-12)
  }

  test("dsirLogWeights: feature counts, target affinity, determinism") {
    val docs = Seq(
      (1L, "x x y"),       // target
      (2L, "x y"),         // target
      (3L, "z w"),         // raw-only tokens
      (4L, "z w"),         // identical text → identical weight
      (5L, "  ")           // blank → absent
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dsirLogWeights(docs, "doc_id", "text",
        col("doc_id") <= 2L, buckets = 4096)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    // n_feats = tokens + bigrams
    assert(out.map(_.getLong(1)).toSeq === Seq(5L, 3L, 3L, 3L))
    val w = out.map(_.getDouble(2))
    // target-looking docs outscore raw-only docs
    assert(w(0) > w(2) && w(1) > w(2))
    // same text, same features, same weight
    assert(w(2) === w(3))
  }

  test("dedupLines: first occurrence kept in order, blanks collapse") {
    val docs = Seq(
      (1L, "menu\nbody one\nmenu\nbody two\nmenu"),  // boilerplate ×3
      (2L, "a\n\nb\n\nc"),                           // blank dedups too
      (3L, "unique"),                                // single line, no \n
      (4L, "")                                       // empty → 1 empty line
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dedupLines(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out(0) === ((1L, "menu\nbody one\nbody two", 5L, 2L)))
    assert(out(1) === ((2L, "a\n\nb\nc", 5L, 1L)))
    assert(out(2) === ((3L, "unique", 1L, 0L)))
    assert(out(3) === ((4L, "", 1L, 0L)))
  }

  test("sentences: split on terminal runs, indices survive empty drops") {
    val docs = Seq(
      (1L, "One. Two! Three?"),     // final fragment keeps no tail split
      (2L, "Tail kept."),           // no whitespace after '.' → one sentence
      (3L, "A!!  B?! C"),           // runs collapse; C unterminated
      (4L, ". "),                   // only an empty fragment → dropped
      (5L, "")                      // empty text → no rows
    ).toDF("doc_id", "text")
    val out = TextAnalysis.sentences(docs, "doc_id", "text")
      .orderBy("doc_id", "sent_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(out.toSeq === Seq(
      (1L, 0, "One"), (1L, 1, "Two"), (1L, 2, "Three?"),
      (2L, 0, "Tail kept."),
      (3L, 0, "A"), (3L, 1, "B"), (3L, 2, "C")))
  }

  test("chunkTokens: strided overlap, ragged tail, full coverage") {
    val docs = Seq(
      (1L, (1 to 25).map(i => s"t$i").mkString(" ")), // 25 toks: 3 chunks
      (2L, "a b c"),                                  // shorter than one chunk
      (3L, ""), (4L, null.asInstanceOf[String])       // emit nothing
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkTokens(docs, "doc_id", "text",
        chunkTokens = 10, strideTokens = 8)
      .orderBy("doc_id", "chunk_idx")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    val d1 = out.filter(_._1 == 1L)
    // starts 0,8,16,24; spans 10,10,9,1
    assert(d1.map(x => (x._2, x._3, x._4)).toSeq === Seq(
      (0L, 0L, 10L), (1L, 8L, 10L), (2L, 16L, 9L), (3L, 24L, 1L)))
    assert(d1(0)._5 === (1 to 10).map(i => s"t$i").mkString(" "))
    assert(d1(1)._5.startsWith("t9 t10 t11")) // 2-token overlap
    assert(d1(3)._5 === "t25")
    // every token appears in at least one chunk
    assert(d1.flatMap(_._5.split(" ")).toSet === (1 to 25).map(i => s"t$i").toSet)
    assert(out.filter(_._1 == 2L).map(x => (x._2, x._4, x._5)).toSeq ===
      Seq((0L, 3L, "a b c")))
    assert(!out.exists(x => x._1 == 3L || x._1 == 4L))
    // stride == chunk: disjoint exact partition
    val disjoint = TextAnalysis.chunkTokens(docs, "doc_id", "text", 5, 5)
      .filter(col("doc_id") === 1L).collect()
      .map(r => (r.getLong(2), r.getLong(3)))
    assert(disjoint.map(_._2).sum === 25L)
    intercept[IllegalArgumentException](
      TextAnalysis.chunkTokens(docs, "doc_id", "text", 5, 6))
  }

  test("chunkTokens is a pure projection: the same plan runs in an append-mode stream") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val in = Files.createTempDirectory("chunk_in")
    val out = Files.createTempDirectory("chunk_out")
    val cp = Files.createTempDirectory("chunk_cp")
    Seq(in, out, cp).foreach(_.toFile.deleteOnExit())
    val docs = Seq((1L, (1 to 25).map(i => s"t$i").mkString(" ")),
      (2L, "a b c"))
    docs.toDF("doc_id", "text").coalesce(1)
      .write.mode("append").json(in.toString)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val stream = spark.readStream.schema(schema).json(in.toString)
    val q = TextAnalysis.chunkTokens(stream, "doc_id", "text",
        chunkTokens = 10, strideTokens = 8)
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", cp.toString)
      .outputMode(OutputMode.Append())
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(out.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(4)))
      .sortBy(x => (x._1, x._2))
    val batch = TextAnalysis.chunkTokens(docs.toDF("doc_id", "text"),
        "doc_id", "text", 10, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(4)))
      .sortBy(x => (x._1, x._2))
    assert(streamed.toSeq === batch.toSeq,
      "streamed chunking differs from the batch plan")
  }

  test("gopherRules: every rule measures and gates as the paper describes") {
    val good = (("the of and that words " * 12) + "closing line").trim // 62 words, 4 stop hits
    val docs = Seq(
      (1L, good),
      (2L, "too short but the of"),             // fails min word count only
      (3L, good + " ### ## # # # # # #"),       // symbol-heavy (9 #'s / 69 words > 0.1)
      (4L, "- one\n- two\n- three\n" + good),   // 3 bullet lines of 4
      (5L, "tail...\nmore...\nender...\n" + good.replaceAll(" ", "  ")), // ellipsis lines
      (6L, ("1 2 3 4 5 " * 12) + "the of"),     // numeric: alpha frac 2/62 < 0.8
      (7L, "")                                  // empty: everything 0
    ).toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        TextAnalysis.gopherRules(col("text")).as("g"))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getStruct(1)).toMap

    assert(out(1L).getAs[Boolean]("pass"))
    assert(out(1L).getAs[Long]("n_words") === 62L)
    assert(out(1L).getAs[Long]("stop_hits") === 4L) // the, of, and, that

    assert(!out(2L).getAs[Boolean]("pass"))
    assert(out(2L).getAs[Long]("stop_hits") === 2L) // rule passes; count fails

    assert(!out(3L).getAs[Boolean]("pass"))
    assert(out(3L).getAs[Double]("symbol_ratio") > 0.1)

    assert(out(4L).getAs[Double]("bullet_line_frac") === 0.75)
    assert(out(4L).getAs[Boolean]("pass")) // 0.75 is under the 0.9 bullet cap

    assert(out(5L).getAs[Double]("ellipsis_line_frac") === 0.75)
    assert(!out(5L).getAs[Boolean]("pass")) // 0.75 > 0.3 cap

    assert(!out(6L).getAs[Boolean]("pass"))
    assert(out(6L).getAs[Double]("alpha_word_frac") < 0.8)

    assert(out(7L).getAs[Long]("n_words") === 0L)
    assert(!out(7L).getAs[Boolean]("pass"))
  }

  test("gopherRules thresholds are parameters (fixture gate uses minStopHits = 1)") {
    val doc = Seq((1L, ("word " * 60 + "the").trim)).toDF("doc_id", "text")
    def pass(minStops: Int) = doc.select(
        TextAnalysis.gopherRules(col("text"), minStopHits = minStops)
          .getField("pass")).head.getBoolean(0)
    assert(!pass(2)) // only "the" present — paper default fails
    assert(pass(1))
  }

  test("GopherStats expression ≡ the Column reference formulation (parity)") {
    // adversarial shapes for every quirk the expression hand-codes:
    // non-space leading/trailing whitespace (empty-token quirk), tabs,
    // unicode ellipsis/bullets, dot runs (non-overlapping ... count),
    // trailing newline (kept empty line), trim-empty, symbol mixes
    val texts = Seq(
      "the of and that words all good here and long enough to pass everything",
      "\tleading tab", "trailing newline\n", "   ", "", "a\n\nb",
      "• bullet\n- dash\n* star\nplain", "dots..... and .. more",
      "end…\nend...\nno end", "# #hash words", "ONE-two three_four",
      "the the the of of", "多语言 text mixed 内容",
      "- \n-\n …\n...", "x\n\n\n"
    ) ++ Tables.documents(spark, sf).select("text").limit(50)
      .collect().map(_.getString(0)).toSeq
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val both = df.select(col("id"),
        TextAnalysis.gopherRules(col("text")).as("e"),
        gopherRulesColumns(col("text")).as("c"))
      .collect()
    both.foreach { r =>
      assert(r.getStruct(1) === r.getStruct(2),
        s"id=${r.getLong(0)} text=${texts(r.getLong(0).toInt).take(60)}…")
    }
  }

  test("stripHtml: scripts/styles die with their bodies, entities unescape amp-last") {
    val html = """<html><head><style>p { color: red; }</style></head>
      |<body><h1>Title</h1><script type="text/js">if (a<b) { x("</p>"); }</script>
      |<p class="big">Hello&nbsp;&amp;lt;world&#39;s&gt; &lt;tag&gt;</p></body></html>"""
      .stripMargin
    val out = Seq(Tuple1(html)).toDF("h")
      .select(TextAnalysis.stripHtml(col("h"))).head.getString(0)
    // &amp;lt; unescapes to &lt; (amp LAST — never double-unescaped to <)
    assert(out === "Title Hello &lt;world's> <tag>")
  }

  test("stripHtml collapses whitespace and passes plain text through") {
    val out = Seq(Tuple1("no   markup\n\nhere ")).toDF("h")
      .select(TextAnalysis.stripHtml(col("h"))).head.getString(0)
    assert(out === "no markup here")
  }

  test("tokenDriftPsi: identical corpora score exactly 0, disjoint vocab large") {
    val a = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"))
      .toDF("id", "text")
    val same = TextAnalysis.tokenDriftPsi(a, a, "text", buckets = 64)
      .collect().head
    assert(same.getLong(0) === 6L && same.getLong(1) === 6L)
    assert(same.getDouble(2) === 0.0) // p = q term-for-term
    // volume matters: Laplace smoothing dampens PSI when counts ~ 1,
    // so the disjoint-vocab case uses enough tokens for counts to
    // dominate the +1 (the regime the monitor actually runs in)
    val aBig = Seq.tabulate(50)(i =>
      (i.toLong, "alpha beta gamma delta")).toDF("id", "text")
    val bBig = Seq.tabulate(50)(i =>
      (i.toLong, "zeta eta theta iota")).toDF("id", "text")
    val moved = TextAnalysis.tokenDriftPsi(aBig, bBig, "text", buckets = 64)
      .collect().head.getDouble(2)
    assert(moved > 0.25, s"disjoint vocabularies must cross the line: $moved")
    // nulls/blank docs excluded; one side empty still total (smoothing)
    val withNull = a.unionByName(
      Seq((3L, null.asInstanceOf[String]), (4L, " ")).toDF("id", "text"))
    assert(TextAnalysis.tokenDriftPsi(withNull, a, "text", 64)
      .collect().head.getDouble(2) === 0.0)
    intercept[IllegalArgumentException](
      TextAnalysis.tokenDriftPsi(a, aBig, "text", buckets = 1))
  }

  test("cleanTextV2: invisibles stripped before NFC; v1 chain preserved") {
    def clean(s: String): String =
      Seq(Tuple1(s)).toDF("t")
        .select(TextAnalysis.cleanTextV2(col("t"))).head.getString(0)
    // ZWSP rejoins the word; RLO/PDF bidi pair vanishes; soft hyphen
    // vanishes; ZWJ/BOM/word-joiner vanish; v1 control/space/trim hold
    assert(clean("zero​width") === "zerowidth")
    assert(clean("bidi \u202Eevil\u202C x") === "bidi evil x")
    assert(clean("soft­hyphen") === "softhyphen")
    assert(clean("a‍﻿⁠b") === "ab")
    assert(clean(" café  end ") === "café end")
    // strip-before-NFC: an invisible between base and combining mark
    // must not block recomposition
    assert(clean("cafe​́") === "café")
    assert(clean("plain text stays") === "plain text stays")
  }

  test("scrubPiiV2: phones and IPs scrub; order pins URL-wrapped IPs; narrow gate") {
    def scrub(s: String): String =
      Seq(Tuple1(s)).toDF("t")
        .select(TextAnalysis.scrubPiiV2(col("t"))).head.getString(0)
    assert(scrub("call +1 (212) 555-0100 now") === "call <PHONE> now")
    assert(scrub("call +44 20 7946 0958 now") === "call <PHONE> now")
    assert(scrub("at (415) 555-0123.") === "at <PHONE>.")
    assert(scrub("fax 555-123-4567,") === "fax <PHONE>,")
    assert(scrub("host 192.168.1.254 up") === "host <IP> up")
    // ordering: an IP inside a URL is <URL>, never a half-eaten <IP>
    assert(scrub("see http://10.0.0.1/admin page") === "see <URL> page")
    // email before phone: digits in a local-part stay <EMAIL>
    assert(scrub("a 555-123-4567@x.example.com b") === "a <EMAIL> b")
    // the narrow gate: dates, order ids, version strings pass through
    assert(scrub("on 2026-08-15 order 1234567890 v1.2.3 x") ===
      "on 2026-08-15 order 1234567890 v1.2.3 x")
  }

  test("mainContent: density gates drop nav/related/footer, keep the body") {
    val html = """<html><head><style>p{x}</style></head><body>
      |<div class="nav"><a href="/">Home</a> <a href="/a">About</a></div>
      |<h1>Short Title</h1>
      |<p>This paragraph has plenty of real words to clear the floor,
      |including one small <a href="/m">inline link</a> inside.</p>
      |<ul><li><a href="/1">first related article</a></li>
      |<li><a href="/2">second related article</a></li></ul>
      |<p>Another long content paragraph with enough words to be kept
      |and no anchors at all in it.</p>
      |<footer>Copyright 2026</footer>
      |<script>if(1<2){boil("</p>");}</script></body></html>"""
      .stripMargin
    val out = TextAnalysis.mainContent(
        Seq((1L, html)).toDF("id", "h"), "id", "h").collect().head
    val mainText = out.getString(1)
    // body paragraphs kept WHOLE (source newlines are not block cuts),
    // in order, nothing else
    assert(mainText.startsWith("This paragraph has plenty"))
    assert(mainText.split("\n")(0).endsWith("inline link inside."))
    assert(mainText.split("\n").length === 2)
    assert(mainText.split("\n")(1).startsWith("Another long content"))
    assert(mainText.split("\n")(1).endsWith("no anchors at all in it."))
    assert(!mainText.contains("Home") && !mainText.contains("related") &&
      !mainText.contains("Copyright") && !mainText.contains("Short Title"))
    assert(out.getLong(3) === 2L) // n_kept
    assert(out.getLong(2) >= 6L) // nonempty blocks incl. the dropped ones
    // all-boilerplate page → empty main_text, zero kept
    val boiler = TextAnalysis.mainContent(
        Seq((1L, "<div><a href=\"/\">Home</a></div><footer>c</footer>"))
          .toDF("id", "h"), "id", "h").collect().head
    assert(boiler.getString(1) === "" && boiler.getLong(3) === 0L)
    // link-density boundary: 2 anchor words of 6 total = 0.333… > 0.33
    // ceiling → dropped; 2 of 7 = 0.286 → kept
    val six = "<p>one two three four <a href=\"/x\">five six</a></p>"
    val seven = "<p>one two three four five <a href=\"/x\">six seven</a></p>"
    val d = TextAnalysis.mainContent(
        Seq((1L, six), (2L, seven)).toDF("id", "h"), "id", "h")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(d(1L) === 0L && d(2L) === 1L)
  }

  test("keyphrases: stopword-delimited runs, hand-computed RAKE scores, integer gates") {
    import spark.implicits._
    val docs = Seq(
      (1L, "big data the fast query"), // runs: [big data], [fast query]
      (2L, "big data a big data"),     // runs: [big data] ×2
      (3L, "slow"),                    // run of 1 — under minLen
      (4L, "the a the"),               // stopwords only — no candidates
      (5L, "")                         // empty — dropped
    ).toDF("doc_id", "text")
    val out = TextAnalysis.keyphrases(docs, "doc_id", "text",
        minLen = 2, maxLen = 4, minCount = 1L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // candidates: "big data" ×3, "fast query" ×1
    // big/data: freq 3, deg 6 → 2.0 each; fast/query: freq 1, deg 2 → 2.0
    assert(out === Map("big data" -> ((3L, 4.0)),
      "fast query" -> ((1L, 4.0))))
    // minCount gates on occurrences
    val freq2 = TextAnalysis.keyphrases(docs, "doc_id", "text",
        minLen = 2, maxLen = 4, minCount = 2L)
      .collect().map(_.getString(0))
    assert(freq2.toSeq === Seq("big data"))
  }

  test("bm25TopK: hand-computed Okapi scores, tie order, term filter") {
    val docs = Seq(
      (0L, "spark spark fast"),   // tf(spark)=2, dl=3
      (1L, "spark slow slow slow"), // tf(spark)=1, dl=4
      (2L, "query engine"),       // tf(query)=1, dl=2
      (3L, "nothing relevant here x")) // no match → absent
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(docs, "doc_id", "text",
        Seq("spark", "query"), k = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    // N = 4 docs, avgdl = (3+4+2+4)/4 = 3.25; k1 = 1.25, b = 0.75
    val avgdl = 3.25
    def idf(df: Int) = math.log((4.0 - df + 0.5) / (df + 0.5) + 1.0)
    def term(tf: Long, df: Int, dl: Long) =
      idf(df) * tf * 2.25 / (tf + 1.25 * (0.25 + 0.75 * dl / avgdl))
    assert(got.keySet === Set(0L, 1L, 2L))
    assert(got(0L)._1 === 1L)
    assert(math.abs(got(0L)._2 - term(2, 2, 3)) < 1e-12)
    assert(math.abs(got(1L)._2 - term(1, 2, 4)) < 1e-12)
    assert(math.abs(got(2L)._2 - term(1, 1, 2)) < 1e-12)
    // longer doc with the same tf scores LOWER (length normalization)
    assert(got(0L)._2 > got(1L)._2)
  }

  test("kwicSnippets: first occurrence, start clamp, absent and null text") {
    val docs = Seq(
      (0L, "needle at the very start"),        // clamp to pos 1
      (1L, "some long prefix then needle then suffix text"),
      (2L, "no match here"),
      (3L, "needle early and needle again"),   // FIRST occurrence only
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextAnalysis.kwicSnippets(docs, "doc_id", "text",
        "needle", context = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(got.keySet === Set(0L, 1L, 3L))
    assert(got(0L) === ((1L, "needle at t")))      // no chars before pos 1
    assert(got(1L) === ((23L, "then needle then")))
    assert(got(3L) === ((1L, "needle earl")))
  }

  test("proximityMatch: window gate, pair counts, same-term dedupe") {
    val docs = Seq(
      (0L, "spark is a query engine"),      // gap 3 → in window 3
      (1L, "spark a b c d e f g h query"),  // gap 9 → out at 3
      (2L, "query spark query"),            // gaps 1 and 1 → 2 pairs
      (3L, "spark only"),                   // no partner → absent
      (4L, "x spark y spark z"))            // same-term case below
      .toDF("doc_id", "text")
    val got = TextAnalysis.proximityMatch(docs, "doc_id", "text",
        "spark", "query", window = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got === Map(0L -> ((1L, 3L)), 2L -> ((2L, 1L))))
    // same-term: each unordered position pair counted once
    val same = TextAnalysis.proximityMatch(docs, "doc_id", "text",
        "spark", "spark", window = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(same === Map(4L -> ((1L, 2L))))
  }

  test("scriptMix: planted scripts, tie precedence, empty and null text") {
    val cyr = "Абв" // Абв
    val cjk = "中文"       // 中文
    val ara = "مر"       // مر
    val docs = Seq(
      (0L, "plain ascii"),
      (1L, cyr + cjk),          // 3 cyr vs 2 cjk → cyrillic
      (2L, "ab" + cyr.take(2)), // 2 vs 2 tie → latin precedence
      (3L, ara + "!!"),         // arabic only
      (4L, "1234 !!"),          // no counted script → other
      (5L, ""),                 // empty: fractions 0, other
      (6L, null.asInstanceOf[String])) // omitted
      .toDF("id", "text")
    val got = TextAnalysis.scriptMix(docs, "id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getString(10)))).toMap
    assert(got.keySet === Set(0L, 1L, 2L, 3L, 4L, 5L))
    assert(got(0L) === ((11L, 10L, 0L, 0L, 0L, "latin")))
    assert(got(1L) === ((5L, 0L, 3L, 2L, 0L, "cyrillic")))
    assert(got(2L) === ((4L, 2L, 2L, 0L, 0L, "latin")))
    assert(got(3L) === ((4L, 0L, 0L, 0L, 2L, "arabic")))
    assert(got(4L) === ((7L, 0L, 0L, 0L, 0L, "other")))
    assert(got(5L) === ((0L, 0L, 0L, 0L, 0L, "other")))
    val fr = TextAnalysis.scriptMix(docs, "id", "text")
      .filter(col("id") === 1).collect().head
    assert(fr.getDouble(6) === 0.0 && fr.getDouble(7) === 3.0 / 5 &&
      fr.getDouble(8) === 2.0 / 5 && fr.getDouble(9) === 0.0)
  }
}
