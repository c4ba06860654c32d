package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Reuse.ReuseOps

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting.
  *
  * Everything here is a pure `Column` expression built from
  * `org.apache.spark.sql.functions` — fully whole-stage-codegen'd, no
  * UDFs, so a 100 TB scan stays a single narrow projection stage with
  * no shuffle and no JVM⇄interpreter boundary. Each function has an
  * exact ANSI-SQL twin runnable in DuckDB (see SparkEntry.oracleSql),
  * which is the correctness contract.
  */
object TextAnalysis {

  /** The repo-wide portable 52-bit hash (first 13 hex chars of sha256)
    * as the compiled [[graft.expressions.ShaPrefixBits]] — value-equal
    * to `conv(substring(sha2(c, 256), 1, 13), 16, 10).cast("long")`,
    * the chain every oracle restates in DuckDB (ShaPrefixSpec pins the
    * equality; the Column chain rendered the full 64-char hex string +
    * radix parse PER FEATURE in the hottest text paths). */
  private def sha52(c: Column): Column =
    graft.expressions.ShaPrefixBits.shaPrefixBits(c, 13)

  /** Whitespace tokenization — trim first so leading/trailing blanks
    * don't produce empty tokens (matches DuckDB
    * `string_split_regex(trim(x), '\s+')`). */
  def tokens(text: Column): Column =
    split(trim(text), "\\s+")

  def tokenCount(text: Column): Column =
    size(tokens(text))

  /** ASCII punctuation count via an explicit char class (`!-/:-@[-`{-~`)
    * so the Java and RE2 regex dialects agree byte-for-byte. */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[^!-/:-@\\[-`{-~]", ""))

  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(punctCount(text).cast("double") / length(text))

  /** Small fixed English stopword list — enough for ratio features;
    * mirrored verbatim in the oracle SQL. */
  val stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "for")

  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isInCollection(stopwords)))

  def stopwordRatio(text: Column): Column =
    when(tokenCount(text) === 0, lit(0.0))
      .otherwise(stopwordCount(text).cast("double") / tokenCount(text))

  /** All scalar text features in one struct via the one-pass custom
    * `TextStats` expression (see its Scaladoc for why the Column-only
    * formulation tokenizes once per feature). Fields: token_count,
    * char_count, punct_count, stopword_count, token_len_sum. */
  def textStats(text: Column): Column =
    graft.expressions.TextStats.stats(text, stopwords)

  /** Heuristic document-quality score in [0,1]: rewards reasonable
    * length, low punctuation density, the presence of function words,
    * and word lengths in the natural-language band. Deliberately a pure
    * arithmetic combination so the oracle can reproduce it exactly.
    * Identical arithmetic to the per-feature Column functions, but fed
    * from the single-pass stats struct. */
  def qualityScore(text: Column): Column = {
    val st = textStats(text)
    val tc = st.getField("token_count").cast("double")
    val pr = when(st.getField("char_count") === 0, lit(0.0))
      .otherwise(st.getField("punct_count").cast("double") / st.getField("char_count"))
    val sr = st.getField("stopword_count").cast("double") / tc
    val al = st.getField("token_len_sum").cast("double") / tc
    val lengthTerm   = least(tc / 100.0, lit(1.0))
    val punctTerm    = lit(1.0) - least(pr * 4.0, lit(1.0))
    val stopTerm     = least(sr * 5.0, lit(1.0))
    val wordLenTerm  = lit(1.0) - least(abs(al - 5.0) / 5.0, lit(1.0))
    lengthTerm * 0.3 + punctTerm * 0.3 + stopTerm * 0.2 + wordLenTerm * 0.2
  }

  /** Marker-word tables for the n-gram/function-word language-ID
    * heuristic. Tiny on purpose: broadcastable as literals into the
    * expression tree, no lookup join at any scale. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es", "un"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "une", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不")
  )

  /** Predicted language = argmax marker hits; ties break in `langMarkers`
    * declaration order; zero hits everywhere → "und" (undetermined);
    * NULL text propagates NULL. Backed by the single-pass `LangId`
    * custom expression — the equivalent Column formulation tokenizes
    * once per marker set (~10 regex splits per row after inlining). */
  def langId(text: Column): Column =
    graft.expressions.LangId.langId(text, langMarkers)

  /** Classifier-grade language ID (see
    * [[graft.expressions.LangIdScores]]): hashed char-2/3-gram integer
    * heads built from [[langMarkers]], scored in one codegen pass.
    * Returns struct (lang, score, margin) — BIGINT-exact. */
  def langIdV2(text: Column, buckets: Int = 1024): Column =
    graft.expressions.LangIdScores.score(text, langMarkers, buckets)

  /** BM25 document scoring for a bag-of-terms query (Robertson &
    * Zaragoza 2009) — the SPARSE-retrieval complement to the dense ANN
    * family ([[graft.operators.Similarity]]): production retrieval runs
    * both and fuses ranks (`Analytics.rankFusion` is the fusion side).
    * Standard Okapi form: idf = ln((N − df + 0.5)/(df + 0.5) + 1),
    * score = Σ_t idf·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    * k1/b arrive in QUARTERS (5 → 1.25, 3 → 0.75) so the constants are
    * exact binary cross-engine.
    *
    * Scale shape: ONE corpus tokenize pass serves doc lengths and term
    * frequencies (the tf side filters to the broadcast query terms
    * scan-side, so only matching (doc, term) rows aggregate); df and
    * (N, avgdl) are term-count- and 1-row-sized broadcasts. No shuffle
    * is corpus-wide except the per-doc length aggregation — the same
    * bill every per-doc text stat pays.
    *
    * Output: top-k (id, n_matched, bm25), score desc, id tiebreak. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, k1Quarters: Int = 5,
      bQuarters: Int = 3): DataFrame = {
    require(queryTerms.nonEmpty && k >= 1 && k1Quarters >= 0 &&
      bQuarters >= 0 && bQuarters <= 4)
    val k1 = k1Quarters / 4.0
    val b = bQuarters / 4.0
    val toks = df
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("t"))
      .filter(length(col("t")) > 0)
      .materialized // serves lengths AND term frequencies
    val lens = toks.groupBy("id").agg(count(lit(1)).as("dl"))
    val nAvg = lens.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = toks.filter(col("t").isInCollection(queryTerms.distinct))
      .groupBy("id", "t").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), Seq("t"))
      .join(lens, Seq("id"))
      .crossJoin(broadcast(nAvg))
      .select(col("id"),
        (log((col("n_docs") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5)) + lit(1.0)) *
          col("tf") * lit(k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl") / col("avgdl")))).as("s"))
      .groupBy("id")
      .agg(sum(col("s")).as("bm25"), count(lit(1)).as("n_matched"))
      .orderBy(col("bm25").desc, col("id"))
      .limit(k)
      .select("id", "n_matched", "bm25")
  }

  /** Term-proximity match — the positional-index query next to
    * [[bm25TopK]]'s bag-of-words scoring ("spark NEAR/5 query"):
    * documents where `termA` and `termB` co-occur within `window`
    * token positions, with the pair count and the closest gap. BM25
    * ranks topical match; proximity separates "both words somewhere in
    * 10 pages" from "the phrase you meant" — the classic relevance
    * refinement a retrieval stack layers on.
    *
    * Scale shape: one tokenize+posexplode scan; each term's position
    * list is per-doc-term-frequency-sized, so the per-doc position
    * join is bounded by tf(A)·tf(B) per document, never corpus². The
    * one shuffle keys on the doc id. Same-term queries count each
    * unordered position pair once.
    * Output: (id, n_pairs, min_gap), matched docs only. */
  def proximityMatch(df: DataFrame, idCol: String, textCol: String,
      termA: String, termB: String, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val toks = df
      .select(col(idCol).as("id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "t")))
      .filter(length(col("t")) > 0)
      .materialized // both term scans read one tokenization
    val a = toks.filter(col("t") === termA)
      .select(col("id"), col("pos").as("pa"))
    val b = toks.filter(col("t") === termB)
      .select(col("id"), col("pos").as("pb"))
    val pairs = a.join(b, Seq("id"))
      .filter(abs(col("pa") - col("pb")) <= window &&
        (if (termA == termB) col("pa") < col("pb")
         else col("pa") =!= col("pb")))
    pairs.groupBy("id")
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("pa") - col("pb"))).cast("long").as("min_gap"))
  }

  /** KWIC (keyword-in-context) snippet extraction — the display step
    * of the retrieval trio ([[bm25TopK]] ranks, [[proximityMatch]]
    * refines, this shows the hit): the first occurrence position of
    * `term` and a ±`context`-char window around it. Character-level by
    * design (word-boundary snippeting is a UI policy layered on top);
    * docs without the term produce no row. Entirely scan-local — one
    * instr + one substring per row, zero shuffle.
    * Output: (id, pos [1-based], snippet). */
  def kwicSnippets(df: DataFrame, idCol: String, textCol: String,
      term: String, context: Int): DataFrame = {
    require(term.nonEmpty && context >= 0)
    val p = instr(col(textCol), term)
    val start = greatest(lit(1), p - context)
    df.filter(col(textCol).isNotNull && p > 0)
      .select(col(idCol).as("id"), p.cast("long").as("pos"),
        col(textCol).substr(start,
          p + lit(term.length + context) - start).as("snippet"))
  }

  /** Unicode-script mix profile — the routing step BEFORE any
    * language-specific processing (marker-word [[langId]] only works on
    * space-delimited Latin text; a multilingual crawl first needs "what
    * script is this page even in"): per-document counts of Latin
    * letters, Cyrillic, CJK unified ideographs and Arabic, their
    * fractions of the total character count, and the dominant script
    * under a fixed precedence (latin > cyrillic > cjk > arabic on
    * ties; "other" when no counted script appears).
    *
    * Counting is regex-class character stripping with `\\x{...}` range
    * spellings — the ONE class syntax java.util.regex and RE2 share, so
    * the oracle runs the identical classes. Purely scan-local (four
    * regex passes per row, no shuffle); docs with NULL text are
    * omitted. Fractions are single exact divisions by the char count.
    *
    * Output: (id, n_chars, n_latin, n_cyrillic, n_cjk, n_arabic,
    * latin_frac, cyrillic_frac, cjk_frac, arabic_frac, dominant). */
  def scriptMix(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def n(cls: String): Column =
      length(regexp_replace(col(textCol), s"[^$cls]", ""))
    val counts = df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        length(col(textCol)).cast("long").as("n_chars"),
        n("A-Za-z").cast("long").as("n_latin"),
        n("\\x{0400}-\\x{04FF}").cast("long").as("n_cyrillic"),
        n("\\x{4E00}-\\x{9FFF}").cast("long").as("n_cjk"),
        n("\\x{0600}-\\x{06FF}").cast("long").as("n_arabic"))
    def frac(c: Column): Column =
      when(col("n_chars") > 0, c.cast("double") / col("n_chars"))
        .otherwise(lit(0.0))
    counts.select(col(idCol), col("n_chars"), col("n_latin"),
      col("n_cyrillic"), col("n_cjk"), col("n_arabic"),
      frac(col("n_latin")).as("latin_frac"),
      frac(col("n_cyrillic")).as("cyrillic_frac"),
      frac(col("n_cjk")).as("cjk_frac"),
      frac(col("n_arabic")).as("arabic_frac"),
      when(col("n_latin") + col("n_cyrillic") + col("n_cjk") +
          col("n_arabic") === 0, lit("other"))
        .when(col("n_latin") >= col("n_cyrillic") &&
          col("n_latin") >= col("n_cjk") &&
          col("n_latin") >= col("n_arabic"), lit("latin"))
        .when(col("n_cyrillic") >= col("n_cjk") &&
          col("n_cyrillic") >= col("n_arabic"), lit("cyrillic"))
        .when(col("n_cjk") >= col("n_arabic"), lit("cjk"))
        .otherwise(lit("arabic")).as("dominant"))
  }

  /** Rabin–Karp-style rolling fingerprint over the character stream:
    * `h = (h*31 + codepoint) mod 1_000_000_007`. A single sequential
    * fold per row (no shuffle); the modulus keeps every intermediate in
    * int64 so Spark and DuckDB agree exactly. */
  def fingerprint(text: Column): Column =
    aggregate(
      split(text, ""),
      lit(0L),
      (acc, ch) => (acc * 31L + ascii(ch)) % 1000000007L)

  /** Word n-grams ("shingles") as an array column; n ≥ 1. Empty/short
    * docs yield an empty array. Used by the dedup family.
    *
    * Formulated as chained `zip_with` over shifted slices rather than
    * `transform(sequence(...), i => slice(toks, i, n))`: a lambda body
    * re-evaluates non-attribute subexpressions PER ELEMENT, so the
    * index-based version re-runs the regex tokenizer |tokens| times per
    * row (O(len·tokens) — measured as the dominant cost of the dedup
    * suite), while zip_with children are evaluated once per row. The
    * null-padding of the shorter zip side yields null tail entries
    * (concat null-propagates), which the final slice drops. */
  def wordNgrams(text: Column, n: Int): Column = {
    require(n >= 1)
    val toks = tokens(text)
    val joined = (2 to n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k), size(toks)),
        (a, b) => concat(a, lit(" "), b))
    }
    // the empty-split quirk (tokens("") == [""]) must NOT leak through
    // as a [""] 1-gram: empty docs would all become Jaccard-1.0 pairs
    // and "" a hot inverted-index key
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .when(size(toks) < n, array().cast("array<string>"))
      .otherwise(slice(joined, lit(1), size(toks) - (n - 1)))
  }

  /** GPT-2-style pre-tokenizer pattern: contraction suffixes, then
    * space-prefixed letter runs / digit runs / punctuation runs, then
    * residual whitespace. Deliberately restricted to constructs that
    * behave identically in java.util.regex (Spark codegen) and RE2
    * (DuckDB), so the count is cross-engine exact — the real BPE
    * vocab-merge step is model-specific, but THIS split is what
    * determines pre-merge token budgets. */
  val BpeishPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  /** Approximate LLM token count: number of `BpeishPattern` matches —
    * the budget estimator a training pipeline runs over every document
    * (whitespace `tokenCount` undercounts punctuation-heavy and
    * CJK-adjacent text badly). Codegen'd single regex scan per row.
    * The REAL merge loop is [[bpeTokens]]; this stays the fast
    * estimator (one regex scan vs the per-word merge iteration). */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpeishPattern))

  /** Embedded BPE merges fixture — a small char-level merges table in
    * the shape actual BPE training produces (the GPT-2 merges file is
    * the public-knowledge reference for the format: one ranked
    * `a b → ab` rule per line; this toy table is English-bigram-shaped
    * and deterministic so the oracle can replay it). Two structural
    * invariants — validated below at class-init because the DuckDB
    * oracle's rank-order replay is only equivalent to the true
    * min-rank loop when they hold (see [[graft.expressions.BpeEncode]]):
    *  1. every rule's sides are base characters or outputs of
    *     strictly lower-rank rules (constituents precede);
    *  2. no two rules produce the same string.
    */
  val BpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"),    // 0: th
    ("th", "e"),   // 1: the
    ("i", "n"),    // 2: in
    ("a", "n"),    // 3: an
    ("an", "d"),   // 4: and
    ("e", "r"),    // 5: er
    ("o", "n"),    // 6: on
    ("r", "e"),    // 7: re
    ("a", "t"),    // 8: at
    ("o", "r"),    // 9: or
    ("s", "t"),    // 10: st
    ("e", "n"),    // 11: en
    ("in", "g"),   // 12: ing
    (" ", "th"),   // 13: ␣th
    (" th", "e"),  // 14: ␣the
    (" ", "a"),    // 15: ␣a
    (" a", "n"),   // 16: ␣an
    (" an", "d"),  // 17: ␣and
    (" ", "s"),    // 18: ␣s
    (" s", "t"),   // 19: ␣st
    (" ", "re"),   // 20: ␣re
    (" re", "st"), // 21: ␣rest
    ("r", "at"),   // 22: rat
    (" ", "rat"),  // 23: ␣rat
    ("e", "s"),    // 24: es
    (" ", "in")    // 25: ␣in
  )
  // class-init validation of the oracle-equivalence invariants
  locally {
    val produced = scala.collection.mutable.Set[String]()
    BpeMerges.zipWithIndex.foreach { case ((a, b), r) =>
      for (side <- Seq(a, b)) {
        require(side.length == 1 || produced.contains(side),
          s"BpeMerges rank $r side '$side' is neither a base char nor an earlier output")
      }
      val out = a + b
      require(!produced.contains(out), s"BpeMerges duplicate output '$out' at rank $r")
      produced += out
    }
  }

  /** True BPE tokenization: [[BpeishPattern]] pre-tokens, then the real
    * lowest-rank-pair merge loop over `merges`. One codegen'd pass per
    * row, no shuffle — the scan-projection shape token counting needs
    * at 100 TB. Output `array<string>`. */
  def bpeTokens(text: Column, merges: Seq[(String, String)] = BpeMerges): Column =
    graft.expressions.BpeEncode.bpe(text, merges)

  /** DuckDB replay of the SAME merge table (UDF-free), for oracle
    * generation — generated from `merges` so Spark and oracle cannot
    * drift. Emits CTEs over an input CTE `<src>(doc_id, text)`:
    *
    *  - `bpem(r, pat, rep)`: the rules as delimiter-wrapped string
    *    patterns (`|a|b|` → `|ab|`), '|' being safe because the
    *    planted fixture text is lowercase letters + spaces only;
    *  - `bpept`: pre-tokens via `regexp_extract_all` of the SHARED
    *    [[BpeishPattern]] (deliberately java.regex ≡ RE2 portable);
    *  - `bpenc`: recursive CTE applying rule r at step r — each step
    *    is `replaceDepth` nested `replace()` calls, because one
    *    left-to-right `replace` pass misses occurrences that share a
    *    delimiter with a consumed match (…|a|b|a|b|… consumes the
    *    middle '|'); each extra pass at least halves the misses, so
    *    depth d is exact for same-pair runs up to 2^d — the planted
    *    fixture keeps runs ≤ 8 and registers depth 4;
    *  - `bpetok(doc_id, i, s)`: the final symbol string per pre-token
    *    (leading/trailing delimiter trimmed).
    *
    * Rank-order-once replay equals the true min-rank loop under the
    * class-init invariants above. */
  def bpeOracleCtes(src: String, merges: Seq[(String, String)] = BpeMerges,
      replaceDepth: Int = 4): String = {
    val rules = merges.zipWithIndex.map { case ((a, b), r) =>
      def q(s: String) = s.replace("'", "''")
      s"($r, '|${q(a)}|${q(b)}|', '|${q(a)}${q(b)}|')"
    }.mkString(", ")
    val applied = (1 to replaceDepth)
      .foldLeft("e.s") { (acc, _) => s"replace($acc, m.pat, m.rep)" }
    s"""bpem(r, pat, rep) AS (SELECT * FROM (VALUES $rules) v(r, pat, rep)),
       bpept AS (SELECT doc_id,
                   regexp_extract_all(text, '${BpeishPattern.replace("'", "''")}') AS ptl
                 FROM $src),
       bpenc(doc_id, i, s, r) AS (
         SELECT doc_id, i,
                '|' || array_to_string(string_split(ptl[i], ''), '|') || '|',
                0
         FROM bpept, LATERAL unnest(generate_series(1, len(ptl))) g(i)
         UNION ALL
         SELECT e.doc_id, e.i, $applied, e.r + 1
         FROM bpenc e JOIN bpem m ON m.r = e.r),
       bpetok AS (SELECT doc_id, i, trim(s, '|') AS s
                  FROM bpenc WHERE r = ${merges.length})"""
  }

  /** BPE vocabulary TRAINING (Sennrich et al. 2016): learn `numMerges`
    * merge rules from the corpus itself — the other half of the
    * tokenizer story next to [[bpeTokens]], which APPLIES a merges
    * table.
    *
    * Shape at 100 TB: the corpus pays exactly ONE tokenize+count pass
    * ([[termCounts]], materialized via [[graft.Reuse]]); every
    * training iteration then runs over the VOCABULARY-sized
    * (word, count, symbol-seq) table — adjacent-pair counting is a
    * vocab-sized aggregation, the argmax plans as TakeOrdered (ONE
    * (pair, count) row to the driver per step — the k-means
    * broadcast-centroid budget), and applying a merge is one codegen
    * string replace. Nothing corpus-sized moves after the first pass,
    * and driver state never exceeds the learned table itself.
    *
    * Determinism: pair-count ties break to the lexicographically
    * smallest (lhs, rhs) — UTF-8 byte order, identical in Spark and
    * DuckDB — so the learned table is a pure function of the corpus
    * and [[bpeTrainOracleSql]] can replay the loop exactly.
    *
    * Symbol sequences keep EVERY symbol delimiter-wrapped
    * (`␟a␟␟b␟`): adjacent occurrences of the same pair then share no
    * characters, so ONE left-to-right `replace` pass applies a merge
    * with exact greedy BPE run semantics (`a a a` → `aa a`) — unlike
    * the single-delimiter encoding of [[bpeOracleCtes]], which
    * consumes the shared separator and needs nested passes. Pair
    * counts are overlap counts (`zip(word, word.tail)` — the
    * reference Counter semantics). BMP text only: the char split
    * pairs java.regex `(.)` with RE2 `(.)`.
    *
    * Output: (step, lhs, rhs, merged, pair_cnt), one row per learned
    * rule; steps after pair exhaustion are dropped. The result feeds
    * [[bpeTokens]] whenever its class-init invariants hold (true for
    * any genuine training run without output collisions). */
  def bpeTrainMerges(df: DataFrame, textCol: String,
      numMerges: Int): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = df.sparkSession
    import spark.implicits._
    val S = "\u001f"
    // the one corpus-scale pass: word counts + wrapped char sequences
    val base = termCounts(df, textCol)
      .withColumn("seq", regexp_replace(col("term"), "(.)", S + "$1" + S))
      .select(col("n").as("cnt"), col("seq"))
      .materialized
    var words = base
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (t <- 1 to numMerges if merges.size == t - 1) {
      val a = filter(split(col("seq"), S), x => length(x) > 0)
      val pairsOf = transform(
        slice(col("a"), lit(1), size(col("a")) - 1),
        (s, i) => struct(s.as("lhs"), element_at(col("a"), i + 2).as("rhs")))
      val top = words
        .select(col("cnt"), a.as("a"))
        .select(col("cnt"), explode(pairsOf).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("cnt")).as("pair_cnt"))
        .orderBy(col("pair_cnt").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val l = top.head.getString(0)
        val r = top.head.getString(1)
        val c = top.head.getLong(2)
        merges += ((t, l, r, c))
        // vocab-sized chain off the materialized base — each step adds
        // one replace, never a corpus recompute
        words = words.withColumn("seq",
          replace(col("seq"), lit(S + l + S + S + r + S), lit(S + l + r + S)))
      }
    }
    merges.toSeq.toDF("step", "lhs", "rhs", "pair_cnt")
      .select(col("step"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("pair_cnt"))
      .orderBy("step")
  }

  /** DuckDB replay of [[bpeTrainMerges]] over the `documents` table:
    * the training loop unrolled as `numMerges` MATERIALIZED CTE steps
    * (pair counts → argmax with the same tie-break → one delimiter-
    * wrapped replace), generated from the same constants so the two
    * sides cannot drift. MATERIALIZED is load-bearing: each step is
    * referenced twice (next step + final union), and DuckDB's default
    * CTE inlining would re-expand the chain exponentially (the
    * PageRank/PCA lesson). */
  private def bpeTrainCtes(numMerges: Int): String = {
    val S = "chr(31)"
    val steps = (1 to numMerges).map { t =>
      s"""btp$t AS (SELECT p[1] AS lhs, p[2] AS rhs,
             CAST(sum(cnt) AS BIGINT) AS pair_cnt
           FROM (SELECT cnt, unnest(list_transform(range(1, len(a)),
                   i -> [a[i], a[i+1]])) AS p
                 FROM (SELECT cnt, list_filter(string_split(seq, $S),
                         x -> x <> '') AS a FROM btw${t - 1}) q) u
           GROUP BY 1, 2),
         btm$t AS MATERIALIZED (SELECT lhs, rhs, pair_cnt FROM btp$t
           ORDER BY pair_cnt DESC, lhs, rhs LIMIT 1),
         btw$t AS MATERIALIZED (SELECT cnt,
             replace(seq, $S || m.lhs || $S || $S || m.rhs || $S,
                     $S || m.lhs || m.rhs || $S) AS seq
           FROM btw${t - 1} CROSS JOIN btm$t m)"""
    }.mkString(",\n         ")
    s"""btw0 AS MATERIALIZED (
         SELECT count(*) AS cnt,
                regexp_replace(w, '(.)', $S || '\\1' || $S, 'g') AS seq
         FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
               FROM documents) u
         WHERE w <> '' GROUP BY w),
       $steps"""
  }

  def bpeTrainOracleSql(numMerges: Int): String = {
    val finalSel = (1 to numMerges).map(t =>
      s"""SELECT CAST($t AS INTEGER) AS step, lhs, rhs,
            lhs || rhs AS merged, pair_cnt FROM btm$t""")
      .mkString(" UNION ALL ")
    s"""WITH ${bpeTrainCtes(numMerges)}
       $finalSel ORDER BY step"""
  }

  /** Scrub emails and URLs to typed placeholder tags — the minimal PII/
    * leakage pass every training corpus gets. Patterns are dialect-
    * portable (java.util.regex ≡ RE2) so the result is oracle-exact.
    * Order matters: URLs first, or an email-looking userinfo inside a
    * URL would be rewritten and break the URL match. */
  val UrlPattern: String = "https?://[^\\s]+"
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, UrlPattern, "<URL>"),
      EmailPattern, "<EMAIL>")

  /** Phone patterns deliberately CONSERVATIVE and dialect-portable (no
    * lookarounds/backrefs — java.util.regex ≡ RE2): plus-prefixed
    * international runs, parenthesized-area US style, and plain
    * ddd-ddd-dddd. A greedy "any 10 digits" rule would eat ids,
    * timestamps and order numbers — in a curation pipeline false
    * positives destroy data, so the gate errs narrow. */
  val PhonePattern: String =
    "\\+[0-9]{1,3}[- ]?(\\([0-9]{1,4}\\)[- ]?)?[0-9]{2,4}([- ][0-9]{2,4}){1,3}" +
      "|\\([0-9]{3}\\) [0-9]{3}-[0-9]{4}" +
      "|[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Dotted-quad IPv4. `[0-9]{1,3}` (not value-exact octets) keeps the
    * pattern identical across dialects; over-matching 999.… "addresses"
    * is the standard scrubber trade. */
  val Ipv4Pattern: String =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** [[scrubPii]] extended with phone numbers and IPv4 addresses —
    * order matters and is pinned: URL first (an IP inside a URL is
    * already gone as `<URL>`), then email, then phone, then IP (a
    * phone match must not leave digit runs an IP rule could half-eat).
    * All four passes scan-local codegen'd regexes — zero shuffle. */
  def scrubPiiV2(text: Column): Column =
    regexp_replace(
      regexp_replace(
        scrubPii(text),
        PhonePattern, "<PHONE>"),
      Ipv4Pattern, "<IP>")

  /** Split documents into fixed-size token windows with overlap — the
    * context-window packing stage of a training pipeline (long docs
    * become `chunkTokens`-sized training rows; `overlap` tokens of
    * shared context keep boundary sentences learnable).
    *
    * Chunk i covers tokens [i·stride, i·stride + chunkTokens) with
    * stride = chunkTokens − overlap; the last chunk may be shorter;
    * docs shorter than one chunk yield exactly one chunk; empty/null
    * docs yield none. Shape at 100 TB: a typed per-row generator — no
    * shuffle, chunk rows inherit the scan partitioning, and the output
    * row count is ≈ corpus tokens / stride. A declarative
    * `transform(sequence(...))` formulation was rejected: lambda bodies
    * re-evaluate non-attribute subexpressions PER ELEMENT, so it
    * re-tokenized the whole document once per chunk (O(len × chunks));
    * the typed flatMap tokenizes each document exactly once and streams
    * — this is the genuinely-imperative-generator case the design rules
    * reserve typed functions for. Output:
    * (idCol long, chunk_idx int, chunk_text, n_tokens). */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got $overlap / $chunkTokens")
    val stride = chunkTokens - overlap
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        if (text == null || text.trim.isEmpty) Iterator.empty
        else {
          // same tokenization as tokens(): \s+ split of the trimmed text
          val toks = text.trim.split("\\s+")
          val n = toks.length
          val nc = math.max(1,
            math.ceil((n - chunkTokens).toDouble / stride).toInt + 1)
          (0 until nc).iterator.map { i =>
            val chunk = toks.slice(i * stride, i * stride + chunkTokens)
            (id, i, chunk.mkString(" "), chunk.length)
          }
        }
      }
      .toDF(idCol, "chunk_idx", "chunk_text", "n_tokens")
  }

  /** Corpus term frequencies — vocabulary building. Shape at 100 TB:
    * the explode widens rows but keeps them one-word narrow, and term
    * counting is a partial→final HashAggregate, so the shuffle moves
    * (term, partial-count) pairs bounded by per-partition vocabulary,
    * not by corpus tokens. Empty docs contribute nothing (the
    * empty-split quirk `tokens("") == [""]` is filtered). */
  def termCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("term")
      .agg(count(lit(1)).as("n"))

  /** Top-`k` corpus terms by frequency (ties → lexicographically first)
    * — the stopword/vocab-cap list a curation pipeline derives before
    * filtering. Plans as TakeOrderedAndProject over the aggregated
    * (vocab-sized, ≪ corpus) term counts: each partition contributes
    * only its local top-k to the driver-side merge. */
  def topTerms(df: DataFrame, textCol: String, k: Int): DataFrame =
    termCounts(df, textCol)
      .orderBy(col("n").desc, col("term").asc)
      .limit(k)

  /** Cumulative vocabulary coverage of the top-`k` corpus terms: for
    * each head term, the fraction of ALL corpus tokens covered by it
    * and every more-frequent term — the Zipf head curve a tokenizer/
    * vocab-size decision is made from ("the top 50 terms cover 38% of
    * the stream"). Deterministic tie order (count desc, term asc).
    *
    * Scale shape: term counting is the `termCounts` partial→final
    * aggregate; the top-k cut plans as TakeOrderedAndProject (each
    * partition ships only its local top-k); the running sum then runs
    * on exactly k rows — the single-partition window is k-bounded by
    * construction, never corpus-bounded. The total-token count joins in
    * as a broadcast scalar. Counts are integers, and coverage is one
    * double division per row — bit-identical cross-engine. Output:
    * (term, n, coverage). */
  def vocabCoverage(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tc = termCounts(df, textCol)
    val total = tc.agg(sum(col("n")).as("__total"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("term").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    tc.orderBy(col("n").desc, col("term").asc).limit(k)
      .crossJoin(broadcast(total))
      .select(col("term"), col("n"),
        (sum(col("n")).over(w).cast("double") / col("__total"))
          .as("coverage"))
  }

  /** Per-doc token repetition signals — the Gopher-style repetition
    * quality rules (Rae et al., "Scaling Language Models", §A1.1:
    * machine-generated/boilerplate text shows up as a few tokens
    * dominating the document):
    *   - `n_tokens` / `n_distinct_tokens`,
    *   - `dup_token_frac`  = 1 − distinct/total (mass in repeated use),
    *   - `top_token_frac`  = occurrences of the most frequent token /
    *     total (a single dominating token).
    *
    * Shape: explode → (doc, token) count → per-doc aggregate. Both
    * aggregations combine map-side, and the second shuffles one narrow
    * row per (doc, DISTINCT token) — bounded by vocabulary use, not doc
    * length. An O(len²) per-row HOF ("count equal elements per
    * element") would avoid the shuffle but runs interpreted and
    * quadratic in document length — wrong trade for 100 TB docs of
    * unbounded length. Tokens shuffle as raw strings so counts are
    * exact and oracle-visible (the Jaccard family hashes its shingles
    * instead because its join cost dwarfs these narrow aggregations).
    *
    * Blank/empty docs follow the tokens("") == [""] quirk: one empty
    * token, so every doc is reported. */
  def tokenRepetition(df: DataFrame, idCol: String, textCol: String,
      hashTokens: Boolean = false): DataFrame =
    df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("t"))
      // hashTokens is the 100 TB switch: every downstream aggregate
      // consumes only per-(doc, token) COUNTS, never the token text, so
      // the (doc, token) shuffle key can be an 8-byte xxhash64 digest
      // instead of a raw string — same shape the Jaccard family uses.
      // Exact modulo 64-bit collisions WITHIN one document's tokens
      // (~n²/2⁶⁵ per doc); the raw-string default stays oracle-exact
      // and the spec pins hashed ≡ exact on the fixture corpus.
      .select(col("id"),
        (if (hashTokens) xxhash64(col("t")) else col("t")).as("t"))
      .groupBy("id", "t")
      .agg(count(lit(1)).as("c"))
      .groupBy("id")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"),
        max(col("c")).as("top_token_count"))
      .select(col("id").as(idCol),
        col("n_tokens"), col("n_distinct_tokens"),
        (lit(1.0) - col("n_distinct_tokens").cast("double") / col("n_tokens"))
          .as("dup_token_frac"),
        (col("top_token_count").cast("double") / col("n_tokens"))
          .as("top_token_frac"))

  /** Corpus after the repetition gate: keep docs with
    * `dup_token_frac ≤ maxDupFrac` AND `top_token_frac ≤ maxTopFrac`.
    * Both fractions are IEEE double divisions of small integers —
    * bit-identical across engines, so the cuts are portable. */
  def dropRepetitive(df: DataFrame, idCol: String, textCol: String,
      maxDupFrac: Double, maxTopFrac: Double): DataFrame = {
    val kept = tokenRepetition(df, idCol, textCol)
      .filter(col("dup_token_frac") <= maxDupFrac &&
        col("top_token_frac") <= maxTopFrac)
      .select(col(idCol))
    df.join(kept, Seq(idCol), "left_semi")
  }

  /** Per-document DEFLATE compression ratio — the cheap "does this
    * text look like natural language" signal curation pipelines run
    * alongside the token-repetition rules: boilerplate, template spam,
    * and generated filler compress far below natural prose
    * (`compressed/raw` ≪ natural-language ~0.3–0.6), while random or
    * encrypted bytes sit near 1. Output: (idCol, raw_len byte length,
    * compressed_len, compression_ratio double).
    *
    * `mapPartitions` with ONE `Deflater` per partition, reset per doc —
    * native zlib state is expensive to allocate and this keeps the
    * stage a streaming narrow map on the scan partitions (no shuffle;
    * the text never leaves its input partition). Level 6 is pinned so
    * ratios are stable across JVMs. Not oracle-able — DuckDB exposes
    * no zlib — so correctness is spec'd on hand-built repetitive vs
    * varied fixtures (the ratio ORDERING, not exact zlib bytes, is the
    * contract). */
  def compressionRatio(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](64 * 1024)
        it.map { case (id, text) =>
          val raw =
            if (text == null) Array.emptyByteArray
            else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var compressed = 0L
          while (!deflater.finished())
            compressed += deflater.deflate(buf)
          val ratio =
            if (raw.isEmpty) 1.0 else compressed.toDouble / raw.length
          (id, raw.length.toLong, compressed, ratio)
        }
      }
      .toDF(idCol, "raw_len", "compressed_len", "compression_ratio")
  }

  /** Corpus after the compression gate: keep docs whose ratio is in
    * `[minRatio, 1.0]` — below the floor the text is template/filler
    * repetitive. Left-semi on bare ids, like the other gates. */
  def dropIncompressible(df: DataFrame, idCol: String, textCol: String,
      minRatio: Double): DataFrame = {
    val kept = compressionRatio(df, idCol, textCol)
      .filter(col("compression_ratio") >= minRatio)
      .select(col(idCol))
    df.join(kept, Seq(idCol), "left_semi")
  }

  /** Unicode NFC canonical composition — see
    * [[graft.expressions.NfcNormalize]] for the expression and its
    * DuckDB `nfc_normalize` parity contract. */
  def nfcNormalize(text: Column): Column =
    graft.expressions.NfcNormalize.nfc(text)

  /** Accent folding (NFD → drop combining marks → NFC) — see
    * [[graft.expressions.FoldAccents]] for the expression and its
    * DuckDB `strip_accents` parity contract. Runs in the scan
    * projection; compose with [[nfcNormalize]]/[[cleanText]] for
    * accent-insensitive dedup keys and term counting. */
  def foldAccents(text: Column): Column =
    graft.expressions.FoldAccents.fold(text)

  /** Standard text-cleaning pass a curation pipeline runs before any
    * byte-keyed operator (dedup digests, shingles, term counts):
    *  1. NFC-normalize (canonical bytes for visually-equal text),
    *  2. strip control characters EXCEPT tab/newline (explicit byte
    *     ranges, not `\p{Cc}`, so the Java and RE2 dialects agree;
    *     `\r` is stripped — CRLF becomes a bare newline),
    *  3. collapse runs of 2+ spaces to one,
    *  4. trim spaces.
    * Built-in `regexp_replace`/`trim` around the codegen'd NFC
    * expression — the whole pass stays inside one whole-stage-codegen
    * projection, no shuffle. Oracle twin: DuckDB `nfc_normalize` +
    * identical regexes. */
  def cleanText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(nfcNormalize(text),
        "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""),
      " {2,}", " "))

  /** Invisible-codepoint class [[cleanTextV2]] strips beyond
    * [[cleanText]]'s control bytes — the characters a web corpus is
    * actually full of and `[\x00-\x1F]` misses: zero-widths
    * (U+200B–U+200D, U+2060, U+FEFF — ZWSP/ZWNJ/ZWJ/word-joiner/BOM),
    * bidi controls (U+200E/U+200F, U+202A–U+202E, U+2066–U+2069 — the
    * Trojan-Source class), and the soft hyphen (U+00AD). The `\x{…}`
    * spelling is the java.util.regex ∩ RE2 dialect intersection. */
  val InvisiblePattern: String =
    "[\\x{00AD}\\x{200B}-\\x{200F}\\x{202A}-\\x{202E}" +
      "\\x{2060}\\x{2066}-\\x{2069}\\x{FEFF}]"

  /** [[cleanText]] plus invisible-codepoint stripping — zero-width and
    * bidi-control characters break byte-keyed dedup (two visually
    * identical documents hash apart on an invisible ZWSP) and token
    * counts, and bidi overrides are the Trojan-Source display attack;
    * a crawl pipeline strips them before any digest. Strip order:
    * invisibles BEFORE NFC so a soft-hyphen/ZWJ can't survive inside a
    * recomposition, then the cleanText chain unchanged. Same
    * single-projection zero-shuffle shape. */
  def cleanTextV2(text: Column): Column =
    cleanText(regexp_replace(text, InvisiblePattern, ""))

  /** Homoglyph confusable table (a curated subset of Unicode UTS #39
    * confusables — the codepoints spoofed-duplicate spam actually
    * uses): Cyrillic and Greek Latin-lookalikes plus the fullwidth
    * ASCII block, each mapped to its Latin/ASCII skeleton char. All
    * single BMP codepoints, so the fold is a `translate` — one
    * codegen'd char-map pass, zero shuffles, and the identical
    * `translate` exists in every SQL engine for the oracle. Written
    * as \\u escapes: a Cyrillic А in source is indistinguishable from
    * the Latin A it maps to — the exact failure mode this operator
    * exists to catch. */
  val ConfusablePairs: Seq[(Char, Char)] = {
    val named = Seq(
      // Cyrillic lowercase lookalikes
      '\u0430' -> 'a', '\u0435' -> 'e', '\u043E' -> 'o', '\u0440' -> 'p',
      '\u0441' -> 'c', '\u0443' -> 'y', '\u0445' -> 'x', '\u0456' -> 'i',
      '\u0455' -> 's', '\u0458' -> 'j',
      // Cyrillic uppercase lookalikes
      '\u0410' -> 'A', '\u0412' -> 'B', '\u0415' -> 'E', '\u041A' -> 'K',
      '\u041C' -> 'M', '\u041D' -> 'H', '\u041E' -> 'O', '\u0420' -> 'P',
      '\u0421' -> 'C', '\u0422' -> 'T', '\u0423' -> 'Y', '\u0425' -> 'X',
      // Greek uppercase lookalikes
      '\u0391' -> 'A', '\u0392' -> 'B', '\u0395' -> 'E', '\u0396' -> 'Z',
      '\u0397' -> 'H', '\u0399' -> 'I', '\u039A' -> 'K', '\u039C' -> 'M',
      '\u039D' -> 'N', '\u039F' -> 'O', '\u03A1' -> 'P', '\u03A4' -> 'T',
      '\u03A5' -> 'Y', '\u03A7' -> 'X',
      // Greek lowercase lookalikes
      '\u03BF' -> 'o', '\u03BD' -> 'v')
    val fullwidth =
      (0 until 26).map(i => (('\uFF21' + i).toChar, ('A' + i).toChar)) ++
        (0 until 26).map(i => (('\uFF41' + i).toChar, ('a' + i).toChar)) ++
        (0 until 10).map(i => (('\uFF10' + i).toChar, ('0' + i).toChar))
    named ++ fullwidth
  }
  val ConfusableFrom: String = ConfusablePairs.map(_._1).mkString
  val ConfusableTo: String = ConfusablePairs.map(_._2).mkString

  /** Confusable-skeleton fold: collapse [[ConfusablePairs]] onto their
    * Latin skeletons so visually-identical spoofed duplicates (SEO
    * spam, adversarial dedup evasion) share one dedup key. Compose in
    * front of the digest: `sha2(confusableSkeleton(text), 256)` — the
    * shuffle still moves 32-byte digests, never text. */
  def confusableSkeleton(text: Column): Column =
    translate(text, ConfusableFrom, ConfusableTo)

  /** Count of confusable codepoints in `text` — the spoofing signal
    * itself (a high count on a "Latin-script" page is an adversarial
    * marker even before dedup). Both Spark and SQL `translate` DELETE
    * matched chars when the replacement string is exhausted, so the
    * count is a length difference — still one scan-local pass. */
  def confusableCount(text: Column): Column =
    (length(text) - length(translate(text, ConfusableFrom, "")))
      .cast("long")

  /** The Gopher stop-list (Rae et al. 2021 §A1.1): a document must
    * contain at least two of these to pass the rule gate. Distinct
    * from [[stopwords]] (the ratio-feature list) on purpose — the
    * paper's own eight words, mirrored verbatim in the oracle. */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style quality RULE GATE (Rae et al. 2021, Table A1) — the
    * standard pre-filter battery a web-scale curation pipeline runs
    * before any model-based scoring, complementing the soft
    * [[qualityScore]]: hard pass/fail on word count, mean word length,
    * symbol-to-word ratio (# and …), bullet-started and
    * ellipsis-ended line fractions, alphabetic-word fraction, and
    * stop-list hits. Returns a struct with every rule's measurement
    * plus the combined `pass` — keep the measurements, not just the
    * verdict, so threshold tuning is a filter change, not a re-scan.
    *
    * One codegen projection per row (array HOFs over one tokenization
    * + one line split), zero shuffle; every term is integer counts and
    * correctly-rounded divisions, so the oracle reproduces it
    * bit-for-bit. Thresholds are the paper's, exposed as defaults. */
  def gopherRules(text: Column,
      minWords: Long = 50L, maxWords: Long = 100000L,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
      minStopHits: Int = 2): Column = {
    // raw counts from ONE codegen scan (graft.expressions.GopherStats);
    // the getField references below CSE onto a single evaluation inside
    // whole-stage codegen — the Column formulation (kept in
    // TextAnalysisSpec as the parity reference) cloned its interpreted
    // tokenize/line-split HOF subtrees into every feature instead
    // (measured 2.25 s → 0.72 s for the two gopher queries at sf0.1)
    val st = graft.expressions.GopherStats.stats(text, gopherStops)
    val nWords = st.getField("n_words").cast("long")
    val meanLen = when(nWords === 0, lit(0.0))
      .otherwise(st.getField("token_len_sum").cast("double") / nWords)
    val symbolRatio = when(nWords === 0, lit(0.0))
      .otherwise(st.getField("symbols").cast("double") / nWords)
    val nLines = st.getField("n_lines").cast("long") // split never yields [], so ≥ 1
    val bulletFrac = st.getField("bullet_lines").cast("double") / nLines
    val ellipsisFrac = st.getField("ellipsis_lines").cast("double") / nLines
    val alphaFrac = when(nWords === 0, lit(0.0))
      .otherwise(st.getField("alpha_words").cast("double") / nWords)
    val stopHits = st.getField("stop_hits").cast("long")
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

  /** HTML → text extraction (the boilerplate-strip pass a crawl
    * pipeline runs before every text operator above): drop script and
    * style elements WITH their contents, strip all remaining tags to
    * spaces, unescape the six ubiquitous entities (amp last, per the
    * standard double-escape rule), collapse whitespace, trim. Regexes
    * are RE2-safe (no backreferences, `(?is)` only), so the DuckDB
    * oracle runs the identical chain. A regex pass is the right tool
    * for BULK extraction — it runs inside whole-stage codegen at
    * GB/s/core; a DOM parser belongs in `mapPartitions` only when
    * structure (links, tables) must survive. */
  def stripHtml(html: Column): Column = {
    val noScript = regexp_replace(html, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    trim(regexp_replace(unescapeEntities(noTags), "\\s+", " "))
  }

  /** Entity unescape chain shared by [[stripHtml]] and [[mainContent]]
    * — amp LAST, so "&amp;lt;" becomes "&lt;" (one level), not "<". */
  private def unescapeEntities(c: Column): Column =
    org.apache.spark.sql.functions.replace(
      Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
        "&nbsp;" -> " ").foldLeft(c) { case (acc, (e, v)) =>
        org.apache.spark.sql.functions.replace(acc, lit(e), lit(v))
      }, lit("&amp;"), lit("&"))

  /** Block-level HTML tags that delimit text blocks for [[mainContent]]
    * — RE2-portable (no backrefs/lookarounds), shared with the oracle
    * verbatim. */
  val BlockTagPattern: String =
    "(?is)</?(p|div|br|h[1-6]|li|ul|ol|table|tr|td|th|section|article|" +
      "header|footer|nav|blockquote|pre)\\b[^>]*>"

  /** Main-content extraction — the tier ABOVE [[stripHtml]] (which
    * keeps every word on the page, nav and footer included): the
    * Boilerpipe/trafilatura-shaped line classifier (Kohlschütter et
    * al., WSDM'10) that a crawl pipeline runs before any quality gate.
    * The page is cut into text BLOCKS at block-level tag boundaries;
    * each block is scored by
    *   - text density: its word count (`minWords` floor — nav bars,
    *     headings, copyright lines are short), and
    *   - link density: words inside `<a>` anchors / total words
    *     (`maxLinkDensity` ceiling — related-links and menu blocks are
    *     all anchor text),
    * and the surviving blocks are reassembled in document order.
    * Same RE2-portable regex discipline as [[stripHtml]] (flags-only
    * constructs, no backrefs), so the oracle replays the identical
    * chain.
    *
    * Scale shape: ENTIRELY scan-local — split/transform/filter/
    * array_join are codegen'd per-row array ops, zero shuffles at any
    * corpus size (the [[dedupLines]] property); it composes in front
    * of the dedup/quality family. Output: (doc_id, main_text
    * [kept blocks joined with \n, '' when nothing survives], n_blocks
    * [nonempty-text blocks], n_kept). */
  def mainContent(df: DataFrame, idCol: String, htmlCol: String,
      minWords: Int = 5, maxLinkDensity: Double = 0.33): DataFrame = {
    require(minWords >= 1, s"minWords must be >= 1, got $minWords")
    require(maxLinkDensity >= 0 && maxLinkDensity <= 1,
      s"maxLinkDensity must be in [0,1], got $maxLinkDensity")
    def cleanText(c: Column): Column =
      trim(regexp_replace(
        unescapeEntities(regexp_replace(c, "<[^>]*>", " ")), "\\s+", " "))
    def words(c: Column): Column =
      when(c === "", lit(0)).otherwise(size(split(c, " ")))
    val noScript = regexp_replace(col(htmlCol),
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    // HTML is newline-insensitive: flatten source whitespace FIRST so
    // only block-level tags cut blocks (a wrapped paragraph is one
    // block, not one block per physical line)
    val flat = regexp_replace(noStyle, "\\s+", " ")
    val blocks = split(regexp_replace(flat, BlockTagPattern, "\n"), "\n", -1)
    val scored = transform(blocks, b => struct(
      cleanText(b).as("t"),
      cleanText(array_join(
        regexp_extract_all(b, lit("(?is)<a[^>]*>(.*?)</a>"), lit(1)),
        " ")).as("l")))
    val kept = filter(scored, s =>
      words(s.getField("t")) >= minWords &&
        words(s.getField("l")).cast("double") <=
          lit(maxLinkDensity) * words(s.getField("t")).cast("double"))
    df.select(col(idCol).as("doc_id"),
      array_join(transform(kept, s => s.getField("t")), "\n").as("main_text"),
      size(filter(scored, s => s.getField("t") =!= ""))
        .cast("long").as("n_blocks"),
      size(kept).cast("long").as("n_kept"))
  }

  /** Per-document top-`k` keyword extraction by tf-idf — the "what is
    * this document about" signal a curation pipeline uses for topic
    * balancing and near-boilerplate detection.
    *
    * The idf is the Robertson–Sparck-Jones odds WITHOUT the log:
    * `idf(t) = (N − df(t) + 0.5) / (df(t) + 0.5)`, score = tf · idf.
    * Dropping the log is deliberate, for the same reason `headCapRates`
    * pins α at 0.5: subtraction, addition, and division are correctly
    * rounded under IEEE 754 in every engine, while `ln` is libm-
    * dependent (HotSpot intrinsic vs glibc) — with the rational form
    * the scores, and therefore the top-k CUT, are bit-identical in
    * Spark and DuckDB, making the ranking oracle-exact instead of
    * tolerance-fuzzy at rank boundaries. log is monotone, so the only
    * semantic difference vs classic tf·ln(idf) is how tf trades
    * against df across terms; corpus-frequent terms (df > N/2) go
    * negative and sink, exactly as RSJ intends.
    *
    * Shape at 100 TB: tf = one explode + partial-combined count on
    * (doc, term); df is derived FROM the tf frame (already one row per
    * distinct (doc, term)) so the corpus is tokenized once — the tf
    * frame is localCheckpoint'ed because it feeds BOTH join sides, and
    * without the materialization barrier Catalyst re-evaluates the
    * whole explode+aggregate subplan per consumer (the components-
    * query lesson; a cluster deployment would persist(DISK_ONLY) the
    * same frame); N rides in
    * as a broadcast 1-row frame (no driver action); the tf⋈df join
    * shuffles vocabulary-bounded rows; the top-k cut is the map-side-
    * combining string-payload TopKAggregator — ≤ k rows per doc per
    * partition enter the final shuffle, no window sort. tf/df are NOT
    * re-joined onto the survivors: that would evaluate the tf subplan
    * a second time (the exact cost-duplication the components query
    * was dinged for) for two columns the score already encodes.
    * Output: (doc_id, rank, term, score) — ties on score break by
    * byte-wise-smaller term, matching the row_number oracle. */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val tf = df
      .select(col(idCol).cast("long").as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
      .materialized
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "term")
      .join(broadcast(nDocs))
      .withColumn("score",
        col("tf") * ((col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
    graft.functions.TopKAggregator.topKTermsPerGroup(
      scored.select(col("doc_id"), col("score"), col("term"))
        .as[(Long, Double, String)], k)
      .select(col("key").as("doc_id"), col("rank"), col("term"),
        col("score"))
  }

  /** Corpus bigram counts: adjacent whitespace-token pairs, one row per
    * (w1, w2) with its corpus frequency. Rows leave the explode one
    * bigram wide and aggregate partial→final, so the shuffle is bounded
    * by per-partition bigram vocabulary — the same shape as
    * [[termCounts]]. */
  def bigramCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(wordNgrams(col(textCol), 2)).as("bg"))
      .groupBy("bg")
      .agg(count(lit(1)).as("n_pair"))
      .select(substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"),
        col("n_pair"))

  /** Top-`k` collocations by pointwise mutual information. PMI =
    * log( p(xy) / (p(x)·p(y)) ); log is monotone, so the ranking (and
    * the top-k CUT) is taken on the raw odds ratio
    * `(c_xy · N) / (c_x · c_y)` instead — a single multiply/divide
    * chain over exact integer counts, bit-identical cross-engine,
    * where a log would be library-dependent (the same log-free trick
    * as tfIdfTopTerms' RSJ idf). `minCount` suppresses the classic PMI
    * pathology (two hapaxes that co-occur once score maximal).
    *
    * Scale: two vocabulary-bounded aggregations + joins keyed on
    * single words; the corpus-sized explode never shuffles wider than
    * one bigram. Final cut is TakeOrderedAndProject over the
    * (vocab²-bounded, minCount-pruned) scored pairs.
    * Output: (w1, w2, n_pair, pmi_ratio), score-desc, ties by (w1, w2). */
  def pmiBigrams(df: DataFrame, textCol: String, minCount: Long,
      k: Int): DataFrame = {
    require(minCount >= 1 && k >= 1)
    val uni = termCounts(df, textCol)
    // ONE bigram derivation feeds both the minCount-filtered pair list
    // and the corpus total — localCheckpoint stops the corpus-wide
    // explode+aggregate replaying for the second consumer (the repo's
    // multiply-consumed-frame idiom; ADVICE r4)
    val bigrams = bigramCounts(df, textCol).materialized
    val bi = bigrams.filter(col("n_pair") >= minCount)
    val nTotal = bigrams.agg(sum(col("n_pair")).as("n_total"))
    bi
      .join(uni.select(col("term").as("w1"), col("n").as("c1")), Seq("w1"))
      .join(uni.select(col("term").as("w2"), col("n").as("c2")), Seq("w2"))
      .join(broadcast(nTotal))
      .withColumn("pmi_ratio",
        (col("n_pair").cast("double") * col("n_total")) /
          (col("c1").cast("double") * col("c2")))
      .select("w1", "w2", "n_pair", "pmi_ratio")
      .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Flesch-style readability signals in three portable regex scans:
    * whitespace words, `[.!?]+` sentence breaks, `[aeiouy]+` vowel-run
    * syllable estimate (the standard heuristic — hyphenation
    * dictionaries don't belong in a corpus gate). The score formula is
    * the textbook 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words), written as the SAME expression tree in
    * both engines: every operand is a double derived from exact
    * integer counts, so the result is bit-identical, not
    * tolerance-fuzzy. Sentence count is clamped to ≥ 1 inside the
    * formula only (unpunctuated corpora); wordless docs get NULL. */
  def readability(text: Column): Column = {
    val nWords = when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(tokens(text)).cast("long"))
    val nSentences = regexp_count(text, lit("[.!?]+")).cast("long")
    val nSyllables = regexp_count(lower(text), lit("[aeiouy]+")).cast("long")
    val flesch = when(nWords === 0, lit(null).cast("double"))
      .otherwise(
        lit(206.835) -
          (lit(1.015) * (nWords.cast("double") /
            greatest(nSentences, lit(1L)))) -
          (lit(84.6) * (nSyllables.cast("double") / nWords)))
    struct(nWords.as("n_words"), nSentences.as("n_sentences"),
      nSyllables.as("n_syllables"), flesch.as("flesch"))
  }

  /** Per-document out-of-vocabulary rate against the corpus' own top-k
    * bigram vocabulary — the count-exact core of n-gram-LM quality
    * scoring (a full LM perplexity is a float log-sum whose value is
    * library-dependent; the OOV fraction is the part that is exactly
    * reproducible cross-engine, and it is the dominant signal for
    * boilerplate/gibberish either way: fluent text re-uses frequent
    * collocations, junk doesn't). Deterministic vocabulary cut:
    * (count desc, bigram asc) — exact integer counts make the k-th
    * boundary bit-identical in any engine.
    *
    * Scale: the corpus-sized explode is aggregated ONCE, to per-doc
    * bigram counts; corpus totals (the vocabulary ranking) then derive
    * from that already-reduced frame — summing per-doc counts per
    * bigram is exactly the corpus count, and the second aggregation
    * input is |docs|×|distinct-per-doc|, not the raw bigram stream.
    * The localCheckpoint materializes the shared frame (same reuse
    * barrier as tfIdfTopTerms' tf frame: without it Catalyst inlines
    * the explode into both consumers). The vocabulary is k rows,
    * broadcast to the per-doc side. Docs with < 2 tokens have no
    * bigrams and drop out (no LM evidence either way).
    * Output: (doc_id, n_bigrams, n_oov, oov_rate). */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
      vocabK: Int): DataFrame = {
    val perDoc = df.select(col(idCol).as("doc_id"),
        explode(wordNgrams(col(textCol), 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .materialized
    val vocab = perDoc.groupBy("bg").agg(sum(col("c")).as("n"))
      .orderBy(desc("n"), asc("bg")).limit(vocabK)
      .select(col("bg"), lit(1).as("in_vocab"))
    perDoc.join(broadcast(vocab), Seq("bg"), "left")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"),
        sum(when(col("in_vocab").isNull, col("c")).otherwise(lit(0L)))
          .as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_bigrams"))
  }

  /** Per-document unigram cross-entropy under the corpus's OWN unigram
    * LM: bits_per_token = −(1/|d|) Σ_t log₂(count(t)/N). The CCNet/
    * pile-style "LM quality" filter with the corpus itself as the
    * language model — documents full of corpus-rare tokens score high
    * (gibberish, boilerplate IDs), formulaic ones score low; both tails
    * are cut in practice.
    *
    * Scale shape: one explode over tokens; token counts are a
    * vocab-sized aggregate; the score join is token-keyed (shuffle on
    * tokens, NOT broadcast — a 100 TB corpus's vocabulary can exceed
    * broadcast limits, and AQE will still broadcast when it fits); the
    * corpus total N rides a broadcast 1-row frame. Per-doc tokens are
    * aggregated to (doc, token, count) BEFORE the vocab join, so the
    * join fan-in is distinct tokens per doc, not raw length.
    * Output: (doc_id, n_tokens, bits_per_token). */
  def unigramCrossEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perDoc = df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .materialized // the vocab aggregate and the score join both read it
    val vocab = perDoc.groupBy("tok").agg(sum(col("c")).as("n"))
    val total = vocab.agg(sum(col("n")).as("__N"))
    // −log₂ p is a function of the token TYPE alone, so it's computed
    // once per vocab entry here — the per-doc stream then pays a single
    // token-keyed join and a multiply, not a log per occurrence
    val bits = vocab.crossJoin(broadcast(total))
      .select(col("tok"),
        (-log2(col("n").cast("double") / col("__N"))).as("__b"))
    perDoc.join(bits, Seq("tok"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c").cast("double") * col("__b")).as("__bits"))
      .select(col("doc_id"), col("n_tokens"),
        (col("__bits") / col("n_tokens")).as("bits_per_token"))
  }

  /** Per-document bits-per-token under an interpolated bigram LM
    * trained on the corpus itself: for each position i ≥ 2,
    * p(wᵢ|wᵢ₋₁) = λ·c(wᵢ₋₁wᵢ)/c(wᵢ₋₁·) + (1−λ)·c(wᵢ)/N, score =
    * −(1/(n−1)) Σ log₂ p. The KenLM-shaped quality filter (CCNet uses a
    * 5-gram model; the 2-gram keeps the oracle cross-engine) — unigram
    * interpolation rather than backoff because self-scoring never
    * leaves the support, so a backoff branch would be dead code.
    *
    * Scale shape: bigrams explode once; (doc, bigram) pairs are
    * aggregated BEFORE the model joins, so join fan-in is distinct
    * bigrams per doc. All three model tables (bigram counts, context
    * counts, unigram counts) are ngram-keyed shuffle joins — a 100 TB
    * corpus's bigram vocabulary dwarfs broadcast limits, and AQE still
    * broadcasts when small. N rides a broadcast 1-row frame.
    * Output: (doc_id, n_bigrams, bits_per_token); docs with < 2 tokens
    * are absent. */
  def bigramCrossEntropy(df: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.7): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, s"need 0 < lambda < 1, got $lambda")
    // adjacent pairs via wordNgrams(2); tokens are whitespace-split so
    // the single-space split back into (w1, w2) is lossless
    val perDocBg = df
      .select(col(idCol).as("doc_id"),
        explode(wordNgrams(col(textCol), 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .select(col("doc_id"),
        substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"), col("c"))
      .materialized // feeds the model tables AND the score join
    val bgCounts = perDocBg.groupBy("w1", "w2").agg(sum(col("c")).as("c_bg"))
      .materialized // context counts and the bits table both read it
    val ctxCounts = bgCounts.groupBy("w1").agg(sum(col("c_bg")).as("c_ctx"))
    val ugCounts = df
      .filter(length(trim(col(textCol))) > 0)
      .select(explode(tokens(col(textCol))).as("w2"))
      .groupBy("w2").agg(count(lit(1)).as("c_ug"))
    val total = ugCounts.agg(sum(col("c_ug")).as("__N"))
    val p = lit(lambda) * (col("c_bg").cast("double") / col("c_ctx")) +
      lit(1.0 - lambda) * (col("c_ug").cast("double") / col("__N"))
    // −log₂ p is a function of the bigram TYPE alone, so the whole
    // model (bigram ⋈ context ⋈ unigram ⋈ N) collapses to one
    // vocab-sized bits table here; the per-doc stream pays ONE
    // bigram-keyed join instead of three model joins + a log per row
    val bits = bgCounts
      .join(ctxCounts, Seq("w1"))
      .join(ugCounts, Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), (-log2(p)).as("__b"))
    perDocBg
      .join(bits, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c").cast("double") * col("__b")).as("__bits"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("__bits") / col("n_bigrams")).as("bits_per_token"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): featurize each
    * document as hashed uni+bigram counts over `buckets` buckets, fit
    * two smoothed categorical bag-of-ngrams models — the TARGET rows
    * (`targetPred`) and the RAW corpus (all rows) — and score every doc
    * by log p_target(doc)/p_raw(doc) = Σ_b c_b·ln(p̂_t(b)/p̂_r(b)).
    * Docs that look like the target distribution score high; sampling
    * ∝ exp(weight) is the paper's selection step (see
    * [[graft.operators.Scale.weightedGroupSample]]).
    *
    * Hash is the repo's portable sha52 (first 13 hex chars of sha256,
    * exact in a double, reproducible in DuckDB) mod `buckets`, with
    * `u:`/`b:` prefixes keeping unigram and bigram feature spaces
    * disjoint. Add-one smoothing keeps both models strictly positive on
    * every bucket, so the log ratio is total.
    *
    * Scale shape: explodes aggregate to (doc, bucket, c) before any
    * join; both models are ≤ `buckets` rows BY CONSTRUCTION, so the
    * score join broadcasts a bounded table no matter the corpus size —
    * the corpus never shuffles. Output: (doc_id, n_feats, log_weight).
    * Docs with zero tokens are absent. */
  def dsirLogWeights(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 4096): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"need 2 <= buckets <= 2^20, got $buckets")
    val feats = df.select(col(idCol).as("doc_id"), targetPred.as("__tgt"),
        explode(concat(
          transform(tokens(col(textCol)), t => concat(lit("u:"), t)),
          transform(wordNgrams(col(textCol), 2),
            g => concat(lit("b:"), g)))).as("__f"))
      .filter(col("__f") =!= "u:") // tokens("") == [""] quirk
      .select(col("doc_id"), col("__tgt"),
        (sha52(col("__f")) % buckets).as("bucket"))
      .groupBy("doc_id", "__tgt", "bucket").agg(count(lit(1)).as("c"))
      .materialized // feeds both models AND the score join
    def model(in: DataFrame, cName: String): DataFrame =
      in.groupBy("bucket").agg(sum(col("c")).as(cName))
    val tgt = model(feats.filter(col("__tgt")), "c_t")
    val raw = model(feats, "c_r")
    val totals = raw.agg(sum(col("c_r")).as("__Cr")).crossJoin(
      tgt.agg(coalesce(sum(col("c_t")), lit(0L)).as("__Ct")))
    // log ratio of add-one-smoothed bucket probabilities — a function
    // of the bucket alone, so it's materialized once per bucket
    // (≤ `buckets` rows) and the corpus-sized stream pays a single
    // broadcast join + multiply, not two logs per feature row
    val logRatio =
      log((coalesce(col("c_t"), lit(0L)) + lit(1L)).cast("double") /
          (col("__Ct") + lit(buckets.toLong))) -
      log((col("c_r") + lit(1L)).cast("double") /
          (col("__Cr") + lit(buckets.toLong)))
    val scores = raw
      .join(tgt, Seq("bucket"), "left")
      .crossJoin(totals)
      .select(col("bucket"), logRatio.as("__lr"))
    feats.select(col("doc_id"), col("bucket"), col("c"))
      .join(broadcast(scores), Seq("bucket"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c").cast("double") * col("__lr")).as("log_weight"))
  }

  /** Token-distribution drift between two corpus snapshots — the TEXT
    * counterpart of [[graft.operators.Analytics.psiDrift]] (which
    * buckets a NUMERIC column): tokens hash to `buckets` via the
    * portable sha52, each side's bucket counts become Laplace-smoothed
    * proportions, and PSI = Σ (p−q)·ln(p/q) prices how far the new
    * crawl's vocabulary mix has moved from the reference release
    * (> 0.25 is the conventional "retrain/investigate" line). Hashing
    * makes state `buckets`-bounded for open vocabularies — the drift
    * monitor must not carry a vocabulary-sized table per snapshot.
    *
    * Scale shape: one map-side-combined (bucket, count) aggregation per
    * side (≤ `buckets` rows each at ANY corpus size), a bucket-grid
    * full join, one sum. Output: ONE row (n_ref_tokens, n_cur_tokens,
    * psi). Smoothing keeps both proportions strictly positive, so the
    * log is total; identical corpora give psi = 0 exactly (p = q
    * term-for-term). */
  def tokenDriftPsi(ref: DataFrame, cur: DataFrame, textCol: String,
      buckets: Int = 256): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"need 2 <= buckets <= 2^20, got $buckets")
    def counts(df: DataFrame, name: String): DataFrame =
      df.filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
        .select(explode(tokens(col(textCol))).as("__t"))
        .filter(col("__t") =!= "")
        .select((sha52(col("__t")) % buckets).as("b"))
        .groupBy("b").agg(count(lit(1)).as(name))
    val spark = ref.sparkSession
    val grid = spark.range(buckets).select(col("id").as("b"))
    val joined = grid
      .join(counts(ref, "cr"), Seq("b"), "left")
      .join(counts(cur, "cc"), Seq("b"), "left")
      .select(col("b"), coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("cc"), lit(0L)).as("cc"))
    val totals = joined.agg(sum("cr").as("n_ref_tokens"),
      sum("cc").as("n_cur_tokens"))
    val p = (col("cr") + 1).cast("double") /
      (col("n_ref_tokens") + lit(buckets.toLong))
    val q = (col("cc") + 1).cast("double") /
      (col("n_cur_tokens") + lit(buckets.toLong))
    joined.crossJoin(broadcast(totals))
      .withColumn("term", (p - q) * log(p / q))
      .groupBy(col("n_ref_tokens"), col("n_cur_tokens"))
      .agg(sum("term").as("psi"))
      .select(col("n_ref_tokens"), col("n_cur_tokens"), col("psi"))
  }

  /** fastText-style quality classifier INFERENCE (Joulin et al. 2016,
    * "Bag of Tricks for Efficient Text Classification" — the
    * architecture of the GPT-3/CCNet quality filters): featurize each
    * document as hashed uni+bigram counts (the same portable sha52
    * bucketing as [[dsirLogWeights]] — fastText's feature space), then
    * score with a linear layer over the bucket weights:
    * score = Σ_f c_f · w[bucket(f)]. This is fastText with dim-1
    * embeddings folded into the output layer — inference-equivalent
    * for a binary head, and it keeps scoring EXACT: with integer
    * weights the score is a BIGINT sum (the PMI/tf-idf integer-oracle
    * precedent), so the oracle is hash-exact, no float tolerance. The
    * sigmoid is monotone, so `label = score > 0` matches
    * `σ(score/n) > 0.5` without ever computing a float.
    *
    * `weights` is a (bucket int, w long) table — in production the
    * trained model, here [[classifierFixtureWeights]]. It is bounded
    * by `buckets` BY CONSTRUCTION, so the score join broadcasts at any
    * corpus size and the corpus never shuffles whole (the DSIR shape).
    * Output: (doc_id, n_feats, score_sum, label); empty docs absent. */
  def qualityClassifier(df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, buckets: Int = 4096): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"need 2 <= buckets <= 2^20, got $buckets")
    val feats = df.select(col(idCol).as("doc_id"),
        explode(concat(
          transform(tokens(col(textCol)), t => concat(lit("u:"), t)),
          transform(wordNgrams(col(textCol), 2),
            g => concat(lit("b:"), g)))).as("__f"))
      .filter(col("__f") =!= "u:") // tokens("") == [""] quirk
      .select(col("doc_id"),
        (sha52(col("__f")) % buckets).cast("int").as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
    feats
      .join(broadcast(weights), Seq("bucket"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c") * col("w")).as("score_sum"))
      .select(col("doc_id"), col("n_feats"), col("score_sum"),
        (col("score_sum") > 0).as("label"))
  }

  /** Deterministic integer weight fixture for [[qualityClassifier]]:
    * w(b) = ((b·2654435761 + 104729) mod 2001) − 1000 ∈ [−1000, 1000]
    * (Knuth multiplicative constant + a prime offset — pseudo-random
    * sign/magnitude per bucket, replayable in one SQL expression).
    * Stands in for trained weights; the OPERATOR contract is the
    * broadcast weights-table join, which is what a real model plugs
    * into. */
  def classifierFixtureWeights(spark: org.apache.spark.sql.SparkSession,
      buckets: Int = 4096): DataFrame =
    spark.range(buckets).select(col("id").cast("int").as("bucket"),
      ((col("id") * lit(2654435761L) + lit(104729L)) % 2001L - 1000L).as("w"))

  /** APPLY-ONLY classifier gate under a SHIPPED weight artifact — the
    * [[unigramApplyTable]] deployment shape for [[qualityClassifier]]:
    * the trained (bucket, w) table is stored once as an artifact and
    * every downstream corpus pass scores WITHOUT the trainable-table
    * machinery. The artifact must be DENSE (exactly one weight per
    * bucket in [0, buckets)) — that is what a trained fastText head is,
    * and it is what makes this path score-identical to the
    * weights-table join (a sparse table would silently drop features
    * from `n_feats` via the inner join).
    *
    * The table is collected to the driver (hard `buckets` cap by
    * construction — bucket count is model-sized, never corpus-sized)
    * and ships to executors inside the codegen'd
    * [[graft.expressions.ClassifierScore]] reference object. Corpus
    * cost: ONE scan-local featurize+score pass, ZERO shuffles — vs the
    * explode + 2 keyed aggregations + broadcast join the trainable form
    * pays. Output ≡ [[qualityClassifier]]: (doc_id, n_feats, score_sum,
    * label); featureless docs absent. */
  /** Collect a DENSE (bucket, w) weight artifact into the Array[Long]
    * [[graft.expressions.ClassifierScore]] ships to tasks — the
    * driver-side half of [[classifierApplyTable]], exposed so a
    * pipeline that already scans the text for other row-local verdicts
    * (digest, gopher) can fold the classifier score into the SAME scan
    * as one more codegen column instead of paying a second corpus
    * pass. Hard `buckets` cap by construction (model-sized, never
    * corpus-sized); density required — a sparse table would silently
    * drop features from `n_feats`. */
  def classifierWeightArray(weights: DataFrame, buckets: Int): Array[Long] = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"need 2 <= buckets <= 2^20, got $buckets")
    require(Set("bucket", "w").subsetOf(weights.columns.toSet),
      s"weights needs (bucket, w) columns, got ${weights.columns.mkString(", ")}")
    val rows = weights
      .select(col("bucket").cast("int"), col("w").cast("long"))
      .limit(buckets + 1)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    require(rows.length == buckets &&
        rows.map(_._1).sorted.sameElements(0 until buckets),
      s"weight artifact must be dense over [0, $buckets) — got " +
        s"${rows.length} rows; a sparse table would silently drop features")
    val arr = new Array[Long](buckets)
    rows.foreach { case (b, w) => arr(b) = w }
    arr
  }

  def classifierApplyTable(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, buckets: Int): DataFrame = {
    val arr = classifierWeightArray(weights, buckets)
    docs
      .select(col(idCol).as("doc_id"), graft.expressions.ClassifierScore
        .score(col(textCol), arr.toSeq).as("__s"))
      .filter(col("__s").isNotNull && col("__s.n_feats") > 0)
      .select(col("doc_id"), col("__s.n_feats").as("n_feats"),
        col("__s.score_sum").as("score_sum"),
        (col("__s.score_sum") > 0).as("label"))
  }

  /** Zipf power-law fit over the top-`k` vocabulary head — the corpus-
    * health diagnostic next to [[vocabCoverage]]: natural text follows
    * freq ∝ rank^(−s) with s ≈ 1; a slope far from −1 (or a weak r²)
    * flags template/boilerplate-dominated or truncated-vocabulary
    * corpora before any model sees them. OLS of ln(freq) on ln(rank)
    * over the exact (freq desc, term) head.
    *
    * Scale: term counts are one map-side-combined aggregation; the
    * top-k cut is TakeOrdered; the regression runs over k rows (the
    * one unpartitioned window is bounded by the limit above it). The
    * sums are doubles, so cross-engine equality is tolerance-grade,
    * not bit-grade — the rank CUT itself stays integer-exact.
    * Output: one row (n_terms, slope, intercept, r2). */
  def zipfFit(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 3, s"need at least 3 head terms to fit, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("term"))
    val top = termCounts(df, textCol)
      .orderBy(col("n").desc, col("term")).limit(k)
      .withColumn("rank", row_number().over(w).cast("double"))
    val xy = top.select(log(col("rank")).as("x"),
      log(col("n").cast("double")).as("y"))
    xy.agg(count(lit(1)).cast("double").as("k"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("k").cast("long").as("n_terms"),
        ((col("sxy") - col("sx") * col("sy") / col("k")) /
          (col("sxx") - col("sx") * col("sx") / col("k"))).as("slope"),
        (col("sy") / col("k") -
          ((col("sxy") - col("sx") * col("sy") / col("k")) /
            (col("sxx") - col("sx") * col("sx") / col("k"))) *
            col("sx") / col("k")).as("intercept"),
        (((col("k") * col("sxy") - col("sx") * col("sy")) *
          (col("k") * col("sxy") - col("sx") * col("sy"))) /
          ((col("k") * col("sxx") - col("sx") * col("sx")) *
            (col("k") * col("syy") - col("sy") * col("sy")))).as("r2"))
  }

  /** Within-document exact line dedup (the RefinedWeb/CCNet boilerplate
    * pass: navigation menus, cookie banners and signature blocks repeat
    * the same line many times inside one page): keep each distinct line
    * at its FIRST occurrence, preserving order. Blank lines dedup like
    * any other line (a run of paragraph breaks collapses to one).
    *
    * Entirely scan-local — `split`/`array_distinct`/`array_join` are
    * codegen'd per-row array ops (Spark's `array_distinct` keeps
    * first-occurrence order), so this costs ZERO shuffles at any corpus
    * size; it composes in front of the cross-document dedup family.
    * Output: (doc_id, text, n_lines, n_dropped). */
  def dedupLines(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        split(col(textCol), "\n", -1).as("__ls"))
      .select(col("doc_id"),
        array_join(array_distinct(col("__ls")), "\n").as("text"),
        size(col("__ls")).cast("long").as("n_lines"),
        (size(col("__ls")) - size(array_distinct(col("__ls"))))
          .cast("long").as("n_dropped"))

  /** Sentence segmentation: split on terminal-punctuation runs followed
    * by whitespace — the preprocessing step sentence-level dedup,
    * sentence-piece training, and alignment pipelines start from. The
    * regex is restricted to constructs java.util.regex and RE2 treat
    * identically (like [[BpeishPattern]]). A final sentence with no
    * trailing whitespace keeps its punctuation (the delimiter never
    * matched); whitespace-only fragments are dropped on both engines.
    *
    * Scale: posexplode of a per-row split — no shuffle at all; sentence
    * order inside a document is preserved by `sent_idx`.
    * Output: (doc_id, sent_idx, sentence). */
  def sentences(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "[.!?]+\\s+")).as(Seq("sent_idx", "sentence")))
      .filter(length(trim(col("sentence"))) > 0)

  /** Overlapping token-window chunking — the context chunker a RAG
    * index or a pretraining window with stride reads: chunk c starts
    * at token c·stride and spans `chunkTokens` tokens (the last
    * chunk(s) may be shorter; a doc shorter than one chunk emits one
    * chunk). stride < chunkTokens ⇒ consecutive chunks overlap by
    * chunkTokens − stride tokens — the boundary-context-loss defense;
    * stride = chunkTokens ⇒ disjoint windows. Empty/blank docs emit
    * nothing.
    *
    * Scale: posexplode of a per-row token slice — zero shuffle, the
    * [[sentences]] shape; chunk order is `chunk_idx`.
    * Output: (doc_id, chunk_idx, start_tok, n_chunk_tokens,
    * chunk_text). */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, strideTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"need chunkTokens >= 1, got $chunkTokens")
    require(strideTokens >= 1 && strideTokens <= chunkTokens,
      s"need 1 <= stride <= chunk, got stride=$strideTokens chunk=$chunkTokens")
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) > 0 && col("__t") =!= array(lit("")))
      .select(col("doc_id"), col("__t"),
        posexplode(sequence(lit(0), size(col("__t")) - 1,
          lit(strideTokens))).as(Seq("chunk_idx", "start_tok")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("start_tok").cast("long").as("start_tok"),
        size(slice(col("__t"), col("start_tok") + 1, lit(chunkTokens)))
          .cast("long").as("n_chunk_tokens"),
        array_join(slice(col("__t"), col("start_tok") + 1,
          lit(chunkTokens)), " ").as("chunk_text"))
  }

  /** Default stopword delimiters for [[keyphrases]] — a deliberately
    * small closed-class list (RAKE needs delimiters, not linguistic
    * completeness; callers pass their own for other languages). */
  val DefaultStopwords: Seq[String] = Seq("a", "the", "and", "of", "to",
    "in", "is", "on", "for", "with")

  /** RAKE-style keyphrase extraction (Rose et al. 2010, public
    * methodology; independent implementation): candidate phrases are
    * maximal stopword-delimited token runs of length [minLen, maxLen];
    * each word scores deg/freq over the candidate set (freq = its
    * occurrences in candidates, deg = Σ length of the candidates it
    * occurs in — co-occurrence-rich words score high) and a phrase
    * scores the sum of its word scores. Emitted with occurrence counts
    * ≥ `minCount` and NO score-based cut: every gate is integer
    * (lengths, counts), so the output SET is engine-exact and the
    * score is a value under float tolerance, never a boundary.
    *
    * Scale: one scan to tokens, one per-doc window for run ids (the
    * keyed-sort shuffle), then everything is sized by the CANDIDATE
    * set (phrases ≤ docs × runs), with the word-stat table vocabulary
    * -sized. Output: (phrase, n, score). */
  def keyphrases(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String] = DefaultStopwords,
      minLen: Int = 2, maxLen: Int = 4, minCount: Long = 1L): DataFrame = {
    require(minLen >= 1 && maxLen >= minLen, s"bad lengths [$minLen,$maxLen]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__id").orderBy("__pos")
    val runs = df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("__id"),
        posexplode(tokens(col(textCol))).as(Seq("__pos", "__tok")))
      .withColumn("__st",
        when(col("__tok").isin(stopwords: _*), 1).otherwise(0))
      .withColumn("__run", sum(col("__st")).over(w))
    val cand = runs.filter(col("__st") === 0)
      .groupBy("__id", "__run")
      .agg(array_sort(collect_list(struct(col("__pos"), col("__tok"))))
        .as("__ps"))
      .select(col("__id"), col("__run"),
        transform(col("__ps"), s => s("__tok")).as("__ws"))
      .filter(size(col("__ws")).between(minLen, maxLen))
      .withColumn("__phrase", array_join(col("__ws"), " "))
      .withColumn("__l", size(col("__ws")))
    val cw = cand.select(col("__id"), col("__run"), col("__phrase"),
      col("__l"), explode(col("__ws")).as("__tok"))
    val wstat = cw.groupBy("__tok")
      .agg(count(lit(1)).as("__freq"), sum("__l").as("__deg"))
    val pscore = cw.join(wstat, Seq("__tok"))
      .groupBy("__id", "__run", "__phrase")
      .agg(sum(col("__deg").cast("double") / col("__freq")).as("__score"))
    pscore.groupBy(col("__phrase").as("phrase"))
      .agg(count(lit(1)).as("n"), min("__score").as("score"))
      .filter(col("n") >= minCount)
  }

  // ------- Unigram-LM tokenizer (SentencePiece-style, Kudo 2018) -------

  /** Unigram-LM tokenizer TRAINING — the subword-vocabulary learner
    * SentencePiece ships next to BPE, completing the tokenizer family
    * ([[bpeTrainMerges]] learns merges; this learns a unigram piece
    * table), restated for cross-engine exactness the way the repo's
    * other learners are.
    *
    * Algorithm (Viterbi-EM, the "hard-EM" variant of Kudo 2018):
    *  - seed vocabulary = the `seedSize` most frequent substrings of
    *    length ≤ `maxPieceLen` over the corpus words (occurrences
    *    weighted by word count, counted with multiplicity), plus every
    *    single character — SentencePiece's frequent-substring seeding;
    *  - each EM round: segment every DISTINCT word by Viterbi under
    *    the current quantized piece scores
    *    ([[graft.expressions.UnigramSegment]]: score = bitlen(count) −
    *    bitlen(Σ counts), an integer), then re-estimate piece counts
    *    from the chosen segmentations (E-step counts double as the
    *    M-step — hard EM) and prune to the `vocabSize` best pieces by
    *    (count desc, piece asc), single characters exempt from pruning
    *    and floored at count 1 so every word stays segmentable;
    *  - soft-EM's forward-backward expectations and float log-probs
    *    are deliberately replaced by the best-path counts and whole-bit
    *    scores: every quantity is a BIGINT, so the learned table is a
    *    pure function of the corpus and the DuckDB oracle
    *    ([[unigramTrainOracleSql]]) replays the loop exactly (the
    *    integer-weight `qualityClassifierScore` precedent).
    *
    * Shape at 100 TB: the corpus pays exactly ONE tokenize+count pass
    * ([[termCounts]], materialized); seeding is one substring explode
    * of the DISTINCT-word table (vocab-sized, ≪ corpus); each EM round
    * is one codegen segmentation + one aggregation over that same
    * vocab-sized frame. Driver state never exceeds the candidate table
    * (≤ seedSize + alphabet rows — the k-means centroid budget), which
    * ships back into the next round's expression via `addReferenceObj`.
    *
    * Returns the learned (piece, count) table sorted by piece — the
    * artifact [[graft.expressions.UnigramSegment]] applies. */
  def unigramTrain(df: DataFrame, textCol: String, rounds: Int,
      maxPieceLen: Int, seedSize: Int, vocabSize: Int): Seq[(String, Long)] = {
    require(rounds >= 1 && maxPieceLen >= 1 && seedSize >= 1 && vocabSize >= 1,
      s"need positive rounds/maxPieceLen/seedSize/vocabSize, " +
        s"got $rounds/$maxPieceLen/$seedSize/$vocabSize")
    val spark = df.sparkSession
    import spark.implicits._
    // the one corpus-scale pass
    val words = termCounts(df, textCol)
      .select(col("term").as("word"), col("n")).materialized
    // top-k ∪ single chars, both driver-bounded reads (TakeOrdered +
    // alphabet-sized filter); identical to the oracle's
    // "rank ≤ k OR len(piece) = 1" selection
    def selectVocab(counts: DataFrame, k: Int): Seq[(String, Long)] = {
      val top = counts.orderBy(col("cnt").desc, col("piece").asc).limit(k)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val singles = counts.filter(length(col("piece")) === 1)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      (top ++ singles).distinct.sortBy(_._1).toSeq
    }
    // seed: every substring of every distinct word (multiplicity
    // preserved — 'aaa' contributes 'aa' twice), weighted by count
    val subs = flatten(transform(
      sequence(lit(1), length(col("word"))),
      i => transform(
        sequence(lit(1),
          least(lit(maxPieceLen), length(col("word")) - i + lit(1))),
        l => col("word").substr(i, l))))
    val seedCounts = words
      .select(col("n"), explode(subs).as("piece"))
      .groupBy("piece").agg(sum("n").as("cnt"))
      .materialized
    var vocab = selectVocab(seedCounts, seedSize)
    // the corpus alphabet — single chars never leave the vocabulary
    val chars = vocab.collect { case (p, c) if p.length == 1 => p }
    val charsDf = chars.toDF("piece").withColumn("cnt", lit(1L))
    for (_ <- 1 to rounds) {
      val segCounts = words
        .select(col("n"), explode(graft.expressions.UnigramSegment
          .segment(col("word"), vocab)).as("piece"))
        .groupBy("piece").agg(sum("n").as("cnt"))
      // char floor via max-merge: a char the E-step used keeps its
      // real count (≥ 1); an unused char re-enters at count 1 — one
      // candidate row per piece, exactly the oracle's ucand union
      val cand = segCounts.unionByName(charsDf)
        .groupBy("piece").agg(max("cnt").as("cnt"))
        .materialized
      vocab = selectVocab(cand, vocabSize)
    }
    vocab
  }

  /** [[unigramTrain]]'s result as a DataFrame (piece, cnt, score) for
    * the oracle gate — score = bitlen(cnt), the quantized log-prob the
    * segmenter uses (`length(bin(cnt))` in both engines). */
  def unigramTrainDf(df: DataFrame, textCol: String, rounds: Int,
      maxPieceLen: Int, seedSize: Int, vocabSize: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    unigramTrain(df, textCol, rounds, maxPieceLen, seedSize, vocabSize)
      .toDF("piece", "cnt")
      .select(col("piece"), col("cnt"),
        length(bin(col("cnt"))).cast("int").as("score"))
      .orderBy("piece")
  }

  /** Shared DuckDB replay of [[unigramTrain]] over the `documents`
    * table: the EM loop unrolled as MATERIALIZED CTE rounds (the
    * `bpeTrainOracleSql` precedent), each round = one recursive
    * path-enumeration CTE (every segmentation of every distinct word —
    * exhaustive, so the Spark side's Viterbi DP is checked against the
    * full argmax, tie-break included) + the same count/floor/prune
    * chain, generated from the same constants so the two sides cannot
    * drift. `extraRounds = 1` appends the APPLY segmentation pass
    * under the final vocabulary for [[unigramTokensOracleSql]]. */
  private def unigramChainSql(rounds: Int, maxPieceLen: Int, seedSize: Int,
      vocabSize: Int, extraRounds: Int): String = {
    def segRound(t: Int, prev: String): String =
      s"""ub$t AS MATERIALIZED (
           SELECT len(bin(CAST(sum(cnt) AS BIGINT))) AS b FROM $prev),
         upaths$t(word, n, pos, path, sc, k) AS (
           SELECT word, n, 0, CAST([] AS VARCHAR[]), 0, 0 FROM uw
           UNION ALL
           SELECT p.word, p.n, p.pos + len(v.piece),
                  list_append(p.path, v.piece),
                  p.sc + len(bin(v.cnt)) - (SELECT b FROM ub$t), p.k + 1
           FROM upaths$t p JOIN $prev v
             ON substring(p.word, p.pos + 1, len(v.piece)) = v.piece
           WHERE p.pos < len(p.word)),
         useg$t AS MATERIALIZED (SELECT word, n, path FROM (
           SELECT word, n, path, row_number() OVER (PARTITION BY word
             ORDER BY sc DESC, k ASC,
                      array_to_string(path, chr(31)) ASC) AS rk
           FROM upaths$t WHERE pos = len(word)) q WHERE rk = 1)"""
    def cntVocab(t: Int): String =
      s"""ucnt$t AS MATERIALIZED (
           SELECT piece, CAST(sum(n) AS BIGINT) AS cnt
           FROM (SELECT n, unnest(path) AS piece FROM useg$t) e GROUP BY 1),
         ucand$t AS (SELECT piece, cnt FROM ucnt$t
           UNION ALL
           SELECT c.piece, CAST(1 AS BIGINT) AS cnt FROM uchars c
           WHERE c.piece NOT IN (SELECT piece FROM ucnt$t)),
         uv$t AS MATERIALIZED (SELECT piece, cnt FROM (
           SELECT piece, cnt,
                  row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rk
           FROM ucand$t) q WHERE rk <= $vocabSize OR len(piece) = 1)"""
    val emRounds = (1 to rounds)
      .map(t => segRound(t, s"uv${t - 1}") + ",\n         " + cntVocab(t))
    val applyRounds = (rounds + 1 to rounds + extraRounds)
      .map(t => segRound(t, s"uv$rounds"))
    s"""WITH RECURSIVE uw AS MATERIALIZED (
         SELECT w AS word, CAST(count(*) AS BIGINT) AS n
         FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
               FROM documents) u
         WHERE w <> '' GROUP BY w),
       us1 AS (SELECT word, n,
                 unnest(range(1, len(word) + 1)) AS i FROM uw),
       us2 AS (SELECT word, n, i,
                 unnest(range(1, least($maxPieceLen, len(word) - i + 1) + 1)) AS l
               FROM us1),
       usub AS MATERIALIZED (
         SELECT substring(word, i, l) AS piece, CAST(sum(n) AS BIGINT) AS cnt
         FROM us2 GROUP BY 1),
       uv0 AS MATERIALIZED (SELECT piece, cnt FROM (
         SELECT piece, cnt,
                row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rk
         FROM usub) q WHERE rk <= $seedSize OR len(piece) = 1),
       uchars AS MATERIALIZED (SELECT piece FROM uv0 WHERE len(piece) = 1),
       ${(emRounds ++ applyRounds).mkString(",\n       ")}"""
  }

  /** Oracle for the learned vocabulary itself. */
  def unigramTrainOracleSql(rounds: Int, maxPieceLen: Int, seedSize: Int,
      vocabSize: Int): String =
    unigramChainSql(rounds, maxPieceLen, seedSize, vocabSize, 0) +
      s"""
       SELECT piece, cnt, CAST(len(bin(cnt)) AS INT) AS score
       FROM uv$rounds ORDER BY piece"""

  /** Tokenizer EVALUATION — the comparison a pipeline runs before
    * committing to a tokenizer: train BOTH learners on the corpus
    * ([[bpeTrainMerges]] and [[unigramTrain]]), segment the corpus
    * word table under each, and report the decision metrics —
    * fertility (pieces per word: lower = fewer sequence positions per
    * document = cheaper training/serving) and chars per piece
    * (compression of the byte stream into the vocabulary).
    *
    * Both tokenizers are measured over the SAME whitespace-word basis
    * (each trainer's own counting frame), so the numbers are directly
    * comparable; integer totals + one correctly-rounded double
    * division each keep the result engine-exact. Corpus cost: each
    * trainer's one tokenize+count pass + vocab-sized loops, then one
    * codegen segmentation pass per tokenizer over the DISTINCT-word
    * table (weighted by counts — nothing corpus-sized moves).
    *
    * Output: (tokenizer, n_words, n_pieces, fertility,
    * chars_per_piece), one row per tokenizer. */
  def tokenizerFertility(df: DataFrame, textCol: String, numMerges: Int,
      uniRounds: Int, maxPieceLen: Int, seedSize: Int,
      vocabSize: Int): DataFrame = {
    val merges = bpeTrainMerges(df, textCol, numMerges).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val uni = unigramTrain(df, textCol, uniRounds, maxPieceLen, seedSize,
      vocabSize)
    tokenizerFertility(df, textCol, merges, uni)
  }

  /** [[tokenizerFertility]] under PRE-TRAINED artifacts (the shipped-
    * artifact form): both learners' outputs are model-sized tables a
    * pipeline trains once per corpus snapshot — passing them in lets a
    * registry-served caller skip retraining both models per evaluation
    * pass while measuring the identical segmentations. */
  def tokenizerFertility(df: DataFrame, textCol: String,
      merges: Seq[(String, String)], uni: Seq[(String, Long)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val words = termCounts(df, textCol)
      .select(col("term").as("word"), col("n")).materialized
    def measure(name: String, pieces: Column): DataFrame =
      words.agg(
        sum(col("n")).as("n_words"),
        sum(col("n") * size(pieces)).as("n_pieces"),
        sum(col("n") * length(col("word"))).as("n_chars"))
        .select(lit(name).as("tokenizer"), col("n_words"), col("n_pieces"),
          (col("n_pieces").cast("double") / col("n_words")).as("fertility"),
          (col("n_chars").cast("double") / col("n_pieces"))
            .as("chars_per_piece"))
    val out = measure("bpe", bpeTokens(col("word"), merges))
      .unionByName(measure("unigram",
        graft.expressions.UnigramSegment.segment(col("word"), uni)))
      .orderBy("tokenizer")
    val collected = out.collect()
    spark.createDataFrame(
      spark.sparkContext.parallelize(collected.toIndexedSeq), out.schema)
      .orderBy("tokenizer")
  }

  /** DuckDB replay of [[tokenizerFertility]]: the unigram EM chain and
    * the BPE merge chain composed in ONE query (disjoint CTE prefixes),
    * totals off each chain's fully-segmented word table. */
  def tokenizerFertilityOracleSql(numMerges: Int, uniRounds: Int,
      maxPieceLen: Int, seedSize: Int, vocabSize: Int): String = {
    val f = uniRounds + 1
    unigramChainSql(uniRounds, maxPieceLen, seedSize, vocabSize, 1) +
      s""",
       ${bpeTrainCtes(numMerges)},
       fb AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_words,
                CAST(sum(cnt * len(list_filter(string_split(seq, chr(31)),
                  x -> x <> ''))) AS BIGINT) AS n_pieces
              FROM btw$numMerges),
       fu AS (SELECT CAST(sum(n) AS BIGINT) AS n_words,
                CAST(sum(n * len(path)) AS BIGINT) AS n_pieces
              FROM useg$f),
       fc AS (SELECT CAST(sum(n * len(word)) AS BIGINT) AS n_chars FROM uw)
       SELECT 'bpe' AS tokenizer, fb.n_words, fb.n_pieces,
              CAST(fb.n_pieces AS DOUBLE) / fb.n_words AS fertility,
              CAST(fc.n_chars AS DOUBLE) / fb.n_pieces AS chars_per_piece
       FROM fb, fc
       UNION ALL
       SELECT 'unigram', fu.n_words, fu.n_pieces,
              CAST(fu.n_pieces AS DOUBLE) / fu.n_words,
              CAST(fc.n_chars AS DOUBLE) / fu.n_pieces
       FROM fu, fc
       ORDER BY tokenizer"""
  }

  /** Oracle for corpus segmentation under the learned vocabulary: one
    * extra enumeration round against the final table, reassembled per
    * document in word order (the zipped-unnest word index is the
    * per-doc order key). */
  def unigramTokensOracleSql(rounds: Int, maxPieceLen: Int, seedSize: Int,
      vocabSize: Int): String = {
    val f = rounds + 1
    unigramChainSql(rounds, maxPieceLen, seedSize, vocabSize, 1) +
      s""",
       udw AS (SELECT doc_id, w, wi FROM (
         SELECT doc_id,
                unnest(string_split_regex(trim(text), '\\s+')) AS w,
                unnest(range(1, len(string_split_regex(trim(text), '\\s+')) + 1)) AS wi
         FROM documents) u WHERE w <> ''),
       utok AS (SELECT doc_id, wi, unnest(path) AS token,
                  unnest(range(1, len(path) + 1)) AS pi
                FROM udw d JOIN useg$f s ON s.word = d.w)
       SELECT doc_id, string_agg(token, '|' ORDER BY wi, pi) AS uni_text,
              CAST(count(*) AS BIGINT) AS n_pieces
       FROM utok GROUP BY doc_id ORDER BY doc_id"""
  }

  /** APPLY-ONLY segmentation under a SHIPPED piece table — the
    * production deployment shape: [[unigramTrain]] runs once, the
    * learned (piece, cnt) table is stored as an artifact, and every
    * downstream corpus pass applies it WITHOUT retraining
    * (q_unigram_lm_tokens composes train→apply inside one query under
    * the no-cross-query-cache policy; this is the half a pipeline
    * actually deploys at 100 TB — the train pass touches the corpus
    * once ever, the apply pass is a plain projected column).
    *
    * `pieces` must be vocab-sized: it is collected to the driver
    * (hard `maxVocab` cap with a loud failure — an accidentally
    * corpus-sized frame must not silently become driver state) and
    * ships to executors inside the codegen'd
    * [[graft.expressions.UnigramSegment]] reference object — the
    * IVF-centroid / BPE-merges budget. Corpus cost: ONE codegen
    * segmentation pass, zero shuffle.
    * Output: (idCol, uni_text '|'-joined, n_pieces) — the
    * q_unigram_lm_tokens shape; docs segmenting to zero pieces
    * (null/whitespace-only text) are omitted like there. */
  def unigramApplyTable(docs: DataFrame, idCol: String, textCol: String,
      pieces: DataFrame, maxVocab: Int = 1 << 20): DataFrame = {
    require(Set("piece", "cnt").subsetOf(pieces.columns.toSet),
      s"pieces needs (piece, cnt) columns, got ${pieces.columns.mkString(", ")}")
    val vocab = pieces
      .select(col("piece").cast("string"), col("cnt").cast("long"))
      .limit(maxVocab + 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    require(vocab.nonEmpty, "unigramApplyTable: empty piece table")
    require(vocab.size <= maxVocab,
      s"piece table exceeds maxVocab=$maxVocab rows — not a vocab-sized artifact")
    require(vocab.map(_._1).distinct.size == vocab.size,
      "unigramApplyTable: duplicate pieces in the artifact")
    docs
      .select(col(idCol), graft.expressions.UnigramSegment
        .segment(col(textCol), vocab).as("__t"))
      .filter(size(col("__t")) > 0)
      .select(col(idCol),
        array_join(col("__t"), "|").as("uni_text"),
        size(col("__t")).cast("long").as("n_pieces"))
  }

  /** DuckDB replay of [[unigramApplyTable]] under a LITERAL artifact:
    * the same exhaustive recursive path enumeration per distinct word
    * as [[unigramChainSql]]'s segment rounds (full argmax incl. the
    * 3-level tie-break), with the vocabulary a VALUES table instead of
    * a trained CTE, plus the <unk> single-char fallback edge
    * ([[graft.expressions.UnigramSegment]]: unknown chars cost
    * bitlen(0) − B = −B; spelled `+ 0 − b` here because DuckDB's
    * `len(bin(0))` is 1, not 0). */
  def unigramApplyOracleSql(pieces: Seq[(String, Long)]): String = {
    require(pieces.nonEmpty, "empty artifact")
    val values = pieces
      .map { case (p, c) =>
        require(!p.contains("'"), s"piece '$p' needs escaping")
        s"('$p', CAST($c AS BIGINT))"
      }.mkString(", ")
    s"""WITH RECURSIVE uv AS MATERIALIZED (
         SELECT piece, cnt FROM (VALUES $values) t(piece, cnt)),
       ub AS MATERIALIZED (
         SELECT len(bin(CAST(sum(cnt) AS BIGINT))) AS b FROM uv),
       uw AS MATERIALIZED (
         SELECT DISTINCT w AS word
         FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
               FROM documents) u WHERE w <> ''),
       upaths(word, pos, path, sc, k) AS (
         SELECT word, 0, CAST([] AS VARCHAR[]), 0, 0 FROM uw
         UNION ALL
         (SELECT p.word, p.pos + len(v.piece),
                 list_append(p.path, v.piece),
                 p.sc + len(bin(v.cnt)) - (SELECT b FROM ub), p.k + 1
          FROM upaths p JOIN uv v
            ON substring(p.word, p.pos + 1, len(v.piece)) = v.piece
          WHERE p.pos < len(p.word)
          UNION ALL
          SELECT p.word, p.pos + 1,
                 list_append(p.path, substring(p.word, p.pos + 1, 1)),
                 p.sc + 0 - (SELECT b FROM ub), p.k + 1
          FROM upaths p
          WHERE p.pos < len(p.word)
            AND substring(p.word, p.pos + 1, 1) NOT IN
                (SELECT piece FROM uv))),
       useg AS MATERIALIZED (SELECT word, path FROM (
         SELECT word, path, row_number() OVER (PARTITION BY word
           ORDER BY sc DESC, k ASC,
                    array_to_string(path, chr(31)) ASC) AS rk
         FROM upaths WHERE pos = len(word)) q WHERE rk = 1),
       udw AS (SELECT doc_id, w, wi FROM (
         SELECT doc_id,
                unnest(string_split_regex(trim(text), '\\s+')) AS w,
                unnest(range(1, len(string_split_regex(trim(text), '\\s+')) + 1)) AS wi
         FROM documents) u WHERE w <> ''),
       utok AS (SELECT doc_id, wi, unnest(path) AS token,
                  unnest(range(1, len(path) + 1)) AS pi
                FROM udw d JOIN useg s ON s.word = d.w)
       SELECT doc_id, string_agg(token, '|' ORDER BY wi, pi) AS uni_text,
              CAST(count(*) AS BIGINT) AS n_pieces
       FROM utok GROUP BY doc_id ORDER BY doc_id"""
  }
}
