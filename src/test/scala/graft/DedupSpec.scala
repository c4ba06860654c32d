package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 0
    (3L, "completely different content about spark query engines here now"),
    (4L, "the quick brown fox jumps over the lazy dog again and again")  // exact dup of 0
  ).toDF("doc_id", "text")

  test("exactDedup keeps the smallest id per distinct text") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .collect().map(_.getLong(0)).sorted
    assert(kept === Array(0L, 2L, 3L))
  }

  test("exactDupGroups reports groups of 2+") {
    val g = Dedup.exactDupGroups(docs, "doc_id", "text").collect()
    assert(g.length === 1)
    assert(g.head.getAs[Long]("n_members") === 3L)
    assert(g.head.getAs[Long]("canonical_id") === 0L)
  }

  test("jaccardNearDupPairs finds the planted near-dup, not the distinct doc") {
    val pairs = Dedup.jaccardNearDupPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 0/1/4 identical (J=1); 2 near 0/1/4; 3 near nothing
    assert(pairs.contains((0L, 2L)))
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("jaccard values are exact") {
    val j02 = Dedup.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.1)
      .filter(col("id_a") === 0 && col("id_b") === 2)
      .collect().head.getAs[Double]("jaccard")
    // 10 trigrams each, dog vs cat breaks 3 → 7 shared, union 13
    assert(math.abs(j02 - 7.0 / 13.0) < 1e-12)
  }

  test("prefixJaccardPairs ≡ the full inverted-index join, including the exact-threshold boundary") {
    import spark.implicits._
    // B's 12 tokens give 10 shingles; A's prefix-8 tokens give 6, all
    // contained in B ⇒ J = 6/10 = 0.6 EXACTLY — the pair the ⌈t·|d|⌉
    // and size-ratio IEEE boundaries would dismiss without the 1e-9
    // slack (0.6·10 rounds to 6.000000000000001)
    val ws = (1 to 12).map(i => s"w$i")
    val corpus = Seq(
      (1L, ws.take(8).mkString(" ")),
      (2L, ws.mkString(" ")),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "alpha beta gamma delta epsilon eta"),
      (5L, "totally unrelated text about nothing here")
    ).toDF("doc_id", "text")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(9, BigDecimal.RoundingMode.HALF_UP)))
        .toSet
    val prefix = asSet(Dedup.prefixJaccardPairs(corpus, "doc_id", "text",
      n = 3, threshold = 0.6))
    val full = asSet(Dedup.jaccardNearDupPairs(corpus, "doc_id", "text",
      n = 3, threshold = 0.6))
    assert(prefix === full)
    assert(prefix.exists(p => p._1 == 1L && p._2 == 2L
      && p._3 == BigDecimal("0.600000000")),
      s"boundary pair missing from $prefix")
  }

  test("maxShingleDf cap drops ubiquitous shingles from the index") {
    // shingle present in all 5 docs would pair everything; cap 1 kills all pairs
    val all = Dedup.jaccardNearDupPairs(docs, "doc_id", "text", 1, 0.01)
    val capped = Dedup.jaccardNearDupPairs(docs, "doc_id", "text", 1, 0.01,
      maxShingleDf = Some(1))
    assert(all.count() > 0)
    assert(capped.count() === 0)
  }

  test("capped jaccard is the exact Jaccard over the reduced shingle universe") {
    // common1/common2 appear in all 5 docs (df=5 > cap=2) and are
    // dropped; x,y,z,p,q,r survive (df<=2). Doc 0 = {x,y}, doc 1 = {x,z}
    // after the cap ⇒ shared=1, J = 1/(2+2-1) = 1/3 exactly. The
    // pre-fix behavior kept full set sizes (4,4) ⇒ 1/7 — an
    // underestimate that silently drops boilerplate-heavy pairs.
    val boiler = Seq(
      (0L, "x y common1 common2"),
      (1L, "x z common1 common2"),
      (2L, "p common1 common2"),
      (3L, "q common1 common2"),
      (4L, "r common1 common2")
    ).toDF("doc_id", "text")
    val j = Dedup.jaccardNearDupPairs(boiler, "doc_id", "text",
        n = 1, threshold = 0.2, maxShingleDf = Some(2))
      .filter(col("id_a") === 0 && col("id_b") === 1)
      .collect().head.getAs[Double]("jaccard")
    assert(math.abs(j - 1.0 / 3.0) < 1e-12)
  }

  test("capped jaccard drops docs whose shingles are all capped") {
    val boiler = Seq(
      (0L, "common common2"), (1L, "common common2"), (2L, "common common2")
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardNearDupPairs(boiler, "doc_id", "text",
      n = 1, threshold = 0.01, maxShingleDf = Some(2))
    assert(pairs.count() === 0)
  }

  test("containmentPairs: quote inside a long page found at 1.0, Jaccard misses it") {
    val page = (1 to 60).map(i => s"w$i").mkString(" ")
    val quote = (10 to 20).map(i => s"w$i").mkString(" ") // 11 tokens ⊂ page
    val corpus = Seq((0L, page), (1L, quote),
      (2L, "totally unrelated words about something else entirely")).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(corpus, "doc_id", "text",
        n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // 1 ⊆ 0 at exactly 1.0 (9 trigrams, all in the page's 58)
    assert(cont.toSeq == Seq((1L, 0L, 1.0)),
      s"got ${cont.toSeq}")
    // the symmetric operator cannot see it: J = 9/58 ≈ 0.16
    val j = Dedup.jaccardNearDupPairs(corpus, "doc_id", "text", 3, 0.5)
    assert(j.count() === 0L)
  }

  test("containment values are exact and directed") {
    // doc 0 = 10 trigrams, 7 shared with doc 2 (the dog→cat edit)
    val c = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(c((0L, 2L)) - 0.7) < 1e-12)
    assert(math.abs(c((2L, 0L)) - 0.7) < 1e-12)
    // exact dups appear in both directions at 1.0
    assert(c((0L, 1L)) === 1.0 && c((1L, 0L)) === 1.0)
  }

  test("containmentPairs ≡ quadratic reference on random corpora") {
    val rnd = new scala.util.Random(41)
    val words = (1 to 25).map(i => s"t$i")
    val corpus = (0 until 30).map { i =>
      val len = 4 + rnd.nextInt(25)
      (i.toLong, (1 to len).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    }
    val df = corpus.toDF("doc_id", "text")
    def shingles(t: String): Set[String] =
      t.trim.split("\\s+").toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    val sets = corpus.map { case (id, t) => id -> shingles(t) }
      .filter(_._2.nonEmpty).toMap
    val expected = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia != ib
      c = (sa & sb).size.toDouble / sa.size if c >= 0.5
    } yield (ia, ib, c)).toSet
    val got = Dedup.containmentPairs(df, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("containmentPairsAcross ≡ the self-join's cross-side restriction") {
    val rnd = new scala.util.Random(59)
    val words = (1 to 20).map(i => s"t$i")
    def corpus(ids: Range) = ids.map { i =>
      val len = 4 + rnd.nextInt(20)
      (i.toLong, (1 to len).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    }
    val leftRows = corpus(0 until 15)
    val rightRows = corpus(100 until 120)
    val left = leftRows.toDF("doc_id", "text")
    val right = rightRows.toDF("doc_id", "text")
    val across = Dedup.containmentPairsAcross(left, "doc_id", "text",
        right, "doc_id", "text", n = 3, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val restricted = Dedup.containmentPairs(
        left.unionAll(right), "doc_id", "text", n = 3, threshold = 0.4)
      .filter(col("id_a") < 100 && col("id_b") >= 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(across == restricted,
      s"missing=${restricted -- across} extra=${across -- restricted}")
  }

  test("minhashNearDupPairs recall equals exact jaccard on planted dups") {
    val exact = Dedup.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 3, 64, 16, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh === exact) // exact-verify step ⇒ no false positives; high-J ⇒ no misses
  }

  test("minhash equals exact jaccard on the sf fixture (the oracle contract)") {
    val exact = Dedup.jaccardNearDupPairs(Tables.documents(spark, sf),
        "doc_id", "text", 3, 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashNearDupPairs(Tables.documents(spark, sf),
        "doc_id", "text", 3, 64, 16, 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh === exact)
    assert(exact.nonEmpty) // fixture has planted near-dups
  }

  test("ngramContamination counts probe-shared shingles per doc") {
    // doc 1: 3-grams {a b c, b c d, c d e}; probe shares exactly {b c d}
    // doc 2: identical to the probe -> fully contaminated
    // doc 3: disjoint vocabulary -> zero overlap, still reported
    // doc 4: too short for a 3-gram -> no shingles, omitted
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "b c d x"),
      (3L, "p q r s"),
      (4L, "only two")).toDF("doc_id", "text")
    val probes = Seq("b c d x").toDF("text")
    val out = Dedup.ngramContamination(docs, "doc_id", "text", probes, "text", 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out === Map(
      1L -> ((3, 1L, 1.0 / 3)),
      2L -> ((2, 2L, 1.0)),
      3L -> ((2, 0L, 0.0))))
  }

  test("dropContaminated removes docs over the threshold, keeps shingle-free docs") {
    val docs = Seq(
      (1L, "a b c d e"), // 1/3 contaminated: kept at 0.5
      (2L, "b c d x"),   // 1.0: dropped
      (3L, "p q r s"),   // clean: kept
      (4L, "only two")). // no shingles: kept by contract
      toDF("doc_id", "text")
    val probes = Seq("b c d x").toDF("text")
    val kept = Dedup.dropContaminated(docs, "doc_id", "text", probes, "text", 3,
        maxContamination = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept === Seq(1L, 3L, 4L))
    // threshold 0 = drop on ANY overlap
    val strict = Dedup.dropContaminated(docs, "doc_id", "text", probes, "text", 3,
        maxContamination = 0.0)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(strict === Seq(3L, 4L))
  }

  test("duplicatedNgrams reports cross-doc shingles by df, desc") {
    // "a b c" in docs 1,2,3; "b c d" in docs 1,2; everything else df=1
    val d = Seq(
      (1L, "a b c d"),
      (2L, "a b c d"),
      (3L, "z a b c"),
      (4L, "p q r s")).toDF("doc_id", "text")
    val out = Dedup.duplicatedNgrams(d, "doc_id", "text", n = 3, minDf = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out === Array(("a b c", 3L), ("b c d", 2L)))
  }

  test("dupNgramStats: per-doc shared-shingle fraction, shingle-free docs omitted") {
    val d = Seq(
      (1L, "a b c d"),   // shingles {a b c, b c d} — both duplicated
      (2L, "a b c d"),   // identical
      (3L, "z a b c"),   // {z a b, a b c} — one duplicated
      (4L, "p q r s"),   // {p q r, q r s} — none duplicated
      (5L, "only two")). // no 3-grams — omitted
      toDF("doc_id", "text")
    val out = Dedup.dupNgramStats(d, "doc_id", "text", n = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out === Map(
      1L -> ((2, 2L, 1.0)),
      2L -> ((2, 2L, 1.0)),
      3L -> ((2, 1L, 0.5)),
      4L -> ((2, 0L, 0.0))))
  }

  test("dropDupNgramHeavy keeps low-boilerplate and shingle-free docs") {
    val d = Seq(
      (1L, "a b c d"),
      (2L, "a b c d"),
      (3L, "z a b c"),
      (4L, "p q r s"),
      (5L, "only two")).toDF("doc_id", "text")
    val kept = Dedup.dropDupNgramHeavy(d, "doc_id", "text", n = 3, maxFrac = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept === Seq(3L, 4L, 5L)) // 1,2 fully duplicated; 3 at exactly 0.5 kept
  }

  test("simhashNearDupPairs: exact dups at distance 0, all pairs symmetric-free") {
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val d01 = pairs.find(p => p._1 == 0L && p._2 == 1L)
    assert(d01.exists(_._3 == 0)) // identical text ⇒ identical simhash
    assert(pairs.forall(p => p._1 < p._2))
  }

  test("portableTokenHash matches the sha256-prefix reference value") {
    val expected = Seq("hello", "the", "", "zh字").map { t =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      t -> java.lang.Long.parseLong(hex.take(15), 16)
    }
    val got = Seq("hello", "the", "", "zh字").toDF("t")
      .select(col("t"), Dedup.portableTokenHash(col("t")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    expected.foreach { case (t, e) => assert(got(t) === e, s"token '$t'") }
  }

  test("simhash with the portable hash still pairs identical docs at distance 0") {
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxDist = 3,
        tokenHash = Dedup.PortableSha)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0))
    assert(pairs.forall(p => p._1 < p._2))
  }

  test("one-pass SimHash64 signatures equal the aggregate reference, both hashes") {
    val fixture = Tables.documents(spark, sf)
    for ((kind, colFn) <- Seq(
        (Dedup.XxHash: Dedup.TokenHash) -> Dedup.xxTokenHash _,
        (Dedup.PortableSha: Dedup.TokenHash) -> Dedup.portableTokenHash _)) {
      val ref = Dedup.simhashSignatures(fixture, "doc_id", "text", colFn)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fast = Dedup.simhashSignaturesFast(fixture, "doc_id", "text", kind)
        .filter(col("sig").isNotNull)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast === ref, s"hash kind $kind")
      assert(ref.nonEmpty)
    }
  }

  test("SimHash64: null text yields null sig; empty docs hash identically") {
    // tokens("") == [""] (split quirk), so empty/blank docs share the
    // signature of the single empty token — same as the aggregate form;
    // genuinely NULL text propagates a null sig and never pairs
    val weird = Seq((1L, Some("")), (2L, Some("   ")), (3L, Option.empty[String]))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashSignaturesFast(weird, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(sigs(3L) === None)
    assert(sigs(1L).isDefined && sigs(1L) === sigs(2L))
    val pairs = Dedup.simhashNearDupPairs(weird, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L))) // null-sig doc 3 never pairs
  }

  test("simhash rejects band counts below the pigeonhole guarantee") {
    // explicit numBands too small for the distance: must fail loudly,
    // not silently miss pairs whose bits spread across every band
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxDist = 5,
        numBands = 4)
    }
    // beyond 31 even 2-bit bands can't honor the pigeonhole bound
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxDist = 32)
    }
  }

  test("wide banding finds planted pairs whose bits defeat the 4-band layout") {
    // distance-5 mask with one flipped bit in EVERY 16-bit band of the
    // classic 4×16 layout — a 4-band join would never candidate this
    // pair; the auto-widened 6-band (maxDist 5) layout must
    val mask5 = Seq(0, 13, 21, 37, 53).map(1L << _).reduce(_ | _)
    val mask8 = Seq(1, 9, 17, 25, 33, 41, 49, 57).map(1L << _).reduce(_ | _)
    val s0 = 0x5DEECE66DL * 2862933555777941757L // arbitrary fixed sig
    val sigs = Seq((1L, s0), (2L, s0 ^ mask5), (3L, s0 ^ mask8), (4L, s0 ^ 1L))
      .toDF("id", "sig")
    def run(maxDist: Int): Set[(Long, Long, Int)] =
      Dedup.simhashPairsFromSigs(sigs, maxDist, maxDist + 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute-force reference over the planted signatures
    def brute(maxDist: Int): Set[(Long, Long, Int)] = {
      val m = Map(1L -> s0, 2L -> (s0 ^ mask5), 3L -> (s0 ^ mask8), 4L -> (s0 ^ 1L))
      (for {
        a <- m.keys; b <- m.keys if a < b
        d = java.lang.Long.bitCount(m(a) ^ m(b)) if d <= maxDist
      } yield (a, b, d)).toSet
    }
    assert(run(5) === brute(5))
    assert(run(5).contains((1L, 2L, 5)), "the 4-band-defeating pair is found")
    assert(run(7) === brute(7))
    assert(!run(7).exists(p => p._1 == 1L && p._2 == 3L), "distance 8 stays out")
  }

  test("simhashBandingReport ≡ driver replay; lossy 4-band recall measured < 1") {
    // the banding report on the real fixture must equal a driver
    // replay from the same signatures (4×16 candidate bands, Hamming
    // ≤ 5 truth)
    val sigMap = Dedup.simhashSignaturesFast(docs, "doc_id", "text")
      .filter(col("sig").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def bands(s: Long): Seq[Long] =
      Seq(0, 16, 32, 48).map(sh => (s >>> sh) & 0xffffL)
    val ids = sigMap.keys.toSeq.sorted
    val pairs = for { a <- ids; b <- ids if a < b } yield (a, b)
    val cand = pairs.filter { case (a, b) =>
      bands(sigMap(a)).zip(bands(sigMap(b))).exists(p => p._1 == p._2) }
    val truth = pairs.filter { case (a, b) =>
      java.lang.Long.bitCount(sigMap(a) ^ sigMap(b)) <= 5 }
    val tp = cand.toSet.intersect(truth.toSet).size.toLong
    val r = Dedup.simhashBandingReport(docs, "doc_id", "text",
      maxDist = 5, evalBands = 4).collect().head
    assert(r.getLong(0) === truth.size.toLong)
    assert(r.getLong(1) === cand.size.toLong)
    assert(r.getLong(2) === tp)
    assert(r.getLong(3) === cand.size - tp)
    assert(r.getLong(4) === truth.size - tp)
    // guards
    intercept[IllegalArgumentException](
      Dedup.simhashBandingReport(docs, "doc_id", "text", 32, 4))
    intercept[IllegalArgumentException](
      Dedup.simhashBandingReport(docs, "doc_id", "text", 5, 0))
  }

  test("single 64-bit band masks correctly (no 1L<<64 wrap to bucket 0)") {
    // with the old (1L << width) - 1 mask, width 64 wrapped to mask 0:
    // every row bucketed together and the self-join went quadratic.
    // One band = the full signature, so only EQUAL sigs may pair.
    val sigs = Seq((1L, 7L), (2L, 7L), (3L, -7L)).toDF("id", "sig")
    val pairs = Dedup.simhashPairsFromSigs(sigs, maxDist = 0, numBands = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("maxDist=7 banded pairs equal exhaustive Hamming over fixture signatures") {
    val sigMap = Dedup.simhashSignaturesFast(docs, "doc_id", "text")
      .filter(col("sig").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = sigMap.keys.toSeq.sorted
    val brute = (for {
      i <- ids.indices.iterator; j <- ((i + 1) until ids.length).iterator
      d = java.lang.Long.bitCount(sigMap(ids(i)) ^ sigMap(ids(j))) if d <= 7
    } yield (ids(i), ids(j), d)).toSet
    val banded = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxDist = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // distances 4-7 specifically are exercised by the planted-mask test
    // above (this fixture's planted dups all land at ≤ 3); what this
    // pins is completeness: the 8-band join loses NOTHING vs exhaustive
    assert(banded === brute)
    assert(brute.nonEmpty)
  }

  test("empty docs produce no shingles for any n (no [''] 1-gram leak)") {
    import graft.functions.TextAnalysis
    for (n <- Seq(1, 2, 3)) {
      val sh = Seq("", "   ").toDF("t")
        .select(TextAnalysis.wordNgrams(col("t"), n).as("sh"))
        .collect().map(_.getSeq[String](0))
      assert(sh.forall(_.isEmpty), s"n=$n")
    }
  }

  test("nearDupComponents labels transitive clusters with the min id") {
    // chain 1-2, 2-3 (transitive cluster {1,2,3}); pair 5-6; singleton 4
    val ids = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (5L, 6L, 1.0))
      .toDF("id_a", "id_b", "jaccard")
    val comp = Dedup.nearDupComponents(ids, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("mergeComponents: increment folds in, bridges merge old components") {
    // old corpus: {1,2} one component, {3} singleton, {7} singleton
    val oldDocs = Seq(1L, 2L, 3L, 7L).map(i => (i, s"d$i")).toDF("doc_id", "t")
    val oldPairs = Seq((1L, 2L, 1.0)).toDF("id_a", "id_b", "jaccard")
    val base = Dedup.nearDupComponents(oldDocs, "doc_id", oldPairs)
    // increment: 4 joins {1,2}; 5 stays alone; 6 BRIDGES {1,2} and {3}
    val fresh = Seq(4L, 5L, 6L).map(i => (i, s"d$i")).toDF("doc_id", "t")
    val newPairs = Seq((4L, 2L), (6L, 3L), (6L, 1L)).toDF("id_a", "id_b")
    val merged = Dedup.mergeComponents(base, fresh, "doc_id", newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 1L, 7L -> 7L))
    // ≡ from-scratch over the union — the merge theorem, verbatim
    val scratch = Dedup.nearDupComponents(
        oldDocs.unionByName(fresh), "doc_id",
        oldPairs.select("id_a", "id_b").unionByName(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === scratch)
  }

  test("keepBestPerComponent: max quality wins, min-id ties, nulls lose") {
    // cluster {1,2,3}: 3 has top quality; pair {5,6}: tie on quality →
    // min id 5; singleton 4 survives; cluster {7,8}: 8's null quality
    // loses to 7's non-null even though 8 > 7
    val docs = Seq(
      (1L, Some(10.0), "a"), (2L, Some(30.0), "b"), (3L, Some(90.0), "c"),
      (4L, Some(1.0), "d"),
      (5L, Some(50.0), "e"), (6L, Some(50.0), "f"),
      (7L, Some(5.0), "g"), (8L, Option.empty[Double], "h")
    ).toDF("doc_id", "q", "tag")
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (5L, 6L, 1.0), (7L, 8L, 1.0))
      .toDF("id_a", "id_b", "jaccard")
    val kept = Dedup.keepBestPerComponent(docs, "doc_id", pairs, col("q"))
      .collect().map(_.getLong(0)).sorted
    assert(kept === Array(3L, 4L, 5L, 7L))
    // output schema is the input schema, untouched
    assert(Dedup.keepBestPerComponent(docs, "doc_id", pairs, col("q"))
      .columns.toSeq === docs.columns.toSeq)
    // non-numeric ids are rejected loudly (the tie-break negates the id)
    val strIds = Seq(("x", 1.0)).toDF("doc_id", "q")
    val emptyPairs = Seq.empty[(String, String, Double)].toDF("id_a", "id_b", "jaccard")
    intercept[IllegalArgumentException] {
      Dedup.keepBestPerComponent(strIds, "doc_id", emptyPairs, col("q"))
    }
  }

  test("nearDupComponents on the fixture: components are consistent with pairs") {
    val docs = Tables.documents(spark, sf)
    val pairs = Dedup.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.6)
    // driverEdgeLimit = 0 forces the distributed label loop — this test
    // is the loop's round-count regression guard
    val comp = Dedup.nearDupComponents(docs, "doc_id", pairs, driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every pair's endpoints share a component, labels are component minima
    pairs.collect().foreach { r =>
      assert(comp(r.getLong(0)) === comp(r.getLong(1)))
    }
    comp.foreach { case (id, c) => assert(c <= id) }
    // round-count regression guard: the fixture's dup clusters are
    // near-cliques — min-label propagation must settle in ≤ 3 rounds
    // (2 to stabilize + 1 to confirm); each round is 2 shuffles
    assert(Dedup.lastComponentsRounds.get() <= 3,
      s"components took ${Dedup.lastComponentsRounds.get()} rounds")
  }

  test("component ids are always df ids, even when pairs reference foreign docs") {
    // pairs computed on a superset, df filtered afterwards: doc 1 was
    // dropped, and foreign doc 9 bridges 5 and 7. Foreign nodes must
    // RELAY connectivity but never become the representative — else
    // "keep doc where id == component_id" would silently delete clusters
    val ids = Seq(3L, 5L, 7L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 3L, 1.0), (5L, 9L, 1.0), (9L, 7L, 1.0))
      .toDF("id_a", "id_b", "jaccard")
    for (comp <- Seq(
        Dedup.nearDupComponents(ids, "doc_id", pairs), // driver union-find
        Dedup.nearDupComponents(ids, "doc_id", pairs, driverEdgeLimit = 0),
        Dedup.nearDupComponentsStar(ids, "doc_id", pairs))) {
      val m = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(m(3L) === 3L)            // foreign 1 can't be the rep
      assert(m(5L) === 5L && m(7L) === 5L) // connected THROUGH foreign 9
    }
  }

  test("nearDupComponentsStar matches min-label components on chains and random graphs") {
    // chain + pair + singleton (the min-label unit fixture)
    val ids = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (5L, 6L, 1.0))
      .toDF("id_a", "id_b", "jaccard")
    val star = Dedup.nearDupComponentsStar(ids, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))

    // pseudo-random graph: both algorithms must agree exactly
    val rng = new scala.util.Random(11)
    val n = 60L
    val randPairs = Seq.fill(70)((rng.nextLong(n), rng.nextLong(n), 1.0))
      .filter(p => p._1 != p._2).toDF("id_a", "id_b", "jaccard")
    val nodes = (0L until n).map(i => (i, "")).toDF("doc_id", "text")
    val viaLabels = Dedup.nearDupComponents(nodes, "doc_id", randPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaStar = Dedup.nearDupComponentsStar(nodes, "doc_id", randPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar === viaLabels)
  }

  test("star contraction converges on a chain too deep for that many label rounds") {
    // 16-chain: min-label needs ~15 rounds (throws at maxRounds=8);
    // star contraction collapses it in O(log^2) rounds
    val ids = (1L to 16L).map(i => (i, "")).toDF("doc_id", "text")
    val chain = (1L until 16L).map(i => (i, i + 1, 1.0)).toDF("id_a", "id_b", "jaccard")
    intercept[IllegalArgumentException] {
      Dedup.nearDupComponents(ids, "doc_id", chain, maxRounds = 8, driverEdgeLimit = 0)
    }
    val comp = Dedup.nearDupComponentsStar(ids, "doc_id", chain, maxRounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === (1L to 16L).map(_ -> 1L).toMap)
  }

  test("nearDupComponents fails loudly when maxRounds is too small to converge") {
    // a 4-chain needs >1 min-label round; maxRounds=1 must throw, not
    // return half-propagated labels that look like components
    val ids = (1L to 4L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val chain = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0))
      .toDF("id_a", "id_b", "jaccard")
    intercept[IllegalArgumentException] {
      Dedup.nearDupComponents(ids, "doc_id", chain, maxRounds = 1, driverEdgeLimit = 0)
    }
  }

  test("driver union-find path equals the distributed label loop exactly") {
    // pseudo-random multi-component graphs: the small-graph epilogue
    // must be result-identical to the loop (same min-label contract)
    val rng = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val n = 40L + trial * 30
      val pairs = Seq.fill(80)((rng.nextLong(n), rng.nextLong(n), 1.0))
        .filter(p => p._1 != p._2).toDF("id_a", "id_b", "jaccard")
      val nodes = (0L until n).map(i => (i, "")).toDF("doc_id", "text")
      val viaDriver = Dedup.nearDupComponents(nodes, "doc_id", pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(Dedup.lastComponentsRounds.get() === 0,
        "default call on a tiny graph should take the driver path")
      val viaLoop = Dedup.nearDupComponents(nodes, "doc_id", pairs,
          driverEdgeLimit = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(Dedup.lastComponentsRounds.get() > 0,
        "driverEdgeLimit = 0 should force the distributed loop")
      assert(viaDriver === viaLoop, s"trial $trial")
    }
  }

  test("non-integral ids always route to the distributed loop") {
    // string keys: Spark's min() on UTF8String is byte-order — the
    // driver path must not re-define it, so it declines and the loop
    // runs even under the default edge limit
    val ids = Seq("a", "b", "c", "d").map(s => (s, s)).toDF("doc_id", "text")
    val pairs = Seq(("a", "b", 1.0), ("b", "c", 1.0)).toDF("id_a", "id_b", "jaccard")
    val comp = Dedup.nearDupComponents(ids, "doc_id", pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Dedup.lastComponentsRounds.get() > 0,
      "string ids must use the distributed loop")
    assert(comp === Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "d"))
  }

  test("dropNearDups removes larger ids of pairs") {
    val pairs = Dedup.jaccardNearDupPairs(docs, "doc_id", "text", 3, 0.5)
    val kept = Dedup.dropNearDups(docs, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept === Array(0L, 3L)) // 1,2,4 all appear as id_b of some pair
  }

  test("dedupSpans removes cross-doc duplicated spans and reassembles the rest") {
    val fixture = Seq(
      (1L, "a b c d e f g"),  // spans: "a b c", "d e f", "g"
      (2L, "a b c x y z"),    // shares span 0 with docs 1 and 5
      (3L, "p q r"),          // untouched
      (4L, "m n o m n o"),    // same span TWICE within one doc — kept
      (5L, "a b c"),          // its only span is duplicated → vanishes
      (6L, "   ")             // blank → no spans → absent
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(fixture, "doc_id", "text", spanTokens = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out === Map(
      1L -> (("d e f g", 2L)),
      2L -> (("x y z", 1L)),
      3L -> (("p q r", 1L)),
      4L -> (("m n o m n o", 2L))))

    // minDupDocs above the max observed df: nothing is duplicated
    // "enough", every non-blank doc survives intact (modulo the
    // operator's whitespace normalization, identity on these fixtures)
    val loose = Dedup.dedupSpans(fixture, "doc_id", "text",
        spanTokens = 3, minDupDocs = 4)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(loose === Map(1L -> "a b c d e f g", 2L -> "a b c x y z",
      3L -> "p q r", 4L -> "m n o m n o", 5L -> "a b c"))
  }

  test("duplicateSubstringSpans finds shared runs at ANY alignment (the fixed-window miss)") {
    // the shared 5-token run sits at offset 1 in doc 1 and offset 3 in
    // doc 2 — with 3-token FIXED windows (offsets 0-2, 3-5, …) no
    // window of doc 1 equals a window of doc 2, so dedupSpans finds
    // NOTHING; sliding anchors must find the exact run both places
    val fixture = Seq(
      (1L, "p1 s1 s2 s3 s4 s5 q1 q2"),
      (2L, "r1 r2 r3 s1 s2 s3 s4 s5"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSubstringSpans(fixture, "doc_id", "text",
        minTokens = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans === Set((1L, 1L, 5L), (2L, 3L, 7L)))
    // and the fixed-window operator indeed misses it entirely
    val windowed = Dedup.dedupSpans(fixture, "doc_id", "text", spanTokens = 3)
      .select("n_spans_kept").collect().map(_.getLong(0)).sum
    assert(windowed === 9L) // 3 windows per doc, none removed

    // two separate shared runs in one doc stay separate maximal spans;
    // adjacent/overlapping anchors merge into one
    val two = Seq(
      (10L, "a1 a2 a3 u1 u2 b1 b2 b3"),
      (11L, "a1 a2 a3 v1 v2 b1 b2 b3"),
      (12L, "c1 a1 a2 a3 a4 c2 c3 c4"),
      (13L, "d1 a1 a2 a3 a4 d2 d3 d4")
    ).toDF("doc_id", "text")
    val s2 = Dedup.duplicateSubstringSpans(two, "doc_id", "text", minTokens = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // docs 10/11 share a1a2a3 (span 0-2) and b1b2b3 (span 5-7);
    // docs 12/13 share a1a2a3a4 (two overlapping anchors → ONE span 1-4)
    assert(s2 === Set((10L, 0L, 2L), (10L, 5L, 7L), (11L, 0L, 2L),
      (11L, 5L, 7L), (12L, 1L, 4L), (13L, 1L, 4L)))
  }

  test("substringDedup removes every duplicated occurrence, keeps accounting total") {
    val fixture = Seq(
      (1L, "p1 s1 s2 s3 s4 s5 q1 q2"),
      (2L, "r1 r2 r3 s1 s2 s3 s4 s5"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8"),
      (4L, "s1 s2 s3 s4 s5")          // entirely duplicated text
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(fixture, "doc_id", "text", minTokens = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out === Map(
      1L -> (("p1 q1 q2", 5L)),
      2L -> (("r1 r2 r3", 5L)),
      3L -> (("z1 z2 z3 z4 z5 z6 z7 z8", 0L)),
      4L -> (("", 5L)))) // kept as a row, text emptied
  }

  test("jaccardNearDupPairsAcross equals the cross-side restriction of the self-join") {
    val newBatch = docs.filter(col("doc_id") % 2 === 0)
    val ref = docs.filter(col("doc_id") % 2 =!= 0)
    val across = Dedup.jaccardNearDupPairsAcross(
        newBatch, "doc_id", "text", ref, "doc_id", "text", n = 3, threshold = 0.3)
      .collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toSet
    val straddling = Dedup.jaccardNearDupPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.3)
      .collect()
      .filter(r => r.getLong(0) % 2 != r.getLong(1) % 2)
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(across.nonEmpty, "fixture must produce at least one cross pair")
    assert(across === straddling)
  }

  test("bloomAntiJoin: no false negatives, subset of exact, bounded overshoot") {
    val left = (0L until 2000L).map(i => (i, s"row $i")).toDF("id", "payload")
    val right = (0L until 2000L by 3).map(Tuple1(_)).toDF("id")
    val kept = Dedup.bloomAntiJoin(left, "id", right, "id",
        expectedItems = 700)
      .select("id").collect().map(_.getLong(0)).toSet
    val rightSet = (0L until 2000L by 3).toSet
    val exact = (0L until 2000L).toSet -- rightSet
    // one-sided error: every right member is DEFINITELY dropped
    assert(kept.intersect(rightSet).isEmpty)
    // and the result is a subset of the exact anti-join...
    assert(kept.subsetOf(exact))
    // ...short only by false positives: >= 90% survival at 8 bits/item
    // (expected fpp ~2%)
    assert(kept.size >= (exact.size * 0.9).toInt,
      s"only ${kept.size}/${exact.size} clean rows survived")
  }

  test("bloomAntiJoin fails loudly on key-type mismatch and cap overflow") {
    val longs = Seq(Tuple1(1L)).toDF("id")
    val ints = Seq(Tuple1(1)).toDF("id")
    // XxHash64 is type-sensitive: int 1 and long 1 hash differently, so
    // a silent mismatch would KEEP contaminated rows — must throw
    intercept[IllegalArgumentException] {
      Dedup.bloomAntiJoin(longs, "id", ints, "id", expectedItems = 10)
    }
    // beyond the session bloom caps Spark would silently clamp the
    // filter into saturation — must throw instead
    intercept[IllegalArgumentException] {
      Dedup.bloomAntiJoin(longs, "id", longs, "id",
        expectedItems = 1000000000L)
    }
  }

  test("bloomAntiJoin keeps NULL keys and handles an empty right side") {
    val left = Seq((java.lang.Long.valueOf(1L), "a"),
      (null.asInstanceOf[java.lang.Long], "b")).toDF("id", "payload")
    val out = Dedup.bloomAntiJoin(left, "id",
        Seq(Tuple1(1L)).toDF("id"), "id", expectedItems = 10)
      .select("payload").collect().map(_.getString(0)).toSet
    assert(out === Set("b")) // 1 dropped, NULL kept (left_anti semantics)
    val empty = Dedup.bloomAntiJoin(left, "id",
        Seq.empty[Tuple1[Long]].toDF("id"), "id", expectedItems = 10)
    assert(empty.count() === 2) // nothing can match an empty right side
  }

  test("boilerplateLines: cross-doc lines removed, within-doc repetition kept") {
    val docs = Seq(
      (0L, "cookie banner\nunique zero\ncookie banner"), // repeats WITHIN 0
      (1L, "cookie banner\nunique one"),
      (2L, "cookie banner\nunique two\ntwo docs line"),
      (3L, "two docs line\nunique three"),
      (4L, "cookie banner")).toDF("doc_id", "text")
    val out = Dedup.boilerplateLines(docs, "doc_id", "text", minDupDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // "cookie banner" in docs {0,1,2,4} >= 3 → boilerplate everywhere
    // (both copies inside doc 0); "two docs line" in 2 docs only → kept
    assert(out(0L) === (("unique zero", 3L, 2L)))
    assert(out(1L) === (("unique one", 2L, 1L)))
    assert(out(2L) === (("unique two\ntwo docs line", 3L, 1L)))
    assert(out(3L) === (("two docs line\nunique three", 2L, 0L)))
    // the pure-chrome doc survives as an EMPTY row, not a dropped one
    assert(out(4L) === (("", 1L, 1L)))
    // NULL text is omitted (no lines to classify), and its absence
    // must not perturb any doc-frequency count
    val withNull = docs.unionByName(
      Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val out2 = Dedup.boilerplateLines(withNull, "doc_id", "text",
        minDupDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out2 === out)
  }

  test("boilerplateLines ≡ naive recompute on random corpora") {
    val rnd = new scala.util.Random(20260814L)
    val vocabLines = Vector("alpha beta", "gamma", "delta eps", "zeta",
      "eta theta", "iota", "", "kappa")
    for (trial <- 0 until 4) {
      val corpus = (0 until 30).map { id =>
        val nLines = 1 + rnd.nextInt(6)
        (id.toLong,
          Seq.fill(nLines)(vocabLines(rnd.nextInt(vocabLines.length)))
            .mkString("\n"))
      }
      val minDup = 2 + trial % 2
      val got = Dedup.boilerplateLines(corpus.toDF("doc_id", "text"),
          "doc_id", "text", minDupDocs = minDup)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      val docFreq = corpus.flatMap { case (id, t) =>
        t.split("\n", -1).distinct.map(l => (l, id)) }
        .groupBy(_._1).map { case (l, xs) => l -> xs.size }
      corpus.foreach { case (id, t) =>
        val lines = t.split("\n", -1)
        val kept = lines.filter(l => docFreq(l) < minDup)
        val want = (kept.mkString("\n"), lines.length.toLong,
          (lines.length - kept.length).toLong)
        assert(got(id) === want, s"trial $trial doc $id")
      }
    }
  }

  test("winnowedFingerprints ≡ driver reference; the winnowing guarantee holds") {
    def sha52(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map(b => f"$b%02x").mkString.substring(0, 13), 16)
    }
    def reference(text: String, n: Int, w: Int): Seq[(Long, Long)] = {
      val toks = text.trim.split("\\s+").filter(_.nonEmpty)
      if (toks.length < n + w - 1) return Seq.empty
      val h = toks.sliding(n).map(g => sha52(g.mkString(" "))).toVector
      (0 to h.length - w).map { p =>
        val win = h.slice(p, p + w)
        val m = win.min
        (p + win.indexOf(m) + 1L, m) // leftmost tie, 1-based
      }.distinct
    }
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val corpus = (0 until 20).map(id => (id.toLong,
      Seq.fill(6 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")))
    val got = Dedup.winnowedFingerprints(corpus.toDF("doc_id", "text"),
        "doc_id", "text", n = 3, window = 4)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.map(r => (r.getLong(1), r.getLong(2))).toSet }
    corpus.foreach { case (id, t) =>
      val want = reference(t, 3, 4).toSet
      assert(got.getOrElse(id, Set.empty) === want, s"doc $id")
    }
    // the GUARANTEE: two docs sharing a >= window+n-1 = 6-token run
    // share at least one fingerprint VALUE, wherever the run sits
    val run = "p q r s t u"
    val pair = Seq((100L, s"x y z $run m n o"), (101L, s"$run k l"))
      .toDF("doc_id", "text")
    val prints = Dedup.winnowedFingerprints(pair, "doc_id", "text", 3, 4)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(2)).toSet }
    assert(prints(100L).intersect(prints(101L)).nonEmpty)
    // and the detection join surfaces exactly that pair
    val overlap = Dedup.winnowedOverlapPairs(pair, "doc_id", "text",
        3, 4, minShared = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(overlap.toSeq === Seq((100L, 101L)))
  }

  test("minhashBandingReport ≡ exact driver replay (hashes, buckets, truth)") {
    // small corpus with exact dups, near-dups and unrelated docs so the
    // report has every error term available
    val base = "a b c d e f g h i j"
    val corpus = Seq(
      0L -> base, 1L -> base, // J = 1
      2L -> "a b c d e f g h i X", // near 0/1
      3L -> "a b c d e Y f g h i", 4L -> "p q r s t u v w x y",
      5L -> "p q r s t u v w x Z", 6L -> "m n o m n o m n o m",
      7L -> "c d e f g h i j a b")
    val n = 3; val numHashes = 8; val bands = 4; val threshold = 0.5
    val got = Dedup.minhashBandingReport(corpus.toDF("id", "text"),
      "id", "text", n, numHashes, bands, threshold).collect().head

    def shingles(t: String): Vector[String] = {
      val toks = t.trim.split("\\s+").toVector.filter(_.nonEmpty)
      if (toks.length < n) Vector.empty
      else toks.sliding(n).map(_.mkString(" ")).toVector.distinct
    }
    def sha52(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map(b => f"$b%02x").mkString.substring(0, 13), 16)
    }
    val sets = corpus.map { case (id, t) => id -> shingles(t) }
      .filter(_._2.nonEmpty)
    val truth = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      shared = sa.toSet.intersect(sb.toSet).size
      j = shared.toDouble / (sa.size + sb.size - shared) if j >= threshold
    } yield (ia, ib)).toSet
    val buckets = sets.map { case (id, sh) =>
      val mins = (0 until numHashes)
        .map(i => sh.map(s => sha52(s"$i:$s")).min)
      id -> (0 until bands).map(j =>
        (j, mins.slice(j * 2, j * 2 + 2).mkString("|")))
    }
    val cand = (for {
      (ia, ba) <- buckets; (ib, bb) <- buckets
      if ia < ib && ba.exists(bb.contains)
    } yield (ia, ib)).toSet
    val tp = cand.intersect(truth).size.toLong
    assert(got.getLong(0) === truth.size.toLong, "n_truth")
    assert(got.getLong(1) === cand.size.toLong, "n_candidates")
    assert(got.getLong(2) === tp, "tp")
    assert(got.getLong(3) === cand.size - tp, "fp")
    assert(got.getLong(4) === truth.size - tp, "fn")
    assert(got.getDouble(5) === tp.toDouble / cand.size, "precision")
    assert(got.getDouble(6) === tp.toDouble / truth.size, "recall")
  }
}
