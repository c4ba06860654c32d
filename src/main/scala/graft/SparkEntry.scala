package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Reuse.ReuseOps
import graft.functions.{CountMin, HashSample, HeavyHitters, Hll, Kmv, TextAnalysis}
import graft.operators.{Analytics, AsOf, Dedup, Ecommerce, JoinPrune, Multimodal, PairGraph, Pca, RangeJoin, RecordLinkage, Scale, Similarity}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query is a pure function over the driver fixtures; the `events`
  * table stands in for the reference's Kafka transaction stream
  * (FIXTURES.md §B): event_type ↔ productCategory, value ↔ totalAmount,
  * ts ↔ transactionDate. Each entry has a DuckDB-runnable oracle with
  * IDENTICAL column names and an explicit ORDER BY mirrored on the Spark
  * side, so the driver's sorted-hash compare is deterministic.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_sales_per_category")(spark, "/root/testdata/sf0.001")

  // ----- write-once pair-graph artifacts (PairGraph) ------------------
  // The components family (q_jaccard_neardup, q_drop_neardups,
  // q_neardup_components(_star), q_best_of_cluster; q_minhash_neardup +
  // q_leakage_split; q_embedding_neardup + q_embedding_components) used
  // to re-derive its LSH/minhash pair graph inside every query — five
  // full corpus derivations per suite (round-4 verdict task #2). Each
  // graph is now derived ONCE per (session, corpus) and every consumer
  // composes over the materialized edge list.

  /** Capped-df Jaccard pair graph over `documents` (the production
    * default; the cap bounds the inverted-index join under boilerplate). */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    PairGraph.of(s, s"jaccard:n3:t0.6:df$shingleDfCap:$dir") {
      Dedup.jaccardNearDupPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.6, maxShingleDf = Some(shingleDfCap))
    }

  /** The deterministically HTML-wrapped corpus q_main_content and
    * q_curated_corpus_v6 extract from: nav bar, short heading,
    * body paragraph (doc text + a small inline link), all-anchor
    * related-links block, copyright footer, script. */
  /** Min-label component labeling over the capped-Jaccard pair graph —
    * the dedup registry's CLUSTER artifact (id → component), shared by
    * q_neardup_components, q_dup_cluster_sizes and q_best_of_cluster
    * (whose keepBestPerComponent previously re-ran the label loop
    * internally). The star-contraction variant
    * (q_neardup_components_star) stays a fresh derivation — it
    * adjudicates the alternative ALGORITHM, not this artifact. */
  private def jaccardComponentLabels(s: SparkSession, dir: String): DataFrame =
    PairGraph.of(s, s"components:minlabel:jaccard-df$shingleDfCap:$dir") {
      Dedup.nearDupComponents(Tables.documents(s, dir), "doc_id",
        jaccardPairs(s, dir))
    }

  /** FFD packing plan over the non-empty documents (capacity 96,
    * 1 EOS, rank-blocks of 128) — the loader LAYOUT artifact, computed
    * once per corpus and read by three consumers (q_sequence_packing:
    * the plan itself; q_epoch_manifest: windows + epoch order;
    * q_packing_efficiency: the one-row rollup). Each used to re-run
    * the full pack per suite pass. */
  private def ffdPacked(s: SparkSession, dir: String): DataFrame =
    PairGraph.of(s, s"ffdpack:c96:e1:b128:nonempty:$dir") {
      Scale.ffdPack(
        Tables.documents(s, dir)
          .filter(col("text").isNotNull && length(trim(col("text"))) > 0),
        "doc_id", TextAnalysis.tokenCount(col("text")),
        capacity = 96, eosTokens = 1, blockDocs = 128)
    }

  /** Main-content extraction over [[wrappedPages]] — the block
    * classifier's output is a per-doc EXTRACTED-TEXT artifact (the WET
    * lane a crawl pipeline materializes once per segment); shared by
    * q_main_content and q_curated_corpus_v6 (which previously each ran
    * the full block scan, and v6 re-materialized it privately). */
  private def mainContentExtracted(s: SparkSession, dir: String): DataFrame =
    PairGraph.of(s, s"maincontent:wrapped:$dir") {
      TextAnalysis.mainContent(wrappedPages(s, dir), "doc_id", "html")
    }

  private def wrappedPages(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), concat(
      lit("<html><head><title>d</title>" +
        "<style>p{color:#888}</style></head><body>" +
        "<div class=\"nav\"><a href=\"/\">Home</a> " +
        "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div>" +
        "<h1>Doc "), col("doc_id").cast("string"),
      lit("</h1><p>"), col("text"),
      lit(" See <a href=\"/m\">more here</a></p>" +
        "<div class=\"rel\"><a href=\"/1\">doc one</a> " +
        "<a href=\"/2\">doc two</a> <a href=\"/3\">doc three</a>" +
        "</div><footer>Copyright 2026 Example</footer>" +
        "<script>if(1<2){x=1;}</script></body></html>")).as("html"))

  /** MinHash+LSH pair graph over `documents` (64 hashes / 16 bands,
    * exact-Jaccard verified at 0.6). */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    PairGraph.of(s, s"minhash:n3:h64:b16:t0.6:$dir") {
      Dedup.minhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, numHashes = 64, bands = 16, threshold = 0.6)
    }

  /** Benchmark-contamination pair graph: the planted mod-23 15-token
    * "benchmark" excerpts (id + 20M) probed against the corpus at
    * containment ≥ 0.9 — shared by q_containment_across (the pair
    * list) and q_contamination_by_source (the governance rollup). */
  private def contaminationPairs(s: SparkSession, dir: String): DataFrame =
    PairGraph.of(s, s"containacross:bench23:n3:t0.9:$dir") {
      val docs = Tables.documents(s, dir)
      val bench = docs.filter(col("doc_id") % 23 === 0)
        .select((col("doc_id") + lit(20000000L)).as("doc_id"),
          array_join(slice(TextAnalysis.tokens(col("text")), 4, 15), " ")
            .as("text"))
      Dedup.containmentPairsAcross(bench, "doc_id", "text",
        docs, "doc_id", "text", n = 3, threshold = 0.9)
    }

  /** Cosine-LSH pair graph over `embeddings` (recall-1 tuned: 3 bits ×
    * 12 tables, multi-probe, threshold 0.4). */
  private def embeddingPairs(s: SparkSession, dir: String): DataFrame =
    PairGraph.of(s, s"emblsh:b3:t12:mp:th0.4:$dir") {
      Similarity.lshNearDupPairs(Tables.embeddings(s, dir),
        "vec_id", "embedding", threshold = 0.4,
        bitsPerTable = 3, numTables = 12, multiProbe = true, dim = 64)
    }

  /** Market-basket co-purchase graph (mod-4 order slice, support ≥ 2)
    * — the edge list EIGHT graph-metric queries consume
    * (q_copurchase_pairs/_degree/_triangles, q_pagerank,
    * q_label_propagation, q_kcore, q_degree_assortativity,
    * q_bfs_hops). Each used to pay the per-order self-join derivation
    * itself — eight identical corpus derivations per suite, the exact
    * shape the write-once registry exists for (guide §2.4: remove the
    * repeated shuffle outright; the round-4/round-15 PairGraph
    * precedent). Derived once per (session, corpus); every consumer
    * composes over the materialized edge list. */
  private def coPurchaseGraph(s: SparkSession, dir: String): DataFrame =
    PairGraph.of(s, s"copurchase:mod4:min2:$dir") {
      Analytics.coOccurrencePairs(
        Tables.lineitem(s, dir).filter(col("l_orderkey") % 4 === 0),
        "l_orderkey", "l_partkey", minCount = 2L)
    }

  // ----- write-once TRAINED-TOKENIZER artifacts (the rank-registry
  // pattern applied to model tables): both learners are driver-paced
  // training loops whose outputs are MODEL-sized frames (8 merge rows /
  // 40 vocab rows) keyed purely on (corpus, hyper-parameters). Three
  // queries each re-ran the unigram EM and two re-ran the BPE loop per
  // suite pass; production trains once per corpus snapshot and ships
  // the table (exactly what unigramApplyTable/classifierApplyTable
  // already model on the apply side).

  /** BPE merge table (8 merges) trained on `documents` — shared by
    * q_bpe_train (the artifact itself) and q_tokenizer_fertility. */
  private def bpeMergesTrained(s: SparkSession, dir: String): DataFrame =
    PairGraph.of(s, s"bpetrain:m8:$dir") {
      TextAnalysis.bpeTrainMerges(Tables.documents(s, dir), "text",
        numMerges = 8)
    }

  /** Unigram-LM piece table (2 EM rounds, maxPieceLen 4, seed 64,
    * vocab 40) trained on `documents` — shared by q_unigram_train,
    * q_unigram_lm_tokens and q_tokenizer_fertility. */
  private def unigramVocabTrained(s: SparkSession, dir: String): DataFrame =
    PairGraph.of(s, s"unigramtrain:r2:l4:s64:v40:$dir") {
      TextAnalysis.unigramTrainDf(Tables.documents(s, dir), "text",
        rounds = 2, maxPieceLen = 4, seedSize = 64, vocabSize = 40)
    }

  /** Collect the registry piece table back to the (piece, cnt) Seq the
    * segmenter expression ships to tasks (vocab-sized by construction —
    * the classifierWeightArray precedent). */
  private def unigramVocabSeq(s: SparkSession, dir: String): Seq[(String, Long)] =
    unigramVocabTrained(s, dir).select("piece", "cnt").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Write-once trained PQ codebooks (m=16 × ksub=32 over the
    * embeddings corpus) — q_pq_topk and q_ivfpq_topk train the
    * IDENTICAL model (same deterministic sample, same params); the
    * (subspace, codeword, vec) frame round-trips the exact doubles. */
  private def pqCodebooksTrained(s: SparkSession,
      dir: String): Array[Array[Array[Double]]] = {
    import s.implicits._
    val rows = PairGraph.of(s, s"pqcb:m16:k32:i10:t16384:$dir") {
      Similarity.pqCodebooks(Tables.embeddings(s, dir), "vec_id",
          "embedding", m = 16, ksub = 32, iters = 10)
        .zipWithIndex.flatMap { case (sub, j) =>
          sub.zipWithIndex.map { case (cw, c) => (j, c, cw.toSeq) }
        }.toSeq.toDF("j", "c", "v")
    }.collect()
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    val out = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach { r =>
      out(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    out.map(_.toArray)
  }

  // ----- write-once RANK registry (the PairGraph pattern extended to
  // host-graph authority, round-15 verdict #2). Edge frames and rank
  // frames are both registry entries, keyed on the DERIVATION RULE plus
  // every parameter that changes the result (iterations, damping, seed
  // rule). At 100 TB this is "extract the link graph and derive each
  // rank ONCE per corpus snapshot; every authority consumer reads the
  // artifact" — locally five authority queries read one extracted
  // host graph, and q_spam_mass reads the directed and trusted ranks
  // q_directed_pagerank / q_personalized_pagerank derive.

  /** The directed host graph of the web-authority trio: pages
    * synthesized from `documents` under the modular link rule
    * ((d+1) mod N, (7·d+3) mod N) with the %3 publisher gate, outlinks
    * extracted by the real scanner, host-level (src, dst) arcs. */
  private def directedHostEdges(s: SparkSession, dir: String): DataFrame =
    PairGraph.of(s, s"hostedges:mod3out:$dir") {
      import graft.functions.UrlOps
      val docs = Tables.documents(s, dir).select("doc_id", "source")
      val base = docs.crossJoin(
        broadcast(docs.agg(count(lit(1)).as("__n"))))
      val ta = docs.select(col("doc_id").as("__ia"),
        col("source").as("__sa"))
      val tb = docs.select(col("doc_id").as("__ib"),
        col("source").as("__sb"))
      val linked = base
        .join(ta, (col("doc_id") + 1) % col("__n") === col("__ia"))
        .join(tb, (col("doc_id") * 7 + 3) % col("__n") === col("__ib"))
        .filter(substring(col("source"), 4, 10).cast("int") % 3 =!= 0)
      val html = concat(
        lit("<html><body><a href=\"https://"), col("__sa"),
        lit(".example.com/x\">a</a><a href=\"https://"), col("__sb"),
        lit(".example.com/y\">b</a></body></html>"))
      val pages = linked.select(
        concat(lit("https://"), col("source"), lit(".example.com/p"),
          col("doc_id").cast("string")).as("url"),
        html.as("html"))
      UrlOps.extractOutlinks(pages, "url", "html").select(
          UrlOps.hostNoPort(col("url")).as("src_host"),
          UrlOps.hostNoPort(col("outlink")).as("dst_host"))
        .filter(col("src_host") =!= col("dst_host"))
    }

  /** Registry-served directed PageRank over [[directedHostEdges]] —
    * shared by q_directed_pagerank and q_spam_mass (same key ⇒ one
    * derivation per session/corpus). */
  private def directedHostRank(s: SparkSession, dir: String): DataFrame =
    PairGraph.of(s, s"rank:directed:i10:d0.85:hostedges-mod3out:$dir") {
      Analytics.pageRankDirected(directedHostEdges(s, dir),
        "src_host", "dst_host", iterations = 10, damping = 0.85)
    }

  /** Registry-served TrustRank (personalized PageRank from the
    * %4==1 trusted-seed hosts) over the same graph — shared by
    * q_personalized_pagerank and q_spam_mass. */
  private def trustedHostRank(s: SparkSession, dir: String): DataFrame =
    PairGraph.of(s,
        s"rank:ppr:i10:d0.85:seeds-mod4eq1:hostedges-mod3out:$dir") {
      val seeds = Tables.documents(s, dir).select(col("source"))
        .distinct()
        .filter(substring(col("source"), 4, 10).cast("int") % 4 === 1)
        .select(concat(col("source"), lit(".example.com")).as("seed"))
      Analytics.personalizedPageRank(directedHostEdges(s, dir),
        "src_host", "dst_host", seeds, "seed", iterations = 10,
        damping = 0.85)
    }

  /** The `SPARK_GRAFT_ONLY=q_a,q_b` subset of [[queries]] (the one
    * parser Bench, Verify and ShuffleProbe share): comma-separated,
    * blanks ignored. A name that is not registered, or a list naming
    * none, fails loudly — a typo'd filter must not dump or time an
    * empty or partial suite that looks official. */
  def selectQueries(only: String): Map[String, (SparkSession, String) => DataFrame] = {
    val names = only.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val all = queries
    val unknown = names.diff(all.keySet)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    require(names.nonEmpty, "SPARK_GRAFT_ONLY is set but names no queries")
    all.filter { case (n, _) => names(n) }
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- reference parity: Pipeline B (M1/K1/R1, DataStreamJob.java:123-136)
    "q_sales_per_category" -> ((s, dir) =>
      Ecommerce.salesPerCategory(Tables.events(s, dir), "event_type", "value")
        .orderBy("category")),
    // intended composite-key variant (PK (date, category), DataStreamJob.java:307)
    "q_sales_per_category_day" -> ((s, dir) =>
      Ecommerce.salesPerCategoryDay(Tables.events(s, dir), "ts", "event_type", "value")
        .orderBy("transaction_date", "category")),
    // ----- reference parity: Pipeline C/day (M2/K2/R2, DataStreamJob.java:138-153)
    "q_sales_per_day" -> ((s, dir) =>
      Ecommerce.salesPerDay(Tables.events(s, dir), "ts", "value")
        .orderBy("transaction_date")),
    // ----- reference parity: Pipeline C/month (M3/K3/R3, DataStreamJob.java:155-163)
    "q_sales_per_month" -> ((s, dir) =>
      Ecommerce.salesPerMonth(Tables.events(s, dir), "ts", "value")
        .orderBy("year", "month")),
    // faithful month-only key (quirk #3), deterministic projection
    "q_sales_per_month_of_year" -> ((s, dir) =>
      Ecommerce.salesPerMonthOfYear(Tables.events(s, dir), "ts", "value")
        .orderBy("month")),
    // ----- reference parity: raw-copy projection + pushdown filter (D1/W5)
    "q_raw_events" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("value") >= 100.0)
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")),
    // ----- reference parity: JSON field binding (D1, JSONValueDeserialization)
    "q_json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")),
    // ----- product analytics: gap sessionization (30-min), ordered
    // funnel, cohort retention — all grouping keys and counts are
    // integer/timestamp-exact, so the oracles are hash-exact
    "q_event_sessions" -> ((s, dir) =>
      Analytics.sessionize(Tables.events(s, dir), "user_id", "ts",
          "event_id", gapMinutes = 30)
        .orderBy("user_id", "session_idx")),
    "q_funnel" -> ((s, dir) =>
      Analytics.funnel(Tables.events(s, dir), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"))
        .orderBy("step")),
    // strict sequential funnel: each step's anchor is the EARLIEST
    // qualifying event within 3 days after the previous anchor — the
    // conversion-window semantics the first-occurrence funnel can't
    // state; the oracle walks the same min-after-previous chain
    "q_funnel_windowed" -> ((s, dir) =>
      Analytics.funnelWindowed(Tables.events(s, dir), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"),
          windowSeconds = 3L * 24 * 3600)
        .orderBy("step")),
    "q_retention" -> ((s, dir) =>
      Analytics.retention(Tables.events(s, dir), "user_id", "ts",
          maxOffsetDays = 7)
        .orderBy("cohort_day", "day_offset")),
    // ----- next-event Markov transitions: integer counts over the
    // unique (ts, event_id) order — hash-exact
    "q_event_transitions" -> ((s, dir) =>
      Analytics.transitionCounts(Tables.events(s, dir), "user_id", "ts",
          "event_id", "event_type")
        .orderBy("from_type", "to_type")),
    // ----- 7-row moving average over the daily-sales series: a
    // post-aggregation series op (one row per day), NOT a corpus-wide
    // window — the unpartitioned frame is over ~30 rows by design
    "q_moving_avg_sales" -> ((s, dir) => {
      val daily = Ecommerce.salesPerDay(Tables.events(s, dir), "ts", "value")
      daily.withColumn("ma7",
          avg(col("total_sales")).over(
            Window.orderBy(col("transaction_date")).rowsBetween(-6, 0)))
        .orderBy("transaction_date")
    }),
    // CEP-lite: users whose event stream contains a CONSECUTIVE
    // click → view* → purchase run (contiguity no EXISTS-funnel can
    // state); non-overlapping leftmost matches, (ts, id)-ordered
    "q_event_pattern" -> ((s, dir) =>
      Analytics.eventPattern(Tables.events(s, dir), "user_id", "ts",
          "event_id", "event_type", pattern = "click,(view,)*purchase,")
        .orderBy("user_id")),
    // RAKE keyphrases: stopword-delimited runs of 2-4 tokens,
    // deg/freq word scores; all cuts integer so the SET is exact
    "q_keyphrases" -> ((s, dir) =>
      TextAnalysis.keyphrases(Tables.documents(s, dir), "doc_id", "text",
          minLen = 2, maxLen = 4, minCount = 2L)
        .orderBy("phrase")),
    // PSI distribution drift per event type: first half of the event
    // month as reference, second half as current; reference-decile
    // buckets at integer rank cuts, Laplace-smoothed proportions
    "q_psi_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val cutoff = lit("2024-01-16").cast("timestamp")
      Analytics.psiDrift(ev.filter(col("ts") < cutoff),
          ev.filter(col("ts") >= cutoff), "event_type", "value",
          buckets = 10)
        .orderBy("event_type")
    }),
    // first/last-touch attribution: purchases credited to click/view
    // touchpoints inside a 7-day lookback, NULL for direct conversions
    "q_attribution" -> ((s, dir) =>
      Analytics.touchAttribution(Tables.events(s, dir), "user_id", "ts",
          "event_type", "event_id", conversionType = "purchase",
          touchTypes = Seq("click", "view"), lookbackDays = 7)
        .orderBy("user_id", "conv_ts", "conv_event_id")),
    // sequence-gap audit: planted holes (event ids ≡ 0 mod 97 dropped)
    // recovered as missing ranges; small bucket so the driver-gate SF
    // exercises BOTH the in-bucket and the cross-bucket gap paths
    "q_id_gaps" -> ((s, dir) =>
      Analytics.sequenceGaps(
          Tables.events(s, dir).filter(col("event_id") % 97 =!= 0),
          "event_id", bucketSize = 512L)
        .orderBy("gap_start")),
    // pairwise Pearson correlations over lineitem's numeric columns,
    // computed from explicit co-moment sums with the IDENTICAL formula
    // both engines (builtin corr implementations differ in
    // stabilization; raw sums + one algebraic expression do not)
    "q_numeric_corr" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val frames = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield {
        val (a, b) = (cols(i), cols(j))
        li.agg(count(lit(1)).cast("double").as("n"),
            sum(col(a)).as("sx"), sum(col(b)).as("sy"),
            sum(col(a) * col(b)).as("sxy"),
            sum(col(a) * col(a)).as("sxx"),
            sum(col(b) * col(b)).as("syy"))
          .select(lit(a).as("col_x"), lit(b).as("col_y"),
            ((col("n") * col("sxy") - col("sx") * col("sy")) /
              sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
                (col("n") * col("syy") - col("sy") * col("sy"))))
              .as("pearson_r"))
      }
      frames.reduce(_ unionAll _).orderBy("col_x", "col_y")
    }),
    // Benford first-digit screen on order totals (integer-arithmetic
    // digit extraction — no float log at power-of-ten boundaries)
    "q_benford" -> ((s, dir) =>
      Analytics.benfordProfile(Tables.orders(s, dir), "o_totalprice")
        .orderBy("digit")),
    // Gini concentration of per-customer revenue over bucketed global
    // ranks (6-dp-rounded revenues: rank swaps among 1e-12-close
    // values stay inside compare tolerance either way)
    "q_gini_revenue" -> ((s, dir) => {
      val rev = Tables.orders(s, dir).groupBy("o_custkey")
        .agg(round(sum("o_totalprice"), 6).as("rev"))
      Analytics.gini(rev, "rev", "o_custkey")
    }),
    // CUSUM changepoint: the day of max |Σ(x − x̄)| per category
    "q_changepoint" -> ((s, dir) =>
      Analytics.changepoint(Tables.events(s, dir), "event_type", "ts",
          "value")
        .orderBy("event_type")),
    // data-quality contract suite: row-local checks in ONE agg pass,
    // exact uniqueness, broadcast referential integrity; the discount
    // range check is a DELIBERATE partial-pass so both verdicts appear
    "q_dq_checks" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val a = graft.operators.DataQuality.runChecks(li, Seq(
        graft.operators.DataQuality.MinRows("min_rows_lineitem", 1000L),
        graft.operators.DataQuality.InRange(
          "range_l_quantity_1_50", "l_quantity", 1, 50),
        graft.operators.DataQuality.InRange(
          "range_l_discount_0_005", "l_discount", 0, 0.05),
        graft.operators.DataQuality.Completeness(
          "complete_l_shipdate", "l_shipdate")))
      val b = graft.operators.DataQuality.runChecks(Tables.orders(s, dir),
        Seq(
          graft.operators.DataQuality.Uniqueness(
            "unique_o_orderkey", Seq("o_orderkey")),
          graft.operators.DataQuality.ReferentialIntegrity(
            "ref_orders_customer", "o_custkey",
            Tables.customer(s, dir), "c_custkey")))
      a.unionAll(b).orderBy("check")
    }),
    // Mann–Kendall monotone-trend test: 6-dp-rounded daily sums before
    // the sign ⇒ S integer-exact, τ one exact division
    "q_trend_test" -> ((s, dir) =>
      Analytics.mannKendallTrend(Tables.events(s, dir), "event_type",
          "ts", "value")
        .orderBy("event_type")),
    // Theil–Sen robust slope: median of pairwise slopes at the
    // integer rank cut
    "q_theilsen_trend" -> ((s, dir) =>
      Analytics.theilSenTrend(Tables.events(s, dir), "event_type",
          "ts", "value")
        .orderBy("event_type")),
    // Holt level+trend smoothing with a one-step forecast (α = β = 0.5
    // exact binary ⇒ identical IEEE recurrence both engines)
    "q_holt_trend" -> ((s, dir) =>
      Analytics.holtSmooth(Tables.events(s, dir), "event_type", "ts",
          "value", alpha = 0.5, beta = 0.5)
        .orderBy("event_type", "day")),
    // OHLC bars: open/close by (ts, event_id) order via min_by/max_by
    // struct keys, high/low plain extremes — every output value is
    // copied, not computed, so the query is hash-exact
    "q_ohlc_bars" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id")))
            .as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), struct(col("ts"), col("event_id")))
            .as("close"),
          count(lit(1)).as("n"))
        .orderBy("event_type", "day")),
    // time-to-convert: per click day, how many clicks found a purchase
    // at-or-after them (forward as-of) and the exact median delay in
    // whole seconds (integer rank cut — engine-exact)
    "q_time_to_convert" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .agg(max("event_id").as("p_id"))
      val joined = AsOf.asofJoinForward(clicks, "user_id", "ts",
          purchases, "p_user", "p_ts", Seq("p_ts", "p_id"))
        .withColumn("delay_s",
          ((unix_micros(col("p_ts")) - unix_micros(col("ts"))) /
            lit(1000000L)).cast("long"))
      joined
        .withColumn("day", to_date(col("ts")))
        .groupBy("day")
        .agg(count(lit(1)).as("n_clicks"),
          count(col("p_id")).as("n_converted"),
          when(count(col("delay_s")) > 0,
            element_at(array_sort(collect_list(col("delay_s"))),
              ((count(col("delay_s")) + 1) / 2).cast("int")))
            .as("median_delay_s"))
        .filter(col("n_converted") > 0)
        .orderBy("day")
    }),
    // EWMA-smoothed daily sales per category: the sequential
    // recurrence replayed declaratively on the post-aggregate frame
    // (α = 0.5 is an exact binary fraction — both engines run the
    // identical IEEE fold, so only the daily sums carry summation
    // -order noise, inside compare tolerance)
    "q_ewma_daily_sales" -> ((s, dir) =>
      Analytics.ewmaSmooth(Tables.events(s, dir), "event_type", "ts",
          "value", alpha = 0.5)
        .orderBy("event_type", "day")),
    // weekly seasonal component of the order-revenue series (~1100
    // daily points span every ISO weekday ≥ 150×): per-dow mean and
    // the multiplicative seasonal index vs the grand daily mean
    "q_seasonal_dow" -> ((s, dir) =>
      Analytics.seasonalProfile(Tables.orders(s, dir), "o_orderdate",
          "o_totalprice")
        .orderBy("dow")),
    // seasonally-ADJUSTED spike scores: daily event counts against the
    // same-weekday mean (the dow profile composed as the baseline —
    // q_count_anomalies' trailing median is the trend-side baseline;
    // this one survives "every Saturday looks like a spike")
    "q_seasonal_anomalies" -> ((s, dir) => {
      val prof = Analytics.seasonalProfile(
          Tables.events(s, dir).select(col("ts"), lit(1.0).as("one")),
          "ts", "one")
        .select(col("dow"), col("mean_sales").as("dow_mean"))
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("day"), (weekday(col("day")) + 1).cast("int").as("dow"),
          col("n_events"))
        .join(broadcast(prof), Seq("dow"))
        .select(col("day"), col("dow"), col("n_events"),
          (col("n_events").cast("double") / col("dow_mean")).as("ratio"))
        .orderBy(col("ratio").desc, col("day")).limit(20)
    }),
    // count-spike anomaly ranking: today's count vs trailing-14-day
    // median, top 20 by score — rank-based emission keeps the query
    // non-degenerate at every SF (the fixture's Poisson noise shrinks
    // with volume, so any fixed threshold would return empty at sf0.1)
    "q_count_anomalies" -> ((s, dir) =>
      Analytics.countAnomalyScore(Tables.events(s, dir), "event_type",
          "ts", lookback = 14)
        .orderBy(desc("score"), col("event_type"), col("day"))
        .limit(20)),
    // ----- SCD2 history: the event log collapsed into attribute
    // validity intervals (the warehouse dimension-table build)
    "q_scd2_history" -> ((s, dir) =>
      Analytics.scd2History(Tables.events(s, dir), "user_id", "event_type",
          "ts", "event_id")
        .orderBy("user_id", "valid_from")),
    // ----- CDC merge: snapshot (latest pre-cutoff row per user) +
    // changelog (post-cutoff events; 'error' plays the delete op) →
    // merged end state. Both the snapshot build and the operator's
    // latest-change reduction are max_by aggregates (no per-key sort);
    // every output value is copied, not computed — hash-exact.
    "q_cdc_state" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select("user_id", "ts", "event_id", "event_type", "value")
      val cutoff = lit("2024-01-20").cast("timestamp")
      val snapCols = Seq("ts", "event_id", "event_type", "value")
      val snapshot = ev.filter(col("ts") < cutoff)
        .groupBy("user_id")
        .agg(max_by(struct(snapCols.map(col): _*),
          struct(col("ts"), col("event_id"))).as("__r"))
        .select(col("user_id") +: snapCols.map(c => col(s"__r.$c").as(c)): _*)
      val changes = ev.filter(col("ts") >= cutoff)
        .withColumn("op",
          when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
      Analytics.applyChangelog(snapshot, changes, "user_id",
          Seq("ts", "event_id"), "op")
        .orderBy("user_id")
    }),
    // ----- calendar gap-fill + forward fill on per-user daily spend.
    // The key must be a per-entity one for the gap mix to be
    // scale-invariant: user count grows with SF while events/user/day
    // stays ~2.2, so ~11-13% of calendar cells are gaps at EVERY SF
    // (measured 13/12/11% at sf0.001/0.01/0.1) — a per-category key
    // saturates at sf0.1 and fills nothing. The mod-11 user sample
    // bounds output rows, reusing the q_mod_sample formulation, and
    // is_gap makes the fill itself hash-adjudicated.
    "q_gap_fill" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(pmod(col("user_id"), lit(11)) === 0)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(sum(col("value")).as("spend"))
      Analytics.gapFillForward(daily, "user_id", "day", "spend")
        .orderBy("user_id", "day")
    }),
    // ----- sweep-line concurrency over the 30-min sessions: how many
    // sessions are active at each boundary instant. Exact integer
    // counts; the two-level carry-in decomposition is asserted
    // equivalent to the oracle's single global cumsum by the hash.
    "q_concurrency" -> ((s, dir) =>
      Analytics.activeIntervals(
          Analytics.sessionize(Tables.events(s, dir), "user_id", "ts",
            "event_id", gapMinutes = 30),
          "session_start", "session_end")
        .orderBy("t")),
    // ----- time-weighted average event value per user (mod-7 slice):
    // each sample weighted by the µs it stayed current — the honest
    // mean for irregular telemetry; single-sample users are NULL and
    // kept (the oracle states the same lead() formulation)
    "q_time_weighted_value" -> ((s, dir) =>
      Analytics.timeWeightedAverage(
          Tables.events(s, dir).filter(pmod(col("user_id"), lit(7)) === 0),
          "user_id", "ts", "event_id", "value")
        .orderBy("user_id")),
    // ----- per-category revenue trend: least-squares slope of daily
    // revenue over a day INDEX (datediff from the global first day —
    // small x keeps the n·Σxy − Σx·Σy cancellation harmless); both
    // engines evaluate the identical explicit-sums tree
    "q_category_trend" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value")).as("revenue"))
      val lo = daily.agg(min(col("day")).as("__d0"))
      Analytics.groupTrend(
          daily.crossJoin(broadcast(lo))
            .withColumn("x", datediff(col("day"), col("__d0"))),
          "event_type", "x", "revenue")
        .orderBy("event_type")
    }),
    // ----- snapshot diff: the corpus vs a simulated refreshed crawl —
    // old misses every 7th doc (late additions), new misses every 5th
    // (takedowns) and edits every 3rd (text appended). All four
    // statuses occur at every SF by construction of the mod classes.
    "q_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val old = docs.filter(col("doc_id") % 7 =!= 0)
        .select("doc_id", "text", "lang")
      val fresh = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .select("doc_id", "text", "lang")
      Analytics.snapshotDiff(old, fresh, "doc_id", Seq("text", "lang"))
        .orderBy("doc_id")
    }),
    // ----- market-basket co-occurrence graph (parts bought together,
    // support >= 2) + graph metrics over its edge list. The support
    // floor is what keeps the graph sparse: the raw co-occurrence
    // graph of this fixture is near-complete (200-part universe), the
    // support-filtered one is the signal. Adjudicated on the mod-4
    // order slice (same precedent as q_simhash_neardup_wide): the
    // fixture's small part universe makes the per-order self-join the
    // whole cost at full volume while teaching nothing extra about the
    // operator — counts over the slice are still exact, and all EIGHT
    // consumers read the same write-once registry graph
    // ([[coPurchaseGraph]], round-15 optimization).
    "q_copurchase_pairs" -> ((s, dir) =>
      coPurchaseGraph(s, dir)
        .orderBy("item_a", "item_b")),
    "q_copurchase_degree" -> ((s, dir) =>
      Analytics.degrees(coPurchaseGraph(s, dir), "item_a", "item_b")
        .orderBy("node")),
    "q_copurchase_triangles" -> ((s, dir) =>
      Analytics.triangleCount(coPurchaseGraph(s, dir),
        "item_a", "item_b")),
    // fixed-iteration PageRank over the same co-purchase graph; the
    // oracle unrolls the 10 iterations as chained CTEs (generated by
    // pageRankOracleSql so both sides agree on the exact recurrence)
    "q_pagerank" -> ((s, dir) =>
      Analytics.pageRank(coPurchaseGraph(s, dir),
          "item_a", "item_b", iterations = 10, damping = 0.85)
        .select(col("node"), col("rank").as("pagerank"))
        .orderBy("node")),
    // synchronous LPA over the same graph, 4 fixed rounds (the unroll
    // the oracle replays); deterministic (max votes, min label) adopt
    "q_label_propagation" -> ((s, dir) =>
      Analytics.labelPropagation(coPurchaseGraph(s, dir),
          "item_a", "item_b", iterations = 4)
        .orderBy("node")),
    // 2-core of the co-purchase graph: synchronous peeling to the
    // fixpoint (converges in ≤ 7 rounds at every SF; loop fails loudly
    // if the cap were too small)
    "q_kcore" -> ((s, dir) =>
      Analytics.kCore(coPurchaseGraph(s, dir),
          "item_a", "item_b", k = 2, rounds = 10)
        .orderBy("node")),
    // degree assortativity: Pearson over edge-endpoint degrees (both
    // directions — the undirected convention), same raw-co-moment
    // formula as q_numeric_corr
    "q_degree_assortativity" -> ((s, dir) => {
      val g = coPurchaseGraph(s, dir)
      val deg = Analytics.degrees(g, "item_a", "item_b")
      val und = g.select(col("item_a").as("x"), col("item_b").as("y"))
        .unionAll(g.select(col("item_b").as("x"), col("item_a").as("y")))
      val dd = und
        .join(deg.select(col("node").as("x"), col("degree").as("da")), Seq("x"))
        .join(deg.select(col("node").as("y"), col("degree").as("db")), Seq("y"))
        .select(col("da").cast("double").as("a"),
          col("db").cast("double").as("b"))
      dd.agg(count(lit(1)).cast("double").as("n"),
          sum("a").as("sx"), sum("b").as("sy"),
          sum(col("a") * col("b")).as("sxy"),
          sum(col("a") * col("a")).as("sxx"),
          sum(col("b") * col("b")).as("syy"))
        .select(((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))))
          .as("assortativity"))
    }),
    // nearest near-dup per document off the cached capped-Jaccard pair
    // graph: per-doc argmax over both edge directions (max J, ties min
    // neighbor id) — the "closest duplicate" report a review queue
    // wants; only docs WITH a ≥-threshold pair appear (documented)
    "q_nearest_doc" -> ((s, dir) => {
      val pairs = jaccardPairs(s, dir)
      val both = pairs.select(col("id_a").as("doc_id"),
          col("id_b").as("nbr"), col("jaccard"))
        .unionAll(pairs.select(col("id_b").as("doc_id"),
          col("id_a").as("nbr"), col("jaccard")))
      both.groupBy("doc_id")
        .agg(min(struct((col("jaccard") * lit(-1.0)).as("nj"),
          col("nbr").as("nbr"))).as("w"))
        .select(col("doc_id"), col("w.nbr").as("nearest_id"),
          (col("w.nj") * lit(-1.0)).as("jaccard"))
        .orderBy("doc_id")
    }),
    // BFS hop distance over the same graph: min edges from the seed
    // set (graph nodes ≡ 0 mod 13 — multi-hop structure at every SF),
    // capped at 4 hops. Frontier expansion ≡ the oracle's recursive
    // CTE with the same depth guard.
    "q_bfs_hops" -> ((s, dir) => {
      val g = coPurchaseGraph(s, dir)
      val nodes = g.select(col("item_a").as("node"))
        .unionAll(g.select(col("item_b").as("node"))).distinct()
      Analytics.hopDistance(g, "item_a", "item_b",
          nodes.filter(col("node") % 13 === 0), "node", maxHops = 4)
        .orderBy("node")
    }),
    // ----- reference parity: upsert end-state = latest write per key (W5-W8)
    "q_latest_event_per_user" -> ((s, dir) =>
      Ecommerce.latestPerKey(Tables.events(s, dir),
          Seq("user_id"), "ts", Seq("event_id"))
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")),
    // ----- streaming window semantics, driver-adjudicated in batch: the
    // SAME Windows.salesPerCategoryWindowed the streaming job runs
    // (withWatermark is a no-op on a batch frame), so the tumbling
    // bucket boundaries/aggregation are hash-checked against DuckDB
    // time_bucket — not just spec-covered through MemoryStream
    "q_hourly_category_sales" -> ((s, dir) =>
      graft.streaming.Windows.salesPerCategoryWindowed(
          Tables.events(s, dir), "ts", "event_type", "value",
          windowLength = "1 hour")
        .orderBy("window_start", "category")),
    // ----- scale headliner: wide aggregate over lineitem (TPC-H Q1 shape)
    "q1_lineitem_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          avg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),
    // ----- relational scale path: multi-join with broadcast dims (Q3 shape)
    "q3_shipping" -> ((s, dir) => {
      val c = broadcast(Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), to_date(col("o_orderdate")).as("order_date"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),
    // ----- relational scale path: 5-table star join (Q5 shape)
    "q5_region_revenue" -> ((s, dir) => {
      val dims = broadcast(
        Tables.region(s, dir).filter(col("r_name") === "ASIA")
          .join(Tables.nation(s, dir), col("n_regionkey") === col("r_regionkey"))
          .join(Tables.customer(s, dir), col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey", "n_name"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(dims, col("o_custkey") === col("c_custkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("nation"))
    }),
    // ----- Q9 shape: part+supplier star — two broadcast dims into the
    // lineitem⋈orders fact join, revenue by supplier nation and year
    "q9_supplier_nation_revenue" -> ((s, dir) => {
      val p = broadcast(Tables.part(s, dir)
        .filter(col("p_type") === "PROMO").select("p_partkey"))
      val sn = broadcast(Tables.supplier(s, dir)
        .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "n_name"))
      Tables.lineitem(s, dir)
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(sn, col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy("nation", "o_year")
    }),
    // ----- Q7 shape: the SAME dimension joined under TWO ROLES — the
    // supplier's nation and the customer's nation are both `nation`,
    // aliased independently, with the symmetric cross-pair predicate.
    // The named-nation pair of the textbook query is empty at sf0.001
    // (≈10 suppliers across 25 nations), so the two trade blocs are
    // keyed by nationkey parity — populated at every SF, same shape.
    // Both role dims broadcast; lineitem streams once.
    "q7_nation_volume" -> ((s, dir) => {
      val supp = broadcast(Tables.supplier(s, dir)
        .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"),
          (col("n_nationkey") % 2).as("supp_bloc")))
      val cust = broadcast(Tables.customer(s, dir)
        .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"),
          (col("n_nationkey") % 2).as("cust_bloc")))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter((col("supp_bloc") === 0 && col("cust_bloc") === 1) ||
          (col("supp_bloc") === 1 && col("cust_bloc") === 0))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("o_orderdate")).as("l_year"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),
    // ----- Q10 shape: top-20 customers by returned-item revenue — a
    // star join into a revenue aggregate cut by TakeOrderedAndProject
    // (deterministic: revenue DESC then custkey)
    "q10_returned_customers" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)
          .select("c_custkey", "c_name")), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)),
    // ----- Q8 shape: one nation's market share within one customer
    // region for one part type, by order year — the widest TPC-H star
    // (lineitem ⋈ part ⋈ supplier ⋈ nation ⋈ orders ⋈ customer ⋈
    // nation ⋈ region). Every dimension side is broadcast; the share is
    // a conditional aggregate over one revenue expression, so the fact
    // table is scanned and shuffled exactly once
    "q8_market_share" -> ((s, dir) => {
      val nation = Tables.nation(s, dir)
      val suppNation = broadcast(Tables.supplier(s, dir)
        .join(nation, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation")))
      val asiaCust = broadcast(Tables.customer(s, dir)
        .join(nation.join(
            broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey"))
      val stdParts = broadcast(Tables.part(s, dir)
        .filter(col("p_type") === "STANDARD").select("p_partkey"))
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      Tables.lineitem(s, dir)
        .join(stdParts, col("l_partkey") === col("p_partkey"))
        .join(suppNation, col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(asiaCust, col("o_custkey") === col("c_custkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_7", rev)
            .otherwise(lit(0.0))) / sum(rev)).as("mkt_share"))
        .orderBy("o_year")
    }),
    // ----- Q22 shape: above-average-balance customers with no RECENT
    // orders (the fixture gives every customer some order, so the
    // anti-join is date-windowed), per nation — scalar subquery (global
    // average over a broadcast 1-row frame) + anti-join + aggregate
    "q22_dormant_capital" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val avgBal = cust.filter(col("c_acctbal") > 0.0)
        .agg(avg(col("c_acctbal")).as("__avg"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("__avg"))
        .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
            .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_cust"), sum(col("c_acctbal")).as("total_bal"))
        .orderBy("nation")
    }),
    // ----- Q21 shape: suppliers who were the ONLY late supplier on a
    // finished multi-supplier order (late = shipped >90 days after the
    // order date; the fixture has no receipt/commit dates). The classic
    // EXISTS/NOT-EXISTS pair decorrelates to two orderkey-keyed
    // aggregates — per-order supplier count and per-order late-supplier
    // count — so the fact table shuffles on orderkey, never self-joins
    // row-to-row, and the blame test is `n_late_supp == 1`
    "q21_lone_late_supplier" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val orderSupp = li.select("l_orderkey", "l_suppkey").distinct()
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_supp"))
      val lateSupp = li
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .select("l_orderkey", "l_suppkey").distinct()
      val loneLate = lateSupp
        .withColumn("n_late",
          count(lit(1)).over(Window.partitionBy("l_orderkey")))
        .filter(col("n_late") === 1)
      loneLate
        .join(orderSupp.filter(col("n_supp") >= 2), Seq("l_orderkey"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),
    // ----- Q15 shape: scalar subquery over an aggregate — supplier(s)
    // whose quarterly revenue equals the global max. The max is a 1-ROW
    // broadcast joined back on equality, not a window over all
    // suppliers (a global rank would sort every supplier's aggregate;
    // the broadcast touches each row once). Revenue equality compares
    // the engine's OWN sums, so IEEE ordering can't split the answer.
    "q_top_revenue_supplier" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("total_revenue"))
      val top = rev.agg(max(col("total_revenue")).as("__m"))
      Tables.supplier(s, dir)
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(top), col("total_revenue") === col("__m"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy("s_suppkey")
    }),
    // ----- Q20 shape: semi-join chained through an aggregate-HAVING
    // subquery — suppliers who shipped any part whose 1995 volume
    // exceeded the bulk threshold. Both membership tests are left_semi
    // (no row multiplication anywhere); the bulky-part list is tiny
    // after the HAVING cut, so AQE broadcasts it into the fact scan.
    "q_bulk_part_suppliers" -> ((s, dir) => {
      val li95 = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
      val bulky = li95.groupBy(col("l_partkey"))
        .agg(sum(col("l_quantity")).as("__qty"))
        .filter(col("__qty") > 300.0)
        .select("l_partkey")
      val shippers = li95.join(bulky, Seq("l_partkey"), "left_semi")
        .select(col("l_suppkey").as("s_suppkey"))
      Tables.supplier(s, dir)
        .join(shippers, Seq("s_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    }),
    // ----- Q2 shape: correlated-min subquery — the supplier(s) offering
    // the MINIMUM price for each part of one size class, suppliers
    // restricted to one region (the fixture has no partsupp, so
    // lineitem supplies the (part, supplier, price) associations). The
    // correlated `price = (SELECT min ...)` decorrelates into a
    // partkey-keyed min aggregate re-joined on EQUALITY of the engine's
    // own min (copied values, no arithmetic — exact in both engines);
    // region→nation→supplier prune is broadcast all the way down, so
    // the fact table is filtered at the scan side of one shuffle
    "q2_min_cost_supplier" -> ((s, dir) => {
      val asiaNations = broadcast(Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir)
          .filter(col("r_name") === "ASIA")), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name"))
      val asiaSupp = Tables.supplier(s, dir)
        .join(asiaNations, col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val offers = Tables.lineitem(s, dir)
        .join(broadcast(asiaSupp.select("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"))
        .select("l_partkey", "l_suppkey", "l_extendedprice")
      val minCost = offers.groupBy("l_partkey")
        .agg(min(col("l_extendedprice")).as("min_price"))
      offers
        .join(minCost.withColumnRenamed("l_partkey", "mk"),
          col("l_partkey") === col("mk") &&
            col("l_extendedprice") === col("min_price"))
        .select("l_partkey", "l_suppkey", "min_price").distinct()
        .join(broadcast(Tables.part(s, dir).filter(col("p_size") === 10)),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(asiaSupp), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_acctbal"), col("s_name"), col("n_name").as("nation"),
          col("p_partkey"), col("min_price"))
        .orderBy(col("s_acctbal").desc, col("s_name"), col("p_partkey"))
        .limit(20)
    }),
    // ----- Q11 shape: group-share-of-global-total HAVING — parts whose
    // stock (quantity shipped by even-nation suppliers; q7's parity
    // bloc keeps every SF populated) exceeds 1.5× the per-part average
    // (14/127/1074 rows at sf0.001/0.01/0.1 — non-degenerate at every SF).
    // Quantities are integer-valued doubles, so both the per-part sums
    // and the global total are EXACT and the strict threshold cut
    // cannot flip on summation order; the global total and count ride
    // one broadcast 1-row frame (the q22/q15 scalar-subquery shape)
    "q11_important_stock" -> ((s, dir) => {
      val blocSupp = Tables.supplier(s, dir)
        .filter(col("s_nationkey") % 2 === 0).select("s_suppkey")
      val perPart = Tables.lineitem(s, dir)
        .join(broadcast(blocSupp), col("l_suppkey") === col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(sum(col("l_quantity")).as("stock_qty"))
      val totals = perPart.agg(sum(col("stock_qty")).as("__t"),
        count(lit(1)).as("__n"))
      perPart.crossJoin(broadcast(totals))
        .filter(col("stock_qty") > lit(1.5) * (col("__t") / col("__n")))
        .select("l_partkey", "stock_qty")
        .orderBy(col("stock_qty").desc, col("l_partkey"))
    }),
    // ----- Q12 shape: fact-to-fact join + two-class conditional counts
    // — late-year lineitems classified by whether their order was
    // high-priority (the fixture has no shipmode; l_returnflag is the
    // grouping "mode"). Orders cannot broadcast at scale, so both
    // facts shuffle on orderkey once (AQE broadcasts when small);
    // counts are integers → hash-exact
    "q12_priority_lines" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
        .join(Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy("l_returnflag")),
    // ----- Q16 shape: distinct-count per attribute group behind a
    // NOT-IN supplier exclusion — how many distinct suppliers ship each
    // (brand, type), excluding negative-balance suppliers (the
    // "complaints" list). The exclusion is a broadcast anti-join BEFORE
    // the distinct aggregation; (part, supplier) associations are
    // deduped from lineitem first so the count-distinct input is
    // association-sized, not fact-sized
    "q16_supplier_diversity" -> ((s, dir) => {
      val excluded = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0.0).select("s_suppkey")
      // no pre-distinct (r16, guide §2.4): count_distinct(l_suppkey)
      // downstream already dedups, and the partial aggregate on
      // (p_brand, p_type, l_suppkey) collapses duplicates map-side —
      // the former .distinct() paid a full extra shuffle of the
      // (l_partkey, l_suppkey) projection for nothing
      Tables.lineitem(s, dir)
        .select("l_partkey", "l_suppkey")
        .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"))
    }),
    // ----- rollup / grouping-set aggregation
    "q_rollup_lineitem" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n"))
        .orderBy("returnflag", "linestatus")),
    // full CUBE over (category, day): all four grouping sets in one
    // pass — the OLAP complement of the rollup above
    "q_cube_sales" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          col("value"))
        .cube(col("event_type"), col("day"))
        .agg(sum(col("value")).as("total"), count(lit(1)).as("n"))
        .select(coalesce(col("event_type"), lit("ALL")).as("category"),
          coalesce(col("day").cast("string"), lit("ALL")).as("day"),
          col("total"), col("n"))
        .orderBy("category", "day")),
    // ----- explicit GROUPING SETS: the arbitrary-sets member of the
    // rollup/cube family — per (status, priority), per priority alone,
    // and the grand total, WITHOUT the per-status set a rollup would
    // force; one Expand pass, no union of re-aggregations
    "q_grouping_sets" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("o_totalprice")).as("total"), count(lit(1)).as("n"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("total"), col("n"))
        .orderBy("status", "priority")),
    // ----- RANGE interval frame: trailing-7-DAY revenue per category —
    // value-based frame over sparse days (a ROWS frame would silently
    // count 7 observations, not 7 days, whenever days are missing).
    // Spark's rangeBetween is numeric, so the order key is exact
    // days-since-epoch; the oracle states the same frame natively with
    // RANGE BETWEEN INTERVAL 6 DAYS PRECEDING
    "q_range_frame_revenue" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(col("value")).as("revenue"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(unix_date(col("day")))
        .rangeBetween(-6, 0)
      daily.withColumn("rev7d", sum(col("revenue")).over(w))
        .select("event_type", "day", "revenue", "rev7d")
        .orderBy("event_type", "day")
    }),
    // ----- window functions: top-N per group
    "q_top_orders_per_cust" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .filter(col("o_custkey") < 100)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
        .orderBy("o_custkey", "rnk")
    }),
    // same result through the typed TopKAggregator — the scale path:
    // each input partition contributes ≤ k rows per group to the
    // shuffle (map-side combine), where the window variant above sorts
    // every row of every group. Shares the window oracle.
    "q_top_orders_per_cust_agg" -> ((s, dir) => {
      import s.implicits._
      graft.functions.TopKAggregator.topKPerGroup(
          Tables.orders(s, dir)
            .filter(col("o_custkey") < 100)
            .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
            .as[(Long, Double, Long)], 3)
        .select(col("key").as("o_custkey"), col("id").as("o_orderkey"),
          col("score").as("o_totalprice"), col("rank").as("rnk"))
        .orderBy("o_custkey", "rnk")
    }),
    // ----- pushdown showcase: selective filter + agg (TPC-H Q6 shape)
    "q6_forecast_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.02, 0.06) &&
          col("l_quantity") < 10.0)
        .agg(sum(col("l_extendedprice") * col("l_discount")).as("revenue"))),
    // ----- pivot: day × event-type sales matrix. The value list is
    // passed EXPLICITLY — omitting it makes Spark run a driver-side
    // distinct collect over the pivot column before planning, a hidden
    // full-scan job (and an unbounded-width schema) at 100 TB
    "q_pivot_daily_sales" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("transaction_date"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .sum("value")
        .orderBy("transaction_date")),
    // ----- rollup: hierarchical subtotals in ONE aggregation pass
    // (grand total + per-status + per-(status, priority)); grouping
    // flags disambiguate subtotal NULLs, and ordering pins NULLS FIRST
    // explicitly because Spark and DuckDB default opposite ways
    "q_orders_rollup" -> ((s, dir) =>
      Tables.orders(s, dir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_priority"),
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice")).as("revenue"))
        .select(col("o_orderstatus").as("status"),
          col("o_orderpriority").as("priority"),
          col("g_status"), col("g_priority"), col("n_orders"), col("revenue"))
        .orderBy(col("g_status"), col("g_priority"),
          col("status").asc_nulls_first, col("priority").asc_nulls_first)),
    // ----- running total: per-customer cumulative revenue in order-date
    // order. The window partitions by customer — state is one partial
    // sum per customer, and the frame order (date, orderkey) is unique,
    // so the sequential double additions are identical cross-engine
    "q_running_revenue" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir)
        .filter(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice")).over(w).as("running_rev"))
        .orderBy("o_custkey", "o_orderkey")
    }),
    // ----- unpivot/melt: wide measures → (measure, val) long form
    "q_unpivot_lineitem" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") < 1000)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_tax")),
          "measure", "val")
        .orderBy("l_orderkey", "l_linenumber", "measure")),
    // ----- set operation: EXCEPT
    "q_custkeys_1995_not_1996" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      o.filter(year(col("o_orderdate")) === 1995).select("o_custkey").distinct()
        .except(
          o.filter(year(col("o_orderdate")) === 1996).select("o_custkey").distinct())
        .orderBy("o_custkey")
    }),
    // ----- semi-join (TPC-H Q4 shape): orders with at least one bulky
    // lineitem — left_semi keeps the probe side un-duplicated, and the
    // filter on the big build side cuts it before the join
    "q_priority_bulky_orders" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === 1995)
      val bulky = Tables.lineitem(s, dir)
        .filter(col("l_quantity") >= 45.0)
        .select(col("l_orderkey").as("o_orderkey"))
      o.join(bulky, Seq("o_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    }),
    // ----- anti-join: customers with NO 1995 order (NOT EXISTS)
    "q_customers_without_orders" -> ((s, dir) => {
      val o95 = Tables.orders(s, dir)
        .filter(year(col("o_orderdate")) === 1995)
        .select(col("o_custkey").as("c_custkey"))
      Tables.customer(s, dir)
        .join(o95, Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),
    // ----- conditional-aggregation ratio (TPC-H Q14 shape): promo
    // revenue share, part dimension broadcast into the lineitem scan
    "q_promo_revenue" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
        .filter(year(col("l_shipdate")) === 1996)
      val p = Tables.part(s, dir).select("p_partkey", "p_type")
      val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
          sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))) /
          sum(rev)).as("promo_pct"))
    }),
    // ----- correlated scalar subquery (TPC-H Q17 shape): revenue of
    // small-quantity lineitems, threshold = 0.2×avg quantity PER PART.
    // Written as the decorrelated join Catalyst would produce anyway:
    // the per-part avg aggregation joins back onto the filtered scan
    // (brand dim broadcast). Quantities are integer-valued doubles, so
    // the avg is an exact sum / exact count — cross-engine stable.
    "q_small_qty_revenue" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#4")
        .select("p_partkey")
      val branded = l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      val thresh = branded.groupBy("l_partkey")
        .agg((lit(0.2) * avg(col("l_quantity"))).as("qty_thresh"))
      branded.join(thresh, Seq("l_partkey"))
        .filter(col("l_quantity") < col("qty_thresh"))
        .agg((sum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
    }),
    // ----- grouped-HAVING IN-subquery (TPC-H Q18 shape): customers
    // with bulk orders — the order keys whose summed quantity clears a
    // threshold, joined back to orders + customer. The aggregate runs
    // on the fact table first; the dimension joins touch only the
    // surviving keys (broadcast-sized at any SF).
    "q_big_orders" -> ((s, dir) => {
      val bigKeys = Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 250.0)
      Tables.orders(s, dir)
        .join(bigKeys, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_mktsegment"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy("o_orderkey")
    }),
    // ----- outer-join distribution (TPC-H Q13 shape): orders per
    // customer INCLUDING the zero-order customers (the left join is the
    // semantics — an inner join silently loses the 0 bucket), then the
    // count-of-counts histogram. Pre-filtering orders before the join ≡
    // Q13's ON-clause filter; all counts integer → hash-exact.
    "q_order_count_distribution" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_orderkey", "o_custkey")
      Tables.customer(s, dir).select("c_custkey")
        .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),
    // ----- disjunctive join predicate (TPC-H Q19 shape): an OR of
    // per-(brand, size, quantity) bands that can't be pushed as one
    // conjunct. The join stays a single broadcast hash join with the
    // disjunction evaluated post-join in codegen — NOT three unioned
    // scans (which would read lineitem three times at 100 TB).
    "q_disjunctive_revenue" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
      val p = Tables.part(s, dir).select("p_partkey", "p_brand", "p_size")
      val d1 = col("p_brand") === "Brand#1" &&
        col("p_size").between(1, 15) && col("l_quantity").between(1, 20)
      val d2 = col("p_brand") === "Brand#2" &&
        col("p_size").between(10, 30) && col("l_quantity").between(10, 30)
      val d3 = col("p_brand") === "Brand#3" &&
        col("p_size").between(20, 50) && col("l_quantity").between(20, 40)
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(d1 || d2 || d3)
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
    }),
    // ----- scalar-subquery threshold + anti-join (TPC-H Q22 shape):
    // high-balance customers with NO recent orders, grouped by nation.
    // The classic "never ordered" anti-join is empty on this fixture
    // (every customer has orders), so dormancy is the cutoff date. The
    // avg threshold is decimal-exact: `bal * cnt > sum` over
    // DECIMAL(18,2) avoids the order-dependent double avg that could
    // flip a boundary customer between engines; only the REPORTED total
    // goes back to double (tolerance-compared).
    "q_dormant_customers" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val pos = c.filter(col("c_acctbal") > 0.0)
        .agg(sum(col("c_acctbal").cast("decimal(18,2)")).as("bal_sum"),
          count(lit(1)).as("bal_cnt"))
      val recent = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select("o_custkey").distinct()
      c.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .crossJoin(broadcast(pos))
        .filter(col("c_acctbal").cast("decimal(18,2)") * col("bal_cnt")
          > col("bal_sum"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .as("totacctbal"))
        .orderBy("c_nationkey")
    }),
    // ----- set operation: INTERSECT
    "q_custkeys_both_years" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      o.filter(year(col("o_orderdate")) === 1995).select("o_custkey").distinct()
        .intersect(
          o.filter(year(col("o_orderdate")) === 1996).select("o_custkey").distinct())
        .orderBy("o_custkey")
    }),
    // ===== training-data pipeline: text analysis =====
    "q_text_stats" -> ((s, dir) => {
      val st = TextAnalysis.textStats(col("text"))
      Tables.documents(s, dir).select(
          col("doc_id"),
          st.getField("token_count").as("token_count"),
          st.getField("char_count").as("char_count"),
          when(st.getField("char_count") === 0, lit(0.0))
            .otherwise(st.getField("punct_count").cast("double")
              / st.getField("char_count")).as("punct_ratio"),
          (st.getField("stopword_count").cast("double")
            / st.getField("token_count")).as("stopword_ratio"))
        .orderBy("doc_id")
    }),
    "q_text_quality" -> ((s, dir) =>
      Tables.documents(s, dir).select(
          col("doc_id"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),
    "q_lang_id" -> ((s, dir) =>
      Tables.documents(s, dir).select(
          col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),
    // classifier-grade upgrade: hashed char-2/3-gram integer heads
    // (Cavnar–Trenkle profiles of the marker lexicons), BIGINT scores
    // with the routing margin, PLUS the v1 marker prediction and an
    // agree flag — the parity/delta report in the same row. Fixture
    // delta (sf0.01): agree 11.8% — the SYNTHETIC SQL-word corpus
    // trips the de/fr heads on substrings ("order" ⊃ "der"), which is
    // exactly what the delta report exists to expose; real deployments
    // swap in heads trained on real corpora (the artifact is the knob,
    // the machinery is the deliverable)
    "q_lang_id_v2" -> ((s, dir) =>
      Tables.documents(s, dir).select(
          col("doc_id"),
          TextAnalysis.langIdV2(col("text")).as("__v2"),
          TextAnalysis.langId(col("text")).as("lang_v1"))
        .select(col("doc_id"), col("__v2.lang").as("lang_v2"),
          col("__v2.score").as("score"), col("__v2.margin").as("margin"),
          col("lang_v1"), (col("__v2.lang") === col("lang_v1")).as("agree"))
        .orderBy("doc_id")),
    // Unicode-script routing: the fixture is pure ASCII, so a
    // deterministic mixed-script tail is appended IN the query:
    // doc_id%5 Cyrillic U+043F, %3 CJK U+4E2D, %2 Arabic U+0645 —
    // every script count/fraction and the dominance tie-break
    // exercised on every row, cross-engine. Spark side uses string
    // literals (Spark's chr() is ASCII-mod-256, NOT DuckDB's
    // codepoint chr — measured, not assumed)
    "q_script_mix" -> ((s, dir) =>
      TextAnalysis.scriptMix(
        Tables.documents(s, dir).select(col("doc_id"),
          concat(col("text"),
            repeat(lit("п"), pmod(col("doc_id"), lit(5)).cast("int")),
            repeat(lit("中"), pmod(col("doc_id"), lit(3)).cast("int")),
            repeat(lit("م"), pmod(col("doc_id"), lit(2)).cast("int")))
            .as("text")),
        "doc_id", "text").orderBy("doc_id")),
    // Okapi BM25 top-25 for a 3-term query — the sparse-retrieval
    // complement to the dense ANN family (rank_fusion is the hybrid
    // glue). k1 = 5/4, b = 3/4: exact binary constants cross-engine
    "q_bm25_topk" -> ((s, dir) =>
      TextAnalysis.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
          Seq("spark", "query", "vector"), k = 25)
        .select(col("id").as("doc_id"), col("n_matched"), col("bm25"))),
    // positional refinement: spark NEAR/5 query — pair counts and the
    // closest gap, integer-exact
    "q_proximity_match" -> ((s, dir) =>
      TextAnalysis.proximityMatch(Tables.documents(s, dir), "doc_id",
          "text", "spark", "query", window = 5)
        .select(col("id").as("doc_id"), col("n_pairs"), col("min_gap"))
        .orderBy("doc_id")),
    // hit display: first "vector" occurrence ±12 chars
    "q_kwic" -> ((s, dir) =>
      TextAnalysis.kwicSnippets(Tables.documents(s, dir), "doc_id",
          "text", "vector", context = 12)
        .select(col("id").as("doc_id"), col("pos"), col("snippet"))
        .orderBy("doc_id")),
    "q_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir).select(
          col("doc_id"),
          TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),
    // LLM token-budget estimation: GPT-2-style pre-tokenizer match count
    "q_bpe_token_count" -> ((s, dir) =>
      Tables.documents(s, dir).select(
          col("doc_id"),
          TextAnalysis.bpeTokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")),
    // TRUE BPE (the real merge loop over the embedded merges table, not
    // the pre-tokenizer estimate above). Planted text: merge-rich words
    // chosen by doc_id arithmetic + a bounded same-pair run
    // ('thththth' — the case that stresses the oracle's replace-pass
    // depth), lowercase+space only so '|' is a safe symbol delimiter
    // on the oracle side. The DuckDB twin replays the SAME table via
    // TextAnalysis.bpeOracleCtes (generated from it — cannot drift).
    "q_bpe_tokens" -> ((s, dir) => {
      val planted = concat(
        lit("the "),
        element_at(array(lit("thing"), lit("theme"), lit("resting"),
          lit("rats"), lit("stone")), (col("doc_id") % 5 + 1).cast("int")),
        lit(" and "),
        element_at(array(lit("rest"), lit("oration"), lit("intent")),
          (col("doc_id") % 3 + 1).cast("int")),
        lit(" thththth in the end"))
      Tables.documents(s, dir)
        .withColumn("__toks", TextAnalysis.bpeTokens(planted))
        .select(col("doc_id"),
          array_join(col("__toks"), "|").as("bpe_text"),
          size(col("__toks")).cast("long").as("n_bpe"))
        .orderBy("doc_id")
    }),
    // BPE vocabulary TRAINING: learn 8 merge rules from the corpus
    // itself (q_bpe_tokens APPLIES an embedded table; this derives
    // one). Corpus pays one tokenize+count pass; the loop runs on the
    // vocab-sized word table with a TakeOrdered argmax per step and a
    // byte-order tie-break, so the learned table is a pure function of
    // the corpus and the oracle replays the loop as unrolled
    // MATERIALIZED CTEs generated from the same constants
    "q_bpe_train" -> ((s, dir) =>
      bpeMergesTrained(s, dir).orderBy("step")),
    // Unigram-LM tokenizer TRAINING (SentencePiece-style Viterbi-EM):
    // frequent-substring seed → 2 hard-EM rounds of segment/recount/
    // prune under whole-bit quantized scores — every quantity BIGINT,
    // so the oracle replays the loop as unrolled MATERIALIZED CTE
    // rounds with EXHAUSTIVE per-word path enumeration (the Spark
    // Viterbi DP is checked against the full argmax, ties included)
    "q_unigram_train" -> ((s, dir) =>
      unigramVocabTrained(s, dir).orderBy("piece")),
    // ... and APPLY: corpus re-segmented under the learned table (the
    // train→apply composition, like q_bpe_train feeding bpeTokens);
    // per-doc pieces joined with '|' keeps the output doc-sized
    "q_unigram_lm_tokens" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val vocab = unigramVocabSeq(s, dir)
      docs
        .select(col("doc_id"), graft.expressions.UnigramSegment
          .segment(col("text"), vocab).as("__t"))
        .filter(size(col("__t")) > 0)
        .select(col("doc_id"),
          array_join(col("__t"), "|").as("uni_text"),
          size(col("__t")).cast("long").as("n_pieces"))
        .orderBy("doc_id")
    }),
    // ... and the PRODUCTION apply shape: segmentation under a SHIPPED
    // artifact table (train once, deploy the table — no retraining in
    // the apply pass; closes the "apply path retrains per query" edge).
    // The fixed piece table stands in for a stored unigramTrain output;
    // the oracle replays Viterbi exhaustively against the same literal
    "q_unigram_apply" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.unigramApplyTable(Tables.documents(s, dir), "doc_id",
          "text", unigramArtifact.toDF("piece", "cnt"))
        .orderBy("doc_id")
    }),
    // Tokenizer EVALUATION: train BOTH learners (BPE merges + unigram
    // EM) on the corpus, segment the weighted distinct-word table
    // under each, report fertility (pieces/word) and chars/piece —
    // the side-by-side a pipeline runs before committing to a
    // tokenizer. Integer totals; one double division each
    "q_tokenizer_fertility" -> ((s, dir) =>
      TextAnalysis.tokenizerFertility(Tables.documents(s, dir), "text",
        merges = bpeMergesTrained(s, dir).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq,
        uni = unigramVocabSeq(s, dir))),
    // PII scrub: a synthetic email+URL suffix is appended IN the query
    // so every row exercises both patterns cross-engine (the fixture
    // text itself contains neither)
    "q_scrub_pii" -> ((s, dir) =>
      Tables.documents(s, dir).select(
          col("doc_id"),
          TextAnalysis.scrubPii(concat(col("text"),
            lit(" contact admin@example.com or https://data.example.org/x?id=1 end")))
            .as("scrubbed"))
        .orderBy("doc_id")),
    // v2 scrub adds phones (all three conservative shapes) + IPv4; the
    // suffix fires every pattern on every row, incl. the ordering
    // traps (IP inside a URL must come out <URL>, not half-<IP>)
    "q_scrub_pii_v2" -> ((s, dir) =>
      Tables.documents(s, dir).select(
          col("doc_id"),
          TextAnalysis.scrubPiiV2(concat(col("text"),
            lit(" call +1 (212) 555-0100 or (415) 555-0123 or" +
              " 555-123-4567, server 10.0.42.7, see" +
              " http://10.0.0.1/admin and admin@example.com end")))
            .as("scrubbed"))
        .orderBy("doc_id")),
    // NFC + control-strip + space-collapse + trim; the appended suffix
    // plants a decomposed e+U+0301, a control byte, a double space, and
    // a kept tab on EVERY row so all four cleaning stages are exercised
    // cross-engine (the fixture text alone is mostly already-clean)
    "q_clean_text" -> ((s, dir) =>
      Tables.documents(s, dir).select(
          col("doc_id"),
          TextAnalysis.cleanText(concat(col("text"),
            lit(" cafe\u0301\u0001  spaced\tend ")))
            .as("clean"))
        .orderBy("doc_id")),
    // v2 adds the invisible class (\x{...} dialect-intersection
    // spelling): a ZWSP splitting a word that must rejoin, an RLO/PDF
    // bidi pair (the Trojan-Source shape), a soft hyphen, plus v1's
    // decomposed accent + control + double space — every stage fires
    // on every row
    "q_clean_text_v2" -> ((s, dir) =>
      Tables.documents(s, dir).select(
          col("doc_id"),
          TextAnalysis.cleanTextV2(concat(col("text"),
            lit(" zero\u200Bwidth bidi\u202Eevil\u202C soft\u00ADhyphen" +
              " cafe\u0301\u0001  end ")))
            .as("clean"))
        .orderBy("doc_id")),
    // accent folding (NFD → drop Mn → NFC). The fixture text is pure
    // ASCII (fast-path identity), so the prefix plants composed é,
    // DECOMPOSED e+U+0301, stroke-letter Đ (must survive — not a
    // combining mark), and CJK 北 on every row: the fold does real work
    // cross-engine on all 500 rows, not just in the unit spec
    "q_fold_accents" -> ((s, dir) =>
      Tables.documents(s, dir).select(
          col("doc_id"),
          TextAnalysis.foldAccents(concat(
            lit("Çé é Đông 北 "), col("text")))
            .as("folded"))
        .orderBy("doc_id")),
    // composed curation pipeline: exact-dedup ∘ quality gate ∘ lang gate
    // — the end-to-end shape a training-data recipe actually runs; each
    // stage reuses an already-oracle-checked operator
    "q_curated_corpus" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      docs.join(Dedup.exactDedup(docs, "doc_id", "text"), Seq("doc_id"))
        .filter(TextAnalysis.qualityScore(col("text")) >= 0.7 &&
          TextAnalysis.langId(col("text")) === "en")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    }),
    // v2 recipe over the round-4 stages: NFC-clean → exact-dedup ON THE
    // CLEANED bytes (normalization makes visually-equal dups collide) →
    // Gopher repetition gates → temperature rebalance, each stage an
    // already-oracle-checked operator and the whole chain re-adjudicated
    // end-to-end as composed CTEs
    "q_curated_corpus_v2" -> ((s, dir) => {
      val cleaned = Tables.documents(s, dir)
        .withColumn("text", TextAnalysis.cleanText(col("text")))
      val deduped = cleaned.join(
        Dedup.exactDedup(cleaned, "doc_id", "text"), Seq("doc_id"), "left_semi")
      val gated = TextAnalysis.dropRepetitive(deduped, "doc_id", "text",
        maxDupFrac = 0.55, maxTopFrac = 0.12)
      Scale.headCapSample(gated, "source", "doc_id", c = 5.0)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),
    // v3 recipe — the round-6 scorers composed into the curation
    // pipeline: Gopher rule gate ∩ below-corpus-mean bigram perplexity
    // (formulaic/boilerplate tail cut) ∩ above-corpus-mean per-feature
    // DSIR weight (target-affinity cut). Mean-relative thresholds keep
    // every stage non-degenerate at any SF; both models train on the
    // FULL (sliced) corpus (model quality should not depend on gate
    // order), and the means ride 1-row broadcasts. Adjudicated on the
    // mod-2 doc slice (the q_dedup_cascade precedent: each constituent
    // carries its own full-corpus query; the composition re-paying both
    // model derivations at full volume teaches nothing extra).
    // Both mean gates carry a 1e-9 margin (identically in the oracle):
    // the mean is built FROM the scores, so a doc landing exactly at it
    // is the realistic case where Spark's and DuckDB's summation orders
    // disagree in the last ulps and strict </> would flip membership.
    "q_curated_corpus_v3" -> ((s, dir) => {
      // ce/ds are consumed TWICE each (mean agg + filter join) —
      // unmaterialized, the bigram-CE unigram chain and the DSIR model
      // aggregation re-ran per consumer (r16, guide §1.2). The docs
      // slice itself is NOT materialized: an A/B measured the
      // localCheckpoint of the full-text slice SLOWER than the three
      // columnar parquet re-scans it saves (3.62 s vs 3.34 s at calib
      // 0.36/0.34, control q_quality_classifier flat) — pushdown-
      // friendly re-scan beats buffering text bytes, the same trade
      // Tables.scala documents for .cache()
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 2 === 0)
      val gate = docs.filter(
        TextAnalysis.gopherRules(col("text"), minStopHits = 1)
          .getField("pass"))
      val ce = TextAnalysis.bigramCrossEntropy(docs, "doc_id", "text")
        .materialized // ≤ slice-rows (doc_id, n_bigrams, bits_per_token)
      val ceMean = ce.agg(avg(col("bits_per_token")).as("__cem"))
      val ds = TextAnalysis.dsirLogWeights(docs, "doc_id", "text",
          col("lang") === "en")
        .withColumn("__wpf", col("log_weight") / col("n_feats"))
        .materialized // ≤ slice-rows (doc_id, n_feats, log_weight, __wpf)
      val dsMean = ds.agg(avg(col("__wpf")).as("__dsm"))
      gate
        .join(ce.crossJoin(broadcast(ceMean))
            .filter(col("bits_per_token") < col("__cem") - lit(1e-9))
            .select("doc_id"),
          Seq("doc_id"), "left_semi")
        .join(ds.crossJoin(broadcast(dsMean))
            .filter(col("__wpf") > col("__dsm") + lit(1e-9)).select("doc_id"),
          Seq("doc_id"), "left_semi")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),
    // v4 curation recipe (round-7 composition): learned-classifier
    // gate (integer-exact fastText-style score > 0) ∩ NOT contained
    // ≥0.9 in a LONGER doc of the slice (drop the quote/excerpt side,
    // keep the container; equal lengths keep the smaller id). The
    // classifier decides QUALITY; containment removes directed
    // redundancy the symmetric near-dup recipes cannot see. Mod-2
    // slice, the v3 cost precedent
    // v5: the RefinedWeb ORDER — cross-doc boilerplate-line removal
    // FIRST, then the gates run on the CLEANED text (a doc can fail a
    // length floor only after its chrome is stripped, and the
    // classifier must not score boilerplate tokens): line pass →
    // ≥ 40-token floor (splits the corpus ~2:1 at every SF) →
    // integer-exact classifier gate. Emits the cleaning accounting
    "q_curated_corpus_v5" -> ((s, dir) => {
      val wrapped = Tables.documents(s, dir).select(col("doc_id"),
        regexp_replace(col("text"), " the ", "\n").as("text"))
      val cleaned = Dedup.boilerplateLines(wrapped, "doc_id", "text",
          minDupDocs = 3)
        .select(col("doc_id"),
          regexp_replace(col("text"), "\n", " ").as("text"),
          col("n_lines"), col("n_dropped"))
        .materialized // feeds the classifier AND the final gate
      // shipped-artifact apply path (ClassifierScore codegen — one
      // scan-local pass, zero shuffles; score-identical to the
      // qualityClassifier join form under the dense fixture table, the
      // q_classifier_apply parity contract). The trainable-join form
      // stays adjudicated by q_quality_classifier itself
      val pos = TextAnalysis.classifierApplyTable(cleaned, "doc_id",
          "text", TextAnalysis.classifierFixtureWeights(s), buckets = 4096)
        .filter(col("label")).select("doc_id")
      cleaned
        .filter(length(trim(col("text"))) > 0 &&
          size(split(trim(col("text")), "\\s+")) >= 40)
        .join(pos, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("n_lines"), col("n_dropped"))
        .orderBy("doc_id")
    }),
    // v6: the EXTRACTION tier composed (round-9 operators end-to-end):
    // crawl pages → mainContent block classifier → ≥ 40-token floor on
    // the EXTRACTED text → shipped-artifact classifier gate on the
    // extracted text (a page can fail length only after its chrome is
    // gone; the classifier never scores nav/footer/link-list tokens)
    "q_curated_corpus_v6" -> ((s, dir) => {
      val mc = mainContentExtracted(s, dir) // shared with q_main_content
      val pos = TextAnalysis.classifierApplyTable(
          mc.select(col("doc_id"), col("main_text")),
          "doc_id", "main_text",
          TextAnalysis.classifierFixtureWeights(s, 512), buckets = 512)
        .filter(col("label")).select("doc_id")
      mc.filter(col("n_kept") > 0 &&
          size(split(trim(col("main_text")), "\\s+")) >= 40)
        .join(pos, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("n_blocks"), col("n_kept"))
        .orderBy("doc_id")
    }),
    "q_curated_corpus_v4" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 2 === 0)
      // shipped-artifact apply path — see q_curated_corpus_v5's note
      val pos = TextAnalysis.classifierApplyTable(docs, "doc_id", "text",
          TextAnalysis.classifierFixtureWeights(s), buckets = 4096)
        .filter(col("label")).select("doc_id")
      val meta = docs.select(col("doc_id"), col("n_chars"))
      val dropped = Dedup.containmentPairs(docs, "doc_id", "text",
          n = 3, threshold = 0.9, maxShingleDf = Some(shingleDfCap))
        .join(meta.select(col("doc_id").as("id_a"),
          col("n_chars").as("len_a")), "id_a")
        .join(meta.select(col("doc_id").as("id_b"),
          col("n_chars").as("len_b")), "id_b")
        .filter(col("len_b") > col("len_a") ||
          (col("len_b") === col("len_a") && col("id_b") < col("id_a")))
        .select(col("id_a").as("doc_id"))
      docs.join(pos, Seq("doc_id"), "left_semi")
        .join(dropped, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),
    // the release report a dataset ships with: corpus-level accounting
    // in ONE aggregation pass, melted to a (metric, value) card via
    // stack (no per-metric rescans — the same Expand shape as
    // profileColumns). All metrics are count/sum/divide portable.
    "q_dataset_card" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val toks = when(length(trim(col("text"))) === 0, lit(0L))
        .otherwise(size(TextAnalysis.tokens(col("text"))).cast("long"))
      d.agg(
          count(lit(1)).cast("double").as("n_docs"),
          count(col("text")).cast("double").as("n_texts"),
          countDistinct(col("text")).cast("double").as("n_uniq_texts"),
          countDistinct(col("source")).cast("double").as("n_sources"),
          sum(toks).cast("double").as("total_tokens"),
          sum(length(col("text"))).cast("double").as("total_chars"))
        .select(expr(
          """stack(6,
             'n_docs', n_docs,
             'n_exact_dup_docs', n_texts - n_uniq_texts,
             'n_sources', n_sources,
             'total_tokens', total_tokens,
             'total_chars', total_chars,
             'mean_doc_tokens', total_tokens / n_docs) AS (metric, value)"""))
        .orderBy("metric")
    }),
    // ===== training-data pipeline: deduplication =====
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactDedup(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // the spoof-group REPORT over the same planted corpus: which
    // skeleton groups collapsed (2+ members), their canonical id and
    // the spoofed-member count — the governance read next to
    // q_homoglyph_dedup's per-doc verdicts
    "q_skeleton_dup_groups" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val spoof = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + lit(300000L)).as("doc_id"),
          translate(col("text"), "aeocp", cyrSpoof).as("text"))
      docs.unionByName(spoof)
        .select(col("doc_id"),
          sha2(TextAnalysis.confusableSkeleton(col("text")), 256)
            .as("__d"))
        .groupBy("__d")
        .agg(count(lit(1)).as("n_members"),
          min("doc_id").as("canonical_id"),
          sum(when(col("doc_id") >= 300000L, 1L).otherwise(0L))
            .as("n_spoofed"))
        .filter(col("n_members") >= 2)
        .select("canonical_id", "n_members", "n_spoofed")
        .orderBy("canonical_id")
    }),
    // homoglyph-spoofed duplicates (the SEO-spam dedup-evasion shape):
    // every mod-7 doc gets a spoofed copy (id + 300000) whose a/e/o/c/p
    // are swapped for their Cyrillic lookalikes — byte-exact dedup
    // hashes them apart; the confusable-skeleton fold (UTS #39 subset)
    // collapses them back onto the original. Grouping key is
    // sha2(skeleton), so the dedup shuffle still moves digests, never
    // text; n_confusables is the per-doc spoofing signal
    "q_homoglyph_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val spoof = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + lit(300000L)).as("doc_id"),
          translate(col("text"), "aeocp", cyrSpoof).as("text"))
      val sk = docs.unionByName(spoof).select(col("doc_id"),
        sha2(TextAnalysis.confusableSkeleton(col("text")), 256)
          .as("__digest"),
        TextAnalysis.confusableCount(col("text")).as("n_confusables"))
      val canon = sk.groupBy("__digest").agg(min("doc_id").as("__keep"))
      sk.join(canon, Seq("__digest"))
        .select(col("doc_id"), col("n_confusables"),
          (col("doc_id") === col("__keep")).as("keep"))
        .orderBy("doc_id")
    }),
    // substring-level exact dedup (Lee et al. 2022): maximal duplicated
    // token runs via sliding k-gram anchors. The planted fixture gives
    // every doc a VARIABLE-length unique prefix (doc_id-derived, so the
    // shared blocks land at a different offset in every doc — the
    // straddles-every-fixed-window-boundary case dedupSpans misses by
    // construction), one 12-token block shared by the mod-3 class, and
    // one 10-token block shared by the mod-4 class, separated by unique
    // filler so they surface as distinct maximal spans.
    "q_substring_dedup" -> ((s, dir) => {
      val planted = concat_ws(" ",
        array_join(transform(
          sequence(lit(0), (col("doc_id") % 7 + 3).cast("int")),
          j => concat(lit("u"), col("doc_id"), lit("x"), j)), " "),
        when(col("doc_id") % 3 === 0, lit(
          "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")),
        concat(lit("v"), col("doc_id"), lit("y0 v"), col("doc_id"),
          lit("y1 v"), col("doc_id"), lit("y2")),
        when(col("doc_id") % 4 === 0, lit(
          "one two three four five six seven eight nine ten")),
        concat(lit("w"), col("doc_id"), lit("z")))
      Dedup.duplicateSubstringSpans(
          Tables.documents(s, dir).select(col("doc_id"), planted.as("text")),
          "doc_id", "text", minTokens = 8)
        .orderBy("doc_id", "span_start")
    }),
    // capped df is the production default — the cap is what bounds the
    // inverted-index join's Σ df(s)² cost under boilerplate at 100 TB.
    // All jaccard-family queries below read the ONE materialized
    // jaccardPairs graph (PairGraph), not a per-query re-derivation.
    "q_jaccard_neardup" -> ((s, dir) =>
      jaccardPairs(s, dir).orderBy("id_a", "id_b")),
    // directed containment (asymmetric Jaccard): quote docs are planted
    // IN the query (doc_id % 37 → the 15-token excerpt at tokens 6..20,
    // id + 10M) so genuine small-inside-large pairs exist at every SF —
    // exactly the pairs the symmetric size-ratio prefilter excludes.
    // The excerpt's shingles are all in its source, so each planted
    // pair must surface at containment 1.0 despite Jaccard ≈ 0.2
    "q_containment_pairs" -> ((s, dir) => {
      val base = Tables.documents(s, dir).select("doc_id", "text")
      val quotes = base.filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          array_join(slice(TextAnalysis.tokens(col("text")), 6, 15), " ")
            .as("text"))
      Dedup.containmentPairs(base.unionAll(quotes), "doc_id", "text",
          n = 3, threshold = 0.9, maxShingleDf = Some(shingleDfCap))
        .orderBy("id_a", "id_b")
    }),
    "q_minhash_neardup" -> ((s, dir) =>
      minhashPairs(s, dir).orderBy("id_a", "id_b")),
    // MOSS winnowing: min-in-window fingerprint selection over the
    // ordered trigram sha52 sequence (guarantee: shared runs of >= 6
    // tokens share a print; density ~2/5 of the gram stream)
    "q_winnowing" -> ((s, dir) =>
      Dedup.winnowedFingerprints(Tables.documents(s, dir), "doc_id",
          "text", n = 3, window = 4)
        .select(col("id").as("doc_id"), col("pos"), col("print"))
        .orderBy("doc_id", "pos")),
    // the detection join over winnowed prints — 24 mirror-ish pairs at
    // minShared = 5 on the fixture, ~3x sparser index than raw shingles
    "q_winnow_overlap" -> ((s, dir) =>
      Dedup.winnowedOverlapPairs(Tables.documents(s, dir), "doc_id",
          "text", n = 3, window = 4, minShared = 5L)
        .select(col("id_a"), col("id_b"), col("shared"))
        .orderBy("id_a", "id_b")),
    // banding-parameter evaluation harness: candidate-set precision/
    // recall of 16-hash/8-band sha52 minhash vs the exhaustive J >= 0.6
    // truth — the measurement that justifies (or rejects) a banding
    // config before it runs at corpus scale. DELIBERATELY lossy
    // parameters (r = 2 rows/band admits mid-similarity pairs) so both
    // error terms are exercised; every bucket collision replays
    // bit-for-bit in DuckDB because the signature hash is the portable
    // sha52, not xxhash64
    "q_minhash_pr" -> ((s, dir) =>
      Dedup.minhashBandingReport(Tables.documents(s, dir), "doc_id",
        "text", n = 3, numHashes = 16, bands = 8, threshold = 0.6)),
    // the Hamming-family twin: candidate P/R of a DELIBERATELY lossy
    // 4-band SimHash config at maxDist 5 — the regime
    // simhashNearDupPairs refuses loudly (pigeonhole needs 6 bands);
    // this report is how the refusal's price is QUANTIFIED before
    // choosing band count. Truth via the complete 6-band generator
    // Spark-side (a theorem, spec'd on planted band-defeating masks),
    // exhaustive packed-halves pairwise in the oracle
    "q_simhash_pr" -> ((s, dir) =>
      Dedup.simhashBandingReport(Tables.documents(s, dir), "doc_id",
        "text", maxDist = 5, evalBands = 4,
        tokenHash = Dedup.PortableSha)),
    // AllPairs/PPJoin prefix filtering: exact full-universe Jaccard
    // with candidates only from each doc's rarest-token prefix — the
    // third candidate scheme next to the df-cap (changes the universe)
    // and minhash banding (probabilistic). Exact over the full
    // universe ⇒ it shares the exhaustive oracle with minhash (whose
    // banding is recall-1 at these params)
    "q_prefix_jaccard_pairs" -> ((s, dir) =>
      Dedup.prefixJaccardPairs(Tables.documents(s, dir), "doc_id",
          "text", n = 3, threshold = 0.6)
        .orderBy("id_a", "id_b")),
    // cross-source duplication matrix — "how much does source X
    // duplicate source Y": every surviving near-dup edge attributed to
    // its unordered source pair. Corpus governance from the CACHED pair
    // graph: marginal cost is an edge-list-sized join (sources keyed by
    // doc_id; AQE broadcasts the edges when small), no re-derivation
    "q_source_dup_matrix" -> ((s, dir) => {
      val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      jaccardPairs(s, dir)
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")),
          "id_a")
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")),
          "id_b")
        .groupBy(least(col("sa"), col("sb")).as("source_x"),
          greatest(col("sa"), col("sb")).as("source_y"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_x", "source_y")
    }),
    // the corpus AFTER near-dup removal (keep-smallest policy) — the
    // dedup family's end product, previously spec-only
    "q_drop_neardups" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dropNearDups(docs, "doc_id", jaccardPairs(s, dir))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),
    "q_neardup_components" -> ((s, dir) =>
      jaccardComponentLabels(s, dir).orderBy("doc_id")),
    // cluster-SIZE histogram over the same labeling: the governance
    // read ("is dedup a 2% trim or a 40% cut") — rides the cached pair
    // graph, marginal cost two label-sized aggregations
    "q_dup_cluster_sizes" -> ((s, dir) =>
      Dedup.componentSizeProfile(jaccardComponentLabels(s, dir))
        .orderBy("cluster_size")),
    // the O(log²)-round star-contraction alternative over the SAME pair
    // graph — hash-adjudicated against the same recursive-CTE oracle
    // (previously property-spec'd ≡ min-label only)
    "q_neardup_components_star" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.nearDupComponentsStar(docs, "doc_id", jaccardPairs(s, dir))
        .orderBy("doc_id")
    }),
    // incremental component maintenance: every 5th doc plays the new
    // crawl batch — base labels come from the OLD corpus only, the
    // increment folds in through label-graph contraction, and the
    // result must hash-match a FROM-SCRATCH recompute over the full
    // corpus (the oracle). Pairs are UNCAPPED jaccard: the merge
    // theorem needs a corpus-independent pair rule (a df-cap computed
    // per corpus would differ between the increments and the recompute)
    "q_incremental_components" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val old = docs.filter(col("doc_id") % 5 =!= 0)
      val fresh = docs.filter(col("doc_id") % 5 === 0)
      val oldWithin = Dedup.jaccardNearDupPairs(old, "doc_id", "text",
        n = 3, threshold = 0.6).materialized
      // standing labels: the stored labeling mergeComponents folds into
      val baseLabels =
        Dedup.nearDupComponents(old, "doc_id", oldWithin).materialized
      val withinNew = Dedup.jaccardNearDupPairs(fresh, "doc_id", "text",
          n = 3, threshold = 0.6).materialized
        .select("id_a", "id_b")
      val across = Dedup.jaccardNearDupPairsAcross(
          fresh, "doc_id", "text", old, "doc_id", "text",
          n = 3, threshold = 0.6).materialized
        .select(col("id_left").as("id_a"), col("id_right").as("id_b"))
      Dedup.mergeComponents(baseLabels, fresh, "doc_id",
          withinNew.unionByName(across))
        .orderBy("doc_id")
    }),
    // the nightly-crawl-increment pipeline END-TO-END: per-doc hygiene
    // (cleanTextV2 over planted-dirty pages, the q_clean_text_v2
    // suffix) → ≥20-token floor → shipped-artifact classifier gate →
    // near-dup components maintained INCREMENTALLY (base labels from
    // the standing mod-5≠0 corpus only; the mod-5=0 increment folds in
    // through within + across pairs and mergeComponents' label-graph
    // contraction) → keep-canonical (min id per component). The oracle
    // is a FROM-SCRATCH recompute of the same curation over the full
    // corpus: hash equality IS the merge theorem extended to the whole
    // composed chain — valid because every pre-dedup stage is per-doc
    // and the pair rule is uncapped jaccard, both corpus-independent.
    // (The operational file-manifest + exactly-once-commit form of the
    // same composition is IncrementalCurationSpec over
    // IncrementalFiles.readNewParquet.)
    "q_incremental_curation" -> ((s, dir) => {
      val dirty = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" zero\u200Bwidth bidi\u202Eevil\u202C" +
          " soft\u00ADhyphen cafe\u0301\u0001  end ")).as("raw"))
      // the gated-survivor frame (clean → floor → classifier gate)
      // feeds every pair derivation below and the final join
      val cleaned = dirty
        .select(col("doc_id"),
          TextAnalysis.cleanTextV2(col("raw")).as("text"))
        .filter(size(split(trim(col("text")), "\\s+")) >= 20)
        .materialized // feeds the classifier chain AND the gate join
      val pos = TextAnalysis.classifierApplyTable(cleaned, "doc_id",
          "text", TextAnalysis.classifierFixtureWeights(s, 512),
          buckets = 512)
        .filter(col("label")).select("doc_id")
      val surv = cleaned.join(pos, Seq("doc_id"), "left_semi").materialized
      val old = surv.filter(col("doc_id") % 5 =!= 0)
      val fresh = surv.filter(col("doc_id") % 5 === 0)
      val oldWithin = Dedup.jaccardNearDupPairs(old, "doc_id", "text",
        n = 3, threshold = 0.6).materialized
      // standing labels: the stored labeling mergeComponents folds into
      val baseLabels =
        Dedup.nearDupComponents(old, "doc_id", oldWithin).materialized
      val withinNew = Dedup.jaccardNearDupPairs(fresh, "doc_id", "text",
          n = 3, threshold = 0.6).materialized
        .select("id_a", "id_b")
      val across = Dedup.jaccardNearDupPairsAcross(fresh, "doc_id", "text",
          old, "doc_id", "text", n = 3, threshold = 0.6).materialized
        .select(col("id_left").as("id_a"), col("id_right").as("id_b"))
      Dedup.mergeComponents(baseLabels, fresh, "doc_id",
          withinNew.unionByName(across))
        .join(surv, Seq("doc_id"))
        .select(col("doc_id"), col("component_id"),
          size(split(trim(col("text")), "\\s+")).cast("long")
            .as("n_tokens"),
          (col("component_id") === col("doc_id")).as("keep"))
        .orderBy("doc_id")
    }),
    // the incremental-curation chain ROOTED AT WARC BYTES: two planted
    // crawl nights (WET segments whose texts ARE documents.text) read
    // as increments (readNewWarc; manifest-driven newness itself is
    // adjudicated by IncrementalFilesSpec/IncrementalCurationSpec),
    // each deduped keep-latest-per-canonical-URL (night 1 plants a
    // same-text recrawl of every %10==0 page — its kept warc_date
    // PROVES latestByUrl ran), token-floored, then folded into the
    // standing near-dup labeling via within + across pairs and
    // mergeComponents. Oracle = FROM-SCRATCH recompute over the
    // parquet documents table (floor → uncapped jaccard → recursive
    // min-reachable-id) with the hand-derived per-parity warc_date —
    // the merge theorem extended through the WARC root
    "q_warc_incremental_curation" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.{IncrementalFiles, Warc}
      val (n1, n2) = warcIncFixtureDirs(s, dir)
      val empty = Seq.empty[String].toDF("path")
      val recs1 = IncrementalFiles.readNewWarc(s, n1, empty).get._1
      val recs2 = IncrementalFiles.readNewWarc(s, n2, empty).get._1
      def docsOf(recs: DataFrame): DataFrame =
        Warc.latestByUrl(Warc.documentsFrame(recs))
          .select(regexp_extract(col("url"), "([0-9]+)$", 1).cast("long")
            .as("doc_id"), col("text"), col("warc_date"))
          .filter(size(split(trim(col("text")), "\\s+")) >= 20)
      // per-night curated doc frames (decode + keep-latest + floor)
      val old = docsOf(recs1).materialized
      val fresh = docsOf(recs2).materialized
      val oldWithin = Dedup.jaccardNearDupPairs(old, "doc_id", "text",
        n = 3, threshold = 0.6).materialized
      // standing labels: the stored labeling mergeComponents folds into
      val baseLabels =
        Dedup.nearDupComponents(old, "doc_id", oldWithin).materialized
      val withinNew = Dedup.jaccardNearDupPairs(fresh, "doc_id", "text",
          n = 3, threshold = 0.6).materialized
        .select("id_a", "id_b")
      val across = Dedup.jaccardNearDupPairsAcross(fresh, "doc_id", "text",
          old, "doc_id", "text", n = 3, threshold = 0.6).materialized
        .select(col("id_left").as("id_a"), col("id_right").as("id_b"))
      val all = old.unionByName(fresh)
      Dedup.mergeComponents(baseLabels, fresh, "doc_id",
          withinNew.unionByName(across))
        .join(all, Seq("doc_id"))
        .select(col("doc_id"), col("component_id"),
          (col("component_id") === col("doc_id")).as("keep"),
          col("warc_date"))
        .orderBy("doc_id")
    }),
    // quality-aware canonical selection: one doc per jaccard component,
    // highest n_chars wins (ties → smallest id). The keep-best policy a
    // curation pipeline wants where dropNearDups' keep-smallest-id would
    // discard the clean original in favor of whichever scrape crawled
    // first.
    "q_best_of_cluster" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.keepBestPerComponentLabeled(docs, "doc_id",
          jaccardComponentLabels(s, dir), col("n_chars"))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),
    // cross-corpus near-dup: every 5th doc plays the NEW batch, the
    // rest the reference corpus — the incremental-crawl dedup shape
    // (left×right candidates only, no self-pairs on either side)
    "q_jaccard_across" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.jaccardNearDupPairsAcross(
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text",
          docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
          n = 3, threshold = 0.5)
        .orderBy("id_left", "id_right")
    }),
    // cross-corpus containment — the document-granularity
    // decontamination shape: a planted "benchmark" of 15-token
    // excerpts (every 23rd doc, tokens 4..18, id + 20M) probed against
    // the full corpus; every planted item must surface ≥0.9 contained
    // in its source page (Jaccard ≈ 0.2 — invisible to the symmetric
    // across-variant by design)
    "q_containment_across" -> ((s, dir) =>
      contaminationPairs(s, dir).orderBy("id_left", "id_right")),
    // decontamination GOVERNANCE: the q_containment_across pair graph
    // rolled up per source — which corpus slices carry benchmark
    // leakage, and how much. Rides the same write-once PairGraph
    // artifact as the pair query (one containment derivation per
    // session serves both); marginal cost is two label-sized
    // aggregations. The release-report read next to q_source_profile
    "q_contamination_by_source" -> ((s, dir) => {
      val hits = contaminationPairs(s, dir)
        .select(col("id_right").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("__hits"))
      Tables.documents(s, dir).select(col("doc_id"), col("source"))
        .join(hits, Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__hits").isNotNull, 1L).otherwise(0L))
            .as("n_contaminated"),
          sum(coalesce(col("__hits"), lit(0L))).as("n_bench_hits"),
          (sum(when(col("__hits").isNotNull, 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("frac_contaminated"))
        .orderBy("source")
    }),
    // span-level (paragraph) dedup: the corpus is documents plus a
    // 40-token excerpt of every 10th doc (planted at doc_id + 100000),
    // so cross-doc duplicated spans exist at every SF. The excerpt IS
    // the original's first span (aligned at token 0), so that span is
    // dropped from both; originals keep their tail spans, and excerpts
    // whose whole text was the shared span vanish entirely.
    "q_dedup_spans" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val excerpts = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + lit(100000L)).as("doc_id"),
          array_join(slice(split(trim(col("text")), "\\s+"), 1, 40), " ")
            .as("text"))
      Dedup.dedupSpans(docs.unionByName(excerpts), "doc_id", "text",
          spanTokens = 40)
        .orderBy("doc_id")
    }),
    // leakage-safe split: near-dup components (minhash pair graph)
    // decide the split, so dup clusters never straddle train/val/test
    "q_leakage_split" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Scale.leakageSafeSplit(docs, "doc_id",
          minhashPairs(s, dir).select("id_a", "id_b"))
        .orderBy("doc_id")
    }),
    // ----- training-sequence packing: concat-and-cut layout per source
    // shard, budget 1024 tokens — which docs land in which pretraining
    // sequence, deterministically
    "q_packed_sequences" -> ((s, dir) =>
      Scale.packSequences(Tables.documents(s, dir), "source", "doc_id",
          TextAnalysis.tokenCount(col("text")), budget = 1024)
        .orderBy("doc_id")),
    // no-split dual of q_packed_sequences: whole docs first-fit-
    // decreasing into 96-token windows (1 EOS charged per doc;
    // capacity sits inside the fixture's 10–99 token spread so the
    // truncation path fires), exact FFD within rank-blocks of 128 —
    // the oracle replays the packing as a recursive CTE carrying the
    // open-bin load list
    "q_sequence_packing" -> ((s, dir) =>
      ffdPacked(s, dir).orderBy("doc_id")),
    // the end product a training run reads: FFD windows (same config
    // as q_sequence_packing) + the epoch-1 reproducible window order,
    // one row per window with its docs in pack-insertion order as a
    // comma list (engine-portable, hash-stable), token fill, and epoch
    // position. Windows-sized aggregation + bucketed epoch ranks — no
    // corpus-wide sort
    "q_epoch_manifest" -> ((s, dir) =>
      Scale.epochManifestPacked(ffdPacked(s, dir), "doc_id",
          epochs = Seq(1))
        .orderBy("ord_e1")),
    // the packing priced as one row: loader-planning efficiency read
    // (windows, tokens, padded waste, truncations) — q_length_batches'
    // padding_waste axis applied to the FFD layout
    "q_packing_efficiency" -> ((s, dir) =>
      ffdPacked(s, dir)
        .agg(countDistinct(col("window_id")).as("n_windows"),
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("truncated").cast("long")).as("n_truncated"))
        .select(col("n_windows"), col("n_docs"), col("n_tokens"),
          col("n_truncated"),
          (lit(96L) * col("n_windows") - col("n_tokens"))
            .as("padding_waste"))),
    // padding-layout complement of packing: 16-token length buckets cut
    // into batches of 8, each batch priced by its padded-token waste
    "q_length_batches" -> ((s, dir) =>
      Scale.lengthBucketBatches(Tables.documents(s, dir), "doc_id",
          TextAnalysis.tokenCount(col("text")), bucketWidth = 16,
          batchSize = 8)
        .orderBy("bucket", "batch_id")),
    // deterministic round-robin dataloader order across sources — the
    // ordinal is ANALYTIC (per-source counts, no global window); the
    // oracle recomputes it with the global row_number the operator
    // exists to avoid, so the formula is adjudicated exactly
    "q_interleave_order" -> ((s, dir) =>
      Scale.interleaveOrder(Tables.documents(s, dir), "source", "doc_id")
        .orderBy("ordinal")),
    // the interleave staged by a LENGTH curriculum (short → long, bins
    // of 32 tokens capped at 4): every stage streams fully before the
    // next, sources round-robin within each stage; same
    // analytic-vs-global-window adjudication as q_interleave_order
    "q_curriculum_order" -> ((s, dir) =>
      Scale.curriculumOrder(
          Tables.documents(s, dir).select(col("doc_id"), col("source"),
            (least(lit(3),
              floor((TextAnalysis.tokenCount(col("text")) - 1)
                / lit(32.0)).cast("int")) + 1).as("bin")),
          "bin", "source", "doc_id")
        .orderBy("ordinal")),
    // ----- Gopher-style token-repetition quality signals
    "q_token_repetition" -> ((s, dir) =>
      TextAnalysis.tokenRepetition(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // the repetition gate (thresholds sit inside the fixture's observed
    // spread: dup 0 — 0.72, top 0.05 — 0.30; keeps 172/500 at sf0.01).
    // Both cut expressions mirror the oracle SQL term-for-term, so the
    // IEEE doubles compared against the literals are bit-identical.
    "q_low_repetition" -> ((s, dir) =>
      TextAnalysis.dropRepetitive(Tables.documents(s, dir), "doc_id", "text",
          maxDupFrac = 0.55, maxTopFrac = 0.12)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),
    // ----- benchmark decontamination: shingle overlap vs a probe set
    // (doc_id % 20 == 0 stands in for the benchmark suite). The probe
    // side broadcasts as distinct shingles; corpus shingles never
    // shuffle.
    "q_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.ngramContamination(docs, "doc_id", "text",
          docs.filter(col("doc_id") % 20 === 0), "text", n = 3)
        .orderBy("doc_id")
    }),
    // the decontaminated corpus — contamination strictly above 1/2 drops
    // the doc (the fraction is an IEEE double division of small ints,
    // identical bit-for-bit in both engines, so the cut is portable)
    "q_decontaminated" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dropContaminated(docs, "doc_id", "text",
          docs.filter(col("doc_id") % 20 === 0), "text", n = 3,
          maxContamination = 0.5)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),
    // ----- corpus-internal duplicated n-grams (cross-doc boilerplate)
    // the top-100 most-document-frequent 3-gram shingles: the license-
    // header/template detector, and the empirical input for setting
    // `shingleDfCap`
    "q_dup_ngrams" -> ((s, dir) =>
      Dedup.duplicatedNgrams(Tables.documents(s, dir), "doc_id", "text",
          n = 3, minDf = 2, k = 100)),
    // per-doc cross-doc-shared shingle fraction (the across-corpus
    // complement of q_token_repetition's within-doc signals)
    "q_dup_ngram_stats" -> ((s, dir) =>
      Dedup.dupNgramStats(Tables.documents(s, dir), "doc_id", "text", n = 3)
        .orderBy("doc_id")),
    // the boilerplate gate: fixture dup_ngram_frac spread is wide (many
    // docs share generator phrasing), cut at 0.8 — an IEEE double
    // division of small ints, bit-identical across engines
    "q_low_dupngrams" -> ((s, dir) =>
      Dedup.dropDupNgramHeavy(Tables.documents(s, dir), "doc_id", "text",
          n = 3, maxFrac = 0.8)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),
    // portable sha-based token hash so the whole pipeline has a DuckDB
    // oracle (brute-force Hamming); xxhash64 is the scale default and is
    // spec'd equivalent-shape in DedupSpec
    "q_simhash_neardup" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(Tables.documents(s, dir), "doc_id", "text",
          maxDist = 3, tokenHash = Dedup.PortableSha)
        .orderBy("id_a", "id_b")),
    // wide variant: Hamming ≤ 5 via 6-band (11/10-bit) banding — the
    // looser near-dup net for template-heavy corpora; same exhaustive
    // DuckDB oracle with the wider cutoff, now FULL-CORPUS at every SF
    // (the historical 1/4 mod-sample is gone): band rows carry the
    // packed signature so the Hamming verify runs inside the bucket
    // join and only true near-dups reach the distinct, and the oracle
    // uses the packed-halves bit_count(xor) pairwise form (the cascade
    // oracle's formulation — the per-(doc,bit) join spilled DuckDB temp
    // disk at sf0.1). DedupSpec additionally pins ≡-exhaustive at
    // maxDist 7 on full sf0.001 and planted 4-band-defeating masks.
    // maxDist up to 31 is available on the operator itself.
    "q_simhash_neardup_wide" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(
          Tables.documents(s, dir),
          "doc_id", "text", maxDist = 5, tokenHash = Dedup.PortableSha)
        .orderBy("id_a", "id_b")),
    // ----- tiered dedup cascade: the production cost ordering — exact
    // (one digest scan) kills identical copies first, SimHash (one
    // codegen signature pass + band join) kills the near-identical on
    // the survivors, and the capped-Jaccard inverted index (the
    // dearest tier) runs LAST, over only what the cheap tiers left.
    // Each tier's df-cap/candidate universe is computed on ITS OWN
    // input — the oracle restates the whole chain over the same
    // shrinking corpora. Adjudicated on the deterministic mod-2 slice
    // (q_simhash_neardup_wide precedent): the composition is what this
    // query proves — each tier's full-corpus cost and correctness are
    // already carried by its own query, and the full-corpus exhaustive
    // simhash oracle at sf0.1 exceeds local DuckDB temp disk.
    "q_dedup_cascade" -> ((s, dir) => {
      val docs = Scale.modSample(Tables.documents(s, dir), "doc_id", 1, 2)
      // each survivor frame feeds BOTH the next tier's pair derivation
      // and its own anti-join — localCheckpoint materializes it once
      // (the nearDupComponents edge-list idiom); without it the simhash
      // tier's whole lineage replays inside the jaccard stage
      val s1 = docs.join(Dedup.exactDedup(docs, "doc_id", "text"),
        Seq("doc_id"), "left_semi").materialized
      val s2 = Dedup.dropNearDups(s1, "doc_id",
        Dedup.simhashNearDupPairs(s1, "doc_id", "text", maxDist = 3,
          tokenHash = Dedup.PortableSha)).materialized
      Dedup.dropNearDups(s2, "doc_id",
          Dedup.jaccardNearDupPairs(s2, "doc_id", "text", n = 3,
            threshold = 0.6, maxShingleDf = Some(shingleDfCap)))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),
    // ----- edit-distance (Levenshtein) near-dup pairs: PassJoin segment
    // blocking + thresholded verify on part names — the short-string
    // (titles, names, URLs) complement of the shingle families. The
    // oracle is the exhaustive length-banded cross join; both sides are
    // exact, so the pair set and distances hash-match.
    "q_edit_distance_pairs" -> ((s, dir) =>
      Dedup.editDistancePairs(Tables.part(s, dir).select("p_name"),
          "p_name", maxDist = 2)
        .orderBy("str_a", "str_b")),
    // cross-corpus variant: even-length names play the NEW batch,
    // odd-length the reference — only left×right candidates exist, and
    // dist-0 cross matches (exact contamination) are reported
    "q_edit_distance_across" -> ((s, dir) => {
      val names = Tables.part(s, dir).select("p_name")
      Dedup.editDistancePairsAcross(
          names.filter(length(col("p_name")) % 2 === 0), "p_name",
          names.filter(length(col("p_name")) % 2 === 1), "p_name",
          maxDist = 2)
        .orderBy("str_left", "str_right")
    }),
    // entity resolution (Fellegi–Sunter deterministic-score form):
    // blocked candidate pairs on (nation, segment) — a plain hash
    // join, never all-pairs — scored 0.6·name-edit-sim +
    // 0.4·balance-exact. Planted dups (every 41st customer, name
    // leading char dropped, id + 10M) score 0.6·(17/18) + 0.4 ≈ 0.967;
    // the best non-dup same-block pair (consecutive-digit names, d=1)
    // reaches only 0.6·(17/18) ≈ 0.567 without the balance match —
    // the exact field is what separates them, which is the F-S point
    // sorted-neighborhood linkage: the sort-key candidate scheme —
    // APPENDED-suffix dups stay sort-adjacent to their originals (the
    // case equality blocking needs intact block keys for); mod-2
    // slice for the same levenshtein-bill reason as q_record_linkage
    "q_snm_linkage" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .filter(col("c_custkey") % 2 === 0)
        .select("c_custkey", "c_name", "c_acctbal")
      val dups = c.filter(col("c_custkey") % 41 === 0)
        .select((col("c_custkey") + lit(10000000L)).as("c_custkey"),
          concat(col("c_name"), lit(" jr")).as("c_name"),
          col("c_acctbal"))
      RecordLinkage.sortedNeighborhood(c.unionAll(dups), "c_custkey",
          "c_name",
          Seq(RecordLinkage.FieldSim("c_name", 0.6),
            RecordLinkage.FieldSim("c_acctbal", 0.4, exact = true)),
          threshold = 0.9, window = 10)
        .orderBy("id_a", "id_b")
    }),
    "q_record_linkage" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .filter(col("c_custkey") % 2 === 0) // mod-2 slice: blocked-pair
        // volume is Σ|block|², so the slice quarters the levenshtein
        // bill (the v3/v4 cost precedent); planted ids stay even
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment")
      val dups = c.filter(col("c_custkey") % 41 === 0)
        .select((col("c_custkey") + lit(10000000L)).as("c_custkey"),
          substring(col("c_name"), 2, 40).as("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      RecordLinkage.dedupePairs(c.unionAll(dups), "c_custkey",
          Seq("c_nationkey", "c_mktsegment"),
          Seq(RecordLinkage.FieldSim("c_name", 0.6),
            RecordLinkage.FieldSim("c_acctbal", 0.4, exact = true)),
          threshold = 0.9)
        .orderBy("id_a", "id_b")
    }),
    // golden-record consolidation — the ER end product: linkage pairs →
    // connected components → ONE survivor per entity by a survivorship
    // policy (here completeness = name length, ties min id). Half the
    // planted dups are APPENDED variants (every 164th key) so the dup
    // genuinely wins survivorship for them, and the truncated half
    // loses — the policy is exercised in both directions
    "q_golden_records" -> ((s, dir) => {
      val base = Tables.customer(s, dir)
        .filter(col("c_custkey") % 2 === 0)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
          "c_mktsegment")
      val dups = base.filter(col("c_custkey") % 41 === 0)
        .select((col("c_custkey") + lit(10000000L)).as("c_custkey"),
          when(col("c_custkey") % 164 === 0, concat(col("c_name"), lit("x")))
            .otherwise(substring(col("c_name"), 2, 40)).as("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      val aug = base.unionAll(dups)
      val pairs = RecordLinkage.dedupePairs(aug, "c_custkey",
          Seq("c_nationkey", "c_mktsegment"),
          Seq(RecordLinkage.FieldSim("c_name", 0.6),
            RecordLinkage.FieldSim("c_acctbal", 0.4, exact = true)),
          threshold = 0.9)
        .materialized
      Dedup.keepBestPerComponent(aug, "c_custkey", pairs,
          length(col("c_name")))
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    }),
    // ===== training-data pipeline: similarity search =====
    // full k-NN GRAPH by NN-Descent (neighbor-of-neighbor refinement
    // from a deterministic sha-ring start): every node's top-5, the
    // input graph-based semantic dedup consumes. NN-Descent's premise
    // is neighborhood correlation ("a neighbor of my neighbor is my
    // neighbor"); the raw fixture is ISOTROPIC gaussian — measured
    // same-label fraction of true top-5 ≈ 9% ≈ chance, i.e. zero
    // signal for ANY sub-quadratic method — so the query plants the
    // manifold structure real embedding spaces have and the fixture
    // lacks (the q_bpe_tokens plant-in-query precedent): nodes on a
    // golden-angle circle, θ = 2π·frac(vec_id·φ), vectors
    // [4cosθ, 4sinθ] ++ 0.001·raw — identical Column/SQL trees. True
    // neighbors are angular neighbors (the down-scaled raw vector
    // perturbs only sub-boundary orderings), so descent has gradient
    // at every range and the EXHAUSTIVE all-pairs oracle over the same
    // planted vectors adjudicates recall-1 convergence exactly (the
    // ANN family convention)
    "q_knn_graph" -> ((s, dir) => {
      val theta = (col("vec_id") * lit(0.618033988749895)) % 1.0 *
        lit(6.283185307179586)
      val planted = concat(
        array(cos(theta) * 4.0, sin(theta) * 4.0),
        transform(col("embedding"), x => x.cast("double") * 0.001))
      val emb2 = Tables.embeddings(s, dir)
        .select(col("vec_id"), planted.as("pv"))
      Similarity.knnGraph(emb2, "vec_id", "pv", k = 5, iterations = 4,
          searchK = 12, requireConverged = true)
        .orderBy("query_id", "rank")
    }),
    // the k-NN graph CONSUMED: mutual-kNN edges → connected components
    // = graph-based semantic clustering (the SemDeDup-at-scale shape
    // the NN-Descent graph exists to feed). Planted corpus quantizes
    // ids onto 16 circle anchors + per-id jitter, so the true clusters
    // are exactly the 16 anchor groups; the exhaustive oracle replays
    // top-5 → mutual → components. The within-cluster metric is the
    // raw-embedding jitter — near-ISOTROPIC at 125 nodes/cluster, a
    // harder mixing regime than q_knn_graph's circle: searchK 12 loses
    // mutual edges at sf0.1, and at searchK 20 the rounds knife-edge is
    // 3 (2 fails) — registered 4/20 with the +1 margin, and
    // requireConverged CERTIFIES the fixpoint was reached (r9: the
    // knife-edge margin is now a loud failure, not a silent wrong
    // answer; the early-stop makes the certified extra round free)
    "q_knn_components" -> ((s, dir) => {
      val theta = (col("vec_id") % 16).cast("double") *
        lit(0.39269908169872414)
      val planted = concat(
        array(cos(theta) * 4.0, sin(theta) * 4.0),
        transform(col("embedding"), x => x.cast("double") * 0.001))
      val emb2 = Tables.embeddings(s, dir)
        .select(col("vec_id"), planted.as("pv"))
      val e = Similarity.knnGraph(emb2, "vec_id", "pv", k = 5,
          iterations = 4, searchK = 20, requireConverged = true)
        .materialized
        .select("query_id", "neighbor_id")
      val mutual = e.join(
          e.select(col("query_id").as("neighbor_id"),
            col("neighbor_id").as("query_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .filter(col("query_id") < col("neighbor_id"))
        .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"))
      Dedup.nearDupComponents(
          emb2.select(col("vec_id").as("doc_id")), "doc_id", mutual)
        .orderBy("doc_id")
    }),
    "q_embedding_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .orderBy("query_id", "rank")
    }),
    // binary-quantization funnel at recall-1 params on the fixture:
    // 256-bit signatures, rerank-512 shortlist for k=5 over the
    // near-orthogonal gaussian corpus — the HARD regime for 1-bit
    // codes. AnnTune's BINQUANT sweep (sf0.1): 64-bit misses 25-38 of
    // 50 even at rerank 256; 128-bit still misses 4 at 512; 256-bit
    // reaches recall 1 first at rerank 128 — the registered 512 is a
    // 4× margin on that knife-edge. Shares the exhaustive oracle like
    // the rest of the ANN family
    "q_binary_quant_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.binaryQuantTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, rerank = 512, numBits = 256)
        .orderBy("query_id", "rank")
    }),
    // diversity coreset: exact k-center greedy over the embedding
    // corpus (selection order + coverage-radius curve). The oracle is
    // the same greedy unrolled as k CTE rounds — identical cosine
    // tree, identical (best, id) argmin, so the whole selection
    // SEQUENCE is hash-exact, not just the final set
    "q_kcenter_coreset" -> ((s, dir) =>
      Similarity.kCenterGreedy(Tables.embeddings(s, dir), "vec_id",
          "embedding", k = 8)
        .orderBy("rank")),
    // hard-negative mining (contrastive training data): per anchor,
    // the top-8 corpus vectors with cos BELOW 0.25 — the near-miss
    // band, with the would-be-positive region excluded BEFORE the cut.
    // The fixture's gaussian cos gaps (~1e-4 near any cut) keep both
    // the threshold and the rank order engine-stable
    "q_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") % 97 === 0),
          "vec_id", "embedding", k = 8, maxCos = 0.25)
        .orderBy("query_id", "rank")
    }),
    // ANN parameters below are fixture-tuned (graft.tools.AnnTune) so
    // approximate recall is exactly 1 at sf0.001/0.01/0.1 — that is what
    // lets the approximate plans share the exhaustive DuckDB oracles.
    // The fixture's embeddings are weak-neighbor (max cos ≈ 0.5), the
    // hardest case for sign-LSH/IVF: production corpora with tighter
    // dup clusters tune far cheaper (fewer tables / probes).
    "q_ivf_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, numCentroids = 16, nProbe = 14)
        .orderBy("query_id", "rank")
    }),
    // big-k IVF: 256 coarse cells trained by the DISTRIBUTED mini-batch
    // k-means (trainCentroidsMiniBatch — per-iteration cost flat in
    // corpus size), the SemDeDup operating regime where the driver
    // Lloyd loop stops working. nProbe=224 is AnnTune-tuned recall-1
    // with margin (0 misses from 192 across sf0.001/0.01/0.1; the
    // weak-neighbor fixture is coarse quantization's worst case — real
    // dup-clustered corpora probe far fewer of their cells)
    "q_ivf_topk_bigk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.trainCentroidsMiniBatch(emb, "vec_id",
        "embedding", k = 256)
      Similarity.ivfTopKServe(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 224, cents = cents)
        .orderBy("query_id", "rank")
    }),
    // index MAINTENANCE: centroids trained on the even-id HALF of the
    // corpus (the snapshot that existed at build time), the full corpus
    // assigned to those frozen cells and served without retraining —
    // the FAISS add-after-train shape, in the big-k regime frozen cells
    // actually operate in (the 16-cell coarse index has no probe margin
    // left once training sees only half the data: 15/16 probes still
    // missed a rank-4 neighbor at sf0.001 — measured quantization
    // drift). 256 half-data-trained cells at q_ivf_topk_bigk's tuned
    // nProbe = 224 serve the FULL corpus at recall 1, so the query
    // shares the exhaustive full-corpus oracle
    "q_ivf_extend_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // the frozen half-corpus-trained quantizer
      val cents = Similarity.trainCentroidsMiniBatch(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
        k = 256)
      require(cents.nonEmpty,
        "trainCorpus has no non-zero vectors — cannot build an IVF index " +
          "(check the snapshot predicate)")
      Similarity.ivfTopKServe(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 224, cents = cents)
        .orderBy("query_id", "rank")
    }),
    // multi-probe (Hamming-1) halves-and-then-some the table count the
    // weak-neighbor fixture needs for recall 1: AnnTune measures 0
    // misses at 8 tables across sf0.001/0.01/0.1; 12 is registered for
    // margin. Table count is the multiplier on rows emitted per corpus
    // vector, so this is a direct ~2.7× cut in 100 TB shuffle volume.
    "q_ann_lsh_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // dim passed explicitly (fixture embeddings are 64-wide): skips
      // the infer-from-first-row driver job; omit it to infer
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, bitsPerTable = 3, numTables = 12,
          multiProbe = true, dim = 64)
        .orderBy("query_id", "rank")
    }),
    // PQ compressed-store serving: 16 subspaces × 32 codewords (80-bit
    // codes, 25.6× smaller than the float32 vectors) scored by ADC,
    // top-256 shortlist re-ranked exactly. rerank=256 is AnnTune-tuned
    // for recall 1 with margin (0 misses at 128 already at sf0.01;
    // 0 at 256 across all SFs), so the query shares the exhaustive
    // oracle like the other ANN paths.
    "q_pq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, m = 16, ksub = 32, rerank = 256,
          codebooks = Some(pqCodebooksTrained(s, dir)))
        .orderBy("query_id", "rank")
    }),
    // the composed serving index (coarse cells bound reads, PQ codes
    // bound storage) hash-adjudicated against the same exhaustive
    // oracle at its recall-1 parameters — previously ≡-brute spec only
    "q_ivfpq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, numCentroids = 16, nProbe = 14,
          m = 16, ksub = 32, rerank = 256,
          codebooks = Some(pqCodebooksTrained(s, dir)))
        .orderBy("query_id", "rank")
    }),
    // the LSH-bucketed pair generator IS the registered path — the
    // quadratic crossJoin variant survives only as the spec baseline
    "q_embedding_neardup" -> ((s, dir) =>
      embeddingPairs(s, dir).orderBy("id_a", "id_b")),
    // embedding dedup clusters: the similarity family composed into the
    // components operator (LSH pairs at recall 1 → transitive clusters)
    "q_embedding_components" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Dedup.nearDupComponents(emb, "vec_id",
          embeddingPairs(s, dir).select("id_a", "id_b"))
        .orderBy("vec_id")
    }),
    // DBSCAN (Ester et al. 1996) over the cached ε-pair graph: the
    // recall-1 LSH pairs ARE the exact cosine ≥ 0.4 neighbor relation,
    // so density classification is exact; minPts = 3 yields all three
    // roles (core/border/noise) at every fixture SF. Marginal cost on
    // top of the shared pair graph is edge-list-sized.
    "q_dbscan_clusters" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.dbscan(emb, "vec_id",
          embeddingPairs(s, dir).select("id_a", "id_b"), minPts = 3)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    }),
    // density-aware semantic dedup: SemDeDup's keep-one-per-cluster
    // policy applied to DBSCAN clusters instead of plain components —
    // border points deduplicate WITH their cluster, genuine noise
    // (sparse-region vectors, zero vectors) survives untouched instead
    // of being its own "cluster of one" by accident of the pair graph
    "q_semantic_dedup_density" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val roles = Similarity.dbscan(emb, "vec_id",
        embeddingPairs(s, dir).select("id_a", "id_b"), minPts = 3)
      val memb = roles.filter(col("role") =!= "noise")
        .select(col("id"), col("cluster_id"))
      val scored = memb.join(emb.select(col("vec_id").as("id"),
        Similarity.dotProduct(col("embedding"), col("embedding")).as("n2")),
        Seq("id"))
      val reps = scored.groupBy("cluster_id")
        .agg(min(struct((col("n2") * lit(-1.0)).as("neg"),
          col("id").as("i"))).as("w"))
        .select(col("w.i").as("vec_id"))
      val noise = roles.filter(col("role") === "noise")
        .select(col("id").as("vec_id"))
      emb.join(reps.unionAll(noise), Seq("vec_id"))
        .select("vec_id", "label")
        .orderBy("vec_id")
    }),
    // SemDeDup (Abbas et al. 2023) as a composition: semantic clusters
    // = components of the cosine-LSH pair graph (recall-1 at these
    // params, so the oracle's exhaustive-cosine clusters are THE same
    // clusters); keep one representative per cluster — the max-norm²
    // member, ties to min id. Rides the cached embedding pair graph, so
    // the marginal cost is edge-list-sized, not corpus-sized.
    "q_semantic_dedup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Dedup.keepBestPerComponent(emb, "vec_id",
          embeddingPairs(s, dir).select("id_a", "id_b"),
          Similarity.dotProduct(col("embedding"), col("embedding")))
        .select(col("vec_id"), col("label"))
        .orderBy("vec_id")
    }),
    // cross-corpus embedding near-dup (incremental-crawl shape,
    // completing the across-variant family next to Jaccard and edit
    // distance): vec_id % 5 == 0 plays the NEW batch, the rest the
    // reference corpus. Same planes/seed as the self-join variant, so
    // its recall-1 tuning carries over to the straddling pairs.
    "q_embedding_across" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshNearDupPairsAcross(
          emb.filter(col("vec_id") % 5 =!= 0),
          emb.filter(col("vec_id") % 5 === 0),
          "vec_id", "embedding", threshold = 0.4,
          bitsPerTable = 3, numTables = 12, multiProbe = true, dim = 64)
        .orderBy("id_ref", "id_new")
    }),
    // winsorization: clip values at their group's p95 — outlier damping
    // before averaging. exact = the oracle-checkable form; the approx
    // (GK sketch) variant is the registered operator's 100 TB path,
    // spec'd within tolerance (ScaleSpec)
    "q_clipped_values" -> ((s, dir) =>
      Scale.winsorize(Tables.events(s, dir), "event_type", "value", 0.95,
          "value_clipped", exact = true)
        .select("event_id", "event_type", "value_clipped")
        .orderBy("event_id")),
    // per-group exact discrete quantiles: the value AT a sorted
    // position, so no interpolation arithmetic — hash-exact
    "q_group_quantiles" -> ((s, dir) =>
      Scale.groupQuantiles(Tables.events(s, dir), "event_type", "value",
          Seq(0.5, 0.9, 0.99))
        .orderBy("event_type", "p")),
    // 10%-each-side trimmed mean: integer rank cuts, boundary ties
    // value-neutral, one double division
    "q_trimmed_mean" -> ((s, dir) =>
      Scale.trimmedMean(Tables.events(s, dir), "event_type", "value",
          trimTenths = 1)
        .orderBy("event_type")),
    // robust outliers: |v − median| > 3·1.4826·MAD, all quantities
    // short identical IEEE chains in both engines
    "q_mad_outliers" -> ((s, dir) =>
      Scale.madOutliers(Tables.events(s, dir), "event_type", "value",
          "event_id", k = 3.0)
        .orderBy("event_id")),
    // fixed-width 20-bin histogram of the value column
    "q_value_histogram" -> ((s, dir) =>
      Scale.histogram(Tables.events(s, dir), "value", nBins = 20)
        .orderBy("bucket")),
    // incremental-ETL merge: history summary + batch summary merged ≡
    // the from-scratch aggregation (the monoid contract; the split is
    // id-deterministic so both sides are stable at any SF)
    "q_incremental_stats" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val history = Scale.keySummary(
        ev.filter(col("event_id") % 10 < 8), "event_type", "value")
      val batch = Scale.keySummary(
        ev.filter(col("event_id") % 10 >= 8), "event_type", "value")
      Scale.finishSummary(
          Scale.mergeSummaries(history, batch, "event_type"))
        .orderBy("event_type")
    }),
    // one-pass column profile: null + exact distinct counts per column
    "q_profile_columns" -> ((s, dir) =>
      Scale.profileColumns(Tables.events(s, dir),
          Seq("event_id", "user_id", "event_type", "value", "props"))
        .orderBy("column_name")),
    // Morton keys for 2-D data layout: five shift-or-mask steps per
    // dimension, mirrored verbatim in the oracle's CTE chain —
    // hash-exact 64-bit keys. The layout effect (tight 2-D file tiles
    // vs linear sort) is ZOrderSpec's contract.
    "q_zorder_values" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          graft.functions.ZOrder.zValue(col("l_partkey"), col("l_suppkey"))
            .as("z_value"))
        .orderBy("l_orderkey", "l_linenumber")),
    // ----- as-of (temporal) join: latest order at-or-before each event
    // forward as-of: each click's NEXT purchase by the same user
    // (time-to-convert lookup); purchases pre-aggregated to unique
    // (user, ts) per the as-of contract
    "q_asof_next_purchase" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .agg(max("event_id").as("next_purchase_id"))
      AsOf.asofJoinForward(clicks, "user_id", "ts",
          purchases, "p_user", "p_ts", Seq("next_purchase_id"))
        .select("event_id", "user_id", "next_purchase_id")
        .orderBy("event_id")
    }),
    // nearest as-of: the closest purchase either side, ties backward
    "q_asof_nearest_purchase" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .agg(max("event_id").as("nearest_purchase_id"))
      AsOf.asofJoinNearest(clicks, "user_id", "ts",
          purchases, "p_user", "p_ts", Seq("nearest_purchase_id"))
        .select("event_id", "user_id", "nearest_purchase_id")
        .orderBy("event_id")
    }),
    "q_asof_last_order" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select("event_id", "user_id", "ts")
      // explicit date→timestamp cast: semantics pinned to the session tz
      // (UTC in this engine), mirroring the oracle's naive CAST
      val orders = Tables.orders(s, dir)
        .groupBy(col("o_custkey"),
          col("o_orderdate").cast("timestamp").as("o_orderdate"))
        .agg(max(col("o_totalprice")).as("order_price"))
      AsOf.asofJoin(ev, "user_id", "ts",
          orders, "o_custkey", "o_orderdate", Seq("order_price"))
        .select("event_id", "user_id", "order_price")
        .orderBy("event_id")
    }),
    // same result through the skew-safe bucketed as-of join — the hot-key
    // path (per-(key,bucket) right-side reduction + carry-in); shares the
    // DuckDB ASOF oracle, so the rewrite is hash-adjudicated
    "q_asof_last_order_bucketed" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "user_id", "ts")
      val orders = Tables.orders(s, dir)
        .groupBy(col("o_custkey"),
          col("o_orderdate").cast("timestamp").as("o_orderdate"))
        .agg(max(col("o_totalprice")).as("order_price"))
      AsOf.asofJoinBucketed(ev, "user_id", "ts",
          orders, "o_custkey", "o_orderdate", Seq("order_price"),
          bucket = ts => year(ts) * 12 + month(ts)) // monthly time buckets
        .select("event_id", "user_id", "order_price")
        .orderBy("event_id")
    }),
    // ----- streaming sliding window, driver-adjudicated in batch (each
    // event lands in windowLength/slide = 6 hourly windows)
    "q_sliding_revenue" -> ((s, dir) =>
      graft.streaming.Windows.slidingRevenue(Tables.events(s, dir), "ts", "value",
          windowLength = "1 hour", slide = "10 minutes")
        .orderBy("window_start")),
    // ----- streaming session window, driver-adjudicated in batch via the
    // gaps-and-islands formulation (lag + cumulative break sum)
    "q_session_revenue" -> ((s, dir) =>
      graft.streaming.Windows.sessionRevenue(Tables.events(s, dir), "ts",
          "user_id", "value", gap = "30 minutes")
        .orderBy("session_key", "session_start")),
    // ----- distinct aggregation: exact per-group distinct counts
    "q_distinct_users_per_type" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")),
    // ----- range join: event pairs within a time tolerance (bucketized)
    "q_events_within_minute" -> ((s, dir) =>
      RangeJoin.selfPairsWithin(Tables.events(s, dir), "event_id", "ts",
          toleranceMicros = 60L * 1000 * 1000)
        .orderBy("id_a", "id_b")),
    // ----- interval-overlap self-join: synthetic [ts, ts + value
    // MINUTES] intervals from the mod-13 user slice (value ≤ 490 → up
    // to ~8 h spans), bucketized hourly. End construction is integer-µs
    // exact in both engines (floor(value·6e7) is one IEEE multiply +
    // floor); the oracle is the quadratic formulation
    "q_overlapping_intervals" -> ((s, dir) => {
      val iv = Tables.events(s, dir)
        .filter(pmod(col("user_id"), lit(13)) === 0)
        .select(col("event_id"), col("ts").as("start_ts"),
          timestamp_micros(unix_micros(col("ts")) +
            floor(col("value") * lit(60000000.0)).cast("long")).as("end_ts"))
      RangeJoin.overlappingIntervals(iv, "event_id", "start_ts", "end_ts",
          bucketMicros = 3600L * 1000 * 1000)
        .orderBy("id_a", "id_b")
    }),
    // ----- corpus statistics: exact interpolated percentiles per group
    "q_corpus_stats" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          avg(col("n_chars")).as("avg_chars"),
          percentile(col("n_chars"), lit(0.5)).as("p50_chars"),
          percentile(col("n_chars"), lit(0.95)).as("p95_chars"))
        .orderBy("lang")),
    // ===== scale management: skew-resistant agg + deterministic sampling =====
    "q_salted_category_sales" -> ((s, dir) =>
      Scale.saltedSum(Tables.events(s, dir), Seq("event_type"), "value",
          "total_sales", saltFrom = "event_id", buckets = 16)
        .select(col("event_type").as("category"), col("total_sales"))
        .orderBy("category")),
    "q_mod_sample" -> ((s, dir) =>
      Scale.modSample(Tables.events(s, dir), "event_id", num = 2, den = 10)
        .select("event_id", "user_id", "event_type", "value")
        .orderBy("event_id")),
    // per-stratum mixing rates — the dataset-recipe knob; a pure
    // scan-local filter (no shuffle, no per-stratum pass)
    "q_stratified_sample" -> ((s, dir) =>
      Scale.stratifiedModSample(Tables.events(s, dir), "event_type", "event_id",
          rates = Map("purchase" -> ((1, 2)), "view" -> ((1, 10))),
          defaultRate = (1, 20))
        .select("event_id", "event_type", "value")
        .orderBy("event_id")),
    // vocabulary head: top-50 corpus terms by frequency
    "q_top_terms" -> ((s, dir) =>
      TextAnalysis.topTerms(Tables.documents(s, dir), "text", 50)),
    // Zipf slope/r² over the exact top-100 head: corpus-health number
    // (template-heavy corpora bend away from s ≈ −1). Doubles are
    // tolerance-grade; the head cut is integer-exact
    "q_zipf_fit" -> ((s, dir) =>
      TextAnalysis.zipfFit(Tables.documents(s, dir), "text", 100)),
    // SOFT dedup: keep every copy, weight 1e6 // |dup group| micro —
    // the loss-reweighting alternative to dropping (training sees each
    // distinct text with total weight ~1); digest-keyed like exactDedup
    "q_dup_weights" -> ((s, dir) => {
      val g = Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), sha2(col("text"), 256).as("__d"))
      val sizes = g.groupBy("__d").agg(count(lit(1)).as("n_members"))
      g.join(sizes, Seq("__d"))
        .select(col("doc_id"), col("n_members"),
          expr("CAST(1000000 AS BIGINT) div n_members").as("weight_micro"))
        .orderBy("doc_id")
    }),
    // Zipf head curve: cumulative token coverage of the top-50 terms
    "q_vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, dir), "text", 50)
        .orderBy(col("n").desc, col("term").asc)),
    // per-doc keyword extraction: top-5 terms by tf·idf with the
    // rational RSJ idf (log-free → bit-identical scores in both
    // engines → the rank CUT is oracle-exact, not tolerance-fuzzy);
    // top-k via the string-payload TopKAggregator, oracle is the
    // row_number window formulation
    "q_tfidf_keywords" -> ((s, dir) =>
      TextAnalysis.tfIdfTopTerms(Tables.documents(s, dir), "doc_id",
          "text", k = 5)
        .orderBy("doc_id", "rank")),
    // top-100 collocations by PMI odds ratio (log-free → the ranking
    // and the top-k cut are bit-exact cross-engine); min support 5
    // suppresses the hapax-pair pathology
    "q_pmi_bigrams" -> ((s, dir) =>
      TextAnalysis.pmiBigrams(Tables.documents(s, dir), "text",
        minCount = 5L, k = 100)),
    // Flesch-style readability: three portable regex scans per doc,
    // formula written as the same IEEE expression tree as the oracle
    "q_readability" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.readability(col("text")).as("r"))
        .select(col("doc_id"), col("r.n_words").as("n_words"),
          col("r.n_sentences").as("n_sentences"),
          col("r.n_syllables").as("n_syllables"),
          col("r.flesch").as("flesch"))
        .orderBy("doc_id")),
    // n-gram-LM quality signal: per-doc OOV fraction against the
    // corpus' top-1000 bigram vocabulary (count-exact cut; the log-sum
    // of a real perplexity is library-dependent, the OOV fraction
    // isn't)
    "q_oov_rate" -> ((s, dir) =>
      TextAnalysis.oovRate(Tables.documents(s, dir), "doc_id", "text",
          vocabK = 1000)
        .orderBy("doc_id")),
    // corpus-as-LM unigram cross-entropy — the CCNet/pile-style LM
    // quality feature; token-keyed score join (NOT broadcast: a 100 TB
    // vocabulary can exceed broadcast limits; AQE broadcasts when small)
    "q_unigram_logprob" -> ((s, dir) =>
      TextAnalysis.unigramCrossEntropy(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy("doc_id")),
    // interpolated bigram LM (KenLM-shaped, CCNet-style quality
    // score) — model tables are ngram-keyed shuffle joins, never
    // broadcast-assumed
    "q_bigram_logprob" -> ((s, dir) =>
      TextAnalysis.bigramCrossEntropy(Tables.documents(s, dir),
          "doc_id", "text", lambda = 0.7)
        .orderBy("doc_id")),
    // DSIR importance weights against the English slice as the target
    // distribution — hashed-ngram models are ≤4096 rows by
    // construction, so the score join broadcasts at any corpus size
    "q_dsir_weights" -> ((s, dir) =>
      TextAnalysis.dsirLogWeights(Tables.documents(s, dir),
          "doc_id", "text", col("lang") === "en", buckets = 4096)
        .orderBy("doc_id")),
    // fastText-architecture quality classifier (hashed uni+bigram
    // linear model) with the deterministic integer weight fixture —
    // BIGINT scoring end-to-end, so the oracle is hash-exact with no
    // float tolerance (the PMI/tf-idf precedent)
    "q_quality_classifier" -> ((s, dir) =>
      TextAnalysis.qualityClassifier(Tables.documents(s, dir),
          "doc_id", "text", TextAnalysis.classifierFixtureWeights(s),
          buckets = 4096)
        .orderBy("doc_id")),
    // the SHIPPED-ARTIFACT apply path (the q_unigram_apply precedent
    // for the classifier): the dense 512-bucket weight table rides the
    // codegen'd ClassifierScore expression — one scan-local pass, zero
    // shuffles — and the oracle gets the SAME artifact as a VALUES
    // literal, so a trained gate replays anywhere without retraining
    "q_classifier_apply" -> ((s, dir) =>
      TextAnalysis.classifierApplyTable(Tables.documents(s, dir),
          "doc_id", "text", TextAnalysis.classifierFixtureWeights(s, 512),
          buckets = 512)
        .orderBy("doc_id")),
    // per-source governance profile — the "which sources are pulling
    // the corpus down" read a curation run makes before adjusting
    // mixture weights: docs, tokens, summed classifier score, gate
    // pass-count per source, every column BIGINT (consumers derive the
    // ratios). One scan-local scoring pass + one map-side-combined
    // source aggregation
    "q_source_profile" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val clf = TextAnalysis.classifierApplyTable(docs, "doc_id", "text",
        TextAnalysis.classifierFixtureWeights(s, 512), buckets = 512)
      docs.select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("__tok"))
        .join(clf, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__tok")).as("n_tokens"),
          sum(col("score_sum")).as("sum_score"),
          sum(col("label").cast("long")).as("n_pass"))
        .orderBy("source")
    }),
    // reciprocal-rank fusion of two retrieval rankings (classifier
    // quality desc, length desc) — both integer-exact so the ranks,
    // the rrf doubles, and the top-20 cut are engine-identical;
    // bucketed global ranks (no single-partition sort)
    "q_rank_fusion" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // materialize the scored frame: globalRank reads it twice (the
      // approxQuantile cut pass + the bucketing pass) and the sha256
      // feature hashing is the expensive half of this query
      // shipped-artifact apply path — see q_curated_corpus_v5's note
      val clf = TextAnalysis.classifierApplyTable(docs, "doc_id", "text",
          TextAnalysis.classifierFixtureWeights(s), buckets = 4096)
        .select(col("doc_id"), (-col("score_sum")).as("neg"))
        .materialized
      val r1 = Scale.globalRank(clf, "neg", "doc_id")
        .select(col("doc_id"), col("rank").as("r1"))
      val r2 = Scale.globalRank(
          docs.select(col("doc_id"), (-col("n_chars")).as("neg")),
          "neg", "doc_id")
        .select(col("doc_id"), col("rank").as("r2"))
      r1.join(r2, Seq("doc_id"))
        .withColumn("rrf",
          lit(1.0) / (lit(60) + col("r1")) + lit(1.0) / (lit(60) + col("r2")))
        .orderBy(desc("rrf"), col("doc_id"))
        .limit(20)
        .select("doc_id", "r1", "r2", "rrf")
    }),
    // HYBRID retrieval — the full production stack: BM25 top-50
    // (sparse) fused with dense cosine top-50 for the vec_id-0 query
    // vector (doc_id ≡ vec_id: the embeddings table is the documents'
    // embedding column, same ids/cardinality) via Analytics.rankFusion
    // RRF. Fusion inputs are the k-sized HEADS each retriever already
    // bounds, so the fusion joins are list-sized at any corpus scale;
    // absent ranks surface as 0 and contribute nothing. Both rankings
    // are engine-exact (BM25's arithmetic tree is q_bm25_topk's; the
    // cosine is the ANN family's), so the integer ranks and the rrf
    // doubles are cross-engine identical and the top-20 cut is stable
    "q_hybrid_retrieval" -> ((s, dir) => {
      val lex = TextAnalysis.bm25TopK(Tables.documents(s, dir), "doc_id",
          "text", Seq("spark", "query", "vector"), k = 50)
        // rank over the already-cut 50-row head: the one unpartitioned
        // window, bounded by the limit upstream of it by construction
        .withColumn("rank",
          row_number().over(Window.orderBy(col("bm25").desc, col("id"))))
        .select(col("id").as("doc_id"), col("rank"))
      val emb = Tables.embeddings(s, dir)
      val dense = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Analytics.rankFusion("doc_id",
          Seq("lex" -> lex, "dense" -> dense), topK = 20)
        .orderBy(desc("rrf"), col("doc_id"))
    }),
    // KMV distinct sketch: bounded-state count-distinct — each input
    // partition ships ≤ k hashes per group to the shuffle, raw user ids
    // never travel. k=64 < the fixture's 150 distinct users, so the
    // oracle adjudicates the ESTIMATOR path, not just exact fallback
    "q_distinct_kmv" -> ((s, dir) =>
      Kmv.distinctEstimate(Tables.events(s, dir), "event_type", "user_id",
          k = 64)
        .orderBy("event_type")),
    // MRL quantile sketch, exact regime: every customer has ≤ 25
    // orders at every SF, far under k = 64, so NO collapse can happen
    // under any partitioning — the sketch is the sorted group and the
    // p25/p50/p75 cuts are the exact ceil(q·n)-th order statistics,
    // with the carried bound pinned at its floor (err 0 + maxWeight 1).
    // The ε-bounded regime (collapses engaged) is property-spec'd
    // (MrlSpec), same split as KMV's estimator path.
    "q_mrl_quantiles" -> ((s, dir) =>
      graft.functions.Mrl.groupQuantiles(Tables.orders(s, dir),
          "o_custkey", "o_totalprice", k = 64, Seq(0.25, 0.5, 0.75))
        .select(col("o_custkey"), col("n"), col("err_bound"),
          element_at(col("values"), 1).as("p25"),
          element_at(col("values"), 2).as("p50"),
          element_at(col("values"), 3).as("p75"))
        .orderBy("o_custkey")),
    // theta-sketch set algebra: distinct 3-gram-shingle overlap of the
    // even- and odd-doc_id corpus halves from two k=256 sketches —
    // |A|, |B|, |A∩B|, |A∪B| and Jaccard estimated without
    // co-shuffling the corpora (each half contributes ONE k-long array
    // row; ~10k distinct shingles per half saturate both sketches at
    // every SF, so the driver adjudicates the θ/estimator path)
    "q_kmv_shingle_overlap" -> ((s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextAnalysis.wordNgrams(col("text"), 3)).as("sh"))
      Kmv.overlapEstimate(sh.filter(col("doc_id") % 2 === 0),
        sh.filter(col("doc_id") % 2 =!= 0), "sh", k = 256)
    }),
    // distributed PCA: one bounded-buffer covariance pass (each
    // partition ships ONE d²/2-double Gram buffer — vectors never
    // shuffle), then a driver-side 10-step power iteration (d×d = 32 KB,
    // the k-means centroid budget) and a codegen'd per-row projection.
    // Fixed iterations keep the construction oracle-replayable (the
    // PageRank precedent)
    "q_pca_top_component" -> ((s, dir) =>
      Pca.projectTop(Tables.embeddings(s, dir), "vec_id", "embedding",
          iters = 10)
        .orderBy("vec_id")),
    // count-min sketch: token frequencies from a d=4 × w=64 table (≤
    // 256 cells at ANY corpus size — the build is one map-side-combined
    // aggregation, the lookup broadcasts the table). w=64 < the 31-token
    // vocab² collision space, so some estimates EXCEED their exact
    // counts — the one-sided error the oracle certifies cell-for-cell
    "q_countmin_freqs" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .filter(length(trim(col("text"))) > 0)
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      // the exact certification side ALSO serves as the probe
      // universe — its keys ARE the distinct tokens pointEstimates
      // dedups to, so the probes need no third token scan. The tiny
      // exact rollup (vocab-sized) is materialized so probes and the
      // final join read one leaf
      val cm = CountMin.table(toks, "tok", d = 4, w = 64).materialized
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_count"))
        .materialized
      CountMin.pointEstimates(exact, cm, "tok", d = 4, w = 64)
        .withColumnRenamed("value", "tok")
        .join(exact, Seq("tok"))
        .orderBy("tok")
    }),
    // count-min join-size estimation: the self-join cardinality of
    // lineitem on l_partkey (Σ c(k)² — the skew number to check BEFORE
    // a self-join) upper-bounded from the 4×256-cell sketch alone, no
    // second pass over the table; exact Σ c² alongside certifies the
    // one-sided bound
    "q_countmin_joinsize" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_partkey"))
      // materialized: un-materialized, the build subtree appeared on
      // BOTH sides of the inner-product self-join (no ReusedExchange),
      // so the 4-hash sha pass over lineitem ran twice per evaluation
      val cm = CountMin.table(li, "l_partkey", d = 4, w = 256).materialized
      val exact = li.groupBy("l_partkey").agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c")).as("exact_join_size"))
      CountMin.innerProductEstimate(cm, cm).crossJoin(exact)
    }),
    // HyperLogLog distinct sketch: 64 registers per group — the
    // smallest-state member of the sketch family (64 ints/group vs
    // KMV's k longs) built fully relationally (two map-side-combined
    // aggs, whole-stage codegen, no typed state). The oracle replays
    // bucket/rho/S integer-for-integer plus exact counts alongside.
    // The fixture's ≤150 users/group sit in linear-counting range
    // (n < 2.5m), so this query adjudicates the REGISTER/S integers
    // the correction is a pure function of; the deep estimator regime
    // is adjudicated by q_hll_union's ~10⁴-distinct shingle corpora
    "q_hll_distinct" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val exact = ev
        .filter(col("event_type").isNotNull && col("user_id").isNotNull)
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("exact_distinct"))
      Hll.distinctEstimate(ev, "event_type", "user_id", p = 6)
        .join(exact, Seq("event_type"))
        .orderBy("event_type")
    }),
    // HLL union via REGISTER MERGE: even/odd corpus halves sketched
    // independently (the distinct 3-gram shingle universes of
    // q_kmv_shingle_overlap), then merged as ≤64-row register tables —
    // elementwise max over a full-outer join — without re-reading
    // either corpus. The oracle recomputes all three register sets and
    // certifies merge(A,B) ≡ sketch(A∪B) by hash equality; exact
    // distinct union alongside
    "q_hll_union" -> ((s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(TextAnalysis.wordNgrams(col("text"), 3)).as("sh"))
      def half(pred: org.apache.spark.sql.Column) =
        sh.filter(pred).select(lit("all").as("g"), col("sh"))
      // the per-half register tables are materialized: each is read by
      // its own scalarize AND the merge ("merged without re-reading
      // either corpus")
      val ra = Hll.registers(half(col("doc_id") % 2 === 0), "g", "sh",
        p = 6).materialized
      val rb = Hll.registers(half(col("doc_id") % 2 =!= 0), "g", "sh",
        p = 6).materialized
      def sc(regs: DataFrame, suffix: String) =
        Hll.scalarize(regs, "g", p = 6).select(
          col("n_zero").as(s"n_zero_$suffix"),
          col("s_scaled").as(s"s_$suffix"),
          col("est_raw").as(s"est_$suffix"))
      val exact = sh.select(col("sh")).distinct()
        .agg(count(lit(1)).as("exact_union"))
      sc(ra, "a").crossJoin(broadcast(sc(rb, "b")))
        .crossJoin(broadcast(sc(Hll.mergeRegisters(ra, rb, "g"), "u")))
        .crossJoin(broadcast(exact))
    }),
    // deterministic hash-rank sample quantiles: p50/p90 per event type
    // from the bottom-256-by-sha52(event_id) row sample — bounded
    // per-group state (≤ k pairs per partition enter the shuffle),
    // deterministic by construction (no seed, no merge-order
    // dependence — the GK sketch's weakness), so the oracle replays
    // the SAMPLE itself (ORDER BY hash LIMIT k) and interpolates with
    // quantile_cont ≡ percentile (the q_corpus_stats parity). Exact
    // full-data quantiles alongside pin the estimate's target
    // key-skew diagnostic: the group-size histogram that decides
    // shuffle vs salting vs AQE before a hot key burns the job
    "q_key_skew" -> ((s, dir) =>
      Scale.keySkewProfile(Tables.lineitem(s, dir), Seq("l_partkey"))
        .orderBy("group_size")),
    // exact global order statistics by distributed quickselect — no
    // sort, no shuffle, log rounds of shrinking scans; integer rank
    // formulas so both engines target the identical position
    "q_exact_global_quantiles" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).filter(col("l_extendedprice").isNotNull)
      val n = li.count()
      val r50 = (n + 1) / 2
      val r90 = (9 * n + 9) / 10
      val sel = Scale.exactRankSelect(li, "l_extendedprice",
        Seq(r50, r90).distinct)
      import s.implicits._
      Seq(("p50", r50, sel(r50)), ("p90", r90, sel(r90)))
        .toDF("q", "rank", "value").orderBy("q")
    }),
    "q_sample_quantiles" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val est = HashSample.sampleQuantiles(ev, "event_type", "event_id",
        "value", k = 256, qs = Seq(0.5, 0.9))
      val exact = ev.filter(col("event_type").isNotNull)
        .groupBy("event_type")
        .agg(percentile(col("value"), lit(0.5)).as("p50_exact"),
          percentile(col("value"), lit(0.9)).as("p90_exact"))
      est.join(exact, Seq("event_type")).orderBy("event_type")
    }),
    // Bloom semi-join reduction, the runtime-filter idiom under
    // explicit control: urgent orders' keys fold into one broadcast
    // bloom blob, lineitem is pruned scan-side BEFORE its shuffle, and
    // the exact join removes the ~fpp false positives — so the answer
    // ≡ the plain join (what the oracle runs) while the fact exchange
    // carries only ~1/5 of the rows. sum_qty is integer-valued doubles
    // (exact under any summation order)
    "q_bloom_pruned_join" -> ((s, dir) => {
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_shipdate", "l_quantity")
      JoinPrune.bloomPrunedJoin(li, "l_orderkey", urgent, "o_orderkey",
          expectedItems = 1L << 20)
        .groupBy(year(col("l_shipdate")).cast("int").as("ship_year"))
        .agg(count(lit(1)).as("n_lines"), sum("l_quantity").as("sum_qty"))
        .orderBy("ship_year")
    }),
    // bloomed-LAYOUT round trip through the registered surface: part is
    // SHUFFLED (so every written row group spans the full key range and
    // min/max stat pruning keeps everything), written with a p_partkey
    // split-block bloom + 512 KB row groups, then point-looked-up from
    // the written files — the "fetch these ids from a shuffled corpus"
    // read whose row-group skipping ParquetLayoutSpec proves from the
    // same writer options. The oracle adjudicates the round trip
    // (write→bloom→read loses nothing); the skip is a scan property
    "q_bloom_layout_lookup" -> ((s, dir) => {
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_bloom_layout_" + dir.replaceAll("[^0-9a-zA-Z]+", "_"))
        .getAbsolutePath
      graft.sources.ParquetLayout.writeWithBlooms(
        Tables.part(s, dir).repartition(4),
        tmp, Map("p_partkey" -> 200000L), rowGroupBytes = 512L * 1024)
      s.read.parquet(tmp)
        .filter(col("p_partkey").isin(1, 77, 123))
        .select("p_partkey", "p_name", "p_brand")
        .orderBy("p_partkey")
    }),
    // exact frequent items at bounded memory: Misra–Gries candidate
    // sweep (≤ k counters per partial aggregate, any partitioning) +
    // exact recount of the ≤ k survivors. The composition's answer is
    // EXACTLY {term : cnt·(k+1) > N} — deterministic even though the
    // candidate set isn't — so the oracle skips the sketch and states
    // the definition directly. k=4 over the doc-language stream: the
    // fixture's en share (~40%) clears the 20% bar at every SF, the
    // four ~15% langs stay below it, and the 5th distinct value forces
    // real decrement steps through the bounded sweep
    "q_heavy_hitters" -> ((s, dir) =>
      HeavyHitters.exactHeavyHitters(Tables.documents(s, dir), "lang",
        k = 4)),
    // within-doc line dedup (RefinedWeb boilerplate pass) — the fixture
    // text is single-line, so the query wraps it deterministically
    // (" the " → newline, plus a planted duplicated head line) the same
    // way on both sides; the operator itself is scan-local, zero shuffle
    "q_dedup_lines" -> ((s, dir) => {
      val wrapped = Tables.documents(s, dir).select(col("doc_id"),
        concat(regexp_replace(col("text"), " the ", "\n"), lit("\n"),
          substring(col("text"), 1, 30), lit("\n"),
          substring(col("text"), 1, 30)).as("text"))
      TextAnalysis.dedupLines(wrapped, "doc_id", "text").orderBy("doc_id")
    }),
    // CROSS-document boilerplate line removal (the MassiveText/
    // RefinedWeb corpus-level line pass) — same deterministic newline
    // wrap as q_dedup_lines but no planted head line: the dup signal is
    // organic (short between-"the" segments recur across docs; ~50
    // occurrences cross the >= 3-doc threshold at sf0.001, ~700 at
    // sf0.1)
    "q_boilerplate_lines" -> ((s, dir) => {
      val wrapped = Tables.documents(s, dir).select(col("doc_id"),
        regexp_replace(col("text"), " the ", "\n").as("text"))
      Dedup.boilerplateLines(wrapped, "doc_id", "text", minDupDocs = 3)
        .orderBy("doc_id")
    }),
    // overlapping token-window chunking (RAG / strided pretraining
    // windows): chunk 32 / stride 24 → 8-token overlaps, last chunks
    // ragged; zero-shuffle posexplode, the q_sentences shape
    "q_chunk_windows" -> ((s, dir) =>
      TextAnalysis.chunkTokens(Tables.documents(s, dir), "doc_id", "text",
          chunkTokens = 32, strideTokens = 24)
        .orderBy("doc_id", "chunk_idx")),
    // sentence segmentation: terminal-punctuation split, order kept by
    // sent_idx; a pure per-row posexplode (no shuffle)
    "q_sentences" -> ((s, dir) =>
      TextAnalysis.sentences(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id", "sent_idx")),
    // temperature rebalancing (α=0.5): per-source survival rates — the
    // mixture recipe derived FROM the data, vs q_stratified_sample's
    // hand-set rates. c=5 puts every fixture source mid-range (n≈100 at
    // sf0.01 → rate≈0.5) so the cut is non-trivial at every SF
    "q_mixture_rates" -> ((s, dir) =>
      Scale.headCapRates(Tables.documents(s, dir), "source", c = 5.0)
        .orderBy("source")),
    // temperature SAMPLING DISTRIBUTION over sources (α = 3/4 via the
    // engine-portable quarter-power sqrt chain) — the mT5-style mixing
    // recipe next to q_mixture_rates' survival-rate form
    "q_temperature_rates" -> ((s, dir) =>
      Scale.temperatureRates(Tables.documents(s, dir), "source",
          alphaQuarters = 3)
        .orderBy("source")),
    // token-budget allocation: integer weight shares (derived here from
    // the source digits so the recipe replays anywhere) over a 1M-token
    // budget — target tokens AND micro-epochs in exact BIGINT
    // arithmetic (r8's DOUBLE epochs was the registry's one
    // hash-fragile column). The plan a loader executes via
    // upsample/subsample
    "q_token_budget" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val weights = docs.select(col("source")).distinct()
        .select(col("source"),
          (regexp_extract(col("source"), "([0-9]+)", 1).cast("long") + 1)
            .as("w_parts"))
      Scale.tokenBudgetPlan(docs, "source", "text", weights,
          budgetTokens = 1000000L)
        .orderBy("source")
    }),
    // two decorrelated reproducible epoch orders from the sha52 of
    // "e:id" — bucketed global ranks, no corpus-wide sort
    "q_epoch_shuffle" -> ((s, dir) =>
      Scale.epochShuffle(Tables.documents(s, dir).select("doc_id"),
          "doc_id", Seq(1, 2))
        .orderBy("doc_id")),
    // subsample plan matching the w_parts target mixture — bit-exact
    // integer plan (min over cross-multiplied rationals), the
    // "reproduce published dataset weights" knob next to the
    // temperature/head-cap flattening
    "q_target_mixture" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val weights = docs.select(col("source")).distinct()
        .select(col("source"),
          (regexp_extract(col("source"), "([0-9]+)", 1).cast("long") + 1)
            .as("w"))
      Scale.matchMixture(docs, "source", weights).orderBy("source")
    }),
    // the fill priced per source (q_packing_efficiency's read for the
    // budget fill): kept docs/tokens and budget utilization in micro
    // units — integer-exact
    "q_fill_efficiency" -> ((s, dir) =>
      Scale.budgetFill(
        Tables.documents(s, dir)
          .filter(col("text").isNotNull && length(trim(col("text"))) > 0),
        "source", "doc_id",
        size(split(trim(col("text")), "\\s+")).cast("long"),
        budgetPerSource = 3000L)
        .filter(col("keep"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("kept_tokens"))
        .select(col("source"), col("n_kept"), col("kept_tokens"),
          expr("(CAST(1000000 AS BIGINT) * kept_tokens) div 3000")
            .as("util_micro"))
        .orderBy("source")),
    // budget FILL: after allocation decides how many tokens each
    // source gets, this decides WHICH docs fill it — hash-ordered
    // greedy with a strict inclusive-cumsum cut, so kept sources never
    // exceed budget and the selection is crawl-order-unbiased. One
    // (source)-partitioned window, the loader-family shuffle
    "q_budget_fill" -> ((s, dir) =>
      Scale.budgetFill(
        Tables.documents(s, dir)
          .filter(col("text").isNotNull && length(trim(col("text"))) > 0),
        "source", "doc_id",
        size(split(trim(col("text")), "\\s+")).cast("long"),
        budgetPerSource = 3000L)
        .orderBy("doc_id")),
    // measurement → loader manifest in ONE chain: recommended
    // per-source weights = quality-scaled temperature rates
    // (floor(p_temp·10⁶) × per-source mean classifier score, all-
    // integer after the portable sqrt-chain doubles, floored at 1 so
    // the plan stays total) feeding matchMixture (kept/rate),
    // tokenBudgetPlan (targets), and the per-source budgetFillPlan
    // rollup. Every column BIGINT except none — the whole row is
    // integer-exact. The scan-heavy stages (classifier scoring, token
    // counts) each run once; weights are registry-sized and reused
    // across the three plan stages via one materialization
    "q_recommended_mixture" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      val clf = TextAnalysis.classifierApplyTable(docs, "doc_id", "text",
        TextAnalysis.classifierFixtureWeights(s, 512), buckets = 512)
      val prof = docs.select(col("doc_id"), col("source"))
        .join(clf, Seq("doc_id"))
        .groupBy("source").agg(sum(col("score_sum")).as("sum_score"))
      val weights = Scale.temperatureRates(docs, "source",
          alphaQuarters = 3)
        .join(broadcast(prof), Seq("source"))
        .select(col("source"), col("n").as("n_docs"),
          expr("greatest(CAST(1 AS BIGINT), " +
            "(CAST(floor(p_temp * 1000000) AS BIGINT) * " +
            "greatest(sum_score, CAST(0 AS BIGINT))) div n)").as("w"))
        .materialized
      val mm = Scale.matchMixture(docs, "source", weights)
        .select(col("source"), col("kept"), col("rate_micro"))
      val tbp = Scale.tokenBudgetPlan(docs, "source", "text",
        weights.select(col("source"), col("w").as("w_parts")),
        budgetTokens = 1000000L)
      val fill = Scale.budgetFillPlan(docs, "source", "doc_id",
        TextAnalysis.tokenCount(col("text")).cast("long"),
        tbp.select(col("source"),
          col("target_tokens").as("budget_tokens")))
      val fillAgg = fill.filter(col("keep")).groupBy("source")
        .agg(count(lit(1)).as("fill_docs"),
          sum(col("n_tokens")).as("fill_tokens"))
      // every joined frame here is registry-sized (one row per source)
      weights.join(broadcast(mm), Seq("source"))
        .join(broadcast(tbp.select("source", "n_tokens", "target_tokens",
          "epochs_micro")), Seq("source"))
        .join(broadcast(fillAgg), Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("w"), col("kept"),
          col("rate_micro"), col("n_tokens"), col("target_tokens"),
          col("epochs_micro"),
          coalesce(col("fill_docs"), lit(0L)).as("fill_docs"),
          coalesce(col("fill_tokens"), lit(0L)).as("fill_tokens"))
        .orderBy("source")
    }),
    // corpus-version vocabulary drift: PSI over hashed-token buckets
    // between the even- and odd-id halves (two releases of one corpus)
    // — bucket state bounded at 256 for open vocabularies; the text
    // counterpart of q_psi_drift's numeric deciles
    "q_token_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.tokenDriftPsi(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "text", buckets = 256)
    }),
    // normalization-gain dedup report: how many MORE duplicates the
    // normalized key (lower ∘ cleanTextV2 ∘ foldAccents → sha256)
    // finds than the raw byte key, over a corpus with planted
    // case-flipped (id%3=0) and ZWSP-injected (id%3=1) variants —
    // the governance read that justifies the normalization pass
    "q_normalized_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val upperVariants = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          upper(col("text")).as("text"))
      val zwspVariants = docs.filter(col("doc_id") % 3 === 1)
        .select((col("doc_id") + 20000000L).as("doc_id"),
          concat(substring(col("text"), 1, 1), lit("\u200B"),
            expr("substring(text, 2)")).as("text"))
      val corpus = docs.select("doc_id", "text")
        .unionByName(upperVariants).unionByName(zwspVariants)
      corpus.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(sha2(col("text"), 256)).as("distinct_raw"),
        countDistinct(sha2(TextAnalysis.foldAccents(
          TextAnalysis.cleanTextV2(lower(col("text")))), 256))
          .as("distinct_norm"))
        .select(col("n_docs"), col("distinct_raw"), col("distinct_norm"),
          (col("distinct_raw") - col("distinct_norm"))
            .as("extra_dups_found"))
    }),
    // the CONSTRAINED allocator: tokenBudgetPlan under per-source
    // epoch caps (Muennighoff data-constrained regime) — deterministic
    // integer waterfill, fixed 24-round unroll ≥ the 20-source mix so
    // the fixpoint is certified. Budget 50k at maxEpochs 2 straddles
    // the fixture's total cap (~56k at sf0.01): most sources saturate
    // there, few do at sf0.1's ~560k cap — both regimes replayed
    "q_capped_budget" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val avail = docs
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
        .select(col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("__n"))
        .groupBy("source").agg(sum(col("__n")).as("n_tokens"))
      val weights = docs.select(col("source")).distinct()
        .select(col("source"),
          (regexp_extract(col("source"), "([0-9]+)", 1).cast("long") + 1)
            .as("w_parts"))
      Scale.cappedBudgetPlan(avail, weights, budgetTokens = 50000L,
          maxEpochs = 2, rounds = 24)
        .orderBy("source")
    }),
    // Gopher rule gate (Rae et al. Table A1): every rule measurement +
    // the combined pass, one codegen projection per row
    "q_gopher_rules" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.gopherRules(col("text")).as("g"))
        .select(col("doc_id"), col("g.n_words"), col("g.mean_word_len"),
          col("g.symbol_ratio"), col("g.bullet_line_frac"),
          col("g.ellipsis_line_frac"), col("g.alpha_word_frac"),
          col("g.stop_hits"), col("g.pass"))
        .orderBy("doc_id")),
    // the gate composed as a corpus filter (the q_low_repetition shape:
    // thresholds sit inside the fixture's spread — minStopHits is 1
    // here because the synthetic vocabulary carries only "the" from the
    // paper's stop list; word count (min 50) does the real cutting, so
    // the gate keeps 251/500 at sf0.01. The operator default stays the
    // paper's 2.
    "q_gopher_kept" -> ((s, dir) =>
      Tables.documents(s, dir)
        .filter(TextAnalysis.gopherRules(col("text"), minStopHits = 1)
          .getField("pass"))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),
    // agreement between two quality gates (gopher rules vs the shipped
    // classifier) as a contingency table + Cohen's kappa — the
    // validation read before swapping one gate for another ("does the
    // new filter agree with the old beyond chance, and where not").
    // Counts are integer-exact; kappa's doubles derive from the same
    // integer operands on both engines
    "q_gate_agreement" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      val g = docs.select(col("doc_id"),
        TextAnalysis.gopherRules(col("text"), minStopHits = 1)
          .getField("pass").as("gp"))
      val c = TextAnalysis.classifierApplyTable(docs, "doc_id", "text",
          TextAnalysis.classifierFixtureWeights(s, 512), buckets = 512)
        .select(col("doc_id"), col("label").as("cp"))
      val j = g.join(c, Seq("doc_id"), "left")
        .select(col("gp"), coalesce(col("cp"), lit(false)).as("cp"))
      val agg = j.agg(
        count(lit(1)).as("n"),
        sum(when(col("gp") && col("cp"), 1L).otherwise(0L)).as("n_both"),
        sum(when(!col("gp") && !col("cp"), 1L).otherwise(0L))
          .as("n_neither"),
        sum(when(col("gp") && !col("cp"), 1L).otherwise(0L))
          .as("n_gopher_only"),
        sum(when(!col("gp") && col("cp"), 1L).otherwise(0L))
          .as("n_classifier_only"))
      val po = (col("n_both") + col("n_neither")).cast("double") / col("n")
      val pe = ((col("n_both") + col("n_gopher_only")).cast("double") *
          (col("n_both") + col("n_classifier_only")) +
        (col("n_neither") + col("n_classifier_only")).cast("double") *
          (col("n_neither") + col("n_gopher_only"))) /
        (col("n").cast("double") * col("n"))
      agg.select(col("n"), col("n_both"), col("n_neither"),
        col("n_gopher_only"), col("n_classifier_only"),
        ((po - pe) / (lit(1.0) - pe)).as("kappa"))
    }),
    // v7: the round-10 operators composed — ADVERSARIAL dedup tier
    // (confusable-skeleton canonical over a corpus with planted
    // Cyrillic-spoofed copies) → the q_drop_reasons gate battery
    // (floor, lang, gopher, classifier) → hash-ordered per-source
    // budget fill. The recipe a spam-exposed crawl actually needs:
    // spoofed duplicates die FIRST (they would each pass every
    // per-doc gate), then quality, then the mixture-shaped selection
    "q_curated_corpus_v7" -> ((s, dir) => {
      val docs0 = Tables.documents(s, dir).filter(col("text").isNotNull)
      val spoof = docs0.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + lit(300000L)).as("doc_id"), col("source"),
          translate(col("text"), "aeocp", cyrSpoof).as("text"))
      // corpus feeds the digest pass AND the survivor pass; dg sits on
      // BOTH sides of the canonical self-join (no ReusedExchange, the
      // q_countmin_joinsize precedent) — unmaterialized, the
      // confusableSkeleton+sha pass over every doc ran twice and the
      // union re-parsed per consumer (r16, guide §1.2)
      val corpus = docs0.select(col("doc_id"), col("source"), col("text"))
        .unionByName(spoof)
        .materialized // A/B'd in r16: kept (2 consumers re-derive the
      // union + spoof translate otherwise; control-normalized 1.48 vs
      // 1.57 without — unlike v3's single-source slice, where the
      // re-scan won and the materialize was dropped)
      val dg = corpus.select(col("doc_id"),
        sha2(TextAnalysis.confusableSkeleton(col("text")), 256).as("__d"))
        .materialized // 2 narrow cols (doc_id, digest)
      val canon = dg
        .join(dg.groupBy("__d").agg(min("doc_id").as("__kid")), Seq("__d"))
        .filter(col("doc_id") === col("__kid")).select("doc_id")
      val surv0 = corpus.join(canon, Seq("doc_id"), "left_semi")
        .filter(size(split(trim(col("text")), "\\s+")) >= 20 &&
          TextAnalysis.langId(col("text")) === "en" &&
          TextAnalysis.gopherRules(col("text"), minStopHits = 1)
            .getField("pass"))
        .materialized // feeds the classifier chain AND the fill
      val pos = TextAnalysis.classifierApplyTable(surv0, "doc_id", "text",
          TextAnalysis.classifierFixtureWeights(s, 512), buckets = 512)
        .filter(col("label")).select("doc_id")
      Scale.budgetFill(surv0.join(pos, Seq("doc_id"), "left_semi"),
          "source", "doc_id",
          size(split(trim(col("text")), "\\s+")).cast("long"),
          budgetPerSource = 2000L)
        .filter(col("keep"))
        .select("doc_id", "source", "n_tokens", "fill_rank")
        .orderBy("doc_id")
    }),
    // per-doc gate EXPLAINABILITY — "why was this doc dropped": every
    // curation gate as its own boolean (exact-dup canonical, token
    // floor, lang-id, gopher rules, classifier), keep = all pass, and
    // a pinned-precedence first-fail reason. The debugging read a
    // curation pipeline needs before touching any threshold — a recipe
    // that only emits survivors can't tell you WHICH gate is eating a
    // source. All gates are per-doc scan-local except the dedup
    // digest-group (the exactDedup shuffle) and the gate joins
    "q_drop_reasons" -> ((s, dir) => {
      // docs feeds three consumers (digest, classifier, the gate
      // chain) and dg sits on both sides of its self-join — same
      // duplicate-subtree shape as v7, same r16 fix (guide §1.2)
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      val dg = docs.select(col("doc_id"), sha2(col("text"), 256).as("__d"))
        .materialized // 2 narrow cols (doc_id, digest)
      val canon = dg.join(
          dg.groupBy("__d").agg(min("doc_id").as("__kid")), Seq("__d"))
        .select(col("doc_id"), (col("doc_id") === col("__kid"))
          .as("is_canonical"))
      val clf = TextAnalysis.classifierApplyTable(docs, "doc_id", "text",
          TextAnalysis.classifierFixtureWeights(s, 512), buckets = 512)
        .select(col("doc_id"), col("label").as("quality_ok"))
      docs
        .join(canon, Seq("doc_id"))
        .withColumn("len_ok",
          size(split(trim(col("text")), "\\s+")) >= 20)
        .withColumn("lang_ok", TextAnalysis.langId(col("text")) === "en")
        .withColumn("gopher_ok",
          TextAnalysis.gopherRules(col("text"), minStopHits = 1)
            .getField("pass"))
        .join(clf, Seq("doc_id"), "left")
        .withColumn("quality_ok", coalesce(col("quality_ok"), lit(false)))
        .withColumn("keep", col("is_canonical") && col("len_ok") &&
          col("lang_ok") && col("gopher_ok") && col("quality_ok"))
        .withColumn("drop_reason",
          when(!col("is_canonical"), "duplicate")
            .when(!col("len_ok"), "too_short")
            .when(!col("lang_ok"), "lang")
            .when(!col("gopher_ok"), "gopher")
            .when(!col("quality_ok"), "classifier")
            .otherwise("none"))
        .select("doc_id", "is_canonical", "len_ok", "lang_ok",
          "gopher_ok", "quality_ok", "keep", "drop_reason")
        .orderBy("doc_id")
    }),
    // URL toolkit over deterministically synthesized crawl URLs
    // (scheme/case/port/trailing-slash/tracking-param variation all
    // keyed off doc_id): host, registered domain, path depth,
    // canonical dedup key, tracking-param strip — every expression an
    // RE2-safe regex chain the oracle restates verbatim
    // robots.txt-shaped crawl-policy gate (RFC 9309 precedence):
    // longest matching prefix decides, equal-length ties prefer allow,
    // unknown hosts default-allow; rules collapse to one broadcast row
    // per host and the decision is a scan-local array fold. The rule
    // fixture exercises every precedence branch: blanket-disallow with
    // a longer allow carve-out (src1 /en/), section disallow (src2
    // /de/), subdomain-only blanket (sub.src3), nested overrides where
    // the carve-out cuts MID-SEGMENT (src4 /en/doc/1 re-allows ids
    // starting with digit 1 — byte-prefix semantics, the RFC's), and
    // an exact-tie allow-wins pair (src5 /en/)
    "q_url_policy" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.UrlOps
      val url = concat(
        when(col("doc_id") % 7 === 0, lit("http://")).otherwise(lit("https://")),
        when(col("doc_id") % 5 === 0, lit("Sub.")).otherwise(lit("")),
        col("source"), lit(".example.com"),
        when(col("doc_id") % 11 === 0, lit(":8080")).otherwise(lit("")),
        lit("/"), col("lang"), lit("/doc/"), col("doc_id").cast("string"))
      val rules = Seq(
        ("src1.example.com", "/", false),
        ("src1.example.com", "/en/", true),
        ("src2.example.com", "/de/", false),
        ("sub.src3.example.com", "/", false),
        ("src4.example.com", "/en/doc/", false),
        ("src4.example.com", "/en/doc/1", true),
        ("src5.example.com", "/en/", true),
        ("src5.example.com", "/en/", false)
      ).toDF("host", "path_prefix", "allow")
      UrlOps.urlPolicy(
          Tables.documents(s, dir).select(col("doc_id"), url.as("url")),
          "url", rules)
        .select(col("doc_id"), col("host"), col("path"), col("rule_len"),
          col("allowed"))
        .orderBy("doc_id")
    }),
    // WARC/WET ingestion end-to-end: a deterministic two-file crawl
    // segment (one plain .warc with CRLF-CRLF-embedding payloads, one
    // multi-member .warc.gz — the Common Crawl shipping convention) is
    // planted in tmpdir, read back through sources.Warc, and
    // adjudicated on record count, per-record target URI, and payload
    // sha256 — the digest only matches if the Content-Length slice
    // recovered the exact payload bytes through the codec
    "q_warc_extract" -> ((s, dir) =>
      graft.sources.Warc.readWarcFiles(s, warcFixtureDir(dir))
        .select(col("record_idx"), col("warc_type"), col("target_uri"),
          col("content_length"),
          sha2(col("payload"), 256).as("payload_sha256"))
        .orderBy(asc_nulls_first("target_uri"), col("record_idx"))),
    // crawl bytes → curation-tier text in one hop: documentsFrame over
    // the same fixture segment recovers the HTTP body (after the first
    // CRLF CRLF) from response records and the plain WET payload from
    // conversion records; adjudicated on per-URL char/token counts and
    // the body sha256 (a mis-sliced body fails the digest)
    "q_wet_text" -> ((s, dir) => {
      val txt = graft.sources.Warc.documentsFrame(
        graft.sources.Warc.readWarcFiles(s, warcFixtureDir(dir)))
      txt.select(col("url"),
          when(col("text").isNotNull, length(col("text")).cast("long"))
            .as("n_chars"),
          when(col("text").isNotNull,
            TextAnalysis.tokenCount(col("text")).cast("long"))
            .as("n_tokens"),
          sha2(col("text"), 256).as("body_sha256"))
        .orderBy("url")
    }),
    // WARC revisit records as freshness signals (the Common Crawl
    // dedupe convention): keep-latest still selects the latest CAPTURE
    // per canonical URL (revisits carry no body), but last_seen
    // advances to the newest revisit — /rv/a's revisit postdates its
    // capture (last_seen moves), /rv/b's predates its second capture
    // (last_seen stays), /rv/c was only revisited (dropped). The
    // capture side also collapses a tracking-param URL variant
    "q_crawl_revisit" -> ((s, dir) => {
      val recs = graft.sources.Warc.readWarcFiles(s, warcFixtureDir(dir))
        .filter(col("path").contains("seg-00004"))
      val docs = graft.sources.Warc.documentsFrame(recs)
      val rv = graft.sources.Warc.revisitFrame(recs)
      graft.sources.Warc.latestWithRevisits(docs, rv)
        .select(col("canonical_url"), col("record_id"), col("warc_date"),
          col("last_seen"), sha2(col("text"), 256).as("body_sha256"))
        .orderBy("canonical_url")
    }),
    // WAT-style crawl metadata (the third Common Crawl artifact format
    // next to WARC/WET): per response record — envelope (status, mime,
    // redirect Location), decode (charset/encoding), and the HTML link
    // rollup (title, base, link/anchor counts, sorted distinct
    // RESOLVED outlink hosts — per-ref RFC 3986 resolution in-array,
    // no explode, no shuffle). Responses only; non-HTML bodies report
    // zero links. Oracle = hand-derived literals per planted record
    "q_warc_wat" -> ((s, dir) =>
      graft.sources.Warc.watFrame(
        graft.sources.Warc.readWarcFiles(s, warcWatFixtureDir(dir)))
        .orderBy("record_id")),
    // redirect-chain resolution: a deterministic functional graph over
    // document urls (d%3!=0 redirects u(d) → u((2d+1) mod N); d%3==0
    // is terminal) resolved by POINTER DOUBLING — 4 registry-sized
    // self-joins cover 16 hops. The oracle walks the same graph with a
    // recursive CTE bounded at 16 steps: final node, exact hop count,
    // and resolved ⟺ the final node no longer redirects (cycles and
    // >16-hop chains surface as unresolved on BOTH sides)
    "q_redirect_chains" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id")
      val n = broadcast(docs.agg(count(lit(1)).as("__n")))
      def u(c: org.apache.spark.sql.Column) =
        concat(lit("http://r.example.com/u"), c.cast("string"))
      val edges = docs.crossJoin(n)
        .filter(col("doc_id") % 3 =!= 0)
        .select(u(col("doc_id")).as("src"),
          u((col("doc_id") * 2 + 1) % col("__n")).as("dst"))
      graft.operators.Crawl.resolveRedirects(edges, "src", "dst",
          maxHops = 16)
        .orderBy("url")
    }),
    // redirect-aware URL dedup — resolveRedirects composed INTO
    // latestByUrl (the "what it's for" chain): captures recorded under
    // old urls (d%5==0 once-moved at /old, d%10==0 twice-moved at
    // /older → /old → /p) re-key under their redirect-resolved FINAL
    // url before keep-latest. Load-bearing by construction: the
    // once-moved pages' OLD-url capture is the NEWEST (2026-09-01), so
    // it must WIN its merged group — and without the rewrite the old
    // captures would surface as extra canonical groups (row-count
    // mismatch). Oracle: the per-doc winner derived literally
    "q_redirected_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id")
      val id = col("doc_id").cast("string")
      val day = lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0")
      def cu(p: String) = concat(lit(s"http://rd.example.com/$p"), id)
      val cur = docs.select(cu("p").as("url"),
        concat(lit("rc-"), id).as("record_id"),
        concat(lit("2026-08-"), day, lit("T00:00:00Z")).as("warc_date"))
      val old1 = docs.filter(col("doc_id") % 5 === 0)
        .select(cu("old").as("url"), concat(lit("ro-"), id).as("record_id"),
          lit("2026-09-01T00:00:00Z").as("warc_date"))
      val old2 = docs.filter(col("doc_id") % 10 === 0)
        .select(cu("older").as("url"), concat(lit("rq-"), id).as("record_id"),
          lit("2026-07-01T00:00:00Z").as("warc_date"))
      val caps = cur.unionByName(old1).unionByName(old2)
      val edges = docs.filter(col("doc_id") % 5 === 0)
        .select(cu("old").as("src"), cu("p").as("dst"))
        .unionByName(docs.filter(col("doc_id") % 10 === 0)
          .select(cu("older").as("src"), cu("old").as("dst")))
      val rd = graft.operators.Crawl.resolveRedirects(edges, "src", "dst",
          maxHops = 16)
        .filter(col("resolved"))
        .select(col("url").as("__ru"), col("final_url"))
        .materialized
      // NOT broadcast: a web-scale redirect map is url-count-sized
      // (10⁸ rows at 100 TB) — a plain equi-join on the url key, AQE
      // picks the strategy at actual sizes
      val rewritten = caps
        .join(rd, caps("url") === col("__ru"), "left")
        .select(coalesce(col("final_url"), caps("url")).as("url"),
          col("record_id"), col("warc_date"))
      graft.sources.Warc.latestByUrl(rewritten)
        .select(col("canonical_url"), col("record_id"), col("warc_date"))
        .orderBy("canonical_url")
    }),
    // WARC-Payload-Digest revisit chains (the Common Crawl dedupe
    // convention at its most common): revisits WITHOUT a
    // WARC-Refers-To header resolve to the duplicated capture by
    // (canonical URL, payload digest), across segments, picking the
    // latest capture at or before the revisit; explicit references
    // pass through; digest mismatches and foreign-URL digests stay
    // unresolved (never dropped). Oracle = the hand-derived resolution
    // of every planted case
    "q_revisit_chains" -> ((s, dir) => {
      val recs = graft.sources.Warc.readWarcFiles(s,
        warcDigestFixtureDir(dir))
      graft.sources.Warc.resolveRevisits(recs)
        .orderBy("record_id")
    }),
    // URL-level crawl dedup: recrawls planted as canonical-URL
    // collision groups of 3 (case/trailing-slash variant, tracking-
    // param variant, plain), each with a distinct warc_date — the
    // keep-latest-per-canonical-URL pass that must run before the text
    // tiers. The oracle recomputes the winner per group with a window
    // over the SAME hand-derived canonical key and date rule
    "q_crawl_dedup" -> ((s, dir) => {
      val g = floor(col("doc_id") / 3).cast("long").cast("string")
      val day = lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0")
      val url = when(col("doc_id") % 3 === 0,
          concat(lit("HTTP://Crawl.Example.com/p/"), g, lit("/")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("http://crawl.example.com/p/"), g,
            lit("?utm_source=x")))
        .otherwise(concat(lit("http://crawl.example.com/p/"), g))
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        url.as("url"),
        concat(lit("rec-"), lpad(col("doc_id").cast("string"), 8, "0"))
          .as("record_id"),
        concat(lit("2026-08-"), day, lit("T00:00:00Z")).as("warc_date"))
      graft.sources.Warc.latestByUrl(docs)
        .select(col("canonical_url"), col("doc_id"), col("record_id"),
          col("warc_date"))
        .orderBy("canonical_url")
    }),
    // charset + Content-Encoding decode adjudicated over fixture file
    // 3: declared ISO-8859-1/GBK, meta-sniffed windows-1252, gzip and
    // deflate bodies, the UTF-8-strict-else-1252 default, a declared-
    // but-wrong charset and an unsupported coding (NULL text + error
    // — the quarantine posture). Expected rows are the PLANTED
    // literals; the digest only matches if the byte → decompress →
    // charset chain recovered the exact planted text
    "q_warc_charset" -> ((s, dir) => {
      val recs = graft.sources.Warc.readWarcFiles(s, warcFixtureDir(dir))
        .filter(col("path").contains("seg-00003"))
      graft.sources.Warc.documentsFrame(recs)
        .select(col("url"), col("charset"), col("content_encoding"),
          when(col("text").isNotNull, length(col("text")).cast("long"))
            .as("n_chars"),
          sha2(col("text"), 256).as("body_sha256"),
          col("decode_error"))
        .orderBy("url")
    }),
    // robots.txt TEXT parsing (RFC 9309): raw planted bodies → the
    // (host, path_prefix, allow) rule table. The fixture exercises
    // group selection by longest agent (src1), case-insensitive fields
    // + merge of equally specific groups + conservative */$ folding
    // (src2), blank-line/orphan-rule/empty-pattern edges (src3), and a
    // rule-free body that must yield NO rows (src4). The oracle states
    // the RFC-derived expectations as literals — adjudicating the
    // parser against the spec, not a parallel implementation
    "q_robots_rules" -> ((s, dir) => {
      import s.implicits._
      graft.functions.UrlOps.robotsRules(
          robotsFixture.toDF("host", "text"), "host", "text", "graftbot")
        .orderBy("host", "path_prefix")
    }),
    // sitemap discovery from the same robots bodies — group-independent
    // Sitemap: lines, scheme colon preserved (only the field colon
    // splits); the crawl-seed input next to the rule gate
    "q_robots_sitemaps" -> ((s, dir) => {
      import s.implicits._
      graft.functions.UrlOps.robotsSitemaps(
          robotsFixture.toDF("host", "text"), "host", "text")
        .orderBy("host", "sitemap_url")
    }),
    // the parsed rules composed straight into the urlPolicy gate over
    // synthesized crawl URLs — the full text → rules → decision chain;
    // the oracle recomputes the RFC precedence independently in SQL
    // from the expected rule literals
    "q_robots_policy" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.UrlOps
      val url = concat(lit("https://"), col("source"),
        lit(".example.com"),
        when(col("doc_id") % 6 === 0, lit("/private/pub/p"))
          .when(col("doc_id") % 6 === 1, lit("/private/p"))
          .when(col("doc_id") % 6 === 2, lit("/gb/p"))
          .when(col("doc_id") % 6 === 3, lit("/gb2/mid/p"))
          .when(col("doc_id") % 6 === 4, lit("/a"))
          .otherwise(lit("/b")),
        col("doc_id").cast("string"))
      val rules = UrlOps.robotsRules(
        robotsFixture.toDF("host", "text"), "host", "text", "graftbot")
      UrlOps.urlPolicy(
          Tables.documents(s, dir).select(col("doc_id"), url.as("url")),
          "url", rules)
        .select(col("doc_id"), col("host"), col("path"), col("rule_len"),
          col("allowed"))
        .orderBy("doc_id")
    }),
    // the FULL-WILDCARD policy gate (RFC 9309 §2.2.3): raw */$
    // patterns from robotsRulesExact compiled to anchored regexes
    // inside the plan, longest-raw-pattern precedence — URLs
    // synthesized to make every wildcard decide something ($ anchor
    // holding vs failing, interior * spanning a segment, trailing *
    // as prefix). The oracle carries HAND-DERIVED regexes + lengths
    // and lets DuckDB's RE2 do the matching independently
    "q_robots_policy_exact" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.UrlOps
      val id = col("doc_id").cast("string")
      val url = concat(lit("https://"), col("source"),
        lit(".example.com"),
        when(col("doc_id") % 8 === 0, concat(lit("/private/pub/p"), id))
          .when(col("doc_id") % 8 === 1, concat(lit("/private/p"), id))
          .when(col("doc_id") % 8 === 2, lit("/gb/ok"))
          .when(col("doc_id") % 8 === 3, concat(lit("/gb/ok"), id))
          .when(col("doc_id") % 8 === 4, concat(lit("/gb2/m"), id, lit("/x5")))
          .when(col("doc_id") % 8 === 5, concat(lit("/gb2/m"), id, lit("/y")))
          .when(col("doc_id") % 8 === 6, concat(lit("/a"), id))
          .otherwise(lit("/b")))
      val rules = UrlOps.robotsRulesExact(
        robotsFixture.toDF("host", "text"), "host", "text", "graftbot")
      UrlOps.urlPolicyPatterns(
          Tables.documents(s, dir).select(col("doc_id"), url.as("url")),
          "url", rules)
        .select("doc_id", "host", "path", "rule_len", "allowed")
        .orderBy("doc_id")
    }),
    // crawl-frontier planning — the fetch-side loop closed: candidate
    // URLs minus the SEEN set (exact anti-join here; bloomAntiJoin is
    // the adjudicated 100 TB path), through the parsed-robots policy
    // gate, a per-host politeness quota (TopKAggregator shape — no
    // per-host window over the full frontier), and a hash-ordered
    // fetch position within each host (bounded ≤ k-row windows)
    "q_crawl_frontier" -> ((s, dir) =>
      crawlFrontier(s, dir).orderBy("doc_id")),
    // per-host politeness delays parsed from the planted crawl-delay
    // bodies: graftbot group beats *, equal-specificity groups merge
    // to the MAX delay, junk values ignored (try_cast), delay-less
    // hosts absent
    "q_crawl_delays" -> ((s, dir) => {
      import s.implicits._
      graft.functions.UrlOps.robotsCrawlDelays(
          crawlDelayFixture.toDF("host", "text"), "host", "text",
          "graftbot")
        .orderBy("host")
    }),
    // sitemap XML parsing (sitemaps.org): urlset url entries + nested
    // sitemapindex entries, loc required, lastmod NULL when absent —
    // the discovery step between q_robots_sitemaps and the frontier
    "q_sitemap_urls" -> ((s, dir) => {
      import s.implicits._
      graft.functions.UrlOps.sitemapUrls(
          sitemapFixture.toDF("host", "text"), "host", "text")
        .orderBy("host", "loc")
    }),
    // the frontier priced into an actual FETCH SCHEDULE: per-host
    // politeness delays parsed from crawl-delay lines (graftbot group
    // beats *, max-of-merged, junk ignored, absent host → 1 s
    // default), fetch offset = (rank − 1) × delay — the artifact a
    // polite fetcher executes. Delay doubles are exact binary
    // fractions so the ms offsets are engine-exact
    "q_fetch_schedule" -> ((s, dir) => {
      import s.implicits._
      val delays = graft.functions.UrlOps.robotsCrawlDelays(
        crawlDelayFixture.toDF("host", "text"), "host", "text",
        "graftbot")
      crawlFrontier(s, dir)
        .join(broadcast(delays), Seq("host"), "left")
        .select(col("doc_id"), col("host"), col("frontier_rank"),
          ((col("frontier_rank") - 1) *
            coalesce(col("crawl_delay_s"), lit(1.0)) * 1000)
            .cast("long").as("fetch_offset_ms"))
        .orderBy("doc_id")
    }),
    // HTML outlink extraction + RFC 3986 absolutization — the link-
    // discovery edge of the crawl loop: deterministically synthesized
    // pages carry one link of every resolution shape (relative,
    // absolute-path [single-quoted], dot-segments+fragment,
    // protocol-relative, img src, absolute-with-query, plus a
    // fragment-only and a mailto: that must DROP), and every fifth
    // page a <base href> that rebases the relative ones. Each page
    // also plants tag-context NOISE that must extract NOTHING: a
    // commented-out link + base, an href inside a script body, and an
    // href in visible prose (the single-pass scanner's discipline —
    // the oracle stays noise-free because none of it is a link). The
    // oracle states the hand-derived RFC 3986 resolution of each link
    // as SQL string arms — extraction AND resolution are adjudicated,
    // ×3 SFs
    "q_outlinks" -> ((s, dir) => {
      import graft.functions.UrlOps
      val id = col("doc_id").cast("string")
      val hostc = concat(col("source"), lit(".example.com"))
      val url = concat(lit("https://"), hostc, lit("/sec"),
        (col("doc_id") % 4).cast("string"), lit("/index"), id,
        lit(".html"))
      val baseTag = when(col("doc_id") % 5 === 0,
        lit("<base href=\"/based/deep/\">")).otherwise(lit(""))
      val html = concat(lit("<html><head>"), baseTag,
        lit("<!-- <base href=\"/hijack/\"><a href=\"/phantom1\">x</a> -->"),
        lit("<script>var u = ' href=\"/phantom2\" ';</script>"),
        lit("</head><body>"),
        lit("<p>docs mention href=\"/phantom3\" as an attribute</p>"),
        lit("<a href=\"rel/p"), id, lit(".html\">r</a>"),
        lit("<a href='/abs/q"), id, lit("'>a</a>"),
        lit("<a href=\"../up"), id, lit(".html#frag\">u</a>"),
        lit("<a href=\"//cdn.example.org/lib"), id, lit(".js\">c</a>"),
        lit("<img src='img"), id, lit(".png'>"),
        lit("<a href=\"https://ext.example.net/e"), id,
        lit("?x=1#y\">e</a>"),
        lit("<a href=\"#top\">t</a><a href=\"mailto:a@b\">m</a>"),
        lit("</body></html>"))
      UrlOps.extractOutlinks(
          Tables.documents(s, dir).select(col("doc_id"), url.as("url"),
            html.as("html")),
          "url", "html")
        .select(col("doc_id"), col("outlink"))
        .orderBy("doc_id", "outlink")
    }),
    // the crawl loop LOOPING: 4-hop BFS over a deterministic link
    // graph (page d links to (2d+1) mod N [relative href] and
    // (3d+2) mod N [absolute path] — real HTML extraction +
    // RFC 3986 resolution on every hop), seeds = doc_id%97==0.
    // The oracle recomputes min-hop reachability with a recursive CTE
    // over the same arithmetic edges
    "q_crawl_bfs" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id")
      val base = docs.crossJoin(
        broadcast(docs.agg(count(lit(1)).as("__n"))))
      def purl(c: org.apache.spark.sql.Column) =
        concat(lit("https://bfs.example.com/d/p"), c.cast("string"),
          lit(".html"))
      val a1 = (col("doc_id") * 2 + 1) % col("__n")
      val a2 = (col("doc_id") * 3 + 2) % col("__n")
      val html = concat(
        lit("<html><body><a href=\"p"), a1.cast("string"),
        lit(".html\">x</a><a href=\"/d/p"), a2.cast("string"),
        lit(".html\">y</a></body></html>"))
      val pages = base.select(purl(col("doc_id")).as("url"),
        html.as("html"))
      val seeds = docs.filter(col("doc_id") % 97 === 0)
        .select(purl(col("doc_id")).as("url"))
      graft.operators.Crawl.bfs(pages, "url", "html", seeds, "url",
          hops = 4)
        .select(regexp_extract(col("url"), "p([0-9]+)\\.html$", 1)
          .cast("long").as("doc_id"), col("hop"))
        .orderBy("doc_id")
    }),
    // anchor-text extraction — the per-link label source (anchor
    // corpora for target-page quality/relevance): every <a> yields its
    // absolutized target + inner text with markup stripped and
    // whitespace collapsed; fragment-only anchors drop, img src is not
    // an anchor. Oracle = hand-derived rows per planted anchor shape
    "q_anchor_text" -> ((s, dir) => {
      import graft.functions.UrlOps
      val id = col("doc_id").cast("string")
      val hostc = concat(col("source"), lit(".example.com"))
      val url = concat(lit("https://"), hostc, lit("/dir/page"), id,
        lit(".html"))
      val html = concat(
        lit("<html><body><a href=\"/p"), id, lit("\">Doc <b>"), id,
        lit("</b>  reference</a>"),
        lit("<a href='rel"), id, lit("' class=\"x\">see  also "), id,
        lit("</a>"),
        lit("<a href=\"#top\">skip</a><img src='i"), id, lit(".png'>"),
        lit("</body></html>"))
      UrlOps.extractAnchors(
          Tables.documents(s, dir).select(col("doc_id"), url.as("url"),
            html.as("html")),
          "url", "html")
        .select(col("doc_id"), col("outlink"), col("anchor"))
        .orderBy("doc_id", "outlink")
    }),
    // the anchor CORPUS — the artifact a target-page relevance model
    // trains on: anchors rolled up per canonical target URL (first
    // link target is doc_id%53, so targets collect anchors from many
    // source pages), n_anchors + the sorted distinct anchor texts as
    // one engine-portable string
    "q_anchor_corpus" -> ((s, dir) => {
      import graft.functions.UrlOps
      val id = col("doc_id").cast("string")
      val m = (col("doc_id") % 53).cast("string")
      val hostc = concat(col("source"), lit(".example.com"))
      val url = concat(lit("https://"), hostc, lit("/dir/page"), id,
        lit(".html"))
      val html = concat(
        lit("<html><body><a href=\"/p"), m, lit("\">Doc <b>"), id,
        lit("</b>  reference</a>"),
        lit("<a href='rel"), id, lit("'>see  also "), id, lit("</a>"),
        lit("</body></html>"))
      UrlOps.extractAnchors(
          Tables.documents(s, dir).select(col("doc_id"), col("source"),
            url.as("url"), html.as("html")),
          "url", "html")
        .select(UrlOps.canonical(col("outlink")).as("target"),
          col("anchor"))
        .groupBy("target")
        .agg(count(lit(1)).cast("long").as("n_anchors"),
          concat_ws("|", array_sort(collect_set(col("anchor"))))
            .as("anchor_texts"))
        .orderBy("target")
    }),
    // web-graph analytics FROM crawl bytes: synthesized pages whose
    // anchors point at other hosts (targets (d+1) mod N and (7d+3)
    // mod N, looked up for their source names) → extractOutlinks →
    // host-level undirected edge set → the existing fixed-iteration
    // PageRank. The domain-authority signal a curation pipeline feeds
    // into source weighting; the oracle rebuilds the same host edges
    // relationally and replays the shared unrolled recurrence
    "q_outlink_pagerank" -> ((s, dir) => {
      import graft.functions.UrlOps
      val docs = Tables.documents(s, dir).select("doc_id", "source")
      val base = docs.crossJoin(
        broadcast(docs.agg(count(lit(1)).as("__n"))))
      val ta = docs.select(col("doc_id").as("__ia"),
        col("source").as("__sa"))
      val tb = docs.select(col("doc_id").as("__ib"),
        col("source").as("__sb"))
      val linked = base
        .join(ta, (col("doc_id") + 1) % col("__n") === col("__ia"))
        .join(tb, (col("doc_id") * 7 + 3) % col("__n") === col("__ib"))
      val html = concat(
        lit("<html><body><a href=\"https://"), col("__sa"),
        lit(".example.com/x\">a</a><a href=\"https://"), col("__sb"),
        lit(".example.com/y\">b</a></body></html>"))
      val pages = linked.select(
        concat(lit("https://"), col("source"), lit(".example.com/p"),
          col("doc_id").cast("string")).as("url"),
        html.as("html"))
      val links = UrlOps.extractOutlinks(pages, "url", "html")
      val edges = links.select(
          UrlOps.hostNoPort(col("url")).as("h1"),
          UrlOps.hostNoPort(col("outlink")).as("h2"))
        .filter(col("h1") =!= col("h2"))
        .select(least(col("h1"), col("h2")).as("ha"),
          greatest(col("h1"), col("h2")).as("hb"))
        .distinct
      Analytics.pageRank(edges, "ha", "hb", iterations = 10,
          damping = 0.85)
        .select(col("node"), col("rank").as("pagerank"))
        .orderBy("node")
    }),
    // DIRECTED host PageRank with dangling-mass redistribution — the
    // web-authority form over the crawl tier's natural (src_host →
    // dst_host) edge direction (q_outlink_pagerank collapses it to
    // undirected; real authority flows one way). Only hosts with
    // suffix % 3 != 0 publish pages here, so src0/src3/… appear ONLY
    // as link targets: genuine dangling sinks whose rank mass must
    // redistribute each round (D/n term) for Σ rank = 1 to hold. The
    // oracle unrolls the directed recurrence including the per-round
    // dangling aggregate (pageRankDirectedOracleCtes)
    "q_directed_pagerank" -> ((s, dir) => {
      directedHostRank(s, dir)
        .select(col("node"), col("rank").as("pagerank"))
        .orderBy("node")
    }),
    // WEIGHTED directed PageRank over the same host graph — edge
    // weight = link count per (src, dst) host pair (the anchor-count
    // signal: how often one host links another), each source's rank
    // split ∝ w/Σw instead of uniformly. Same sink structure, so the
    // dangling term stays load-bearing; the oracle unrolls the
    // weighted recurrence (pageRankWeightedOracleCtes)
    "q_weighted_pagerank" -> ((s, dir) =>
      Analytics.pageRankDirectedWeighted(
          directedHostEdges(s, dir)
            .groupBy("src_host", "dst_host")
            .agg(count(lit(1)).cast("double").as("w")),
          "src_host", "dst_host", "w", iterations = 10, damping = 0.85)
        .select(col("node"), col("rank").as("pagerank"))
        .orderBy("node")),
    // PERSONALIZED PageRank over the same directed host graph —
    // restarts land only on the trusted-seed hosts (suffix % 4 == 1),
    // so rank reads "authority as seen from my seed list" (the
    // TrustRank / frontier-prioritization signal). Same sink structure
    // as q_directed_pagerank, so the dangling mass (teleporting to the
    // SEEDS here, not uniformly) is load-bearing on both sides
    "q_personalized_pagerank" -> ((s, dir) => {
      trustedHostRank(s, dir)
        .select(col("node"), col("rank").as("pagerank"))
        .orderBy("node")
    }),
    // SPAM MASS (Gyöngyi et al. '04): the share of a host's PageRank
    // NOT explainable from the trusted seed set — pagerank minus
    // TrustRank, and the relative form 1 − trustrank/pagerank. The
    // standard link-spam demotion signal a curation pipeline reads
    // next to raw authority. BOTH rank frames come from the write-once
    // registry (the same keys q_directed_pagerank /
    // q_personalized_pagerank serve), so this query derives NOTHING —
    // it is the registry's consumer story: rank once, read many
    "q_spam_mass" -> ((s, dir) => {
      val pr = directedHostRank(s, dir)
        .select(col("node"), col("rank").as("pagerank"))
      val tr = trustedHostRank(s, dir)
        .select(col("node"), col("rank").as("trustrank"))
      pr.join(tr, Seq("node"))
        .select(col("node"), col("pagerank"), col("trustrank"),
          (col("pagerank") - col("trustrank")).as("spam_mass"),
          (lit(1.0) - col("trustrank") / col("pagerank"))
            .as("spam_frac"))
        .orderBy("node")
    }),
    // HITS hubs-and-authorities over the directed host graph — the
    // anchor-authority companion read: %3!=0 publishers are the hub
    // candidates, %3==0 hosts (link targets that never publish) must
    // surface with hub EXACTLY 0, and sources nobody links with
    // authority 0. Oracle unrolls the L2-normalized double recursion
    "q_hits_authority" -> ((s, dir) =>
      Analytics.hits(directedHostEdges(s, dir),
          "src_host", "dst_host", iterations = 8)
        .orderBy("node")),
    // INCREMENTAL host-graph PageRank — the nightly-increment analog
    // of q_warc_incremental_curation for rank: the standing edge set
    // (night 1 = even doc_ids' pages, extracted and materialized once)
    // absorbs the increment's edges (night 2 = odd pages — extraction
    // runs ONLY on them) via Crawl.mergeHostEdges, and the fixed-
    // iteration recurrence re-runs on the merged, edge-registry-sized
    // adjacency. The oracle is the FROM-SCRATCH recompute over all
    // pages (the same modular link rule as q_outlink_pagerank) — the
    // incremental fold must land on exactly the from-scratch answer
    "q_incremental_pagerank" -> ((s, dir) => {
      import graft.functions.UrlOps
      val docs = Tables.documents(s, dir).select("doc_id", "source")
      val base = docs.crossJoin(
        broadcast(docs.agg(count(lit(1)).as("__n"))))
      val ta = docs.select(col("doc_id").as("__ia"),
        col("source").as("__sa"))
      val tb = docs.select(col("doc_id").as("__ib"),
        col("source").as("__sb"))
      val linked = base
        .join(ta, (col("doc_id") + 1) % col("__n") === col("__ia"))
        .join(tb, (col("doc_id") * 7 + 3) % col("__n") === col("__ib"))
      val html = concat(
        lit("<html><body><a href=\"https://"), col("__sa"),
        lit(".example.com/x\">a</a><a href=\"https://"), col("__sb"),
        lit(".example.com/y\">b</a></body></html>"))
      val pages = linked.select(col("doc_id"),
        concat(lit("https://"), col("source"), lit(".example.com/p"),
          col("doc_id").cast("string")).as("url"),
        html.as("html"))
      def edges(p: DataFrame) = {
        val links = UrlOps.extractOutlinks(p, "url", "html")
        links.select(
            UrlOps.hostNoPort(col("url")).as("ha"),
            UrlOps.hostNoPort(col("outlink")).as("hb"))
          .filter(col("ha") =!= col("hb"))
      }
      val standing = edges(pages.filter(col("doc_id") % 2 === 0))
        .select(least(col("ha"), col("hb")).as("ha"),
          greatest(col("ha"), col("hb")).as("hb"))
        .distinct.materialized
      val merged = graft.operators.Crawl.mergeHostEdges(standing,
        edges(pages.filter(col("doc_id") % 2 === 1)))
      Analytics.pageRank(merged, "ha", "hb", iterations = 10,
          damping = 0.85)
        .select(col("node"), col("rank").as("pagerank"))
        .orderBy("node")
    }),
    // the FULL "crawl bytes → authority-weighted training mixture"
    // story as ONE adjudicated query: anchors extracted from
    // synthesized cross-host pages (the q_outlink_pagerank link rule,
    // now with anchor TEXT) roll up into per-target-host authority
    // (n_anchors, distinct linking hosts — the anchor-corpus signal),
    // which drives the INTEGER source weight feeding matchMixture
    // (kept/rate); host PageRank over the same extracted links rides
    // along per source as the double-valued authority score. The
    // weight stays integer-exact on purpose: deriving ints from the
    // double rank (floor(rank·10⁶)) would gamble the exact compare on
    // a floor boundary — rank is adjudicated under float tolerance in
    // its own column instead. Oracle: the anchor rollup, weight, and
    // min-ratio mixture restated relationally + the shared unrolled
    // PageRank recurrence
    "q_curated_corpus_v8" -> ((s, dir) => {
      import graft.functions.UrlOps
      val docs = Tables.documents(s, dir).select("doc_id", "source")
      val base = docs.crossJoin(
        broadcast(docs.agg(count(lit(1)).as("__n"))))
      val ta = docs.select(col("doc_id").as("__ia"),
        col("source").as("__sa"))
      val tb = docs.select(col("doc_id").as("__ib"),
        col("source").as("__sb"))
      val linked = base
        .join(ta, (col("doc_id") + 1) % col("__n") === col("__ia"))
        .join(tb, (col("doc_id") * 7 + 3) % col("__n") === col("__ib"))
      val html = concat(
        lit("<html><body><a href=\"https://"), col("__sa"),
        lit(".example.com/x\">link "), col("__sa"),
        lit("</a><a href=\"https://"), col("__sb"),
        lit(".example.com/y\">see "), col("__sb"),
        lit("</a></body></html>"))
      val pages = linked.select(
        concat(lit("https://"), col("source"), lit(".example.com/p"),
          col("doc_id").cast("string")).as("url"),
        html.as("html"))
      // one extraction feeds authority AND the graph
      val anchors = UrlOps.extractAnchors(pages, "url", "html")
        .select(UrlOps.hostNoPort(col("url")).as("src_host"),
          UrlOps.hostNoPort(col("outlink")).as("dst_host"))
        .filter(col("src_host") =!= col("dst_host"))
        .materialized
      val auth = anchors.groupBy(col("dst_host").as("host"))
        .agg(count(lit(1)).cast("long").as("n_anchors"),
          countDistinct(col("src_host")).cast("long")
            .as("n_link_sources"))
      val edges = anchors.select(
          least(col("src_host"), col("dst_host")).as("ha"),
          greatest(col("src_host"), col("dst_host")).as("hb"))
        .distinct
      val pr = Analytics.pageRank(edges, "ha", "hb", iterations = 10,
          damping = 0.85).materialized
        .select(col("node").as("host"), col("rank").as("pagerank"))
      // the authority score in BOTH variants: undirected (mutual-link
      // strength) and directed with dangling-mass redistribution (the
      // web form — anchors already carry the src→dst direction)
      val prd = Analytics.pageRankDirected(anchors, "src_host",
          "dst_host", iterations = 10, damping = 0.85).materialized
        .select(col("node").as("host"), col("rank").as("pagerank_directed"))
      // auth / pr / prd are per-HOST aggregates — registry-sized at
      // fixture scale but corpus-derived (a web-scale host registry is
      // ~10⁸ rows), so NOT broadcast: plain equi-joins, AQE picks the
      // strategy from measured sizes (same discipline as
      // q_redirected_dedup)
      val weights = docs.select(col("source")).distinct()
        .withColumn("host", concat(col("source"), lit(".example.com")))
        .join(auth, Seq("host"), "left")
        .select(col("source"), col("host"),
          coalesce(col("n_anchors"), lit(0L)).as("n_anchors"),
          coalesce(col("n_link_sources"), lit(0L)).as("n_link_sources"),
          greatest(lit(1L), coalesce(col("n_anchors"), lit(0L)) * 10L +
            coalesce(col("n_link_sources"), lit(0L))).as("w"))
      Scale.matchMixture(docs, "source", weights.select("source", "w"))
        .join(weights.drop("w"), Seq("source"))
        .join(pr, Seq("host"))
        .join(prd, Seq("host"))
        .select(col("source"), col("n_docs"), col("n_anchors"),
          col("n_link_sources"), col("w"), col("kept"),
          col("rate_micro"), col("pagerank"), col("pagerank_directed"))
        .orderBy("source")
    }),
    // v9 — the full Common Crawl TRIPTYCH as ONE adjudicated recipe:
    // WARC bytes → WAT lane (watFrame: link graph + 301 redirect map)
    // + WET lane (documentsFrame: text tier) + revisit lane
    // (resolveRevisits / latestWithRevisits freshness) → redirect-
    // rewritten keep-latest → exact-text dedup cascade → Gopher +
    // classifier gates → directed-PageRank/anchor-weighted mixture.
    // Scale shape: raw TEXT never shuffles — every per-document signal
    // (content digest, gopher verdict, classifier features) is
    // computed in the parse task and only the registry-shaped columns
    // ride the shuffles; link/redirect/revisit lanes carry hosts, urls
    // and digests only. The oracle restates every stage relationally
    // from the documents table (the fixture is a pure function of it)
    "q_curated_corpus_v9" -> ((s, dir) => {
      import graft.sources.Warc
      import graft.operators.{Crawl, Scale}
      import graft.functions.{TextAnalysis, UrlOps}
      val recs = Warc.readWarcFiles(s, warcV9FixtureDir(s, dir))
      // WAT lane: registry-sized metadata; no payload bytes past here.
      // Materialized: the redirect map and the authority lane both read it
      val wat = Warc.watFrame(recs).materialized
      // the resolved-redirect map: the segment's canonicalization
      // artifact (url → final url)
      val rd = Crawl.resolveRedirects(
          wat.filter(col("redirect_location").isNotNull)
            .select(col("url").as("src"),
              col("redirect_location").as("dst")),
          "src", "dst", maxHops = 16)
        .filter(col("resolved"))
        .select(col("url").as("__ru"), col("final_url"))
        .materialized
      // WET lane: row-local verdicts at parse time — the raw text is
      // projected away before any join/aggregation touches the rows.
      // ALL THREE text verdicts (content digest, gopher gate,
      // classifier gate) ride ONE conversion-payload scan: the
      // classifier score is the shipped-artifact ClassifierScore
      // codegen column (score-identical to the qualityClassifier join
      // form under the dense fixture table — the q_classifier_apply
      // parity contract), so the r14 form's SECOND full decode+
      // featurize pass over the segment, plus its explode + two keyed
      // aggregations + broadcast join + per-record gate join, all
      // collapse into the projection (guide §1.2 "don't compute things
      // you throw away", §2.3 "project before the exchange").
      // The per-document verdict frame — digest + combined
      // gopher/classifier gate, all payload-free — is materialized so
      // the segment is decoded once
      val wet = Warc.documentsFrame(
        recs.filter(col("warc_type") === "conversion"))
      val warr = TextAnalysis.classifierWeightArray(
        TextAnalysis.classifierFixtureWeights(s), buckets = 4096)
      val clsc = graft.expressions.ClassifierScore
        .score(col("text"), warr.toSeq)
      val scored = wet.select(col("url"), col("record_id"),
          col("warc_date"), sha2(col("text"), 256).as("__tsha"),
          (TextAnalysis.gopherRules(col("text"), minStopHits = 1)
            .getField("pass") &&
            clsc.isNotNull && clsc.getField("n_feats") > 0 &&
            clsc.getField("score_sum") > 0).as("__pass"))
        .materialized
      // redirect rewrite: url-registry-sized map — NOT broadcast, AQE
      // picks the strategy (the q_redirected_dedup discipline)
      val rewritten = scored.join(rd, scored("url") === col("__ru"),
          "left")
        .select(coalesce(col("final_url"), scored("url")).as("url"),
          col("record_id"), col("warc_date"), col("__tsha"),
          col("__pass"))
      // ENVELOPE lane: ONE more parse of the segment serves every
      // header-level consumer (the revisit-freshness rollup here AND
      // resolveRevisits' two internal passes below) — payload-free, so
      // the materialized blocks are registry-sized. The r14 form
      // re-parsed the gzip segment per consumer: 3 extra full decode
      // passes per run (guide §1.2 — remove unnecessary passes; §8 —
      // decide on small rows)
      val env = recs.select(col("warc_type"), col("target_uri"),
          col("record_id"), col("warc_date"), col("headers"),
          col("error"))
        .materialized
      val rv = env.filter(col("warc_type") === "revisit")
        .select(col("target_uri").as("url"), col("record_id"),
          col("warc_date"))
      val kept = Warc.latestWithRevisits(rewritten, rv)
      // exact-dup cascade on the content digest (registry columns only)
      val dd = kept.groupBy(col("__tsha"))
        .agg(min_by(struct(kept.columns.map(col): _*),
          col("canonical_url")).as("__r"))
        .select(kept.columns.map(c => col(s"__r.`$c`").as(c)): _*)
      // the curated keep-list feeds counts AND the mixture
      val cur = dd.filter(col("__pass"))
        .withColumn("source", regexp_extract(col("canonical_url"),
          "https://([a-z0-9]+)\\.example\\.com/", 1))
        .materialized
      val srcs = cur.groupBy("source")
        .agg(count(lit(1)).as("n_curated"),
          max(col("last_seen")).as("last_seen_max"))
      // authority lane straight from WAT's resolved link-host rollup
      val lk = wat.filter(col("link_hosts") =!= "")
        .select(UrlOps.hostNoPort(col("url")).as("src_host"),
          explode(split(col("link_hosts"), "\\|")).as("dst_host"))
        .filter(col("src_host") =!= col("dst_host"))
      val auth = lk.groupBy(col("dst_host").as("host"))
        .agg(count(lit(1)).cast("long").as("n_linking_pages"),
          countDistinct(col("src_host")).cast("long")
            .as("n_link_sources"))
      val prd = Analytics.pageRankDirected(lk, "src_host", "dst_host",
          iterations = 10, damping = 0.85).materialized
        .select(col("node").as("host"),
          col("rank").as("pagerank_directed"))
      // weighted variant: edge weight = linking-page count per host
      // pair — the anchor-count authority signal
      val prw = Analytics.pageRankDirectedWeighted(
          lk.groupBy("src_host", "dst_host")
            .agg(count(lit(1)).cast("double").as("w")),
          "src_host", "dst_host", "w", iterations = 10, damping = 0.85)
        .materialized
        .select(col("node").as("host"),
          col("rank").as("pagerank_weighted"))
      // per-host frames are corpus-derived — unhinted equi-joins, AQE
      val weights = srcs
        .withColumn("host", concat(col("source"), lit(".example.com")))
        .join(auth, Seq("host"), "left")
        .select(col("host"), col("source"), col("n_curated"),
          col("last_seen_max"),
          coalesce(col("n_linking_pages"), lit(0L)).as("n_linking_pages"),
          coalesce(col("n_link_sources"), lit(0L)).as("n_link_sources"),
          greatest(lit(1L),
            coalesce(col("n_linking_pages"), lit(0L)) * 10L +
              coalesce(col("n_link_sources"), lit(0L))).as("w"))
      val mm = Scale.matchMixture(cur, "source",
        weights.select("source", "w"))
      val rvs = Warc.resolveRevisits(env)
        .select(regexp_extract(col("url"),
          "https://([a-z0-9]+)\\.example\\.com/", 1).as("source"),
          col("resolved_via"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_revisits"),
          sum(when(col("resolved_via").isNotNull, 1L).otherwise(0L))
            .as("n_revisits_resolved"))
      weights
        .join(mm.select(col("source"), col("kept"), col("rate_micro")),
          Seq("source"))
        .join(prd, Seq("host"))
        .join(prw, Seq("host"))
        .join(rvs, Seq("source"), "left")
        .select(col("source"), col("n_curated"), col("n_linking_pages"),
          col("n_link_sources"), col("w"), col("kept"),
          col("rate_micro"),
          coalesce(col("n_revisits"), lit(0L)).as("n_revisits"),
          coalesce(col("n_revisits_resolved"), lit(0L))
            .as("n_revisits_resolved"),
          col("last_seen_max"), col("pagerank_directed"),
          col("pagerank_weighted"))
        .orderBy("source")
    }),
    // the WHOLE discovery chain as one adjudicated query: robots
    // bodies declare sitemaps (robotsSitemaps — src1's synthesized XML
    // is dropped because its robots never declares one), sitemap XML
    // synthesized per host from the documents table parses through
    // sitemapUrls (lastmod riding along), seeds flow seen-anti-join →
    // parsed-robots urlPolicy gate (src3 blocks /b*, allows /a*; src4
    // default-allows) → per-host politeness quota → sha52 fetch order
    // → crawl-delay-priced offsets. The oracle restates each stage
    // hand-derived from the fixtures
    "q_seeded_frontier" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.UrlOps
      val id = col("doc_id").cast("string")
      val day = lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0")
      val loc = concat(lit("https://"), col("source"),
        lit(".example.com"),
        when(col("doc_id") % 3 === 0, lit("/b")).otherwise(lit("/a")), id)
      val entry = concat(lit("<url><loc>"), loc, lit("</loc>"),
        when(col("doc_id") % 2 === 0,
          concat(lit("<lastmod>2026-07-"), day, lit("</lastmod>")))
          .otherwise(lit("")),
        lit("</url>"))
      val xml = Tables.documents(s, dir)
        .filter(col("source").isin("src1", "src3", "src4"))
        .select(concat(col("source"), lit(".example.com")).as("host"),
          col("doc_id"), entry.as("e"))
        .groupBy("host")
        .agg(concat(lit("<urlset>"),
          concat_ws("", transform(
            sort_array(collect_list(struct(col("doc_id").as("i"),
              col("e").as("e")))),
            x => x.getField("e"))),
          lit("</urlset>")).as("xml"))
      val refs = UrlOps.robotsSitemaps(
        robotsFixture.toDF("host", "text"), "host", "text")
      val seeds = UrlOps.sitemapUrls(
          refs.select("host").distinct.join(xml, Seq("host")),
          "host", "xml")
        .filter(col("kind") === "url")
        .select(col("loc"), col("lastmod"),
          regexp_extract(col("loc"), "([0-9]+)$", 1).cast("long")
            .as("doc_id"))
      val seen = seeds.filter(col("doc_id") % 5 === 0)
        .select(col("loc").as("__seen"))
      val fresh = seeds.join(seen, col("loc") === col("__seen"),
        "left_anti")
      val rules = UrlOps.robotsRules(
        robotsFixture.toDF("host", "text"), "host", "text", "graftbot")
      val gated = UrlOps.urlPolicy(fresh, "loc", rules)
        .filter(col("allowed"))
        .select("doc_id", "host", "loc", "lastmod")
      val quota = Scale.groupQuota(gated, "host", "doc_id", k = 7)
      val delays = UrlOps.robotsCrawlDelays(
        crawlDelayFixture.toDF("host", "text"), "host", "text",
        "graftbot")
      val w = Window.partitionBy(col("host"))
        .orderBy(col("__h"), col("doc_id"))
      quota
        .withColumn("__h", Kmv.sha52(col("doc_id").cast("string")))
        .withColumn("frontier_rank", row_number().over(w).cast("long"))
        .join(broadcast(delays), Seq("host"), "left")
        .select(col("host"), col("loc"), col("lastmod"),
          col("frontier_rank"),
          ((col("frontier_rank") - 1) *
            coalesce(col("crawl_delay_s"), lit(1.0)) * 1000)
            .cast("long").as("fetch_offset_ms"))
        .orderBy("host", "loc")
    }),
    "q_url_parts" -> ((s, dir) => {
      import graft.functions.UrlOps
      val url = concat(
        when(col("doc_id") % 7 === 0, lit("http://")).otherwise(lit("https://")),
        when(col("doc_id") % 5 === 0, lit("Sub.")).otherwise(lit("")),
        col("source"), lit(".example.com"),
        when(col("doc_id") % 11 === 0, lit(":8080")).otherwise(lit("")),
        lit("/"), col("lang"), lit("/doc/"), col("doc_id").cast("string"),
        when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0, lit("?utm_source=feed&id=1&utm_campaign=x"))
          .when(col("doc_id") % 3 === 1, lit("?id=2&gclid=abc"))
          .otherwise(lit("")))
      Tables.documents(s, dir).select(col("doc_id"),
        url.as("url"),
        UrlOps.host(url).as("host"),
        UrlOps.hostNoPort(url).as("host_no_port"),
        UrlOps.registeredDomain(url).as("registered_domain"),
        UrlOps.path(url).as("path"),
        UrlOps.pathDepth(url).as("path_depth"),
        UrlOps.queryString(url).as("query_string"),
        UrlOps.canonical(url).as("canonical"),
        UrlOps.stripTracking(url).as("clean_url"))
        .orderBy("doc_id")
    }),
    // PSL registered domain: the publicsuffix.org longest-match
    // algorithm as a broadcast suffix-rule join (plain + wildcard +
    // exception rules) over ccTLD-shaped hosts. The last-two-labels
    // heuristic rides along to pin exactly where it is wrong
    // (`a.b.x.co.uk` → `x.co.uk` not `co.uk`; wildcard and exception
    // registries; single-label hosts have NO registered domain).
    "q_registered_domain_psl" -> ((s, dir) => {
      import graft.functions.{PublicSuffix, UrlOps}
      val m = col("doc_id") % 8
      val host = concat(
        when(m === 0, concat(col("source"), lit(".co.uk")))
          .when(m === 1, concat(lit("www."), col("source"), lit(".com.au")))
          .when(m === 2, concat(lit("A.B."), col("source"), lit(".co.uk")))
          .when(m === 3, concat(col("source"), lit(".example.com")))
          .when(m === 4, concat(lit("x."), col("source"), lit(".kawasaki.jp")))
          .when(m === 5, lit("city.kawasaki.jp"))
          .when(m === 6, concat(col("source"), lit(".github.io")))
          .otherwise(lit("localhost")),
        when(col("doc_id") % 11 === 0, lit(":8080")).otherwise(lit("")))
      val url = concat(lit("https://"), host, lit("/p/"), col("doc_id").cast("string"))
      val base = Tables.documents(s, dir).select(col("doc_id"), url.as("url"))
      PublicSuffix.withRegisteredDomain(s, base, col("url"))
        .select(col("doc_id"), col("host"), col("registered_domain"),
          UrlOps.registeredDomain(col("url")).as("heuristic_domain"))
        .orderBy("doc_id")
    }),
    // HTML boilerplate strip over a deterministically HTML-wrapped
    // corpus (script/style bodies dropped, tags to spaces, entities
    // unescaped amp-last, whitespace collapsed) — the crawl-extract
    // pass, RE2-safe so the oracle runs the identical regex chain
    "q_clean_html" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.stripHtml(concat(
          lit("<html><head><style>p{color:#888}</style></head>" +
            "<body><h1>Doc</h1><p class=\"x\">"),
          col("text"),
          lit(" &amp; tail&#39;s &lt;end&gt;</p>" +
            "<script>if(1<2){x=1;}</script></body></html>"))).as("clean"))
        .orderBy("doc_id")),
    // the tier above stripHtml: block-level main-content extraction
    // (Boilerpipe-shaped text-density + link-density classifier) over a
    // deterministically-wrapped page — nav (3 words, short), heading
    // (2 words), all-anchor related-links block (link density 1.0) and
    // the copyright footer are dropped; the body paragraph with its
    // small inline link survives. Entirely scan-local, zero shuffles.
    "q_main_content" -> ((s, dir) =>
      mainContentExtracted(s, dir).orderBy("doc_id")),
    // the rebalanced corpus: scan-local filter against broadcast
    // thresholds; sqrt/div/floor are all correctly-rounded IEEE ops, so
    // thresholds are bit-identical to the oracle's
    "q_head_cap_sample" -> ((s, dir) =>
      Scale.headCapSample(Tables.documents(s, dir), "source", "doc_id",
          c = 5.0)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")),
    // quality-decile labels + percent rank: the mixing-recipe binning
    // ("train on deciles 7-10"); tie order (quality, doc_id) is unique,
    // so bins and ranks are deterministic cross-engine
    "q_quality_bins" -> ((s, dir) =>
      Scale.rankBins(
          Tables.documents(s, dir).select(col("doc_id"),
            TextAnalysis.qualityScore(col("text")).as("quality")),
          "quality", "doc_id", nBins = 10)
        .orderBy("doc_id")),
    // per-shard export accounting: doc counts, token totals, id ranges
    "q_shard_manifest" -> ((s, dir) =>
      Scale.shardManifest(Tables.documents(s, dir), "doc_id", 16,
          TextAnalysis.tokenCount(col("text")))
        .orderBy("shard")),
    // epoch-weight upsampling: src0 at 2.5 epochs (2 copies + the
    // id%10<5 half gets a third), src1 at 0.25 (three quarters
    // dropped), everything else at 1 — den=10 so the fractional cut
    // actually bites at fixture id ranges
    "q_upsampled_mixture" -> ((s, dir) =>
      Scale.upsample(Tables.documents(s, dir), "source", "doc_id",
          weights = Map("src0" -> 2.5, "src1" -> 0.25),
          defaultWeight = 1.0, den = 10)
        .select("doc_id", "source", "rep")
        .orderBy("doc_id", "rep")),
    // domain-cap curation: at most 10 docs per source, smallest ids —
    // quota via the map-side-combining TopKAggregator; oracle is the
    // row_number window formulation
    "q_domain_quota" -> ((s, dir) =>
      Scale.groupQuota(Tables.documents(s, dir), "source", "doc_id", k = 10)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")),
    // quality-preferenced quota: top-8 per source by INTEGER classifier
    // score (ties min id) — "at most k per domain, and make them the
    // good ones" where q_domain_quota keeps whatever crawled first;
    // same TopKAggregator shuffle shape, no per-domain window
    "q_domain_quota_best" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = docs.join(
        TextAnalysis.classifierApplyTable(docs, "doc_id", "text",
            TextAnalysis.classifierFixtureWeights(s, 512), buckets = 512)
          .select(col("doc_id"), col("score_sum")),
        Seq("doc_id"), "left")
      Scale.groupQuotaBest(scored, "source", "doc_id", "score_sum", k = 8)
        .select("doc_id", "source", "score_sum")
        .orderBy("doc_id")
    }),
    // composite-key quota: cap per (source, lang) cell — the mixing-
    // matrix form of the domain cap ("k docs per domain per language")
    "q_domain_quota_multi" -> ((s, dir) =>
      Scale.groupQuota(Tables.documents(s, dir), Seq("source", "lang"),
          "doc_id", k = 5)
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")),
    // uniform domain cap: 25 per source drawn by sha256 rank — the
    // unbiased sampling counterpart of q_domain_quota's min-id policy;
    // the oracle re-derives the rank with the hex-fold and states the
    // row_number window formulation
    "q_uniform_sample" -> ((s, dir) =>
      Scale.uniformGroupSample(Tables.documents(s, dir), "source",
          "doc_id", k = 25)
        .select("doc_id", "source")
        .orderBy("doc_id")),
    // quality-weighted domain cap: 25 per source, inclusion odds ∝
    // n_chars (Efraimidis-Spirakis u^(1/w) keys over the same sha
    // rank); the oracle re-derives u and states the window formulation
    "q_weighted_sample" -> ((s, dir) =>
      Scale.weightedGroupSample(Tables.documents(s, dir), "source",
          "doc_id", "n_chars", k = 25)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")),
    // quantile normalization: each source's n_chars distribution mapped
    // onto the global one by integer position arithmetic (⌈rs·N/ns⌉) —
    // the Spark side ranks globally through range buckets (no corpus-
    // wide single-partition sort); the oracle states the naive global
    // window. Values are copied integers — hash-exact.
    "q_quantile_normalize" -> ((s, dir) =>
      Scale.quantileNormalize(
          Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
          "source", "n_chars", "doc_id", outCol = "n_norm")
        .select("doc_id", "source", "n_chars", "n_norm")
        .orderBy("doc_id")),
    // k-anonymity release gate: suppress docs whose (lang, source,
    // length-band) quasi-identifier tuple has < 3 members. The banded
    // n_chars is the pre-coarsened quasi column the operator contract
    // asks for; ~2/3 of the quasi groups fall under k at the driver's
    // sf0.01 (and ≥ 1 even at sf0.1), so suppression is exercised, not
    // vacuous.
    "q_k_anonymous" -> ((s, dir) =>
      Scale.kAnonymize(
          Tables.documents(s, dir)
            .withColumn("band", expr("n_chars div 200")),
          Seq("lang", "source", "band"), k = 3)
        .select("doc_id", "lang", "source", "band")
        .orderBy("doc_id")),
    // the homogeneity-attack check on top of k-anonymity: per
    // (event_type, day) bucket, how many DISTINCT users — buckets where
    // everyone is the same user leak despite any row-count floor
    "q_l_diversity" -> ((s, dir) =>
      Scale.lDiversityProfile(
          Tables.events(s, dir)
            .withColumn("day", to_date(col("ts"))),
          Seq("event_type", "day"), "user_id", l = 3)
        .orderBy("event_type", "day")),
    // the skewness-attack check completing the privacy trio: per
    // (lang, size-band) group, total-variation distance of the group's
    // SOURCE distribution from the global one — integer numerator, one
    // division, so the double is engine-identical
    "q_t_closeness" -> ((s, dir) =>
      Scale.tClosenessProfile(
          Tables.documents(s, dir)
            .withColumn("band", expr("n_chars div 200")),
          Seq("lang", "band"), "source", t = 0.2)
        .orderBy("lang", "band")),
    // context-window packing: 40-token chunks, 8-token overlap
    "q_doc_chunks" -> ((s, dir) =>
      TextAnalysis.chunkDocs(Tables.documents(s, dir), "doc_id", "text",
          chunkTokens = 40, overlap = 8)
        .orderBy("doc_id", "chunk_idx")),
    "q_label_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(Tables.embeddings(s, dir), "label", "embedding")
        .orderBy("label", "dim")),
    // embedding drift: per-label centroid cosine between the even-id
    // half (old release) and odd-id half (new release) of the corpus.
    // The fixture's gaussian embeddings have near-zero centroids, so
    // the cosines read as noise around 0 (not ≈1 — there is no signal
    // to preserve); what the oracle adjudicates is the two-snapshot
    // centroid/cosine computation itself, value-for-value. The clean
    // ≈1-unchanged / ≈0-rotated contract is pinned in SimilaritySpec
    // on vectors with actual direction.
    "q_embedding_drift" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.centroidDrift(
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          "label", "embedding")
        .orderBy("label")
    }),
    // int8 embedding quantization, long form (one row per dimension)
    "q_quantize_int8" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding")
        .orderBy("vec_id", "dim")),
    // JL random projection 64→16: the implicit ±1 matrix is derived
    // from integer hashing on BOTH engines (no seed state anywhere);
    // output exploded to narrow (vec_id, dim, val) rows so the driver
    // compares scalars with float tolerance, like q_quantize_int8
    "q_random_projection" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          posexplode(graft.expressions.RandomProject.project(
            col("embedding"), 16)).as(Seq("dim", "val")))
        .orderBy("vec_id", "dim")),
    // ===== training-data pipeline: multimodal plumbing =====
    // audio rows run the REAL WAV decode (planted 8-bit PCM containers)
    // and video rows the REAL MP4 box parse (planted ISO-BMFF
    // containers): sample_rate/channels, duration_ms, display dims and
    // track counts all come from parsed headers whose parameters are
    // pure functions of the doc columns; brightness is true mean
    // |amplitude| for audio and the byte-level mdat stub for video
    // (frame decode needs codecs; that one-function boundary is
    // documented). Image rows keep the flagged stub (text payloads
    // aren't images).
    "q_media_features" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      Multimodal.extractFeatures(
          Multimodal.assetsFromDocuments(Tables.documents(s, dir)))
        .toDF()
        .select(col("assetId").as("asset_id"), col("mediaType").as("media_type"),
          col("byteLen").as("byte_len"), col("brightness"),
          col("sampleRate").as("sample_rate"), col("channels"),
          col("imgWidth").as("width"), col("imgHeight").as("height"),
          col("tracks"), col("mediaMs").as("duration_ms"), col("decoded"),
          col("frames"))
        .orderBy("asset_id")
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  /** DuckDB oracle for q_pagerank: the fixed-iteration recurrence
    * unrolled as chained CTEs r1..rK, each reading only its
    * predecessor — the same arithmetic (double constants included) as
    * [[Analytics.pageRank]], so the compare is tolerance-tight. */
  /** The q_crawl_frontier pipeline (shared with q_fetch_schedule):
    * candidate URLs EXTRACTED from synthesized HTML pages (the link-
    * discovery edge — one link per page, cycling through relative,
    * absolute-path, protocol-relative, absolute, dot-segment+fragment,
    * and ./-relative shapes so [[UrlOps.extractOutlinks]] resolution
    * is on the adjudicated path), minus the seen set, parsed-robots
    * gate, per-host politeness quota, sha52 fetch order within host.
    * The oracle states the hand-derived RFC 3986 resolutions of the
    * same links as its candidate CTE. Memoized write-once per session
    * ([[PairGraph.of]] — q_crawl_frontier and q_fetch_schedule share
    * ONE extraction+gate derivation, the "derive once, join many"
    * contract every multi-consumer artifact here follows). */
  private def crawlFrontier(s: SparkSession, dir: String): DataFrame =
    PairGraph.of(s, s"crawlfrontier:v2:$dir")(crawlFrontierDerive(s, dir))

  private def crawlFrontierDerive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.UrlOps
    val id = col("doc_id").cast("string")
    val hostc = concat(col("source"), lit(".example.com"))
    val pageUrl = concat(lit("https://"), hostc, lit("/index"), id)
    val link = when(col("doc_id") % 6 === 0,
        concat(lit("private/pub/p"), id))
      .when(col("doc_id") % 6 === 1, concat(lit("/private/p"), id))
      .when(col("doc_id") % 6 === 2, concat(lit("//"), hostc,
        lit("/gb/p"), id))
      .when(col("doc_id") % 6 === 3, concat(lit("https://"), hostc,
        lit("/gb2/mid/p"), id))
      .when(col("doc_id") % 6 === 4, concat(lit("../a"), id, lit("#sec")))
      .otherwise(concat(lit("./b"), id))
    val pages = Tables.documents(s, dir).select(col("doc_id"),
      pageUrl.as("url"),
      concat(lit("<html><body><a href=\""), link,
        lit("\">l</a></body></html>")).as("html"))
    val cands = UrlOps.extractOutlinks(pages, "url", "html")
      .select(col("doc_id"), col("outlink").as("url"))
    val seen = cands.filter(col("doc_id") % 3 === 0)
      .select(col("url").as("__seen"))
    val fresh = cands.join(seen, col("url") === col("__seen"),
      "left_anti")
    val rules = UrlOps.robotsRules(
      robotsFixture.toDF("host", "text"), "host", "text", "graftbot")
    val gated = UrlOps.urlPolicy(fresh, "url", rules)
      .filter(col("allowed"))
      .select("doc_id", "host", "path")
    val quota = Scale.groupQuota(gated, "host", "doc_id", k = 7)
    val w = Window.partitionBy(col("host"))
      .orderBy(col("__h"), col("doc_id"))
    quota
      .withColumn("__h", Kmv.sha52(col("doc_id").cast("string")))
      .withColumn("frontier_rank", row_number().over(w).cast("long"))
      .select("doc_id", "host", "path", "frontier_rank")
  }

  /** Planted sitemap bodies for q_sitemap_urls: a urlset with
    * whitespace-padded loc, a lastmod-less entry, and a loc-less entry
    * (dropped); a sitemapindex with nested sitemap entries. */
  private val sitemapFixture: Seq[(String, String)] = Seq(
    ("src1.example.com",
      "<?xml version=\"1.0\"?>\n" +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
        " <url><loc> https://src1.example.com/a </loc>" +
        "<lastmod>2026-08-01</lastmod></url>\n" +
        " <url><loc>https://src1.example.com/b</loc></url>\n" +
        " <url><lastmod>2026-08-02</lastmod></url>\n</urlset>\n"),
    ("src2.example.com",
      "<sitemapindex>\n <sitemap><loc>https://src2.example.com/s1.xml" +
        "</loc><lastmod>2026-07-01</lastmod></sitemap>\n" +
        " <sitemap><loc>https://src2.example.com/s2.xml</loc>" +
        "</sitemap>\n</sitemapindex>\n"))

  /** Planted crawl-delay robots bodies for q_crawl_delays /
    * q_fetch_schedule — group-scoped delays (graftbot beats *),
    * max-of-merged, a junk value, and delays chosen as exact binary
    * fractions so downstream ms arithmetic is engine-exact. */
  private val crawlDelayFixture: Seq[(String, String)] = Seq(
    ("src1.example.com",
      "User-agent: *\nCrawl-delay: 10\n\nUser-agent: graftbot\n" +
        "Crawl-delay: 2\nDisallow: /none/\n"),
    ("src3.example.com", "User-agent: *\nCrawl-delay: 0.5\n"),
    ("src5.example.com", "User-agent: graftbot\nCrawl-delay: soon\n"))

  /** Planted robots.txt bodies for q_robots_rules / q_robots_policy —
    * each host exercises a different RFC 9309 surface (see the query
    * comments). Kept as raw text: the PARSER is what's adjudicated. */
  private val robotsFixture: Seq[(String, String)] = Seq(
    ("src1.example.com",
      "# site policy\nUser-agent: graftbot\nDisallow: /private/\n" +
        "Allow: /private/pub/\n\nUser-agent: *\nDisallow: /\n"),
    ("src2.example.com",
      "USER-AGENT: *\nDISALLOW: /all/\n\nuser-agent: graft\n" +
        "disallow: /g/\n\nUser-Agent: graftbot\nUser-Agent: otherbot\n" +
        "Disallow: /gb/\nAllow: /gb/ok$\n\nUser-agent: GraftBot\n" +
        "Disallow: /gb2/*/x\n"),
    ("src3.example.com",
      "Disallow: /orphan/\n\nUser-agent: specificbot\nDisallow: /s/\n\n" +
        "User-agent: *\n\nDisallow:\nAllow: /a*\nDisallow: /b$\n" +
        "Sitemap: https://src3.example.com/sitemap.xml\n"),
    ("src4.example.com",
      "# nothing restricted\nSitemap: https://src4.example.com/s.xml\n"))

  /** The RFC-derived expected rule rows for [[robotsFixture]] under
    * product token `graftbot` — hand-derived from RFC 9309, shared by
    * both robots oracles so they cannot drift apart. `match_len` is
    * the RAW pattern length (the RFC precedence key urlPolicy ranks
    * on — counted by hand from from_pattern).
    * (host, path_prefix, allow, from_pattern, match_len, widened). */
  private val robotsExpectedRules: Seq[(String, String, Boolean, String, Int, Boolean)] = Seq(
    ("src1.example.com", "/private/", false, "/private/", 9, false),
    ("src1.example.com", "/private/pub/", true, "/private/pub/", 13, false),
    ("src2.example.com", "/gb/", false, "/gb/", 4, false),
    ("src2.example.com", "/gb2/", false, "/gb2/*/x", 8, true),
    ("src3.example.com", "/a", true, "/a*", 3, false),
    ("src3.example.com", "/b", false, "/b$", 3, true))

  /** The q_crawl_frontier chain as CTE definitions ending at `f` =
    * (doc_id, host, path, frontier_rank) — shared by the frontier and
    * fetch-schedule oracles so the two cannot drift. */
  private def crawlFrontierOracleCtes: String =
    """WITH u AS (SELECT doc_id,
             'https://' || source || '.example.com' ||
             (CASE CAST(doc_id % 6 AS INT)
                WHEN 0 THEN '/private/pub/p' WHEN 1 THEN '/private/p'
                WHEN 2 THEN '/gb/p' WHEN 3 THEN '/gb2/mid/p'
                WHEN 4 THEN '/a' ELSE '/b' END) ||
             CAST(doc_id AS VARCHAR) AS url
           FROM documents
           WHERE doc_id % 3 <> 0),
         p AS (SELECT doc_id,
             lower(regexp_replace(regexp_extract(url,
               '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)', 2),
               ':[0-9]+$', '')) AS host,
             CASE WHEN regexp_extract(url,
                 '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)([^?#]*)', 3) = ''
               THEN '/'
               ELSE regexp_extract(url,
                 '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)([^?#]*)', 3) END
               AS path
           FROM u),
         r AS (SELECT host, path_prefix, match_len, allow FROM (VALUES """ +
      robotsExpectedRules.map { case (h, pfx, a, _, l, _) =>
        s"('$h', '$pfx', $l, $a)" }.mkString(", ") +
      """) t(host, path_prefix, match_len, allow)),
         m AS (SELECT p.doc_id, r.match_len AS l, r.allow,
                 row_number() OVER (PARTITION BY p.doc_id
                   ORDER BY r.match_len DESC,
                            CAST(r.allow AS INT) DESC) AS rn
               FROM p JOIN r ON r.host = p.host
                 AND substring(p.path, 1, len(r.path_prefix))
                   = r.path_prefix),
         g AS (SELECT p.doc_id, p.host, p.path
               FROM p LEFT JOIN (SELECT doc_id, allow FROM m WHERE rn = 1) b
                 USING (doc_id)
               WHERE coalesce(b.allow, true)),
         q AS (SELECT doc_id, host, path, row_number() OVER (
                 PARTITION BY host ORDER BY doc_id) AS rn
               FROM g),
         k AS (SELECT doc_id, host, path FROM q WHERE rn <= 7),
         h AS (SELECT doc_id, host, path,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(
                     substring(sha256(CAST(doc_id AS VARCHAR)), 1, 13), ''),
                     x -> CAST(instr('0123456789abcdef', x) - 1
                       AS BIGINT))),
                   (acc, x) -> acc * 16 + x) AS hv
               FROM k),
         f AS (SELECT doc_id, host, path,
                 CAST(row_number() OVER (PARTITION BY host
                   ORDER BY hv, doc_id) AS BIGINT) AS frontier_rank
               FROM h)"""

  private def robotsRulesOracleSql: String =
    "SELECT * FROM (VALUES " + robotsExpectedRules.map {
      case (h, p, a, f, l, w) =>
        s"('$h', '$p', $a, '$f', CAST($l AS INTEGER), $w)"
    }.mkString(", ") +
      ") t(host, path_prefix, allow, from_pattern, match_len, widened) " +
      "ORDER BY host, path_prefix"

  /** Deterministic WARC fixture shared by q_warc_extract's file side
    * (serialized to tmpdir, read back through [[graft.sources.Warc]])
    * and its oracle (payload digests computed directly over the same
    * bytes) — the adjudicated path is serialize → codec → parse →
    * Content-Length slice → digest. Payloads embed CRLF CRLF and
    * multi-byte UTF-8 so delimiter-scanning or charset-lossy parsing
    * fails the hash. (warc_type, target_uri, payload). */
  private def warcFixture: Seq[(Int, String, String, Array[Byte])] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val info = (0, "warcinfo", null: String,
      "software: graft-fixture/1.0\r\nformat: WARC/1.0\r\n".getBytes(utf8))
    // responses: HTTP message payloads (headers + CRLF CRLF + body)
    val pages = (0 until 12).map { i =>
      val body = s"HTTP/1.1 200 OK\r\nX-Doc: $i\r\n\r\n" +
        s"<html><body>doc $i é世 " + ("lorem ipsum " * (i + 1)) +
        "</body></html>"
      (if (i < 6) 0 else 1, "response",
        f"http://warc.example.com/page/$i%02d", body.getBytes(utf8))
    }
    // WET conversion records: plain-text payloads (file 2, .wet.gz)
    val wets = (0 until 4).map { i =>
      (2, "conversion", f"http://warc.example.com/wet/$i%02d",
        (s"doc $i é世 " + ("lorem ipsum " * (i + 1))).trim.getBytes(utf8))
    }
    // charset / Content-Encoding cases (file 3, plain .warc): payload
    // = HTTP message built from the planted body bytes
    val charsets = warcCharsetFixture.map { case (uri, hdrs, body, _, _, _, _) =>
      (3, "response", uri,
        ("HTTP/1.1 200 OK\r\n" + hdrs.map(_ + "\r\n").mkString + "\r\n")
          .getBytes(utf8) ++ body)
    }
    // revisit cases (file 4, plain .warc) — dates/record ids carried
    // by warcRevisitFixture; only (type, uri, payload) matter here
    val revisits = warcRevisitFixture.map { case (t, uri, _, payload, _) =>
      (4, t, uri, payload)
    }
    (info +: pages) ++ wets ++ charsets ++ revisits
  }

  /** Revisit-record cases for q_crawl_revisit (fixture file 4):
    * (warc_type, uri, warc_date, payload, record_id). Planted shape:
    * /rv/a captured once then REVISITED later (last_seen must advance
    * past the capture date); /rv/b captured twice (second via a
    * tracking-param URL variant — canonical collapse on the capture
    * side) plus an OLDER revisit (last_seen stays the capture date);
    * /rv/c only revisited, never captured (dropped — nothing to keep). */
  private def warcRevisitFixture: Seq[(String, String, String, Array[Byte], String)] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def msg(body: String): Array[Byte] =
      ("HTTP/1.1 200 OK\r\n\r\n" + body).getBytes(utf8)
    Seq(
      ("response", "http://warc.example.com/rv/a",
        "2026-08-01T00:00:00Z", msg("alpha v1"), "<urn:rv:a1>"),
      ("revisit", "http://warc.example.com/rv/a",
        "2026-08-05T00:00:00Z", Array.emptyByteArray, "<urn:rv:a2>"),
      ("response", "http://warc.example.com/rv/b",
        "2026-08-02T00:00:00Z", msg("bravo v1"), "<urn:rv:b1>"),
      ("response", "http://warc.example.com/rv/b?utm_source=x",
        "2026-08-03T00:00:00Z", msg("bravo v2"), "<urn:rv:b2>"),
      ("revisit", "http://warc.example.com/rv/b",
        "2026-08-02T06:00:00Z", Array.emptyByteArray, "<urn:rv:b3>"),
      ("revisit", "http://warc.example.com/rv/c",
        "2026-08-04T00:00:00Z", Array.emptyByteArray, "<urn:rv:c1>"))
  }

  /** Charset/Content-Encoding cases for q_warc_charset (fixture file
    * 3): (uri, extra HTTP headers, raw body bytes, expected text
    * [null = undecodable], expected charset, expected
    * content_encoding, expected decode_error). The TEXT is planted and
    * the payload bytes are built FROM it in the stated charset/coding,
    * so the oracle derives from the same literals with no twin
    * decoder: declared-charset (ISO-8859-1, GBK), meta-sniffed
    * windows-1252, gzip and deflate Content-Encoding, the
    * UTF-8-strict-else-windows-1252 default, a declared-but-wrong
    * charset (NULL text + error), and an unsupported coding. */
  private def warcCharsetFixture: Seq[(String, Seq[String], Array[Byte], String, String, String, String)] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def cs(s: String, charset: String): Array[Byte] =
      s.getBytes(java.nio.charset.Charset.forName(charset))
    val latin1 = "<html>café au lait</html>"
    val meta = "<html><meta charset=\"windows-1252\">“q” — d</html>"
    val gbk = "<html>中文文档</html>"
    val gz = "<html>gzipped é世 body</html>"
    val dfl = "deflated body text"
    val fb = "naïve résumé"
    Seq(
      ("http://warc.example.com/cs/latin1",
        Seq("Content-Type: text/html; charset=ISO-8859-1"),
        cs(latin1, "ISO-8859-1"), latin1, "iso-8859-1", null, null),
      ("http://warc.example.com/cs/meta",
        Seq("Content-Type: text/html"),
        cs(meta, "windows-1252"), meta, "windows-1252", null, null),
      ("http://warc.example.com/cs/gbk",
        Seq("Content-Type: text/html; charset=GBK"),
        cs(gbk, "GBK"), gbk, "gbk", null, null),
      ("http://warc.example.com/cs/gzip",
        Seq("Content-Type: text/html; charset=UTF-8",
          "Content-Encoding: gzip"),
        graft.sources.Warc.gzip(cs(gz, "UTF-8")), gz, "utf-8", "gzip", null),
      ("http://warc.example.com/cs/deflate",
        Seq("Content-Type: text/plain", "Content-Encoding: deflate"),
        graft.sources.Warc.deflate(cs(dfl, "UTF-8")), dfl, "utf-8",
        "deflate", null),
      ("http://warc.example.com/cs/fb1252",
        Seq("Content-Type: text/html"),
        cs(fb, "windows-1252"), fb, "windows-1252", null, null),
      ("http://warc.example.com/cs/badcs",
        Seq("Content-Type: text/html; charset=UTF-8"),
        Array[Byte](0x3c, 'x'.toByte, 0xff.toByte, 0xfe.toByte, 0x3e),
        null, "utf-8", null, "charset decode failed: utf-8"),
      ("http://warc.example.com/cs/br",
        Seq("Content-Type: text/html", "Content-Encoding: br"),
        "opaque".getBytes(utf8), null, null, "br",
        "unsupported content-encoding: br"))
  }

  /** Serialize [[warcFixture]] into its three-file crawl segment
    * (plain .warc, multi-member .warc.gz, single-member .wet.gz) under
    * tmpdir, keyed by the fixture dir so SFs don't collide; returns
    * the directory path. Shared by q_warc_extract and q_wet_text. */
  private def warcFixtureDir(dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_warc_" + dir.replaceAll("[^0-9a-zA-Z]+", "_"))
    tmp.mkdirs()
    def rec(t: (Int, String, String, Array[Byte])): Array[Byte] =
      graft.sources.Warc.buildRecord("WARC/1.0",
        Seq("WARC-Type" -> t._2) ++
          Option(t._3).map("WARC-Target-URI" -> _).toSeq ++
          Seq("WARC-Date" -> "2026-08-15T00:00:00Z"), t._4)
    def ofFile(k: Int): Seq[Array[Byte]] =
      warcFixture.filter(_._1 == k).map(rec)
    java.nio.file.Files.write(tmp.toPath.resolve("seg-00000.warc"),
      ofFile(0).reduce(_ ++ _))
    java.nio.file.Files.write(tmp.toPath.resolve("seg-00001.warc.gz"),
      ofFile(1).map(graft.sources.Warc.gzip).reduce(_ ++ _))
    java.nio.file.Files.write(tmp.toPath.resolve("seg-00002.wet.gz"),
      graft.sources.Warc.gzip(ofFile(2).reduce(_ ++ _)))
    java.nio.file.Files.write(tmp.toPath.resolve("seg-00003.warc"),
      ofFile(3).reduce(_ ++ _))
    // file 4 needs per-record dates/ids (+ a refers-to header on
    // revisits) — its own builder, same fixture list as the oracle
    val rec4 = warcRevisitFixture.map { case (t, uri, date, payload, rid) =>
      graft.sources.Warc.buildRecord("WARC/1.0",
        Seq("WARC-Type" -> t, "WARC-Target-URI" -> uri,
          "WARC-Date" -> date, "WARC-Record-ID" -> rid) ++
          (if (t == "revisit") Seq("WARC-Refers-To" -> "<urn:rv:orig>")
           else Nil),
        payload)
    }
    java.nio.file.Files.write(tmp.toPath.resolve("seg-00004.warc"),
      rec4.reduce(_ ++ _))
    tmp.getAbsolutePath
  }

  /** Digest-revisit fixture: two crawl segments under their own tmp
    * dir (separate from [[warcFixtureDir]] so the extract/wet oracles
    * are untouched). Segment A carries the captures — /dg/a captured
    * TWICE with the same digest (08-01, 08-03), /dg/b and /dg/c once —
    * segment B the revisits: R1 (/dg/a, 08-04, digest, no refers-to →
    * resolves to the 08-03 capture), R5 (/dg/a, 08-02 → only the 08-01
    * capture is at-or-before), R2 (/dg/b with an explicit refers-to →
    * passes through), R3 (/dg/c, digest mismatch → unresolved), R4
    * (/dg/d, a digest that exists only under /dg/a → unresolved; the
    * resolution is URL-scoped). */
  private def warcDigestFixtureDir(dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_warcdg_" + dir.replaceAll("[^0-9a-zA-Z]+", "_"))
    tmp.mkdirs()
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def cap(uri: String, date: String, rid: String, digest: String,
        body: String) =
      graft.sources.Warc.buildRecord("WARC/1.0",
        Seq("WARC-Type" -> "response", "WARC-Target-URI" -> uri,
          "WARC-Date" -> date, "WARC-Record-ID" -> rid,
          "WARC-Payload-Digest" -> digest),
        ("HTTP/1.1 200 OK\r\n\r\n" + body).getBytes(utf8))
    def rv(uri: String, date: String, rid: String, digest: String,
        extra: Seq[(String, String)] = Nil) =
      graft.sources.Warc.buildRecord("WARC/1.0",
        Seq("WARC-Type" -> "revisit", "WARC-Target-URI" -> uri,
          "WARC-Date" -> date, "WARC-Record-ID" -> rid,
          "WARC-Payload-Digest" -> digest) ++ extra,
        Array.emptyByteArray)
    val segA = Seq(
      cap("http://dg.example.com/dg/a", "2026-08-01T00:00:00Z",
        "<urn:dg:a1>", "sha1:AAA", "alpha"),
      cap("http://dg.example.com/dg/a", "2026-08-03T00:00:00Z",
        "<urn:dg:a2>", "sha1:AAA", "alpha"),
      cap("http://dg.example.com/dg/b", "2026-08-01T00:00:00Z",
        "<urn:dg:b1>", "sha1:BBB", "bravo"),
      cap("http://dg.example.com/dg/c", "2026-08-01T00:00:00Z",
        "<urn:dg:c1>", "sha1:CCC", "charlie")).reduce(_ ++ _)
    val segB = Seq(
      rv("http://dg.example.com/dg/a", "2026-08-04T00:00:00Z",
        "<urn:dg:r1>", "sha1:AAA"),
      rv("http://dg.example.com/dg/b", "2026-08-05T00:00:00Z",
        "<urn:dg:r2>", "sha1:BBB",
        Seq("WARC-Refers-To" -> "<urn:dg:b1>",
          "WARC-Refers-To-Date" -> "2026-08-01T00:00:00Z")),
      rv("http://dg.example.com/dg/c", "2026-08-02T00:00:00Z",
        "<urn:dg:r3>", "sha1:XXX"),
      rv("http://dg.example.com/dg/d", "2026-08-04T00:00:00Z",
        "<urn:dg:r4>", "sha1:AAA"),
      rv("http://dg.example.com/dg/a", "2026-08-02T00:00:00Z",
        "<urn:dg:r5>", "sha1:AAA")).reduce(_ ++ _)
    java.nio.file.Files.write(tmp.toPath.resolve("seg-dg-a.warc.gz"),
      graft.sources.Warc.gzip(segA))
    java.nio.file.Files.write(tmp.toPath.resolve("seg-dg-b.warc.gz"),
      graft.sources.Warc.gzip(segB))
    tmp.getAbsolutePath
  }

  /** VALUES-literal oracle for q_revisit_chains: the hand-derived
    * resolution of every planted revisit. */
  private def revisitChainsOracleSql: String = {
    def s(x: String) = if (x == null) "CAST(NULL AS VARCHAR)" else s"'$x'"
    val rows = Seq(
      // (url, record_id, warc_date, digest, refers_to, refers_to_date, via)
      ("http://dg.example.com/dg/a", "<urn:dg:r1>", "2026-08-04T00:00:00Z",
        "sha1:AAA", "<urn:dg:a2>", "2026-08-03T00:00:00Z", "digest"),
      ("http://dg.example.com/dg/b", "<urn:dg:r2>", "2026-08-05T00:00:00Z",
        "sha1:BBB", "<urn:dg:b1>", "2026-08-01T00:00:00Z", "header"),
      ("http://dg.example.com/dg/c", "<urn:dg:r3>", "2026-08-02T00:00:00Z",
        "sha1:XXX", null, null, null),
      ("http://dg.example.com/dg/d", "<urn:dg:r4>", "2026-08-04T00:00:00Z",
        "sha1:AAA", null, null, null),
      ("http://dg.example.com/dg/a", "<urn:dg:r5>", "2026-08-02T00:00:00Z",
        "sha1:AAA", "<urn:dg:a1>", "2026-08-01T00:00:00Z", "digest"))
      .map { case (u, rid, d, dg, rt, rtd, via) =>
        s"(${s(u)}, ${s(rid)}, ${s(d)}, ${s(dg)}, ${s(rt)}, ${s(rtd)}, ${s(via)})"
      }
    "SELECT * FROM (VALUES " + rows.mkString(", ") +
      ") t(url, record_id, warc_date, payload_digest, refers_to, " +
      "refers_to_date, resolved_via) ORDER BY record_id"
  }

  /** WAT fixture: one segment of planted `response` records exercising
    * every watFrame column — an HTML page (title with markup-adjacent
    * whitespace, absolute/relative/img/single-quoted links + a comment
    * phantom that must NOT count), a 301 redirect with a Location
    * header and an empty body, a PNG (non-HTML: zero links, NULL
    * title), an HTML page under a `<base href>` (host resolution must
    * follow the base), plus a conversion record that must be EXCLUDED
    * (responses only). */
  private def warcWatFixtureDir(dir: String): String = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_warcwat_" + dir.replaceAll("[^0-9a-zA-Z]+", "_"))
    tmp.mkdirs()
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def resp(uri: String, rid: String, httpHdrs: Seq[String],
        body: Array[Byte]) =
      graft.sources.Warc.buildRecord("WARC/1.0",
        Seq("WARC-Type" -> "response", "WARC-Target-URI" -> uri,
          "WARC-Date" -> "2026-08-10T00:00:00Z", "WARC-Record-ID" -> rid),
        ("HTTP/1.1 " + httpHdrs.head + "\r\n" +
          httpHdrs.tail.map(_ + "\r\n").mkString + "\r\n").getBytes(utf8)
          ++ body)
    val page1 = ("<html><head><title>  Alpha &amp;\n Beta  </title></head>" +
      "<body><a href=\"https://ext.example.net/x\">ext</a>" +
      "<a href='rel/p.html'>rel</a><img src=\"/img/i.png\">" +
      "<!-- <a href=\"https://phantom.example.org/\">no</a> -->" +
      "</body></html>").getBytes(utf8)
    val page2 = ("<html><head><base href=\"https://cdn.example.org/lib/\">" +
      "</head><body><a href=\"util.js\">u</a></body></html>").getBytes(utf8)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    val recs = Seq(
      resp("http://wat.example.com/p1", "<urn:wat:1>",
        Seq("200 OK", "Content-Type: text/html; charset=UTF-8"), page1),
      resp("http://wat.example.com/old", "<urn:wat:2>",
        Seq("301 Moved Permanently", "Content-Type: text/html",
          "Location: http://wat.example.com/new"), Array.emptyByteArray),
      resp("http://wat.example.com/i.png", "<urn:wat:3>",
        Seq("200 OK", "Content-Type: image/png"), png),
      resp("http://wat.example.com/p2", "<urn:wat:4>",
        Seq("200 OK", "Content-Type: text/html"), page2),
      graft.sources.Warc.buildRecord("WARC/1.0",
        Seq("WARC-Type" -> "conversion",
          "WARC-Target-URI" -> "http://wat.example.com/wet",
          "WARC-Date" -> "2026-08-10T00:00:00Z",
          "WARC-Record-ID" -> "<urn:wat:5>"),
        "plain text".getBytes(utf8)))
    java.nio.file.Files.write(tmp.toPath.resolve("seg-wat.warc.gz"),
      graft.sources.Warc.gzip(recs.reduce(_ ++ _)))
    tmp.getAbsolutePath
  }

  /** VALUES-literal oracle for q_warc_wat — every column hand-derived
    * from the planted records. */
  private def warcWatOracleSql: String = {
    def s(x: String) = if (x == null) "CAST(NULL AS VARCHAR)" else s"'$x'"
    def i(x: java.lang.Integer) =
      if (x == null) "CAST(NULL AS INTEGER)" else s"CAST($x AS INTEGER)"
    val rows = Seq(
      // p1: ext link + rel link + img src count (comment phantom does
      // not); hosts of resolved links = ext.example.net + wat host
      ("http://wat.example.com/p1", "<urn:wat:1>",
        Int.box(200), "text/html", null, "utf-8",
        "Alpha &amp; Beta", null, 3L, 2L, 2L,
        "ext.example.net|wat.example.com"),
      // 301: Location reported; empty body → no <title>, no links
      ("http://wat.example.com/old", "<urn:wat:2>",
        Int.box(301), "text/html", "http://wat.example.com/new",
        "utf-8", null, null, 0L, 0L, 0L, ""),
      // PNG: non-HTML — no link scan at all; the binary body fails the
      // strict UTF-8 trial so the decode heuristic reports its 1252
      // fallback (the body text is never consumed here)
      ("http://wat.example.com/i.png", "<urn:wat:3>",
        Int.box(200), "image/png", null, "windows-1252", null, null,
        0L, 0L, 0L, ""),
      // p2: base-relative link resolves to the base's host
      ("http://wat.example.com/p2", "<urn:wat:4>",
        Int.box(200), "text/html", null, "utf-8", null,
        "https://cdn.example.org/lib/", 1L, 1L, 1L, "cdn.example.org"))
      .map { case (u, rid, st, mime, loc, cs, title, base, nl, na, nh, lh) =>
        s"(${s(u)}, ${s(rid)}, '2026-08-10T00:00:00Z', ${i(st)}, " +
          s"${s(mime)}, ${s(loc)}, ${s(cs)}, CAST(NULL AS VARCHAR), " +
          s"${s(title)}, ${s(base)}, CAST($nl AS BIGINT), " +
          s"CAST($na AS BIGINT), CAST($nh AS BIGINT), ${s(lh)})"
      }
    "SELECT * FROM (VALUES " + rows.mkString(", ") +
      ") t(url, record_id, warc_date, http_status, mime, " +
      "redirect_location, charset, content_encoding, title, base_href, " +
      "n_links, n_anchor_links, n_link_hosts, link_hosts) " +
      "ORDER BY record_id"
  }

  /** Two "nights" of WARC crawl segments DERIVED FROM the documents
    * table (collected once per SF at fixture build, then cached behind
    * a done-marker): night 1 = even doc_ids as WET conversion records
    * (2026-08-01) plus a same-text RECRAWL of every doc_id%10==0 page
    * (2026-08-02) — exercising [[graft.sources.Warc.latestByUrl]]
    * without perturbing the downstream text math; night 2 = odd
    * doc_ids (2026-08-03). Because record texts ARE documents.text,
    * the DuckDB oracle recomputes the whole chain from the parquet
    * table. Returns (night1Dir, night2Dir). */
  private def warcIncFixtureDirs(s: SparkSession, dir: String): (String, String) = {
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_warcinc_v1_" + dir.replaceAll("[^0-9a-zA-Z]+", "_"))
    val n1 = new java.io.File(root, "night1")
    val n2 = new java.io.File(root, "night2")
    val done = new java.io.File(root, "_done")
    if (!done.exists()) {
      n1.mkdirs(); n2.mkdirs()
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      // TEST-FIXTURE ONLY: collects the full document text to the
      // driver to write the planted segments — fine for a once-per-SF
      // fixture build behind the _done marker, NOT a pattern for
      // corpus-scale code (production WARC writing would stream
      // per-partition)
      val docs = Tables.documents(s, dir)
        .select("doc_id", "source", "text").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(_._1)
      def rec(id: Long, src: String, text: String, date: String) =
        graft.sources.Warc.buildRecord("WARC/1.0",
          Seq("WARC-Type" -> "conversion",
            "WARC-Target-URI" -> s"https://$src.example.com/d/$id",
            "WARC-Record-ID" -> s"<urn:graft:$id>",
            "WARC-Date" -> date),
          text.getBytes(utf8))
      val night1 = docs.filter(_._1 % 2 == 0).flatMap { case (i, sr, t) =>
        Seq(rec(i, sr, t, "2026-08-01T00:00:00Z")) ++
          (if (i % 10 == 0) Seq(rec(i, sr, t, "2026-08-02T00:00:00Z"))
           else Nil)
      }
      val night2 = docs.filter(_._1 % 2 == 1)
        .map { case (i, sr, t) => rec(i, sr, t, "2026-08-03T00:00:00Z") }
      java.nio.file.Files.write(n1.toPath.resolve("seg-n1.warc.gz"),
        graft.sources.Warc.gzip(night1.reduce(_ ++ _)))
      java.nio.file.Files.write(n2.toPath.resolve("seg-n2.warc.gz"),
        graft.sources.Warc.gzip(night2.reduce(_ ++ _)))
      done.createNewFile()
    }
    (n1.getAbsolutePath, n2.getAbsolutePath)
  }

  /** The full Common Crawl TRIPTYCH fixture for q_curated_corpus_v9,
    * derived from the documents table (collected once per SF — the
    * sanctioned fixture-build collect — cached behind a done-marker).
    * Per doc d (N dense ids, source s(d), text t(d), capture day
    * cd(d) = 2026-08-{(d%28)+1}):
    *
    * WARC lane (segment A, `response` records — feeds watFrame +
    * resolveRevisits' capture registry):
    *   - /p{d}: 200 HTML page linking sa=s((d+1)%N), sb=s((7d+3)%N)
    *     and the never-publishing sink.example.net (so the directed
    *     PageRank has a GENUINE dangling host), with
    *     WARC-Payload-Digest sha1:D{d} — the revisit join key;
    *   - d%5==0: /old{d} 301 → /p{d} (Location header, empty body) —
    *     the redirect map WAT exposes.
    * WET lane (segment A, `conversion` records — the text tier):
    *   - /p{d}: text t(d) at cd(d);
    *   - d%5==0: /old{d}, text t(d), 2026-09-01 — re-keys to /p{d}
    *     through the redirect map and WINS keep-latest (newest);
    *   - d%11==0: /zdup{d}, text t(d), 2026-08-30 — survives
    *     keep-latest (own URL) and dies in the exact-text dedup
    *     ('p' < 'z' on the canonical key).
    * Revisit lane (segment B, `revisit` records):
    *   - d%7==0: revisit of /p{d} at 2026-09-10 with digest sha1:D{d}
    *     — except d%21==0, planted as the MISMATCH sha1:X{d} that must
    *     stay unresolved; no WARC-Refers-To, so resolution is by the
    *     (canonical URL, digest) join. */
  private def warcV9FixtureDir(s: SparkSession, dir: String): String = {
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_warcv9_" + dir.replaceAll("[^0-9a-zA-Z]+", "_"))
    val done = new java.io.File(root, "_done")
    if (!done.exists()) {
      root.mkdirs()
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val docs = Tables.documents(s, dir)
        .select("doc_id", "source", "text").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sortBy(_._1)
      val n = docs.length.toLong
      val srcOf = docs.map(d => d._1 -> d._2).toMap
      def cd(d: Long) = f"2026-08-${(d % 28) + 1}%02dT00:00:00Z"
      def purl(src: String, d: Long) = s"https://$src.example.com/p$d"
      def rec(typ: String, uri: String, date: String, rid: String,
          extra: Seq[(String, String)], payload: Array[Byte]) =
        graft.sources.Warc.buildRecord("WARC/1.0",
          Seq("WARC-Type" -> typ, "WARC-Target-URI" -> uri,
            "WARC-Date" -> date, "WARC-Record-ID" -> rid) ++ extra,
          payload)
      val segA = docs.flatMap { case (d, src, text) =>
        val sa = srcOf((d + 1) % n)
        val sb = srcOf((d * 7 + 3) % n)
        val body = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
          "charset=UTF-8\r\n\r\n<html><body>" +
          s"""<a href="https://$sa.example.com/x">a</a>""" +
          s"""<a href="https://$sb.example.com/y">b</a>""" +
          s"""<a href="https://sink.example.net/r">s</a>""" +
          "</body></html>").getBytes(utf8)
        val page = rec("response", purl(src, d), cd(d), s"<urn:v9:p:$d>",
          Seq("WARC-Payload-Digest" -> s"sha1:D$d"), body)
        val redir = if (d % 5 == 0) Seq(rec("response",
          s"https://$src.example.com/old$d", "2026-09-02T00:00:00Z",
          s"<urn:v9:r:$d>", Nil,
          ("HTTP/1.1 301 Moved Permanently\r\nContent-Type: text/html\r\n" +
            s"Location: ${purl(src, d)}\r\n\r\n").getBytes(utf8)))
        else Nil
        val wet = rec("conversion", purl(src, d), cd(d), s"<urn:v9:c:$d>",
          Nil, text.getBytes(utf8))
        val wetOld = if (d % 5 == 0) Seq(rec("conversion",
          s"https://$src.example.com/old$d", "2026-09-01T00:00:00Z",
          s"<urn:v9:o:$d>", Nil, text.getBytes(utf8)))
        else Nil
        val wetDup = if (d % 11 == 0) Seq(rec("conversion",
          s"https://$src.example.com/zdup$d", "2026-08-30T00:00:00Z",
          s"<urn:v9:z:$d>", Nil, text.getBytes(utf8)))
        else Nil
        Seq(page) ++ redir ++ Seq(wet) ++ wetOld ++ wetDup
      }
      val segB = docs.collect { case (d, src, _) if d % 7 == 0 =>
        val dg = if (d % 21 == 0) s"sha1:X$d" else s"sha1:D$d"
        rec("revisit", purl(src, d), "2026-09-10T00:00:00Z",
          s"<urn:v9:v:$d>", Seq("WARC-Payload-Digest" -> dg),
          Array.emptyByteArray)
      }
      java.nio.file.Files.write(root.toPath.resolve("seg-v9-a.warc.gz"),
        graft.sources.Warc.gzip(segA.reduce(_ ++ _)))
      java.nio.file.Files.write(root.toPath.resolve("seg-v9-b.warc.gz"),
        graft.sources.Warc.gzip(segB.reduce(_ ++ _)))
      done.createNewFile()
    }
    root.getAbsolutePath
  }

  /** The HTTP/WET body text [[graft.sources.Warc.documentsFrame]] must
    * recover for each fixture record — files 0–2 responses: after the
    * first CRLF CRLF (UTF-8 bodies); conversions: the whole payload;
    * file 3: the PLANTED charset-fixture texts (null = undecodable). */
  private def warcFixtureBodies: Seq[(String, String)] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    warcFixture.filter(_._1 <= 2).collect {
      case (_, "response", uri, payload) =>
        val s = new String(payload, utf8)
        (uri, s.substring(s.indexOf("\r\n\r\n") + 4))
      case (_, "conversion", uri, payload) =>
        (uri, new String(payload, utf8))
    } ++ warcCharsetFixture.map { case (uri, _, _, text, _, _, _) =>
      (uri, text)
    } ++ warcRevisitFixture.collect { case ("response", uri, _, payload, _) =>
      val s = new String(payload, utf8)
      (uri, s.substring(s.indexOf("\r\n\r\n") + 4))
    }
  }

  /** VALUES-literal oracle for q_warc_extract: expected rows derived
    * from the SAME fixture bytes but bypassing the file/parse path
    * entirely (digest straight over the payload arrays). record_idx
    * replays the per-file counter (plain file carries the first 7
    * records, the gz file the rest). */
  private def warcExtractOracleSql: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString
    val rows = warcFixture.groupBy(_._1).toSeq.flatMap { case (_, recs) =>
      recs.zipWithIndex.map { case ((_, t, uri, payload), idx) =>
        val u = if (uri == null) "CAST(NULL AS VARCHAR)" else s"'$uri'"
        s"(CAST($idx AS BIGINT), '$t', $u, " +
          s"CAST(${payload.length} AS BIGINT), '${hex(md.digest(payload))}')"
      }
    }
    "SELECT * FROM (VALUES " + rows.mkString(", ") +
      ") t(record_idx, warc_type, target_uri, content_length, " +
      "payload_sha256) ORDER BY target_uri NULLS FIRST, record_idx"
  }

  /** VALUES-literal oracle for q_wet_text: per-record recovered body
    * text stats + digest, computed straight from [[warcFixtureBodies]]
    * (no file/parse/slice path on the oracle side). Undecodable
    * charset-fixture rows carry NULL stats — the quarantine posture
    * adjudicated, not filtered away. */
  private def wetTextOracleSql: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString
    val rows = warcFixtureBodies.map {
      case (uri, null) =>
        s"('$uri', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), " +
          "CAST(NULL AS VARCHAR))"
      case (uri, body) =>
        val toks = body.trim.split("\\s+").length
        s"('$uri', CAST(${body.length} AS BIGINT), CAST($toks AS BIGINT), " +
          s"'${hex(md.digest(body.getBytes(java.nio.charset.StandardCharsets.UTF_8)))}')"
    }
    "SELECT * FROM (VALUES " + rows.mkString(", ") +
      ") t(url, n_chars, n_tokens, body_sha256) ORDER BY url"
  }

  /** VALUES-literal oracle for q_crawl_revisit: the hand-derived kept
    * capture + last_seen per canonical URL (digests over the planted
    * body strings). */
  private def warcRevisitOracleSql: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def hex(s: String): String =
      md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(x => f"$x%02x").mkString
    "SELECT * FROM (VALUES " +
      Seq(
        s"('http://warc.example.com/rv/a', '<urn:rv:a1>', " +
          s"'2026-08-01T00:00:00Z', '2026-08-05T00:00:00Z', " +
          s"'${hex("alpha v1")}')",
        s"('http://warc.example.com/rv/b', '<urn:rv:b2>', " +
          s"'2026-08-03T00:00:00Z', '2026-08-03T00:00:00Z', " +
          s"'${hex("bravo v2")}')").mkString(", ") +
      ") t(canonical_url, record_id, warc_date, last_seen, body_sha256) " +
      "ORDER BY canonical_url"
  }

  /** VALUES-literal oracle for q_warc_charset: expected decode
    * metadata + text digest straight from the planted
    * [[warcCharsetFixture]] literals. */
  private def warcCharsetOracleSql: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString
    def str(x: String): String =
      if (x == null) "CAST(NULL AS VARCHAR)" else s"'$x'"
    val rows = warcCharsetFixture.map { case (uri, _, _, text, cs, ce, err) =>
      val nChars = if (text == null) "CAST(NULL AS BIGINT)"
        else s"CAST(${text.length} AS BIGINT)"
      val sha = if (text == null) "CAST(NULL AS VARCHAR)"
        else s"'${hex(md.digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))}'"
      s"(${str(uri)}, ${str(cs)}, ${str(ce)}, $nChars, $sha, ${str(err)})"
    }
    "SELECT * FROM (VALUES " + rows.mkString(", ") +
      ") t(url, charset, content_encoding, n_chars, body_sha256, " +
      "decode_error) ORDER BY url"
  }

  /** The adj/deg/r0 + unrolled-iteration CTE chain of the PageRank
    * oracle, shared by every graph instance: the preceding CTEs must
    * define `e(ia, ib)`, the undirected edge set; the final rank
    * relation is `r<iters>(node, pagerank)`. */
  private def pageRankOracleCtes(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""r$k AS (SELECT nodes.node,
         (1.0::DOUBLE - 0.85::DOUBLE) / nn.n
           + 0.85::DOUBLE * coalesce(s.i, 0.0::DOUBLE) AS pagerank
         FROM nodes CROSS JOIN nn
         LEFT JOIN (SELECT adj.dst AS node,
                      sum(r.pagerank / deg.deg) AS i
                    FROM adj JOIN deg ON deg.src = adj.src
                    JOIN r${k - 1} r ON r.node = adj.src
                    GROUP BY 1) s ON s.node = nodes.node)"""
    }.mkString(",\n         ")
    s"""adj AS (SELECT ia AS src, ib AS dst FROM e
                 UNION ALL SELECT ib AS src, ia AS dst FROM e),
         deg AS (SELECT src, count(*) AS deg FROM adj GROUP BY 1),
         nodes AS (SELECT DISTINCT src AS node FROM adj),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         r0 AS (SELECT node, 1.0::DOUBLE / nn.n AS pagerank
                FROM nodes CROSS JOIN nn),
         $steps"""
  }

  /** DuckDB restatement of [[graft.operators.Analytics.pageRankDirected]]:
    * the DIRECTED recurrence with per-round dangling-mass
    * redistribution, unrolled. Expects a CTE `e` of DISTINCT directed
    * (src, dst) edges (no self-loops). Every CTE name takes prefix `p`
    * so the directed and undirected families can coexist in one query
    * (q_curated_corpus_v8 runs both). */
  private def pageRankDirectedOracleCtes(iters: Int,
      p: String = ""): String = {
    // each step reads r_{k-1} TWICE (dangling aggregate + contribution
    // join): MATERIALIZED stops DuckDB's CTE inlining from expanding
    // the unrolled recurrence exponentially (2^iters base scans would
    // exhaust fds before it exhausted time)
    val steps = (1 to iters).map { k =>
      s"""${p}d$k AS (SELECT coalesce(sum(r.pagerank), 0.0::DOUBLE) AS m
           FROM ${p}r${k - 1} r LEFT JOIN ${p}deg g ON g.src = r.node
           WHERE g.src IS NULL),
         ${p}r$k AS MATERIALIZED (SELECT nodes.node,
         (1.0::DOUBLE - 0.85::DOUBLE) / nn.n
           + 0.85::DOUBLE * (coalesce(s.i, 0.0::DOUBLE) + dm.m / nn.n)
           AS pagerank
         FROM ${p}nodes nodes CROSS JOIN ${p}nn nn CROSS JOIN ${p}d$k dm
         LEFT JOIN (SELECT adj.dst AS node,
                      sum(r.pagerank / deg.deg) AS i
                    FROM ${p}adj adj JOIN ${p}deg deg ON deg.src = adj.src
                    JOIN ${p}r${k - 1} r ON r.node = adj.src
                    GROUP BY 1) s ON s.node = nodes.node)"""
    }.mkString(",\n         ")
    s"""${p}adj AS MATERIALIZED (SELECT src, dst FROM ${p}e),
         ${p}deg AS MATERIALIZED (
           SELECT src, count(*) AS deg FROM ${p}adj GROUP BY 1),
         ${p}nodes AS MATERIALIZED (SELECT src AS node FROM ${p}adj
                       UNION SELECT dst FROM ${p}adj),
         ${p}nn AS MATERIALIZED (
           SELECT CAST(count(*) AS DOUBLE) AS n FROM ${p}nodes),
         ${p}r0 AS MATERIALIZED (SELECT node, 1.0::DOUBLE / nn.n AS pagerank
                FROM ${p}nodes nodes CROSS JOIN ${p}nn nn),
         $steps"""
  }

  /** DuckDB restatement of
    * [[graft.operators.Analytics.pageRankDirectedWeighted]]: the
    * weighted recurrence with per-round dangling-mass redistribution,
    * unrolled. Expects a CTE `${p}we` of AGGREGATED directed
    * (src, dst, w DOUBLE) edges — one row per pair, w > 0, no
    * self-loops. Same MATERIALIZED discipline as the directed family. */
  private def pageRankWeightedOracleCtes(iters: Int,
      p: String = ""): String = {
    val steps = (1 to iters).map { k =>
      s"""${p}wd$k AS (SELECT coalesce(sum(r.pagerank), 0.0::DOUBLE) AS m
           FROM ${p}wr${k - 1} r LEFT JOIN ${p}wz z ON z.src = r.node
           WHERE z.src IS NULL),
         ${p}wr$k AS MATERIALIZED (SELECT nodes.node,
         (1.0::DOUBLE - 0.85::DOUBLE) / nn.n
           + 0.85::DOUBLE * (coalesce(s.i, 0.0::DOUBLE) + dm.m / nn.n)
           AS pagerank
         FROM ${p}wn nodes CROSS JOIN ${p}wnn nn CROSS JOIN ${p}wd$k dm
         LEFT JOIN (SELECT adj.dst AS node,
                      sum(r.pagerank * adj.w / z.wout) AS i
                    FROM ${p}we adj JOIN ${p}wz z ON z.src = adj.src
                    JOIN ${p}wr${k - 1} r ON r.node = adj.src
                    GROUP BY 1) s ON s.node = nodes.node)"""
    }.mkString(",\n         ")
    s"""${p}wz AS MATERIALIZED (
           SELECT src, sum(w) AS wout FROM ${p}we GROUP BY 1),
         ${p}wn AS MATERIALIZED (SELECT src AS node FROM ${p}we
                       UNION SELECT dst FROM ${p}we),
         ${p}wnn AS MATERIALIZED (
           SELECT CAST(count(*) AS DOUBLE) AS n FROM ${p}wn),
         ${p}wr0 AS MATERIALIZED (
           SELECT node, 1.0::DOUBLE / nn.n AS pagerank
           FROM ${p}wn nodes CROSS JOIN ${p}wnn nn),
         $steps"""
  }

  /** DuckDB restatement of [[graft.operators.Analytics.personalizedPageRank]]:
    * the directed recurrence with the teleport vector replaced by the
    * seed distribution. Expects CTEs `e` (DISTINCT directed (src, dst))
    * and `sd` (seed node strings, column `s`). Same MATERIALIZED
    * discipline as the directed family (r_{k-1} read twice per step). */
  private def pprOracleCtes(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""qd$k AS (SELECT coalesce(sum(r.pagerank), 0.0::DOUBLE) AS m
           FROM qr${k - 1} r LEFT JOIN qdeg g ON g.src = r.node
           WHERE g.src IS NULL),
         qr$k AS MATERIALIZED (SELECT pp.node,
         (1.0::DOUBLE - 0.85::DOUBLE) * pp.p
           + 0.85::DOUBLE * (coalesce(s.i, 0.0::DOUBLE) + dm.m * pp.p)
           AS pagerank
         FROM qp pp CROSS JOIN qd$k dm
         LEFT JOIN (SELECT adj.dst AS node,
                      sum(r.pagerank / deg.deg) AS i
                    FROM qadj adj JOIN qdeg deg ON deg.src = adj.src
                    JOIN qr${k - 1} r ON r.node = adj.src
                    GROUP BY 1) s ON s.node = pp.node)"""
    }.mkString(",\n         ")
    s"""qadj AS MATERIALIZED (SELECT src, dst FROM e),
         qdeg AS MATERIALIZED (
           SELECT src, count(*) AS deg FROM qadj GROUP BY 1),
         qnodes AS MATERIALIZED (SELECT src AS node FROM qadj
                       UNION SELECT dst FROM qadj),
         qns AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS k
               FROM sd JOIN qnodes ON qnodes.node = sd.s),
         qp AS MATERIALIZED (SELECT n.node,
                 CASE WHEN x.s IS NOT NULL THEN 1.0::DOUBLE / qns.k
                      ELSE 0.0::DOUBLE END AS p
               FROM qnodes n LEFT JOIN sd x ON x.s = n.node
               CROSS JOIN qns),
         qr0 AS MATERIALIZED (SELECT node, p AS pagerank FROM qp),
         $steps"""
  }

  /** DuckDB restatement of [[graft.operators.Analytics.hits]]: the
    * L2-normalized hub/authority double recursion unrolled. Expects a
    * CTE `he` of DISTINCT directed (src, dst). */
  private def hitsOracleCtes(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""ha${k}r AS MATERIALIZED (SELECT adj.dst AS node,
             sum(h.h) AS a0
           FROM hadj adj JOIN hh${k - 1} h ON h.node = adj.src
           GROUP BY 1),
         ha$k AS MATERIALIZED (SELECT n.node,
             coalesce(r.a0, 0.0::DOUBLE) /
               (SELECT sqrt(sum(a0 * a0)) FROM ha${k}r) AS a
           FROM hnodes n LEFT JOIN ha${k}r r ON r.node = n.node),
         hh${k}r AS MATERIALIZED (SELECT adj.src AS node,
             sum(a.a) AS h0
           FROM hadj adj JOIN ha$k a ON a.node = adj.dst
           GROUP BY 1),
         hh$k AS MATERIALIZED (SELECT n.node,
             coalesce(r.h0, 0.0::DOUBLE) /
               (SELECT sqrt(sum(h0 * h0)) FROM hh${k}r) AS h
           FROM hnodes n LEFT JOIN hh${k}r r ON r.node = n.node)"""
    }.mkString(",\n         ")
    s"""hadj AS MATERIALIZED (SELECT src, dst FROM he),
         hnodes AS MATERIALIZED (SELECT src AS node FROM hadj
                       UNION SELECT dst FROM hadj),
         hh0 AS MATERIALIZED (SELECT node, 1.0::DOUBLE AS h FROM hnodes),
         $steps"""
  }

  /** [[pageRankOracleCtes]] + the standard final projection. */
  private def pageRankOracleTail(iters: Int): String =
    pageRankOracleCtes(iters) +
      s"""
         SELECT node, pagerank FROM r$iters ORDER BY node"""

  private def pageRankOracleSql(iters: Int): String =
    s"""WITH g AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item
               FROM lineitem WHERE l_orderkey % 4 = 0),
         e AS (SELECT a.item AS ia, b.item AS ib
               FROM g a JOIN g b ON a.grp = b.grp AND a.item < b.item
               GROUP BY 1, 2 HAVING count(*) >= 2),
         """ + pageRankOracleTail(iters)

  /** Synchronous LPA unrolled: per round one vote aggregation + a
    * (votes DESC, label ASC) rank-1 pick — the SQL restatement of the
    * Spark side's min(struct(-votes, label)). */
  private def labelPropagationOracleSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""v$k AS (SELECT e.src AS node, l.community_id,
                count(*) AS votes
         FROM adj e JOIN l${k - 1} l ON l.node = e.dst
         GROUP BY 1, 2),
         l$k AS (SELECT node, community_id FROM (
           SELECT node, community_id, row_number() OVER (
             PARTITION BY node
             ORDER BY votes DESC, community_id ASC) AS rn
           FROM v$k) WHERE rn = 1)"""
    }.mkString(",\n         ")
    s"""WITH g AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item
               FROM lineitem WHERE l_orderkey % 4 = 0),
         e AS (SELECT a.item AS ia, b.item AS ib
               FROM g a JOIN g b ON a.grp = b.grp AND a.item < b.item
               GROUP BY 1, 2 HAVING count(*) >= 2),
         adj AS (SELECT ia AS src, ib AS dst FROM e
                 UNION ALL SELECT ib AS src, ia AS dst FROM e),
         l0 AS (SELECT DISTINCT src AS node, src AS community_id FROM adj),
         $steps
         SELECT node, community_id FROM l$iters ORDER BY node"""
  }

  /** Shared classifier-score CTE prefix (`sc` = per-doc n_feats +
    * integer score_sum), used by the classifier oracle and the RRF
    * fusion oracle. */
  private val classifierScoreCtes: String =
      """WITH toks AS (SELECT doc_id,
                string_split_regex(trim(text), '\s+') AS t
              FROM documents WHERE length(trim(text)) > 0),
         feats AS (
           SELECT doc_id, 'u:' || unnest(t) AS f FROM toks
           UNION ALL
           SELECT doc_id, 'b:' || t[i] || ' ' || t[i + 1] AS f
           FROM toks, LATERAL unnest(generate_series(1, len(t) - 1))
             AS g(i)
           WHERE len(t) >= 2),
         fb AS (SELECT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(
                      substring(sha256(f), 1, 13), ''),
                      c -> CAST(instr('0123456789abcdef', c) - 1
                        AS BIGINT))),
                    (acc, x) -> acc * 16 + x) % 4096 AS bucket
                FROM feats),
         perdoc AS (SELECT doc_id, bucket, count(*) AS c
                    FROM fb GROUP BY 1, 2),
         sc AS (SELECT doc_id, sum(c) AS n_feats,
                  sum(c * (((bucket * 2654435761 + 104729) % 2001) - 1000))
                    AS score_sum
                FROM perdoc GROUP BY 1)"""

  /** [[classifierScoreCtes]] with the weight table as a VALUES LITERAL
    * artifact instead of the inline bucket formula — the oracle half of
    * the shipped-artifact apply path (q_classifier_apply). The literal
    * rows are the same fixture weights the Spark side collects, so a
    * real trained model slots in by swapping the artifact on both
    * sides. */
  /** The fixture weight table as VALUES rows — the artifact both apply
    * oracles (q_classifier_apply, q_curated_corpus_v6) ship. */
  private def classifierFixtureValues(buckets: Int): String =
    (0 until buckets).map { b =>
      s"($b, ${(b.toLong * 2654435761L + 104729L) % 2001L - 1000L})"
    }.mkString(", ")

  private def classifierApplyCtes(buckets: Int): String = {
    val values = classifierFixtureValues(buckets)
    s"""WITH wts AS MATERIALIZED (
           SELECT bucket, CAST(w AS BIGINT) AS w
           FROM (VALUES $values) t(bucket, w)),
         toks AS (SELECT doc_id,
                string_split_regex(trim(text), '\\s+') AS t
              FROM documents WHERE length(trim(text)) > 0),
         feats AS (
           SELECT doc_id, 'u:' || unnest(t) AS f FROM toks
           UNION ALL
           SELECT doc_id, 'b:' || t[i] || ' ' || t[i + 1] AS f
           FROM toks, LATERAL unnest(generate_series(1, len(t) - 1))
             AS g(i)
           WHERE len(t) >= 2),
         fb AS (SELECT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(
                      substring(sha256(f), 1, 13), ''),
                      c -> CAST(instr('0123456789abcdef', c) - 1
                        AS BIGINT))),
                    (acc, x) -> acc * 16 + x) % $buckets AS bucket
                FROM feats WHERE f <> 'u:'),
         perdoc AS (SELECT doc_id, bucket, count(*) AS c
                    FROM fb GROUP BY 1, 2),
         sc AS (SELECT doc_id, sum(c) AS n_feats,
                  sum(c * w) AS score_sum
                FROM perdoc JOIN wts USING (bucket) GROUP BY 1)"""
  }

  /** q_capped_budget's waterfill unrolled: `rounds` chained
    * (give → clip → pool-return) CTE rounds over the source table —
    * the kCore/pageRank fixed-recurrence pattern; HUGEINT for the
    * rem·w product the operator computes in BigInt. */
  private def cappedBudgetOracleSql(budget: Long, maxEpochs: Int,
      rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH wsrc AS (SELECT source,
        TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) + 1 AS w
      FROM (SELECT DISTINCT source FROM documents)),
     avail AS (SELECT source,
        CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
          AS n_tokens
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
      GROUP BY 1),
     a0 AS MATERIALIZED (SELECT a.source, a.n_tokens, w.w,
        a.n_tokens * $maxEpochs AS cap, CAST(0 AS BIGINT) AS alloc
      FROM avail a JOIN wsrc w USING (source)),
     rem0 AS (SELECT CAST($budget AS BIGINT) AS rem)"""
    for (r <- 1 to rounds) {
      val p = r - 1
      val wsum = s"(SELECT COALESCE(SUM(CASE WHEN alloc < cap AND w > 0" +
        s" THEN w END), 0) FROM a$p)"
      sb ++= s""",
     g$r AS MATERIALIZED (SELECT source, n_tokens, w, cap, alloc,
        CASE WHEN alloc < cap AND w > 0 AND $wsum > 0
             THEN CAST(CAST((SELECT rem FROM rem$p) AS HUGEINT) * w
               // $wsum AS BIGINT)
             ELSE CAST(0 AS BIGINT) END AS give
      FROM a$p),
     a$r AS MATERIALIZED (SELECT source, n_tokens, w, cap,
        CAST(least(alloc + give, cap) AS BIGINT) AS alloc FROM g$r),
     rem$r AS (SELECT CAST((SELECT rem FROM rem$p) - COALESCE(SUM(give), 0)
        + COALESCE(SUM(greatest(alloc + give - cap, 0)), 0) AS BIGINT)
          AS rem FROM g$r)"""
    }
    sb ++= s"""
     SELECT source, n_tokens, w AS w_parts, cap AS cap_tokens,
            alloc AS alloc_tokens, alloc = cap AS saturated
     FROM a$rounds ORDER BY source"""
    sb.toString
  }

  /** q_sequence_packing's block-local FFD as CTE definitions (usable
    * after `WITH RECURSIVE`, ends at `s` = per-doc (block, bin, n,
    * truncated)) — shared by the packing and packing-efficiency
    * oracles. */
  private val ffdPackCtes: String =
    """c AS (
           SELECT doc_id,
                  least(CAST(len(string_split_regex(trim(text), '\s+'))
                    AS BIGINT) + 1, 96) AS n,
                  CAST(len(string_split_regex(trim(text), '\s+'))
                    AS BIGINT) + 1 > 96 AS truncated
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0),
         r AS (SELECT doc_id, n, truncated,
                      row_number() OVER (ORDER BY n DESC, doc_id) - 1 AS rk
               FROM c),
         b AS (SELECT doc_id, n, truncated, rk // 128 AS block,
                      CAST(rk % 128 AS INTEGER) AS seq
               FROM r),
         s AS (
           SELECT block, seq, doc_id, n, truncated,
                  CAST(1 AS BIGINT) AS bin, [n] AS bins
           FROM b WHERE seq = 0
           UNION ALL
           SELECT b.block, b.seq, b.doc_id, b.n, b.truncated,
                  CAST(COALESCE(NULLIF(list_position(
                      list_transform(s.bins, x -> x + b.n <= 96), true), 0),
                    len(s.bins) + 1) AS BIGINT) AS bin,
                  CASE WHEN NULLIF(list_position(
                      list_transform(s.bins, x -> x + b.n <= 96), true), 0)
                      IS NULL
                    THEN list_append(s.bins, b.n)
                    ELSE list_transform(s.bins, (x, i) ->
                      CASE WHEN i = list_position(
                          list_transform(s.bins, y -> y + b.n <= 96), true)
                        THEN x + b.n ELSE x END)
                    END AS bins
           FROM s JOIN b ON b.block = s.block AND b.seq = s.seq + 1)"""

  /** The q_main_content extraction pipeline as CTE definitions (no
    * leading WITH, ends at `mc` = per-doc (main_text, n_blocks,
    * n_kept)) — shared by q_main_content and q_curated_corpus_v6 so
    * the wrapper and the regex chain cannot drift between them. */
  private val mainContentCtes: String =
    """page AS (SELECT doc_id,
             '<html><head><title>d</title><style>p{color:#888}</style></head><body><div class="nav"><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></div><h1>Doc '
               || CAST(doc_id AS VARCHAR) || '</h1><p>' || text ||
               ' See <a href="/m">more here</a></p><div class="rel"><a href="/1">doc one</a> <a href="/2">doc two</a> <a href="/3">doc three</a></div><footer>Copyright 2026 Example</footer><script>if(1<2){x=1;}</script></body></html>'
               AS html
           FROM documents),
         ns AS (SELECT doc_id,
                  regexp_replace(regexp_replace(html,
                    '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                    '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS h
                FROM page),
         bl AS (SELECT doc_id,
                  string_split(regexp_replace(
                    regexp_replace(h, '\s+', ' ', 'g'),
                    '(?is)</?(p|div|br|h[1-6]|li|ul|ol|table|tr|td|th|section|article|header|footer|nav|blockquote|pre)\b[^>]*>',
                    chr(10), 'g'), chr(10)) AS bs
                FROM ns),
         b AS (SELECT doc_id, i, bs[i] AS raw
               FROM bl, LATERAL unnest(generate_series(1, len(bs)))
                 AS g(i)),
         c AS (SELECT doc_id, i,
                 trim(regexp_replace(
                   replace(replace(replace(replace(replace(replace(
                     regexp_replace(raw, '<[^>]*>', ' ', 'g'),
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
                   '\s+', ' ', 'g')) AS txt,
                 trim(regexp_replace(
                   replace(replace(replace(replace(replace(replace(
                     regexp_replace(array_to_string(
                       regexp_extract_all(raw, '(?is)<a[^>]*>(.*?)</a>', 1),
                       ' '), '<[^>]*>', ' ', 'g'),
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
                   '\s+', ' ', 'g')) AS ltxt
               FROM b),
         k AS (SELECT doc_id, i, txt,
                 CASE WHEN txt = '' THEN 0
                      ELSE len(string_split(txt, ' ')) END AS w,
                 CASE WHEN ltxt = '' THEN 0
                      ELSE len(string_split(ltxt, ' ')) END AS lw
               FROM c),
         kk AS (SELECT doc_id, i, txt, w,
                  w >= 5 AND CAST(lw AS DOUBLE) <= 0.33 * w AS kept
                FROM k),
         mc AS (SELECT doc_id,
                coalesce(string_agg(txt, chr(10) ORDER BY i)
                  FILTER (WHERE kept), '') AS main_text,
                CAST(count(*) FILTER (WHERE txt <> '') AS BIGINT)
                  AS n_blocks,
                CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept
         FROM kk GROUP BY doc_id)"""

  /** q_lang_id_v2's head artifact as a VALUES literal: the SAME
    * (lang, ord, bucket, w) triples the Spark expression ships (built
    * by the one shared profile builder, so the two sides cannot
    * drift). */
  private def langIdV2HeadsValues: String = {
    val ordOf = graft.functions.TextAnalysis.langMarkers
      .map(_._1).zipWithIndex.toMap
    graft.expressions.LangIdScores
      .headTriples(graft.functions.TextAnalysis.langMarkers, 1024)
      .map { case (l, b, w) => s"('$l', ${ordOf(l)}, $b, $w)" }
      .mkString(", ")
  }

  /** Synchronous k-core peeling unrolled; every e/s step is referenced
    * twice downstream, so both are AS MATERIALIZED (the recursive-CTE
    * inlining-blowup gotcha). Extra rounds past the fixpoint are
    * no-ops — both engines sit on the same survivor set. */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      val prevE = if (r == 1) "ed" else s"e${r - 1}"
      s"""d$r AS (SELECT src AS node, count(*) AS c FROM $prevE GROUP BY 1),
         s$r AS MATERIALIZED (SELECT node, c FROM d$r WHERE c >= $k),
         e$r AS MATERIALIZED (SELECT e.src, e.dst FROM $prevE e
               JOIN s$r a ON a.node = e.src
               JOIN s$r b ON b.node = e.dst)"""
    }.mkString(",\n         ")
    s"""WITH g AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item
               FROM lineitem WHERE l_orderkey % 4 = 0),
         e AS (SELECT a.item AS ia, b.item AS ib
               FROM g a JOIN g b ON a.grp = b.grp AND a.item < b.item
               GROUP BY 1, 2 HAVING count(*) >= 2),
         ed AS (SELECT ia AS src, ib AS dst FROM e
                UNION SELECT ib, ia FROM e),
         $steps
         SELECT node, CAST(c AS BIGINT) AS core_degree
         FROM s$rounds ORDER BY node"""
  }

  def oracleSql: Map[String, String] = Map(
    "q_pagerank" -> pageRankOracleSql(10),
    "q_label_propagation" -> labelPropagationOracleSql(4),
    "q_kcore" -> kCoreOracleSql(2, 10),
    "q_degree_assortativity" ->
      """WITH g AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item
               FROM lineitem WHERE l_orderkey % 4 = 0),
         e AS (SELECT a.item AS ia, b.item AS ib
               FROM g a JOIN g b ON a.grp = b.grp AND a.item < b.item
               GROUP BY 1, 2 HAVING count(*) >= 2),
         ed AS (SELECT ia AS x, ib AS y FROM e
                UNION ALL SELECT ib, ia FROM e),
         deg AS (SELECT x AS node, count(*) AS d FROM ed GROUP BY 1),
         dd AS (SELECT CAST(da.d AS DOUBLE) AS a, CAST(db.d AS DOUBLE) AS b
                FROM ed JOIN deg da ON da.node = ed.x
                        JOIN deg db ON db.node = ed.y)
         SELECT (CAST(count(*) AS DOUBLE) * sum(a * b) - sum(a) * sum(b))
                / sqrt((CAST(count(*) AS DOUBLE) * sum(a * a)
                          - sum(a) * sum(a))
                       * (CAST(count(*) AS DOUBLE) * sum(b * b)
                          - sum(b) * sum(b))) AS assortativity
         FROM dd""",
    "q_nearest_doc" ->
      (cappedJaccardCtes +
        """, np AS (SELECT id_a, id_b, jaccard FROM scored
                    WHERE jaccard >= 0.6),
         bo AS (SELECT id_a AS doc_id, id_b AS nbr, jaccard FROM np
                UNION ALL SELECT id_b, id_a, jaccard FROM np),
         r AS (SELECT doc_id, nbr, jaccard, row_number() OVER (
                 PARTITION BY doc_id
                 ORDER BY jaccard DESC, nbr ASC) AS rn
               FROM bo)
         SELECT doc_id, nbr AS nearest_id, jaccard
         FROM r WHERE rn = 1 ORDER BY doc_id"""),
    "q_sales_per_category" ->
      """SELECT event_type AS category, SUM(value) AS total_sales
         FROM events GROUP BY 1 ORDER BY category""",
    "q_sales_per_category_day" ->
      """SELECT CAST(ts AS DATE) AS transaction_date, event_type AS category,
                SUM(value) AS total_sales
         FROM events GROUP BY 1, 2 ORDER BY transaction_date, category""",
    "q_sales_per_day" ->
      """SELECT CAST(ts AS DATE) AS transaction_date, SUM(value) AS total_sales
         FROM events GROUP BY 1 ORDER BY transaction_date""",
    "q_sales_per_month" ->
      """SELECT CAST(YEAR(ts) AS INTEGER) AS year,
                CAST(MONTH(ts) AS INTEGER) AS month,
                SUM(value) AS total_sales
         FROM events GROUP BY 1, 2 ORDER BY year, month""",
    "q_sales_per_month_of_year" ->
      """SELECT CAST(MONTH(ts) AS INTEGER) AS month, SUM(value) AS total_sales
         FROM events GROUP BY 1 ORDER BY month""",
    "q_raw_events" ->
      """SELECT event_id, user_id, event_type, value
         FROM events WHERE value >= 100.0 ORDER BY event_id""",
    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
         FROM events ORDER BY event_id""",
    // epoch_us(ts) on DuckDB's µs-truncated read ≡ Spark's `ts div
    // 1000` ns→µs truncation, so the gap comparison is integer-exact
    "q_event_sessions" ->
      """WITH s AS (
           SELECT user_id, event_id, ts, epoch_us(ts) AS us,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS prev
           FROM events),
         t AS (
           SELECT user_id, ts,
                  sum(CASE WHEN prev IS NULL OR us - prev > 1800000000
                      THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS session_idx
           FROM s)
         SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
                count(*) AS n_events,
                min(ts) AS session_start, max(ts) AS session_end
         FROM t GROUP BY 1, 2 ORDER BY user_id, session_idx""",
    // the oracle states the merge as the row_number/NOT EXISTS
    // formulation; the Spark side's max_by reduction + anti-join must
    // reach the identical end state (values copied, hash-exact)
    "q_cdc_state" ->
      """WITH ev AS (
           SELECT user_id, ts, event_id, event_type, value FROM events),
         snap AS (
           SELECT user_id, ts, event_id, event_type, value FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
             FROM ev WHERE ts < TIMESTAMP '2024-01-20') WHERE rn = 1),
         chg AS (
           SELECT *, CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
           FROM ev WHERE ts >= TIMESTAMP '2024-01-20'),
         latest AS (
           SELECT user_id, ts, event_id, event_type, value, op FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
             FROM chg) WHERE rn = 1)
         SELECT user_id, ts, event_id, event_type, value FROM (
           SELECT s.user_id, s.ts, s.event_id, s.event_type, s.value
           FROM snap s
           WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.user_id = s.user_id)
           UNION ALL
           SELECT user_id, ts, event_id, event_type, value
           FROM latest WHERE op <> 'D')
         ORDER BY user_id""",
    // generate_series yields timestamps — cast back to DATE; rev0 keeps
    // the pre-fill value out of the output alias's way (DuckDB allows
    // lateral alias reuse inside one SELECT, which would mis-bind
    // `spend IS NULL` to the FILLED value)
    "q_gap_fill" ->
      """WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS day, sum(value) AS spend
           FROM events WHERE user_id % 11 = 0 GROUP BY 1, 2),
         b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
         cal AS (
           SELECT k.user_id, CAST(d.g AS DATE) AS day
           FROM (SELECT DISTINCT user_id FROM daily) k,
                (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS g
                 FROM b) d),
         j AS (
           SELECT c.user_id, c.day, dd.spend AS rev0
           FROM cal c LEFT JOIN daily dd
             ON dd.user_id = c.user_id AND dd.day = c.day)
         SELECT user_id, day,
                last_value(rev0 IGNORE NULLS) OVER (PARTITION BY user_id
                  ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS spend,
                (rev0 IS NULL) AS is_gap
         FROM j ORDER BY user_id, day""",
    // single global cumsum formulation; the Spark side's day-partitioned
    // carry-in decomposition must hash-match it exactly
    "q_concurrency" ->
      """WITH s AS (
           SELECT user_id, event_id, ts, epoch_us(ts) AS us,
                  lag(epoch_us(ts)) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS prev
           FROM events),
         t AS (
           SELECT user_id, ts,
                  sum(CASE WHEN prev IS NULL OR us - prev > 1800000000
                      THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS session_idx
           FROM s),
         sess AS (
           SELECT min(ts) AS session_start, max(ts) AS session_end
           FROM t GROUP BY user_id, session_idx),
         bnd AS (
           SELECT t, sum(s) AS s, sum(e) AS e FROM (
             SELECT session_start AS t, 1 AS s, 0 AS e FROM sess
             UNION ALL
             SELECT session_end AS t, 0 AS s, 1 AS e FROM sess) GROUP BY 1),
         c AS (
           SELECT t, e,
                  sum(s) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
                  sum(e) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ce
           FROM bnd)
         SELECT t, CAST(cs - ce + e AS BIGINT) AS active
         FROM c ORDER BY t""",
    // the same lead()-hold formulation; last sample per user holds
    // nothing and single-sample users divide 0-weight to NULL. The
    // NULL-sample exclusion is part of the operator contract (samples
    // without a value hold nothing and don't count), so the oracle
    // states it explicitly BEFORE the lead() window — ADVICE r4 flagged
    // this as latent (vacuous on this fixture slice, pinned regardless)
    "q_time_weighted_value" ->
      """WITH s AS (
           SELECT user_id, value,
                  epoch_us(lead(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id)) - epoch_us(ts) AS hold
           FROM events
           WHERE user_id % 7 = 0 AND value IS NOT NULL AND ts IS NOT NULL)
         SELECT user_id, count(*) AS n_samples,
                SUM(value * hold) / SUM(hold) AS twa
         FROM s GROUP BY 1 ORDER BY user_id""",
    // identical explicit least-squares sums; date_diff argument order
    // differs from Spark's (unit, start, end)
    "q_category_trend" ->
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  SUM(value) AS revenue
           FROM events GROUP BY 1, 2),
         d0 AS (SELECT min(day) AS d0 FROM daily),
         pts AS (
           SELECT event_type,
                  CAST(date_diff('day', d0.d0, day) AS DOUBLE) AS x,
                  CAST(revenue AS DOUBLE) AS y
           FROM daily, d0),
         sums AS (
           SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
                  SUM(x) AS sx, SUM(y) AS sy,
                  SUM(x * x) AS sxx, SUM(x * y) AS sxy
           FROM pts GROUP BY 1)
         SELECT event_type, CAST(n AS BIGINT) AS n,
                CASE WHEN n * sxx - sx * sx <> 0
                  THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
                CASE WHEN n * sxx - sx * sx <> 0
                  THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
                END AS intercept
         FROM sums ORDER BY event_type""",
    // same full-outer classification; IS DISTINCT FROM is the SQL
    // spelling of the Spark side's negated <=> per compare column
    "q_snapshot_diff" ->
      """WITH o AS (
           SELECT doc_id, text, lang FROM documents WHERE doc_id % 7 <> 0),
         n AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text,
                  lang
           FROM documents WHERE doc_id % 5 <> 0)
         SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                CASE WHEN o.doc_id IS NULL THEN 'added'
                     WHEN n.doc_id IS NULL THEN 'removed'
                     WHEN o.text IS DISTINCT FROM n.text
                       OR o.lang IS DISTINCT FROM n.lang THEN 'changed'
                     ELSE 'unchanged' END AS status
         FROM o FULL OUTER JOIN n ON n.doc_id = o.doc_id
         ORDER BY doc_id""",
    "q_funnel" ->
      """WITH f AS (
           SELECT user_id,
                  min(ts) FILTER (WHERE event_type = 'view') AS t0,
                  min(ts) FILTER (WHERE event_type = 'click') AS t1,
                  min(ts) FILTER (WHERE event_type = 'purchase') AS t2
           FROM events GROUP BY user_id),
         d AS (
           SELECT (CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) +
                  (CASE WHEN t0 IS NOT NULL AND t1 > t0 THEN 1 ELSE 0 END) +
                  (CASE WHEN t0 IS NOT NULL AND t1 > t0 AND t2 > t1
                   THEN 1 ELSE 0 END) AS depth
           FROM f)
         SELECT step, step_name, n_users FROM (
           SELECT 1 AS step, 'view' AS step_name,
                  CAST(sum(CASE WHEN depth >= 1 THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_users FROM d
           UNION ALL
           SELECT 2, 'click',
                  CAST(sum(CASE WHEN depth >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           FROM d
           UNION ALL
           SELECT 3, 'purchase',
                  CAST(sum(CASE WHEN depth >= 3 THEN 1 ELSE 0 END) AS BIGINT)
           FROM d) u
         ORDER BY step""",
    // the same min-after-previous anchor walk, stated as chained CTEs
    "q_funnel_windowed" ->
      """WITH c0 AS (
           SELECT user_id, min(ts) AS t FROM events
           WHERE event_type = 'view' GROUP BY 1),
         c1 AS (
           SELECT e.user_id, min(e.ts) AS t
           FROM events e JOIN c0 ON c0.user_id = e.user_id
           WHERE e.event_type = 'click' AND e.ts > c0.t
             AND e.ts <= c0.t + INTERVAL 259200 SECONDS
           GROUP BY 1),
         c2 AS (
           SELECT e.user_id, min(e.ts) AS t
           FROM events e JOIN c1 ON c1.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND e.ts > c1.t
             AND e.ts <= c1.t + INTERVAL 259200 SECONDS
           GROUP BY 1)
         SELECT step, step_name, n_users FROM (
           SELECT 1 AS step, 'view' AS step_name,
                  (SELECT count(*) FROM c0) AS n_users
           UNION ALL
           SELECT 2, 'click', (SELECT count(*) FROM c1)
           UNION ALL
           SELECT 3, 'purchase', (SELECT count(*) FROM c2)) u
         ORDER BY step""",
    "q_retention" ->
      """WITH fd AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
                     FROM events GROUP BY user_id),
         act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                 FROM events)
         SELECT cohort_day,
                CAST(datediff('day', cohort_day, day) AS INT) AS day_offset,
                count(*) AS n_users
         FROM act JOIN fd USING (user_id)
         WHERE datediff('day', cohort_day, day) <= 7
         GROUP BY 1, 2 ORDER BY cohort_day, day_offset""",
    "q_latest_event_per_user" ->
      """SELECT user_id, event_id, event_type, value FROM (
           SELECT user_id, event_id, event_type, value,
                  ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY date_trunc('microseconds', ts) DESC,
                                              event_id DESC) AS rn
           FROM events) t
         WHERE rn = 1 ORDER BY user_id""",
    // Spark's window(ts, '1h') and DuckDB's time_bucket share the same
    // epoch-aligned bucketing; boundaries are whole hours so µs-vs-ns
    // precision cannot shift a row across buckets
    "q_hourly_category_sales" ->
      """SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
                time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
                  + INTERVAL '1 hour' AS window_end,
                event_type AS category, SUM(value) AS total_sales
         FROM events GROUP BY 1, 2, 3 ORDER BY window_start, category""",
    "q1_lineitem_agg" ->
      """SELECT l_returnflag, l_linestatus,
                SUM(l_quantity) AS sum_qty,
                SUM(l_extendedprice) AS sum_base_price,
                SUM(l_extendedprice * (1.0 - l_discount)) AS sum_disc_price,
                AVG(l_quantity) AS avg_qty,
                AVG(l_discount) AS avg_disc,
                COUNT(*) AS count_order
         FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""",
    "q3_shipping" ->
      """SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
                SUM(l.l_extendedprice * (1.0 - l.l_discount)) AS revenue
         FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         WHERE c.c_mktsegment = 'BUILDING'
         GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q5_region_revenue" ->
      """SELECT n.n_name AS nation,
                SUM(l.l_extendedprice * (1.0 - l.l_discount)) AS revenue
         FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
         JOIN customer c ON c.c_nationkey = n.n_nationkey
         JOIN orders o ON o.o_custkey = c.c_custkey
         JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         WHERE r.r_name = 'ASIA'
         GROUP BY 1 ORDER BY revenue DESC, nation""",
    "q9_supplier_nation_revenue" ->
      """SELECT n.n_name AS nation,
                CAST(YEAR(o.o_orderdate) AS INTEGER) AS o_year,
                SUM(l.l_extendedprice * (1.0 - l.l_discount)) AS revenue
         FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         JOIN nation n ON n.n_nationkey = s.s_nationkey
         JOIN orders o ON o.o_orderkey = l.l_orderkey
         WHERE p.p_type = 'PROMO'
         GROUP BY 1, 2 ORDER BY nation, o_year""",
    "q8_market_share" ->
      """SELECT CAST(YEAR(o.o_orderdate) AS INTEGER) AS o_year,
                SUM(CASE WHEN n1.n_name = 'NATION_7'
                         THEN l.l_extendedprice * (1.0 - l.l_discount)
                         ELSE 0.0 END)
                / SUM(l.l_extendedprice * (1.0 - l.l_discount)) AS mkt_share
         FROM lineitem l
         JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'STANDARD'
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
         JOIN orders o ON o.o_orderkey = l.l_orderkey
         JOIN customer c ON c.c_custkey = o.o_custkey
         JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
         JOIN region r ON r.r_regionkey = n2.n_regionkey AND r.r_name = 'ASIA'
         GROUP BY 1 ORDER BY o_year""",
    "q21_lone_late_supplier" ->
      """SELECT s.s_name, count(DISTINCT l1.l_orderkey) AS numwait
         FROM lineitem l1
         JOIN orders o ON o.o_orderkey = l1.l_orderkey
           AND o.o_orderstatus = 'F'
         JOIN supplier s ON s.s_suppkey = l1.l_suppkey
         WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate >
                               o3.o_orderdate + INTERVAL 90 DAY)
         GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""",
    "q22_dormant_capital" ->
      """SELECT n.n_name AS nation, COUNT(*) AS n_cust,
                SUM(c.c_acctbal) AS total_bal
         FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
         WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                              WHERE c_acctbal > 0.0)
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderdate >= TIMESTAMP '2000-01-01')
         GROUP BY 1 ORDER BY nation""",
    // Q2 shape stated as the textbook correlated-min subquery; the
    // Spark side's decorrelated min-aggregate + equality re-join must
    // select the same (part, supplier) winners
    "q2_min_cost_supplier" ->
      """WITH asia AS (SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
              FROM supplier s
              JOIN nation n ON n.n_nationkey = s.s_nationkey
              JOIN region r ON r.r_regionkey = n.n_regionkey
              WHERE r.r_name = 'ASIA'),
         offers AS (SELECT DISTINCT l.l_partkey, l.l_suppkey,
                           l.l_extendedprice
                    FROM lineitem l
                    JOIN asia a ON a.s_suppkey = l.l_suppkey)
         SELECT a.s_acctbal, a.s_name, a.n_name AS nation, p.p_partkey,
                o.l_extendedprice AS min_price
         FROM offers o
         JOIN part p ON p.p_partkey = o.l_partkey AND p.p_size = 10
         JOIN asia a ON a.s_suppkey = o.l_suppkey
         WHERE o.l_extendedprice = (SELECT min(o2.l_extendedprice)
                                    FROM offers o2
                                    WHERE o2.l_partkey = o.l_partkey)
         ORDER BY a.s_acctbal DESC, a.s_name, p.p_partkey LIMIT 20""",
    // Q11 shape as the textbook share-of-total HAVING via scalar
    // subqueries; quantity sums are integer-exact so the strict cut
    // is engine-stable
    "q11_important_stock" ->
      """WITH perpart AS (SELECT l.l_partkey,
                SUM(l.l_quantity) AS stock_qty
              FROM lineitem l
              JOIN supplier s ON s.s_suppkey = l.l_suppkey
              WHERE s.s_nationkey % 2 = 0
              GROUP BY 1)
         SELECT l_partkey, stock_qty FROM perpart
         WHERE stock_qty > 1.5 * ((SELECT SUM(stock_qty) FROM perpart)
                                  / (SELECT COUNT(*) FROM perpart))
         ORDER BY stock_qty DESC, l_partkey""",
    "q12_priority_lines" ->
      """SELECT l.l_returnflag,
                CAST(SUM(CASE WHEN o.o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
                  AS high_line_count,
                CAST(SUM(CASE WHEN o.o_orderpriority IN
                    ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
                  AS low_line_count
         FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
         WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
           AND l.l_shipdate < TIMESTAMP '1996-01-01'
         GROUP BY 1 ORDER BY l_returnflag""",
    // Q16 shape as the textbook NOT-IN formulation; Spark states the
    // same exclusion as a broadcast left_anti before the distinct count
    "q16_supplier_diversity" ->
      """SELECT p.p_brand, p.p_type,
                COUNT(DISTINCT a.l_suppkey) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) a
         JOIN part p ON p.p_partkey = a.l_partkey
         WHERE a.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                   WHERE s_acctbal < 0.0)
         GROUP BY 1, 2 ORDER BY supplier_cnt DESC, p_brand, p_type""",
    // the textbook two-alias formulation of the two-role nation join
    "q7_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(YEAR(o.o_orderdate) AS INTEGER) AS l_year,
                SUM(l.l_extendedprice * (1.0 - l.l_discount)) AS revenue
         FROM lineitem l
         JOIN orders o ON o.o_orderkey = l.l_orderkey
         JOIN supplier s ON s.s_suppkey = l.l_suppkey
         JOIN customer c ON c.c_custkey = o.o_custkey
         JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
         JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
         WHERE (n1.n_nationkey % 2 = 0 AND n2.n_nationkey % 2 = 1)
            OR (n1.n_nationkey % 2 = 1 AND n2.n_nationkey % 2 = 0)
         GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year""",
    "q10_returned_customers" ->
      """SELECT c.c_custkey, c.c_name,
                SUM(l.l_extendedprice * (1.0 - l.l_discount)) AS revenue
         FROM lineitem l
         JOIN orders o ON o.o_orderkey = l.l_orderkey
         JOIN customer c ON c.c_custkey = o.o_custkey
         WHERE l.l_returnflag = 'R'
         GROUP BY 1, 2
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    // Q15 shape stated as the textbook correlated scalar subquery; the
    // Spark side's broadcast-max equi-join must select the same rows
    "q_top_revenue_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey,
                  SUM(l_extendedprice * (1.0 - l_discount)) AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1995-01-01'
             AND l_shipdate < TIMESTAMP '1995-04-01'
           GROUP BY 1)
         SELECT s.s_suppkey, s.s_name, r.total_revenue
         FROM supplier s JOIN rev r ON r.l_suppkey = s.s_suppkey
         WHERE r.total_revenue = (SELECT max(total_revenue) FROM rev)
         ORDER BY s_suppkey""",
    // Q20 shape as nested IN-subqueries; Spark states the same
    // membership chain as two left_semi joins
    "q_bulk_part_suppliers" ->
      """WITH li AS (
           SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1995-01-01'
             AND l_shipdate < TIMESTAMP '1996-01-01'),
         bulky AS (
           SELECT l_partkey FROM li GROUP BY 1 HAVING sum(l_quantity) > 300.0)
         SELECT s_suppkey, s_name, s_acctbal FROM supplier
         WHERE s_suppkey IN (
           SELECT l_suppkey FROM li
           WHERE l_partkey IN (SELECT l_partkey FROM bulky))
         ORDER BY s_suppkey""",
    "q_rollup_lineitem" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                coalesce(l_linestatus, 'ALL') AS linestatus,
                SUM(l_quantity) AS sum_qty, COUNT(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus""",
    "q_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
                coalesce(o_orderpriority, 'ALL') AS priority,
                SUM(o_totalprice) AS total, COUNT(*) AS n
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                 (o_orderpriority), ())
         ORDER BY status, priority""",
    // DuckDB's native interval RANGE frame; day count is inclusive of
    // the current day, hence 6 PRECEDING for a 7-day trailing window
    "q_range_frame_revenue" ->
      """WITH daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  SUM(value) AS revenue
           FROM events GROUP BY 1, 2)
         SELECT event_type, day, revenue,
                SUM(revenue) OVER (PARTITION BY event_type ORDER BY day
                  RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
                  AS rev7d
         FROM daily ORDER BY event_type, day""",
    "q_cube_sales" ->
      """SELECT coalesce(event_type, 'ALL') AS category,
                coalesce(CAST(day AS VARCHAR), 'ALL') AS day,
                SUM(value) AS total, COUNT(*) AS n
         FROM (SELECT event_type, CAST(ts AS DATE) AS day, value
               FROM events) t
         GROUP BY CUBE(event_type, day)
         ORDER BY category, day""",
    "q_top_orders_per_cust" -> topOrdersOracleSql,
    // the typed-Aggregator path must agree with the window formulation
    "q_top_orders_per_cust_agg" -> topOrdersOracleSql,
    // FILTER aggregations are the portable spelling of PIVOT
    "q_pivot_daily_sales" ->
      """SELECT CAST(ts AS DATE) AS transaction_date,
                SUM(value) FILTER (WHERE event_type = 'click') AS click,
                SUM(value) FILTER (WHERE event_type = 'error') AS error,
                SUM(value) FILTER (WHERE event_type = 'purchase') AS purchase,
                SUM(value) FILTER (WHERE event_type = 'signup') AS signup,
                SUM(value) FILTER (WHERE event_type = 'view') AS view
         FROM events GROUP BY 1 ORDER BY transaction_date""",
    "q_orders_rollup" ->
      """SELECT o_orderstatus AS status, o_orderpriority AS priority,
                CAST(grouping(o_orderstatus) AS INT) AS g_status,
                CAST(grouping(o_orderpriority) AS INT) AS g_priority,
                count(*) AS n_orders, sum(o_totalprice) AS revenue
         FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         ORDER BY g_status, g_priority,
                  status NULLS FIRST, priority NULLS FIRST""",
    "q_running_revenue" ->
      """SELECT o_custkey, o_orderkey,
                sum(o_totalprice) OVER (
                  PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS running_rev
         FROM orders WHERE o_custkey < 200
         ORDER BY o_custkey, o_orderkey""",
    "q_unpivot_lineitem" ->
      """SELECT l_orderkey, l_linenumber, measure, val FROM (
           SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
                  l_quantity AS val FROM lineitem WHERE l_orderkey < 1000
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
           FROM lineitem WHERE l_orderkey < 1000
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
           FROM lineitem WHERE l_orderkey < 1000)
         ORDER BY l_orderkey, l_linenumber, measure""",
    "q_custkeys_1995_not_1996" ->
      """SELECT * FROM (
           SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
           EXCEPT
           SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
         ORDER BY o_custkey""",
    "q_priority_bulky_orders" ->
      """SELECT o_orderpriority, count(*) AS n_orders
         FROM orders o
         WHERE year(o_orderdate) = 1995
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_quantity >= 45.0)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_customers_without_orders" ->
      """SELECT c_custkey, c_mktsegment
         FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND year(o.o_orderdate) = 1995)
         ORDER BY c_custkey""",
    "q_promo_revenue" ->
      """SELECT 100.0 * sum(CASE WHEN p_type = 'PROMO'
                  THEN l_extendedprice * (1.0 - l_discount)
                  ELSE 0.0 END) /
                sum(l_extendedprice * (1.0 - l_discount)) AS promo_pct
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE year(l_shipdate) = 1996""",
    "q6_forecast_revenue" ->
      """SELECT SUM(l_extendedprice * l_discount) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.02 AND 0.06
           AND l_quantity < 10.0""",
    // written as the same decorrelated join the Spark side declares
    "q_small_qty_revenue" ->
      """WITH branded AS (
           SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
           FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
           WHERE p.p_brand = 'Brand#4'),
         t AS (SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_thresh
               FROM branded GROUP BY 1)
         SELECT sum(b.l_extendedprice) / 7.0 AS avg_yearly
         FROM branded b JOIN t ON b.l_partkey = t.l_partkey
         WHERE b.l_quantity < t.qty_thresh""",
    "q_big_orders" ->
      """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty
                      FROM lineitem GROUP BY 1
                      HAVING sum(l_quantity) > 250.0)
         SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_orderdate,
                o.o_totalprice, b.sum_qty
         FROM orders o
           JOIN big b ON o.o_orderkey = b.l_orderkey
           JOIN customer c ON c.c_custkey = o.o_custkey
         ORDER BY o_orderkey""",
    // ON-clause order filter spelled as the pre-join WHERE the Spark
    // side declares — equivalent for a LEFT join key filter on the
    // probe side's own columns
    "q_order_count_distribution" ->
      """WITH co AS (
           SELECT c.c_custkey, count(o.o_orderkey) AS c_count
           FROM customer c LEFT JOIN orders o
             ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
           GROUP BY 1)
         SELECT c_count, count(*) AS custdist FROM co GROUP BY 1
         ORDER BY custdist DESC, c_count DESC""",
    "q_disjunctive_revenue" ->
      """SELECT sum(l_extendedprice * (1.0 - l_discount)) AS revenue
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1 AND 20)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
                AND l_quantity BETWEEN 10 AND 30)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
                AND l_quantity BETWEEN 20 AND 40)""",
    // decimal-exact threshold (bal*cnt > sum), double only in the output
    "q_dormant_customers" ->
      """WITH pos AS (
           SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS bal_sum,
                  count(*) AS bal_cnt
           FROM customer WHERE c_acctbal > 0.0),
         recent AS (SELECT DISTINCT o_custkey FROM orders
                    WHERE o_orderdate >= TIMESTAMP '2000-01-01')
         SELECT c_nationkey, count(*) AS numcust,
                CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
         FROM customer c, pos
         WHERE NOT EXISTS (SELECT 1 FROM recent r WHERE r.o_custkey = c.c_custkey)
           AND CAST(c_acctbal AS DECIMAL(18,2)) * bal_cnt > bal_sum
         GROUP BY 1 ORDER BY 1""",
    "q_custkeys_both_years" ->
      """SELECT * FROM (
           SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995
           INTERSECT
           SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
         ORDER BY o_custkey""",
    "q_text_stats" ->
      """SELECT doc_id,
                len(string_split_regex(trim(text), '\s+')) AS token_count,
                length(text) AS char_count,
                CASE WHEN length(text) = 0 THEN 0.0
                     ELSE CAST(length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) / length(text)
                END AS punct_ratio,
                CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                  t -> t IN ('the','a','an','of','to','and','in','is','it','for'))) AS DOUBLE)
                  / len(string_split_regex(trim(text), '\s+')) AS stopword_ratio
         FROM documents ORDER BY doc_id""",
    "q_text_quality" ->
      """WITH f AS (
           SELECT doc_id,
                  string_split_regex(trim(text), '\s+') AS w,
                  length(text) AS nc,
                  CAST(length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) AS np
           FROM documents),
         g AS (
           SELECT doc_id,
                  CAST(len(w) AS DOUBLE) AS tc,
                  CASE WHEN nc = 0 THEN 0.0 ELSE np / nc END AS punct_ratio,
                  CAST(len(list_filter(w, t -> t IN ('the','a','an','of','to','and','in','is','it','for'))) AS DOUBLE) / len(w) AS stop_ratio,
                  CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE) / len(w) AS avg_len
           FROM f)
         SELECT doc_id,
                least(tc / 100.0, 1.0) * 0.3
                + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.3
                + least(stop_ratio * 5.0, 1.0) * 0.2
                + (1.0 - least(abs(avg_len - 5.0) / 5.0, 1.0)) * 0.2 AS quality
         FROM g ORDER BY doc_id""",
    // identical \x{...} regex classes (the RE2/java.util.regex shared
    // spelling) over the same chr-built mixed tail
    "q_script_mix" ->
      """WITH d AS (SELECT doc_id,
                text || repeat(chr(1087), CAST(doc_id % 5 AS INT))
                     || repeat(chr(20013), CAST(doc_id % 3 AS INT))
                     || repeat(chr(1605), CAST(doc_id % 2 AS INT)) AS text
              FROM documents WHERE text IS NOT NULL),
         c AS (SELECT doc_id,
                 CAST(length(text) AS BIGINT) AS n_chars,
                 CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                   AS BIGINT) AS n_latin,
                 CAST(length(regexp_replace(text, '[^\x{0400}-\x{04FF}]', '', 'g'))
                   AS BIGINT) AS n_cyrillic,
                 CAST(length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g'))
                   AS BIGINT) AS n_cjk,
                 CAST(length(regexp_replace(text, '[^\x{0600}-\x{06FF}]', '', 'g'))
                   AS BIGINT) AS n_arabic
               FROM d)
         SELECT doc_id, n_chars, n_latin, n_cyrillic, n_cjk, n_arabic,
                CASE WHEN n_chars > 0
                     THEN CAST(n_latin AS DOUBLE) / n_chars ELSE 0.0 END
                  AS latin_frac,
                CASE WHEN n_chars > 0
                     THEN CAST(n_cyrillic AS DOUBLE) / n_chars ELSE 0.0 END
                  AS cyrillic_frac,
                CASE WHEN n_chars > 0
                     THEN CAST(n_cjk AS DOUBLE) / n_chars ELSE 0.0 END
                  AS cjk_frac,
                CASE WHEN n_chars > 0
                     THEN CAST(n_arabic AS DOUBLE) / n_chars ELSE 0.0 END
                  AS arabic_frac,
                CASE WHEN n_latin + n_cyrillic + n_cjk + n_arabic = 0
                       THEN 'other'
                     WHEN n_latin >= n_cyrillic AND n_latin >= n_cjk
                       AND n_latin >= n_arabic THEN 'latin'
                     WHEN n_cyrillic >= n_cjk AND n_cyrillic >= n_arabic
                       THEN 'cyrillic'
                     WHEN n_cjk >= n_arabic THEN 'cjk'
                     ELSE 'arabic' END AS dominant
         FROM c ORDER BY doc_id""",
    // strpos ≡ instr (1-based, 0 absent); substring clamps identically
    "q_kwic" ->
      """SELECT doc_id, CAST(strpos(text, 'vector') AS BIGINT) AS pos,
                substring(text, greatest(1, strpos(text, 'vector') - 12),
                  strpos(text, 'vector') + 18
                    - greatest(1, strpos(text, 'vector') - 12)) AS snippet
         FROM documents
         WHERE text IS NOT NULL AND strpos(text, 'vector') > 0
         ORDER BY doc_id""",
    // positions are 1-based here, 0-based Spark-side — gaps and pair
    // counts are base-invariant
    "q_proximity_match" ->
      """WITH toks AS (SELECT doc_id, w[i] AS t, i
              FROM (SELECT doc_id,
                      string_split_regex(trim(text), '\s+') AS w
                    FROM documents WHERE length(trim(text)) > 0) u,
              LATERAL unnest(generate_series(1, len(w))) AS g(i)),
         a AS (SELECT doc_id, i AS pa FROM toks WHERE t = 'spark'),
         b AS (SELECT doc_id, i AS pb FROM toks WHERE t = 'query'),
         p AS (SELECT a.doc_id, abs(a.pa - b.pb) AS gap
               FROM a JOIN b ON b.doc_id = a.doc_id
               WHERE abs(a.pa - b.pb) <= 5 AND a.pa <> b.pb)
         SELECT doc_id, count(*) AS n_pairs,
                CAST(min(gap) AS BIGINT) AS min_gap
         FROM p GROUP BY 1 ORDER BY doc_id""",
    // identical Okapi arithmetic tree, same association order
    "q_bm25_topk" ->
      """WITH toks AS (SELECT doc_id,
                unnest(string_split_regex(trim(text), '\s+')) AS t
              FROM documents WHERE length(trim(text)) > 0),
         lens AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         na AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
         tf AS (SELECT doc_id, t, count(*) AS tf FROM toks
                WHERE t IN ('spark', 'query', 'vector') GROUP BY 1, 2),
         dfr AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
         s AS (SELECT tf.doc_id,
                 ln((na.n_docs - dfr.df + CAST(0.5 AS DOUBLE))
                      / (dfr.df + CAST(0.5 AS DOUBLE))
                    + CAST(1.0 AS DOUBLE))
                   * tf.tf * CAST(2.25 AS DOUBLE)
                   / (tf.tf + CAST(1.25 AS DOUBLE)
                        * (CAST(0.25 AS DOUBLE)
                           + CAST(0.75 AS DOUBLE) * lens.dl / na.avgdl))
                   AS s
               FROM tf JOIN dfr USING (t)
               JOIN lens ON lens.doc_id = tf.doc_id
               CROSS JOIN na)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched,
                sum(s) AS bm25
         FROM s GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 25""",
    "q_lang_id" ->
      """WITH s AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
         c AS (SELECT doc_id,
                 len(list_filter(w, t -> t IN ('the','a','of','and','is','to','in','it'))) AS c_en,
                 len(list_filter(w, t -> t IN ('der','die','das','und','ist','nicht','ein','zu'))) AS c_de,
                 len(list_filter(w, t -> t IN ('el','la','de','que','y','los','es','un'))) AS c_es,
                 len(list_filter(w, t -> t IN ('le','la','les','et','des','est','une','dans'))) AS c_fr,
                 len(list_filter(w, t -> t IN ('的','是','了','在','和','有','我','不'))) AS c_zh
               FROM s)
         SELECT doc_id,
                CASE WHEN greatest(c_en, c_de, c_es, c_fr, c_zh) = 0 THEN 'und'
                     WHEN c_en = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'en'
                     WHEN c_de = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'de'
                     WHEN c_es = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'es'
                     WHEN c_fr = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'fr'
                     WHEN c_zh = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'zh'
                     ELSE 'und' END AS lang_pred
         FROM c ORDER BY doc_id""",
    // hashed char-2/3-gram heads from a VALUES artifact; scores, argmax
    // (ties by declaration ord), margin = best − rn2, all BIGINT; the
    // v1 marker CASE rides along for the agree flag
    "q_lang_id_v2" ->
      (s"""WITH heads AS MATERIALIZED (
           SELECT lang, ord, bucket, CAST(w AS BIGINT) AS w
           FROM (VALUES ${langIdV2HeadsValues}) t(lang, ord, bucket, w)),""" +
        """
         toks AS (SELECT doc_id,
                    unnest(string_split_regex(trim(text), '\s+')) AS tok
                  FROM documents),
         pads AS (SELECT doc_id, '_' || tok || '_' AS p
                  FROM toks WHERE tok <> ''),
         grams AS (SELECT doc_id, substring(p, i, n) AS g
                   FROM pads, (VALUES (2), (3)) nn(n),
                        LATERAL unnest(generate_series(1, len(p) - n + 1))
                          AS gi(i)),
         fb AS (SELECT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(
                      substring(sha256(g), 1, 13), ''),
                      c -> CAST(instr('0123456789abcdef', c) - 1
                        AS BIGINT))),
                    (acc, x) -> acc * 16 + x) % 1024 AS bucket
                FROM grams),
         perdoc AS (SELECT doc_id, bucket, count(*) AS c
                    FROM fb GROUP BY 1, 2),
         langsod AS (SELECT DISTINCT lang, ord FROM heads),
         sc0 AS (SELECT p.doc_id, h.lang, sum(p.c * h.w) AS sc
                 FROM perdoc p JOIN heads h USING (bucket)
                 GROUP BY 1, 2),
         allsc AS (SELECT d.doc_id, l.lang, l.ord,
                     coalesce(s.sc, 0) AS sc
                   FROM (SELECT doc_id FROM documents) d
                   CROSS JOIN langsod l
                   LEFT JOIN sc0 s ON s.doc_id = d.doc_id
                     AND s.lang = l.lang),
         rk AS (SELECT doc_id, lang, sc,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY sc DESC, ord ASC) AS rn
                FROM allsc),
         v2 AS (SELECT b.doc_id,
                  CASE WHEN b.sc = 0 THEN 'und' ELSE b.lang END AS lang_v2,
                  CAST(b.sc AS BIGINT) AS score,
                  CAST(b.sc - coalesce(s2.sc, 0) AS BIGINT) AS margin
                FROM rk b LEFT JOIN rk s2 ON s2.doc_id = b.doc_id
                  AND s2.rn = 2
                WHERE b.rn = 1),
         s1 AS (SELECT doc_id,
                  string_split_regex(trim(text), '\s+') AS w
                FROM documents),
         c1 AS (SELECT doc_id,
                 len(list_filter(w, t -> t IN ('the','a','of','and','is','to','in','it'))) AS c_en,
                 len(list_filter(w, t -> t IN ('der','die','das','und','ist','nicht','ein','zu'))) AS c_de,
                 len(list_filter(w, t -> t IN ('el','la','de','que','y','los','es','un'))) AS c_es,
                 len(list_filter(w, t -> t IN ('le','la','les','et','des','est','une','dans'))) AS c_fr,
                 len(list_filter(w, t -> t IN ('的','是','了','在','和','有','我','不'))) AS c_zh
               FROM s1),
         v1 AS (SELECT doc_id,
                  CASE WHEN greatest(c_en, c_de, c_es, c_fr, c_zh) = 0 THEN 'und'
                       WHEN c_en = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'en'
                       WHEN c_de = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'de'
                       WHEN c_es = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'es'
                       WHEN c_fr = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'fr'
                       WHEN c_zh = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'zh'
                       ELSE 'und' END AS lang_v1
                FROM c1)
         SELECT v2.doc_id, v2.lang_v2, v2.score, v2.margin, v1.lang_v1,
                v2.lang_v2 = v1.lang_v1 AS agree
         FROM v2 JOIN v1 ON v1.doc_id = v2.doc_id
         ORDER BY v2.doc_id"""),
    "q_fingerprint" ->
      """SELECT doc_id,
                CASE WHEN length(text) = 0 THEN 0 ELSE
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(text, ''), c -> CAST(unicode(c) AS BIGINT))),
                    (acc, x) -> (acc * 31 + x) % 1000000007)
                END AS fp
         FROM documents ORDER BY doc_id""",
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
         ORDER BY doc_id""",
    // the confusable fold and spoof construction share their char
    // tables with the Spark side via the TextAnalysis constants, so a
    // mapping edit cannot desynchronize the two engines
    "q_homoglyph_dedup" ->
      (s"""WITH spoof AS (SELECT doc_id + 300000 AS doc_id,
                translate(text, 'aeocp', '$cyrSpoof') AS text
              FROM documents WHERE text IS NOT NULL AND doc_id % 7 = 0),
         corpus AS (SELECT doc_id, text FROM documents
                    WHERE text IS NOT NULL
                    UNION ALL SELECT doc_id, text FROM spoof),
         sk AS (SELECT doc_id,
                  sha256(translate(text,
                    '${TextAnalysis.ConfusableFrom}',
                    '${TextAnalysis.ConfusableTo}')) AS dg,
                  CAST(length(text) - length(translate(text,
                    '${TextAnalysis.ConfusableFrom}', ''))
                    AS BIGINT) AS n_confusables
                FROM corpus)
         SELECT doc_id, n_confusables,
                doc_id = min(doc_id) OVER (PARTITION BY dg) AS keep
         FROM sk ORDER BY doc_id"""),
    // each CTE is a stage oracle verbatim, rebased onto the previous
    // stage's output: clean (q_clean_text's expression) → sha256 dedup →
    // repetition gates (q_low_repetition's cuts) → head-cap thresholds
    // computed on the GATED corpus (q_head_cap_sample's formulation)
    // one scan in DuckDB too; token count mirrors tokenCount's
    // trim+split, dup count = non-null texts minus distinct texts
    "q_dataset_card" ->
      """WITH a AS (SELECT
             CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(count(text) AS DOUBLE) AS n_texts,
             CAST(count(DISTINCT text) AS DOUBLE) AS n_uniq_texts,
             CAST(count(DISTINCT source) AS DOUBLE) AS n_sources,
             CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END)
               AS DOUBLE) AS total_tokens,
             CAST(sum(length(text)) AS DOUBLE) AS total_chars
           FROM documents)
         SELECT * FROM (
           SELECT 'n_docs' AS metric, n_docs AS value FROM a
           UNION ALL SELECT 'n_exact_dup_docs', n_texts - n_uniq_texts FROM a
           UNION ALL SELECT 'n_sources', n_sources FROM a
           UNION ALL SELECT 'total_tokens', total_tokens FROM a
           UNION ALL SELECT 'total_chars', total_chars FROM a
           UNION ALL SELECT 'mean_doc_tokens', total_tokens / n_docs FROM a)
         ORDER BY metric""",
    "q_curated_corpus_v2" ->
      """WITH cleaned AS (
           SELECT doc_id,
                  trim(regexp_replace(regexp_replace(nfc_normalize(text),
                    '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
                    ' {2,}', ' ', 'g')) AS text,
                  lang, source
           FROM documents),
         dd AS (SELECT min(doc_id) AS doc_id FROM cleaned
                GROUP BY sha256(text)),
         d2 AS (SELECT c.* FROM cleaned c JOIN dd USING (doc_id)),
         toks AS (SELECT doc_id,
                  unnest(string_split_regex(trim(text), '\s+')) AS t
                  FROM d2),
         tcnt AS (SELECT doc_id, t, count(*) AS c FROM toks GROUP BY 1, 2),
         agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                        COUNT(*) AS n_distinct_tokens, MAX(c) AS tcm
                 FROM tcnt GROUP BY doc_id),
         kept AS (SELECT doc_id FROM agg
                  WHERE 1 - CAST(n_distinct_tokens AS DOUBLE) / n_tokens <= 0.55
                    AND CAST(tcm AS DOUBLE) / n_tokens <= 0.12),
         g AS (SELECT d2.doc_id, d2.lang, d2.source
               FROM d2 JOIN kept USING (doc_id)),
         th AS (SELECT source,
                  CAST(floor(least(1.0, 5.0 / sqrt(count(*))) * 1000000)
                    AS BIGINT) AS thresh
                FROM g GROUP BY source)
         SELECT g.doc_id, g.lang, g.source
         FROM g JOIN th ON g.source = th.source
         WHERE g.doc_id % 1000000 < th.thresh
         ORDER BY g.doc_id""",
    // same quality formulation as q_text_quality, then standard-SQL
    // ntile/percent_rank over the unique (quality, doc_id) order — both
    // engines share the leading-buckets-get-the-remainder ntile rule
    "q_quality_bins" ->
      """WITH f AS (
           SELECT doc_id,
                  string_split_regex(trim(text), '\s+') AS w,
                  length(text) AS nc,
                  CAST(length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) AS np
           FROM documents),
         g AS (
           SELECT doc_id,
                  CAST(len(w) AS DOUBLE) AS tc,
                  CASE WHEN nc = 0 THEN 0.0 ELSE np / nc END AS punct_ratio,
                  CAST(len(list_filter(w, t -> t IN ('the','a','an','of','to','and','in','is','it','for'))) AS DOUBLE) / len(w) AS stop_ratio,
                  CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE) / len(w) AS avg_len
           FROM f),
         q AS (SELECT doc_id,
                least(tc / 100.0, 1.0) * 0.3
                + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.3
                + least(stop_ratio * 5.0, 1.0) * 0.2
                + (1.0 - least(abs(avg_len - 5.0) / 5.0, 1.0)) * 0.2 AS quality
               FROM g)
         SELECT doc_id, quality,
                CAST(ntile(10) OVER (ORDER BY quality, doc_id) AS INT) AS bin,
                percent_rank() OVER (ORDER BY quality, doc_id) AS pct_rank
         FROM q ORDER BY doc_id""",
    "q_upsampled_mixture" ->
      """WITH c AS (SELECT doc_id, source,
                CASE source
                  WHEN 'src0' THEN 2 + CASE WHEN doc_id % 10 < 5 THEN 1 ELSE 0 END
                  WHEN 'src1' THEN CASE WHEN doc_id % 10 < 2 THEN 1 ELSE 0 END
                  ELSE 1 END AS copies
              FROM documents)
         SELECT doc_id, source, u.r AS rep
         FROM c, unnest(range(copies)) AS u(r)
         ORDER BY doc_id, rep""",
    "q_shard_manifest" ->
      """SELECT doc_id % 16 AS shard, count(*) AS n_docs,
                CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
                  AS n_tokens,
                min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM documents GROUP BY 1 ORDER BY shard""",
    "q_domain_quota" ->
      """SELECT doc_id, source, lang FROM (
           SELECT doc_id, source, lang,
                  ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           FROM documents) t
         WHERE rn <= 10 ORDER BY doc_id""",
    "q_domain_quota_multi" ->
      """SELECT doc_id, source, lang FROM (
           SELECT doc_id, source, lang,
                  ROW_NUMBER() OVER (PARTITION BY source, lang ORDER BY doc_id) AS rn
           FROM documents) t
         WHERE rn <= 5 ORDER BY doc_id""",
    // the 13-hex-char (52-bit) sha256 prefix fold is the same integer
    // both engines rank by; 52 bits fit a double exactly, so the Spark
    // aggregator's score comparisons agree with this integer ORDER BY
    "q_uniform_sample" ->
      """WITH r AS (
           SELECT doc_id, source,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(
                      substring(sha256(CAST(doc_id AS VARCHAR)), 1, 13), ''),
                      c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))),
                    (acc, x) -> acc * 16 + x) AS rank
           FROM documents)
         SELECT doc_id, source FROM (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                    ORDER BY rank, doc_id) AS rn
           FROM r)
         WHERE rn <= 25 ORDER BY doc_id""",
    // u = (sha52+1)/2^52 ∈ (0,1]; E-S key u^(1/w), largest k kept —
    // pow differs ≤ ~1 ulp across engines, distinct keys by ≥ ~2^-26
    "q_weighted_sample" ->
      """WITH r AS (
           SELECT doc_id, source, n_chars,
                  pow((list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(
                      substring(sha256(CAST(doc_id AS VARCHAR)), 1, 13), ''),
                      c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))),
                    (acc, x) -> acc * 16 + x) + 1.0) / 4503599627370496.0,
                    1.0 / n_chars) AS key
           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
         SELECT doc_id, source, n_chars FROM (
           SELECT doc_id, source, n_chars,
                  row_number() OVER (PARTITION BY source
                    ORDER BY key DESC, doc_id) AS rn
           FROM r)
         WHERE rn <= 25 ORDER BY doc_id""",
    // naive-global-window statement of the same integer position map;
    // the bucketed Spark rank must land every row on the same value
    "q_quantile_normalize" ->
      """WITH s AS (SELECT doc_id, source, n_chars FROM documents
                    WHERE n_chars IS NOT NULL),
         r AS (SELECT doc_id, source, n_chars,
                      row_number() OVER (PARTITION BY source
                        ORDER BY n_chars, doc_id) AS rs,
                      count(*) OVER (PARTITION BY source) AS ns
               FROM s),
         g AS (SELECT n_chars AS n_norm,
                      row_number() OVER (ORDER BY n_chars, doc_id) AS rg
               FROM s),
         t AS (SELECT doc_id, source, n_chars,
                      (rs * (SELECT count(*) FROM s) + ns - 1) // ns AS tgt
               FROM r)
         SELECT t.doc_id, t.source, t.n_chars, g.n_norm
         FROM t JOIN g ON g.rg = t.tgt
         ORDER BY doc_id""",
    // suppression = semi-join against the >= k quasi groups; DuckDB's
    // integer // is floor division ≡ Spark's `div` on BIGINT
    "q_l_diversity" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
                count(*) AS n_rows,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_sensitive,
                count(DISTINCT user_id) >= 3 AS diverse
         FROM events WHERE user_id IS NOT NULL
         GROUP BY 1, 2 ORDER BY event_type, day""",
    // total-variation distance replayed with the same group-present
    // restatement: Σ_domain |ngv·N − nv·ng| = ng·N + Σ_group(|…| − nv·ng);
    // BIGINT numerator, ONE double division ⇒ bit-identical tvd
    "q_t_closeness" ->
      """WITH cells AS (
           SELECT lang, n_chars // 200 AS band, source, count(*) AS ngv
           FROM documents WHERE source IS NOT NULL GROUP BY 1, 2, 3),
         gv AS (SELECT source, count(*) AS nv
                FROM documents WHERE source IS NOT NULL GROUP BY 1),
         tot AS (SELECT CAST(sum(nv) AS BIGINT) AS N FROM gv),
         j AS (SELECT c.lang, c.band, c.ngv, g.nv,
                      CAST(sum(c.ngv) OVER (PARTITION BY c.lang, c.band)
                        AS BIGINT) AS ng
               FROM cells c JOIN gv g USING (source)),
         agg AS (SELECT lang, band, max(ng) AS n_rows,
                        CAST(sum(abs(ngv * (SELECT N FROM tot) - nv * ng)
                          - nv * ng) AS BIGINT) AS part
                 FROM j GROUP BY 1, 2),
         res AS (SELECT lang, band, n_rows,
                        CAST(n_rows * (SELECT N FROM tot) + part AS DOUBLE)
                          / CAST(2 * n_rows * (SELECT N FROM tot) AS DOUBLE)
                          AS tvd
                 FROM agg)
         SELECT lang, band, n_rows, tvd, tvd <= 0.2 AS close
         FROM res ORDER BY lang NULLS FIRST, band NULLS FIRST""",
    "q_k_anonymous" ->
      """WITH q AS (
           SELECT lang, source, n_chars // 200 AS band, count(*) AS n
           FROM documents GROUP BY 1, 2, 3 HAVING count(*) >= 3)
         SELECT d.doc_id, d.lang, d.source, d.n_chars // 200 AS band
         FROM documents d
         JOIN q ON q.lang IS NOT DISTINCT FROM d.lang
               AND q.source IS NOT DISTINCT FROM d.source
               AND q.band IS NOT DISTINCT FROM d.n_chars // 200
         ORDER BY d.doc_id""",
    // chunk i = tokens [i*stride, i*stride + 40), stride 32; DuckDB's
    // 1-based inclusive slice w[a:b] clamps at the end like Spark slice
    "q_doc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w,
                           CASE WHEN length(trim(text)) = 0 THEN 0
                                ELSE len(string_split_regex(trim(text), '\s+')) END AS n
                    FROM documents),
         c AS (SELECT doc_id, w,
                      CASE WHEN n = 0 THEN 0
                           ELSE greatest(1, CAST(ceil((n - 40) / 32.0) AS INTEGER) + 1)
                      END AS nc
               FROM t)
         SELECT doc_id, CAST(u.i AS INTEGER) AS chunk_idx,
                array_to_string(w[u.i*32 + 1 : u.i*32 + 40], ' ') AS chunk_text,
                CAST(len(w[u.i*32 + 1 : u.i*32 + 40]) AS INTEGER) AS n_tokens
         FROM c, unnest(range(nc)) AS u(i)
         ORDER BY doc_id, chunk_idx""",
    "q_bpe_token_count" ->
      """SELECT doc_id,
                len(regexp_extract_all(text,
                  '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+'))
                  AS n_tokens
         FROM documents ORDER BY doc_id""",
    // same planted text; the merge replay CTEs are GENERATED from the
    // Scala merges table (TextAnalysis.bpeOracleCtes)
    "q_bpe_tokens" ->
      s"""WITH RECURSIVE
         bpesrc AS (SELECT doc_id,
             'the ' ||
             (CASE doc_id % 5 WHEN 0 THEN 'thing' WHEN 1 THEN 'theme'
               WHEN 2 THEN 'resting' WHEN 3 THEN 'rats' ELSE 'stone' END) ||
             ' and ' ||
             (CASE doc_id % 3 WHEN 0 THEN 'rest' WHEN 1 THEN 'oration'
               ELSE 'intent' END) ||
             ' thththth in the end' AS text
           FROM documents),
         ${TextAnalysis.bpeOracleCtes("bpesrc")}
         SELECT d.doc_id,
                string_agg(t.s, '|' ORDER BY t.i) AS bpe_text,
                CAST(sum(len(string_split(t.s, '|'))) AS BIGINT) AS n_bpe
         FROM documents d JOIN bpetok t ON t.doc_id = d.doc_id
         GROUP BY d.doc_id ORDER BY d.doc_id""",
    // training loop unrolled: 8 MATERIALIZED pair-count → argmax →
    // replace steps generated by bpeTrainOracleSql from the same
    // constants as the Spark loop
    "q_bpe_train" -> TextAnalysis.bpeTrainOracleSql(8),
    // unigram-LM tokenizer: EM rounds unrolled as MATERIALIZED CTEs,
    // generated from the same constants as the Spark queries
    "q_unigram_train" -> TextAnalysis.unigramTrainOracleSql(2, 4, 64, 40),
    "q_unigram_lm_tokens" -> TextAnalysis.unigramTokensOracleSql(2, 4, 64, 40),
    "q_unigram_apply" -> TextAnalysis.unigramApplyOracleSql(unigramArtifact),
    // both tokenizer chains composed in ONE query (disjoint CTE
    // prefixes), totals off each chain's fully-segmented word table
    "q_tokenizer_fertility" ->
      TextAnalysis.tokenizerFertilityOracleSql(8, 2, 4, 64, 40),
    // DuckDB regexp_replace needs the 'g' flag (Spark replaces all by
    // default); URL scrub runs first on both sides
    "q_scrub_pii" ->
      """SELECT doc_id,
                regexp_replace(
                  regexp_replace(
                    text || ' contact admin@example.com or https://data.example.org/x?id=1 end',
                    'https?://[^\s]+', '<URL>', 'g'),
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
                  AS scrubbed
         FROM documents ORDER BY doc_id""",
    // URL → email → phone → IP, same pinned order; patterns verbatim
    "q_scrub_pii_v2" ->
      """SELECT doc_id,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        text || ' call +1 (212) 555-0100 or (415) 555-0123 or 555-123-4567, server 10.0.42.7, see http://10.0.0.1/admin and admin@example.com end',
                        'https?://[^\s]+', '<URL>', 'g'),
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\+[0-9]{1,3}[- ]?(\([0-9]{1,4}\)[- ]?)?[0-9]{2,4}([- ][0-9]{2,4}){1,3}|\([0-9]{3}\) [0-9]{3}-[0-9]{4}|[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
                  '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')
                  AS scrubbed
         FROM documents ORDER BY doc_id""",
    // nfc_normalize is DuckDB's utf8proc twin of the NfcNormalize
    // expression; the regexes and trim are spelled identically on both
    // sides (explicit byte ranges, not \p{Cc}, for dialect parity)
    "q_clean_text" ->
      """SELECT doc_id,
                trim(regexp_replace(regexp_replace(
                  nfc_normalize(text || ' cafe' || chr(769) || chr(1) ||
                    '  spaced' || chr(9) || 'end '),
                  '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
                  ' {2,}', ' ', 'g')) AS clean
         FROM documents ORDER BY doc_id""",
    // invisibles stripped BEFORE NFC, then the v1 chain; chr() plants
    // ZWSP(8203)/RLO(8238)/PDF(8236)/SHY(173) + the v1 accent/control
    "q_clean_text_v2" ->
      """SELECT doc_id,
                trim(regexp_replace(regexp_replace(
                  nfc_normalize(regexp_replace(
                    text || ' zero' || chr(8203) || 'width bidi' ||
                      chr(8238) || 'evil' || chr(8236) || ' soft' ||
                      chr(173) || 'hyphen cafe' || chr(769) || chr(1) ||
                      '  end ',
                    '[\x{00AD}\x{200B}-\x{200F}\x{202A}-\x{202E}\x{2060}\x{2066}-\x{2069}\x{FEFF}]',
                    '', 'g')),
                  '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
                  ' {2,}', ' ', 'g')) AS clean
         FROM documents ORDER BY doc_id""",
    // strip_accents is DuckDB's utf8proc twin of the FoldAccents
    // expression (NFD → drop Mn → NFC on both sides); chr(769) is the
    // planted DECOMPOSED combining acute
    "q_fold_accents" ->
      """SELECT doc_id,
                strip_accents('Çé e' || chr(769) || ' Đông 北 ' || text) AS folded
         FROM documents ORDER BY doc_id""",
    // exact-dedup ∘ quality ∘ lang — CTEs reuse the q_dedup_exact /
    // q_text_quality / q_lang_id oracle formulations verbatim. The 0.7
    // cut is float-safe: nearest fixture quality is ~7e-5 away at both
    // sf0.01 and sf0.1, 10 orders of magnitude above double rounding.
    "q_curated_corpus" ->
      """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
         f AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w,
                      length(text) AS nc,
                      CAST(length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE) AS np
               FROM documents),
         g AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS tc,
                      CASE WHEN nc = 0 THEN 0.0 ELSE np / nc END AS punct_ratio,
                      CAST(len(list_filter(w, t -> t IN ('the','a','an','of','to','and','in','is','it','for'))) AS DOUBLE) / len(w) AS stop_ratio,
                      CAST(list_sum(list_transform(w, t -> length(t))) AS DOUBLE) / len(w) AS avg_len
               FROM f),
         q AS (SELECT doc_id,
                      least(tc / 100.0, 1.0) * 0.3
                      + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.3
                      + least(stop_ratio * 5.0, 1.0) * 0.2
                      + (1.0 - least(abs(avg_len - 5.0) / 5.0, 1.0)) * 0.2 AS quality
               FROM g),
         c AS (SELECT doc_id,
                      len(list_filter(w, t -> t IN ('the','a','of','and','is','to','in','it'))) AS c_en,
                      len(list_filter(w, t -> t IN ('der','die','das','und','ist','nicht','ein','zu'))) AS c_de,
                      len(list_filter(w, t -> t IN ('el','la','de','que','y','los','es','un'))) AS c_es,
                      len(list_filter(w, t -> t IN ('le','la','les','et','des','est','une','dans'))) AS c_fr,
                      len(list_filter(w, t -> t IN ('的','是','了','在','和','有','我','不'))) AS c_zh
               FROM f),
         l AS (SELECT doc_id,
                      CASE WHEN greatest(c_en, c_de, c_es, c_fr, c_zh) = 0 THEN 'und'
                           WHEN c_en = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'en'
                           WHEN c_de = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'de'
                           WHEN c_es = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'es'
                           WHEN c_fr = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'fr'
                           WHEN c_zh = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'zh'
                           ELSE 'und' END AS lang_pred
               FROM c)
         SELECT d.doc_id, d.lang, d.n_chars
         FROM documents d
         JOIN keep USING (doc_id)
         JOIN q USING (doc_id)
         JOIN l USING (doc_id)
         WHERE q.quality >= 0.7 AND l.lang_pred = 'en'
         ORDER BY doc_id""",
    // LSH pairs are recall-1 on the fixture (shared-oracle contract of
    // q_embedding_neardup), so clusters over them equal clusters over
    // the exhaustive pair graph, here via recursive CTE
    "q_embedding_components" ->
      """WITH RECURSIVE
         nz AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
         jp AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM nz a JOIN nz b ON a.vec_id < b.vec_id
                WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
         edges AS (SELECT id_a AS src, id_b AS dst FROM jp
                   UNION SELECT id_b, id_a FROM jp),
         reach(node, root) AS (
           SELECT vec_id, vec_id FROM embeddings
           UNION
           SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node)
         SELECT node AS vec_id, min(root) AS component_id
         FROM reach GROUP BY node ORDER BY vec_id""",
    "q_semantic_dedup" ->
      """WITH RECURSIVE
         nz AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE list_dot_product(embedding::DOUBLE[],
                  embedding::DOUBLE[]) > 0),
         jp AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM nz a JOIN nz b ON a.vec_id < b.vec_id
                WHERE list_cosine_similarity(a.v, b.v) >= 0.4),
         edges AS (SELECT id_a AS src, id_b AS dst FROM jp
                   UNION SELECT id_b, id_a FROM jp),
         reach(node, root) AS (
           SELECT vec_id, vec_id FROM embeddings
           UNION
           SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node)
         SELECT vec_id, label FROM (
           SELECT emb.vec_id, emb.label,
                  row_number() OVER (PARTITION BY c.component_id
                    ORDER BY list_dot_product(emb.embedding::DOUBLE[],
                      emb.embedding::DOUBLE[]) DESC, emb.vec_id) AS rn
           FROM embeddings emb
           JOIN (SELECT node, min(root) AS component_id
                 FROM reach GROUP BY node) c ON c.node = emb.vec_id)
         WHERE rn = 1 ORDER BY vec_id""",
    "q_clipped_values" ->
      """WITH cuts AS (SELECT event_type, quantile_cont(value, 0.95) AS p95
                      FROM events GROUP BY 1)
         SELECT e.event_id, e.event_type, least(e.value, c.p95) AS value_clipped
         FROM events e JOIN cuts c USING (event_type)
         ORDER BY event_id""",
    "q_asof_last_order" -> asofOracleSql,
    "q_asof_last_order_bucketed" -> asofOracleSql,
    // forward as-of restated as bounded join + rank-1 (DuckDB's ASOF
    // is backward-only)
    "q_asof_next_purchase" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
         p AS (SELECT user_id, ts, max(event_id) AS pid FROM events
               WHERE event_type = 'purchase' GROUP BY 1, 2),
         j AS (SELECT c.event_id, p.pid,
                      row_number() OVER (PARTITION BY c.event_id
                        ORDER BY p.ts ASC) AS rn
               FROM c JOIN p ON p.user_id = c.user_id AND p.ts >= c.ts)
         SELECT c.event_id, c.user_id, f.pid AS next_purchase_id
         FROM c LEFT JOIN (SELECT event_id, pid FROM j WHERE rn = 1) f
           ON f.event_id = c.event_id
         ORDER BY c.event_id""",
    // nearest: min |Δts|, ties to the backward row
    "q_asof_nearest_purchase" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
         p AS (SELECT user_id, ts, max(event_id) AS pid FROM events
               WHERE event_type = 'purchase' GROUP BY 1, 2),
         j AS (SELECT c.event_id, p.pid,
                      row_number() OVER (PARTITION BY c.event_id
                        ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)) ASC,
                          CASE WHEN p.ts <= c.ts THEN 0 ELSE 1 END ASC) AS rn
               FROM c JOIN p ON p.user_id = c.user_id)
         SELECT c.event_id, c.user_id, f.pid AS nearest_purchase_id
         FROM c LEFT JOIN (SELECT event_id, pid FROM j WHERE rn = 1) f
           ON f.event_id = c.event_id
         ORDER BY c.event_id""",
    // every event contributes to its 6 containing hourly windows: the
    // slide-aligned bucket minus k slides, k = 0..5 — same epoch
    // alignment as Spark's window(ts, '1 hour', '10 minutes')
    "q_sliding_revenue" ->
      """SELECT ws AS window_start, ws + INTERVAL '1 hour' AS window_end,
                SUM(value) AS total_sales, COUNT(*) AS n_events
         FROM (SELECT time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP))
                        - to_minutes(CAST(k * 10 AS BIGINT)) AS ws,
                      value
               FROM events, (SELECT unnest(range(6)) AS k) g) t
         GROUP BY ws ORDER BY window_start""",
    // gaps-and-islands: a session breaks where the gap to the previous
    // event is >= 30 min (Spark merges only on STRICT overlap, so an
    // exactly-gap-apart event starts a new session on both sides;
    // nearest fixture gap is ~0.66 s off the boundary — no tie risk).
    // session_end = last event + gap, Spark's session_window.end.
    "q_session_revenue" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
         s AS (SELECT user_id, ts, value,
                      CASE WHEN lag(ts) OVER w IS NULL
                           OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                           THEN 1 ELSE 0 END AS brk
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sess FROM s)
         SELECT min(ts) AS session_start,
                max(ts) + INTERVAL '30 minutes' AS session_end,
                user_id AS session_key,
                SUM(value) AS total_sales, COUNT(*) AS n_events
         FROM g GROUP BY user_id, sess
         ORDER BY session_key, session_start""",
    "q_distinct_users_per_type" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users,
                COUNT(*) AS n_events
         FROM events GROUP BY 1 ORDER BY event_type""",
    "q_events_within_minute" ->
      """SELECT a.event_id AS id_a, b.event_id AS id_b,
                abs(epoch_us(a.ts) - epoch_us(b.ts)) AS delta_us
         FROM events a JOIN events b
           ON a.event_id < b.event_id
          AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60000000
         ORDER BY id_a, id_b""",
    // quadratic overlap formulation; the bucketized join must emit the
    // identical pair set with identical overlap durations
    "q_overlapping_intervals" ->
      """WITH iv AS (
           SELECT event_id AS id, epoch_us(ts) AS s,
                  epoch_us(ts) + CAST(floor(value * 60000000) AS BIGINT) AS e
           FROM events WHERE user_id % 13 = 0)
         SELECT a.id AS id_a, b.id AS id_b,
                least(a.e, b.e) - greatest(a.s, b.s) AS overlap_us
         FROM iv a JOIN iv b
           ON a.id < b.id AND a.s <= b.e AND b.s <= a.e
         ORDER BY id_a, id_b""",
    "q_corpus_stats" ->
      """SELECT lang, count(*) AS n_docs, avg(n_chars) AS avg_chars,
                quantile_cont(n_chars, 0.5) AS p50_chars,
                quantile_cont(n_chars, 0.95) AS p95_chars
         FROM documents GROUP BY 1 ORDER BY lang""",
    // salting must be result-invariant: same oracle as the naive grouping
    "q_salted_category_sales" ->
      """SELECT event_type AS category, SUM(value) AS total_sales
         FROM events GROUP BY 1 ORDER BY category""",
    "q_mod_sample" ->
      """SELECT event_id, user_id, event_type, value
         FROM events WHERE event_id % 10 < 2 ORDER BY event_id""",
    "q_stratified_sample" ->
      """SELECT event_id, event_type, value FROM events
         WHERE CASE event_type
                 WHEN 'purchase' THEN event_id % 2 < 1
                 WHEN 'view' THEN event_id % 10 < 1
                 ELSE event_id % 20 < 1 END
         ORDER BY event_id""",
    "q_mixture_rates" ->
      """SELECT source, count(*) AS n_docs,
                least(1.0, 5.0 / sqrt(count(*))) AS rate
         FROM documents GROUP BY source ORDER BY source""",
    // p^(3/4) stated as the SAME sqrt(p)·sqrt(sqrt(p)) chain the Spark
    // side runs — sqrt is correctly rounded IEEE in both engines, so
    // the unnormalized scores are bit-identical; the Σ normalizers are
    // 20-term sums covered by the driver's float rounding
    "q_temperature_rates" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         t AS (SELECT sum(n) AS n_tot FROM c),
         s AS (SELECT source, n, CAST(n AS DOUBLE) / n_tot AS p,
                      sqrt(CAST(n AS DOUBLE) / n_tot) *
                        sqrt(sqrt(CAST(n AS DOUBLE) / n_tot)) AS q
               FROM c, t),
         z AS (SELECT sum(q) AS z_tot FROM s)
         SELECT source, n, p, q / z_tot AS p_temp FROM s, z ORDER BY source""",
    // budget · share // Σshares in BIGINT; micro-epochs = target·10⁶
    // // n_tokens, ALSO BIGINT — the whole row is integer-exact
    "q_token_budget" ->
      """WITH w AS (SELECT source,
                TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT)
                  + 1 AS w_parts
              FROM (SELECT DISTINCT source FROM documents)),
         t AS (SELECT CAST(sum(w_parts) AS BIGINT) AS parts FROM w),
         c AS (SELECT source,
                 CAST(sum(len(string_split_regex(trim(text), '\s+')))
                   AS BIGINT) AS n_tokens
               FROM documents
               WHERE text IS NOT NULL AND length(trim(text)) > 0
               GROUP BY 1)
         SELECT c.source, c.n_tokens, w.w_parts,
                (CAST(1000000 AS BIGINT) * w.w_parts) // t.parts
                  AS target_tokens,
                ((CAST(1000000 AS BIGINT) * w.w_parts) // t.parts)
                  * CAST(1000000 AS BIGINT) // c.n_tokens AS epochs_micro
         FROM c JOIN w ON w.source = c.source CROSS JOIN t
         ORDER BY c.source""",
    // waterfill fixed-unroll; see cappedBudgetOracleSql
    "q_capped_budget" -> cappedBudgetOracleSql(50000L, 2, 24),
    // per-source fill rollup on the same window formulation
    "q_fill_efficiency" ->
      """WITH c AS (SELECT doc_id, source,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                 AS n_tokens,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(
                   substring(sha256(CAST(doc_id AS VARCHAR)), 1, 13), ''),
                   x -> CAST(instr('0123456789abcdef', x) - 1 AS BIGINT))),
                 (acc, x) -> acc * 16 + x) AS h
             FROM documents
             WHERE text IS NOT NULL AND length(trim(text)) > 0),
         r AS (SELECT doc_id, source, n_tokens,
                 CAST(sum(n_tokens) OVER (PARTITION BY source
                   ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tokens
               FROM c)
         SELECT source, count(*) AS n_kept,
                CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
                CAST((CAST(1000000 AS BIGINT)
                  * CAST(sum(n_tokens) AS BIGINT)) // 3000 AS BIGINT)
                  AS util_micro
         FROM r WHERE cum_tokens <= 3000
         GROUP BY source ORDER BY source""",
    // the 2+-member skeleton groups with spoof accounting
    "q_skeleton_dup_groups" ->
      (s"""WITH spoof AS (SELECT doc_id + 300000 AS doc_id,
                translate(text, 'aeocp', '$cyrSpoof') AS text
              FROM documents WHERE text IS NOT NULL AND doc_id % 7 = 0),
         corpus AS (SELECT doc_id, text FROM documents
                    WHERE text IS NOT NULL
                    UNION ALL SELECT doc_id, text FROM spoof),
         sk AS (SELECT doc_id,
                  sha256(translate(text,
                    '${TextAnalysis.ConfusableFrom}',
                    '${TextAnalysis.ConfusableTo}')) AS dg
                FROM corpus),
         g AS (SELECT dg, count(*) AS n_members,
                 min(doc_id) AS canonical_id,
                 CAST(sum(CASE WHEN doc_id >= 300000 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_spoofed
               FROM sk GROUP BY 1)
         SELECT canonical_id, n_members, n_spoofed
         FROM g WHERE n_members >= 2 ORDER BY canonical_id"""),
    // two epoch permutations: row_number over the sha52 fold of "e:id"
    "q_epoch_shuffle" ->
      """WITH h AS (SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(
                   substring(sha256('1:' || CAST(doc_id AS VARCHAR)), 1, 13), ''),
                   x -> CAST(instr('0123456789abcdef', x) - 1 AS BIGINT))),
                 (acc, x) -> acc * 16 + x) AS h1,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(
                   substring(sha256('2:' || CAST(doc_id AS VARCHAR)), 1, 13), ''),
                   x -> CAST(instr('0123456789abcdef', x) - 1 AS BIGINT))),
                 (acc, x) -> acc * 16 + x) AS h2
             FROM documents)
         SELECT doc_id,
                CAST(row_number() OVER (ORDER BY h1, doc_id) AS BIGINT)
                  AS ord_e1,
                CAST(row_number() OVER (ORDER BY h2, doc_id) AS BIGINT)
                  AS ord_e2
         FROM h ORDER BY doc_id""",
    // integer mixture-matching plan: kept_s = min over s' of
    // (n_s' * w_s) // w_s'
    "q_target_mixture" ->
      """WITH c AS (SELECT source, count(*) AS n_docs
             FROM documents GROUP BY 1),
         w AS (SELECT source,
                 TRY_CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT)
                   + 1 AS w
               FROM (SELECT DISTINCT source FROM documents)),
         cw AS (SELECT c.source, CAST(c.n_docs AS BIGINT) AS n_docs, w.w
                FROM c JOIN w USING (source)),
         k AS (SELECT a.source,
                 CAST(min((b.n_docs * a.w) // b.w) AS BIGINT) AS kept
               FROM cw a CROSS JOIN cw b GROUP BY 1)
         SELECT cw.source, cw.n_docs, cw.w, k.kept,
                CAST((CAST(1000000 AS BIGINT) * k.kept) // cw.n_docs
                  AS BIGINT) AS rate_micro
         FROM cw JOIN k USING (source) ORDER BY cw.source""",
    // hash-ordered greedy fill; the sha52 rank is the q_uniform_sample
    // hex fold, the running sum CAST to BIGINT (HUGEINT lesson)
    "q_budget_fill" ->
      """WITH c AS (SELECT doc_id, source,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                 AS n_tokens,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(
                   substring(sha256(CAST(doc_id AS VARCHAR)), 1, 13), ''),
                   x -> CAST(instr('0123456789abcdef', x) - 1 AS BIGINT))),
                 (acc, x) -> acc * 16 + x) AS h
             FROM documents
             WHERE text IS NOT NULL AND length(trim(text)) > 0),
         r AS (SELECT doc_id, source, n_tokens,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY h, doc_id) AS BIGINT) AS fill_rank,
                 CAST(sum(n_tokens) OVER (PARTITION BY source
                   ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tokens
               FROM c)
         SELECT doc_id, source, n_tokens, fill_rank, cum_tokens,
                cum_tokens <= 3000 AS keep
         FROM r ORDER BY doc_id""",
    // the full measurement→manifest chain: classifier CTEs → per-source
    // profile → portable sqrt-chain temperature → integer weight →
    // mixture match / token plan / hash-order fill, composed as CTEs.
    // Every output column BIGINT; the only doubles live inside the
    // floor() of the already-oracle-validated temperature chain
    "q_recommended_mixture" ->
      (classifierApplyCtes(512) +
        """, prof AS (SELECT d.source,
                 CAST(sum(sc.score_sum) AS BIGINT) AS sum_score
               FROM documents d JOIN sc ON sc.doc_id = d.doc_id
               GROUP BY 1),
         c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
               FROM documents
               WHERE text IS NOT NULL AND length(trim(text)) > 0
               GROUP BY 1),
         tn AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_tot FROM c),
         s0 AS (SELECT source, n_docs,
                  sqrt(CAST(n_docs AS DOUBLE) / n_tot) *
                    sqrt(sqrt(CAST(n_docs AS DOUBLE) / n_tot)) AS q
                FROM c CROSS JOIN tn),
         z AS (SELECT sum(q) AS z_tot FROM s0),
         w AS (SELECT s0.source, s0.n_docs,
                 greatest(CAST(1 AS BIGINT),
                   (CAST(floor(q / z_tot * 1000000) AS BIGINT) *
                     greatest(prof.sum_score, CAST(0 AS BIGINT)))
                     // s0.n_docs) AS w
               FROM s0 CROSS JOIN z
               JOIN prof ON prof.source = s0.source),
         k AS (SELECT a.source,
                 CAST(min((b.n_docs * a.w) // b.w) AS BIGINT) AS kept
               FROM w a CROSS JOIN w b GROUP BY 1),
         rm AS (SELECT w.source, k.kept,
                  CAST((CAST(1000000 AS BIGINT) * k.kept) // w.n_docs
                    AS BIGINT) AS rate_micro
                FROM w JOIN k USING (source)),
         tc AS (SELECT source,
                  CAST(sum(len(string_split_regex(trim(text), '\s+')))
                    AS BIGINT) AS n_tokens
                FROM documents
                WHERE text IS NOT NULL AND length(trim(text)) > 0
                GROUP BY 1),
         parts AS (SELECT CAST(sum(w) AS BIGINT) AS p FROM w),
         tp AS (SELECT tc.source, tc.n_tokens,
                  CAST((CAST(1000000 AS BIGINT) * w.w) // parts.p
                    AS BIGINT) AS target_tokens
                FROM tc JOIN w USING (source) CROSS JOIN parts),
         tp2 AS (SELECT source, n_tokens, target_tokens,
                  CAST(target_tokens * CAST(1000000 AS BIGINT)
                    // n_tokens AS BIGINT) AS epochs_micro
                 FROM tp),
         fh AS (SELECT doc_id, source,
                  CAST(len(string_split_regex(trim(text), '\s+'))
                    AS BIGINT) AS n_toks,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(
                      substring(sha256(CAST(doc_id AS VARCHAR)), 1, 13), ''),
                      x -> CAST(instr('0123456789abcdef', x) - 1
                        AS BIGINT))),
                    (acc, x) -> acc * 16 + x) AS h
                FROM documents
                WHERE text IS NOT NULL AND length(trim(text)) > 0),
         fr AS (SELECT doc_id, source, n_toks,
                  CAST(sum(n_toks) OVER (PARTITION BY source
                    ORDER BY h, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
                FROM fh),
         fa AS (SELECT fr.source, CAST(count(*) AS BIGINT) AS fill_docs,
                  CAST(sum(fr.n_toks) AS BIGINT) AS fill_tokens
                FROM fr JOIN tp2 ON tp2.source = fr.source
                  AND fr.cum <= tp2.target_tokens
                GROUP BY 1)
         SELECT w.source, w.n_docs, w.w, rm.kept, rm.rate_micro,
                tp2.n_tokens, tp2.target_tokens, tp2.epochs_micro,
                coalesce(fa.fill_docs, CAST(0 AS BIGINT)) AS fill_docs,
                coalesce(fa.fill_tokens, CAST(0 AS BIGINT)) AS fill_tokens
         FROM w JOIN rm USING (source) JOIN tp2 USING (source)
         LEFT JOIN fa USING (source)
         ORDER BY w.source"""),
    // hashed-token PSI between corpus halves; smoothing keeps ln total,
    // term sums under the driver's float tolerance
    "q_token_drift" ->
      """WITH rt AS (SELECT
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(substring(sha256(tok), 1, 13), ''),
                 c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))),
               (acc, x) -> acc * 16 + x) % 256 AS b
           FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
                 FROM documents
                 WHERE doc_id % 2 = 0 AND length(trim(text)) > 0) u
           WHERE tok <> ''),
         ct AS (SELECT
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(substring(sha256(tok), 1, 13), ''),
                 c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))),
               (acc, x) -> acc * 16 + x) % 256 AS b
           FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
                 FROM documents
                 WHERE doc_id % 2 = 1 AND length(trim(text)) > 0) u
           WHERE tok <> ''),
         rc AS (SELECT b, count(*) AS cr FROM rt GROUP BY 1),
         cc AS (SELECT b, count(*) AS cc FROM ct GROUP BY 1),
         grid AS (SELECT unnest(range(256)) AS b),
         j AS (SELECT g.b, coalesce(rc.cr, 0) AS cr,
                      coalesce(cc.cc, 0) AS cc
               FROM grid g LEFT JOIN rc ON rc.b = g.b
               LEFT JOIN cc ON cc.b = g.b),
         t AS (SELECT sum(cr) AS nr, sum(cc) AS nc FROM j)
         SELECT CAST(nr AS BIGINT) AS n_ref_tokens,
                CAST(nc AS BIGINT) AS n_cur_tokens,
                sum(((cr + 1.0) / (nr + 256) - (cc + 1.0) / (nc + 256))
                  * ln(((cr + 1.0) / (nr + 256))
                     / ((cc + 1.0) / (nc + 256)))) AS psi
         FROM j, t GROUP BY nr, nc""",
    // planted case/ZWSP variants; normalized key = strip_accents over
    // the cleanTextV2 chain over lower() — sha256 both keys, count
    // distinct
    "q_normalized_dedup" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000000, upper(text) FROM documents
           WHERE doc_id % 3 = 0
           UNION ALL
           SELECT doc_id + 20000000,
                  substring(text, 1, 1) || chr(8203) || substring(text, 2)
           FROM documents WHERE doc_id % 3 = 1),
         keyed AS (SELECT
             sha256(text) AS raw_key,
             sha256(strip_accents(trim(regexp_replace(regexp_replace(
               nfc_normalize(regexp_replace(lower(text),
                 '[\x{00AD}\x{200B}-\x{200F}\x{202A}-\x{202E}\x{2060}\x{2066}-\x{2069}\x{FEFF}]',
                 '', 'g')),
               '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
               ' {2,}', ' ', 'g')))) AS norm_key
           FROM corpus)
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(DISTINCT raw_key) AS BIGINT) AS distinct_raw,
                CAST(count(DISTINCT norm_key) AS BIGINT) AS distinct_norm,
                CAST(count(DISTINCT raw_key) - count(DISTINCT norm_key)
                  AS BIGINT) AS extra_dups_found
         FROM keyed""",
    "q_gopher_rules" ->
      s"""${gopherRulesCtes()}
         SELECT doc_id, n_words, mean_word_len, symbol_ratio,
                bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
                stop_hits, pass
         FROM rules ORDER BY doc_id""",
    // contingency counts from the same gate CTEs; kappa from the
    // integer counts
    "q_gate_agreement" ->
      (gopherRulesCtes(minStopHits = 1) + "," +
        classifierApplyCtes(512).trim.stripPrefix("WITH") + """,
         j AS (SELECT r.pass AS gp,
                      coalesce(sc.score_sum > 0, false) AS cp
               FROM documents d
               JOIN rules r ON r.doc_id = d.doc_id
               LEFT JOIN sc ON sc.doc_id = d.doc_id
               WHERE d.text IS NOT NULL),
         a AS (SELECT count(*) AS n,
                 CAST(sum(CASE WHEN gp AND cp THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_both,
                 CAST(sum(CASE WHEN NOT gp AND NOT cp THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_neither,
                 CAST(sum(CASE WHEN gp AND NOT cp THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_gopher_only,
                 CAST(sum(CASE WHEN NOT gp AND cp THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_classifier_only
               FROM j)
         SELECT n, n_both, n_neither, n_gopher_only, n_classifier_only,
                ((CAST(n_both + n_neither AS DOUBLE) / n)
                  - ((CAST(n_both + n_gopher_only AS DOUBLE)
                        * (n_both + n_classifier_only)
                      + CAST(n_neither + n_classifier_only AS DOUBLE)
                        * (n_neither + n_gopher_only))
                     / (CAST(n AS DOUBLE) * n)))
                / (CAST(1.0 AS DOUBLE)
                   - ((CAST(n_both + n_gopher_only AS DOUBLE)
                         * (n_both + n_classifier_only)
                       + CAST(n_neither + n_classifier_only AS DOUBLE)
                         * (n_neither + n_gopher_only))
                      / (CAST(n AS DOUBLE) * n))) AS kappa
         FROM a"""),
    // v7: the drop-reasons gate CTEs + the homoglyph canon over the
    // spoof-planted corpus + the budget-fill window, composed
    "q_curated_corpus_v7" ->
      (gopherRulesCtes(minStopHits = 1) + "," +
        classifierApplyCtes(512).trim.stripPrefix("WITH") + s""",
         spoof AS (SELECT doc_id + 300000 AS doc_id,
                translate(text, 'aeocp', '$cyrSpoof') AS text
              FROM documents WHERE text IS NOT NULL AND doc_id % 7 = 0),
         corpus AS (SELECT doc_id, text FROM documents
                    WHERE text IS NOT NULL
                    UNION ALL SELECT doc_id, text FROM spoof),
         skv AS (SELECT doc_id,
                  sha256(translate(text,
                    '${TextAnalysis.ConfusableFrom}',
                    '${TextAnalysis.ConfusableTo}')) AS dgk
                FROM corpus),
         canon AS (SELECT min(doc_id) AS doc_id FROM skv GROUP BY dgk),""" +
        """
         lw AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                FROM documents WHERE text IS NOT NULL),
         lc AS (SELECT doc_id, len(w) AS n_toks,
                  len(list_filter(w, t -> t IN ('the','a','of','and','is','to','in','it'))) AS c_en,
                  len(list_filter(w, t -> t IN ('der','die','das','und','ist','nicht','ein','zu'))) AS c_de,
                  len(list_filter(w, t -> t IN ('el','la','de','que','y','los','es','un'))) AS c_es,
                  len(list_filter(w, t -> t IN ('le','la','les','et','des','est','une','dans'))) AS c_fr,
                  len(list_filter(w, t -> t IN ('的','是','了','在','和','有','我','不'))) AS c_zh
                FROM lw),
         lang AS (SELECT doc_id, n_toks,
                  CASE WHEN greatest(c_en, c_de, c_es, c_fr, c_zh) = 0 THEN 'und'
                       WHEN c_en = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'en'
                       WHEN c_de = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'de'
                       WHEN c_es = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'es'
                       WHEN c_fr = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'fr'
                       WHEN c_zh = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'zh'
                       ELSE 'und' END AS lang_pred
                FROM lc),
         surv AS (SELECT d.doc_id, d.source,
                  CAST(lang.n_toks AS BIGINT) AS n_tokens
               FROM documents d
               JOIN canon c ON c.doc_id = d.doc_id
               JOIN lang ON lang.doc_id = d.doc_id
                 AND lang.n_toks >= 20 AND lang.lang_pred = 'en'
               JOIN rules r ON r.doc_id = d.doc_id AND r.pass
               JOIN sc ON sc.doc_id = d.doc_id AND sc.score_sum > 0
               WHERE d.text IS NOT NULL),
         withh AS (SELECT doc_id, source, n_tokens,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(
                     substring(sha256(CAST(doc_id AS VARCHAR)), 1, 13), ''),
                     x -> CAST(instr('0123456789abcdef', x) - 1 AS BIGINT))),
                   (acc, x) -> acc * 16 + x) AS h
               FROM surv),
         fill AS (SELECT doc_id, source, n_tokens,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY h, doc_id) AS BIGINT) AS fill_rank,
                 CAST(sum(n_tokens) OVER (PARTITION BY source
                   ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
               FROM withh)
         SELECT doc_id, source, n_tokens, fill_rank
         FROM fill WHERE cum <= 2000 ORDER BY doc_id"""),
    // gate CTEs composed: gopher rules + classifier chain (WITH-prefix
    // stripped to append) + dedup digest groups + the q_lang_id CASE
    "q_drop_reasons" ->
      (gopherRulesCtes(minStopHits = 1) + "," +
        classifierApplyCtes(512).trim.stripPrefix("WITH") + """,
         dg AS (SELECT doc_id, sha256(text) AS d FROM documents
                WHERE text IS NOT NULL),
         keepers AS (SELECT d, min(doc_id) AS kid FROM dg GROUP BY 1),
         lw AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
                FROM documents WHERE text IS NOT NULL),
         lc AS (SELECT doc_id, len(w) AS n_toks,
                  len(list_filter(w, t -> t IN ('the','a','of','and','is','to','in','it'))) AS c_en,
                  len(list_filter(w, t -> t IN ('der','die','das','und','ist','nicht','ein','zu'))) AS c_de,
                  len(list_filter(w, t -> t IN ('el','la','de','que','y','los','es','un'))) AS c_es,
                  len(list_filter(w, t -> t IN ('le','la','les','et','des','est','une','dans'))) AS c_fr,
                  len(list_filter(w, t -> t IN ('的','是','了','在','和','有','我','不'))) AS c_zh
                FROM lw),
         lang AS (SELECT doc_id, n_toks,
                  CASE WHEN greatest(c_en, c_de, c_es, c_fr, c_zh) = 0 THEN 'und'
                       WHEN c_en = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'en'
                       WHEN c_de = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'de'
                       WHEN c_es = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'es'
                       WHEN c_fr = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'fr'
                       WHEN c_zh = greatest(c_en, c_de, c_es, c_fr, c_zh) THEN 'zh'
                       ELSE 'und' END AS lang_pred
                FROM lc),
         flags AS (SELECT dg.doc_id,
                  dg.doc_id = k.kid AS is_canonical,
                  lang.n_toks >= 20 AS len_ok,
                  lang.lang_pred = 'en' AS lang_ok,
                  r.pass AS gopher_ok,
                  coalesce(sc.score_sum > 0, false) AS quality_ok
               FROM dg
               JOIN keepers k ON k.d = dg.d
               JOIN lang ON lang.doc_id = dg.doc_id
               JOIN rules r ON r.doc_id = dg.doc_id
               LEFT JOIN sc ON sc.doc_id = dg.doc_id)
         SELECT doc_id, is_canonical, len_ok, lang_ok, gopher_ok,
                quality_ok,
                (is_canonical AND len_ok AND lang_ok AND gopher_ok
                  AND quality_ok) AS keep,
                CASE WHEN NOT is_canonical THEN 'duplicate'
                     WHEN NOT len_ok THEN 'too_short'
                     WHEN NOT lang_ok THEN 'lang'
                     WHEN NOT gopher_ok THEN 'gopher'
                     WHEN NOT quality_ok THEN 'classifier'
                     ELSE 'none' END AS drop_reason
         FROM flags ORDER BY doc_id"""),
    "q_gopher_kept" ->
      s"""${gopherRulesCtes(minStopHits = 1)}
         SELECT d.doc_id, d.lang, d.source
         FROM documents d JOIN rules r ON d.doc_id = r.doc_id
         WHERE r.pass ORDER BY d.doc_id""",
    // v4: classifier chain ∩ NOT (contained ≥0.9 in a longer doc) —
    // both CTE families restated over the mod-2 slice
    // v5: boilerplate CTEs produce the cleaned corpus, the classifier
    // chain and the token floor then run on the CLEANED text
    "q_curated_corpus_v5" ->
      """WITH w AS (SELECT doc_id, replace(text, ' the ', chr(10)) AS text
              FROM documents),
         t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM w),
         ln AS (SELECT doc_id, ls[i] AS l, i
                FROM t, LATERAL unnest(generate_series(1, len(ls)))
                  AS g(i)),
         ldf AS (SELECT l, count(DISTINCT doc_id) AS ddf FROM ln GROUP BY 1),
         keep AS (SELECT ln.doc_id, ln.l, ln.i
                  FROM ln JOIN ldf ON ldf.l = ln.l WHERE ldf.ddf < 3),
         agg AS (SELECT doc_id,
                   string_agg(l, chr(10) ORDER BY i) AS text,
                   count(*) AS n_kept
                 FROM keep GROUP BY 1),
         cl AS (SELECT t.doc_id,
                       replace(coalesce(a.text, ''), chr(10), ' ') AS text,
                       CAST(len(t.ls) AS BIGINT) AS n_lines,
                       CAST(len(t.ls) - coalesce(a.n_kept, 0) AS BIGINT)
                         AS n_dropped
                FROM t LEFT JOIN agg a ON a.doc_id = t.doc_id),
         toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
                  FROM cl WHERE length(trim(text)) > 0),
         feats AS (
           SELECT doc_id, 'u:' || unnest(tk) AS f FROM toks
           UNION ALL
           SELECT doc_id, 'b:' || tk[i] || ' ' || tk[i + 1] AS f
           FROM toks, LATERAL unnest(generate_series(1, len(tk) - 1))
             AS g2(i)
           WHERE len(tk) >= 2),
         fb AS (SELECT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(
                      substring(sha256(f), 1, 13), ''),
                      c -> CAST(instr('0123456789abcdef', c) - 1
                        AS BIGINT))),
                    (acc, x) -> acc * 16 + x) % 4096 AS bucket
                FROM feats),
         perdoc AS (SELECT doc_id, bucket, count(*) AS c
                    FROM fb GROUP BY 1, 2),
         pos AS (SELECT doc_id FROM perdoc GROUP BY doc_id
                 HAVING sum(c * (((bucket * 2654435761 + 104729) % 2001)
                   - 1000)) > 0),
         sized AS (SELECT doc_id FROM toks WHERE len(tk) >= 40)
         SELECT cl.doc_id, cl.n_lines, cl.n_dropped
         FROM cl JOIN pos USING (doc_id) JOIN sized USING (doc_id)
         ORDER BY cl.doc_id""",
    "q_curated_corpus_v4" ->
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
         toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
                  FROM d WHERE length(trim(text)) > 0),
         feats AS (
           SELECT doc_id, 'u:' || unnest(t) AS f FROM toks
           UNION ALL
           SELECT doc_id, 'b:' || t[i] || ' ' || t[i + 1] AS f
           FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) AS g(i)
           WHERE len(t) >= 2),
         fb AS (SELECT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(
                      substring(sha256(f), 1, 13), ''),
                      c -> CAST(instr('0123456789abcdef', c) - 1
                        AS BIGINT))),
                    (acc, x) -> acc * 16 + x) % 4096 AS bucket
                FROM feats),
         perdoc AS (SELECT doc_id, bucket, count(*) AS c
                    FROM fb GROUP BY 1, 2),
         pos AS (SELECT doc_id FROM perdoc GROUP BY doc_id
                 HAVING sum(c * (((bucket * 2654435761 + 104729) % 2001)
                   - 1000)) > 0),
         ctok AS (SELECT doc_id,
                list_distinct(CASE WHEN len(string_split_regex(trim(text), '\\s+')) < 3 THEN []
                  ELSE list_transform(range(1, len(string_split_regex(trim(text), '\\s+')) - 1),
                    i -> array_to_string((string_split_regex(trim(text), '\\s+'))[i:i+2], ' ')) END) AS sh
              FROM d),
         cinv0 AS (SELECT doc_id, unnest(sh) AS s FROM ctok WHERE len(sh) > 0),
         cdfq AS (SELECT s FROM cinv0 GROUP BY s HAVING count(*) <= $shingleDfCap),
         cinv AS (SELECT i.doc_id, i.s FROM cinv0 i JOIN cdfq USING (s)),
         csizes AS (SELECT doc_id, count(*) AS n FROM cinv GROUP BY doc_id),
         cpairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                    FROM cinv a JOIN cinv b ON a.s = b.s AND a.doc_id <> b.doc_id
                    GROUP BY 1, 2),
         dropped AS (SELECT DISTINCT p.id_a AS doc_id
                     FROM cpairs p
                     JOIN csizes sa ON sa.doc_id = p.id_a
                     JOIN d da ON da.doc_id = p.id_a
                     JOIN d db ON db.doc_id = p.id_b
                     WHERE CAST(p.shared AS DOUBLE) / sa.n >= 0.9
                       AND (db.n_chars > da.n_chars OR
                            (db.n_chars = da.n_chars AND db.doc_id < da.doc_id)))
         SELECT d.doc_id, d.lang, d.source
         FROM d JOIN pos USING (doc_id)
         WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
         ORDER BY d.doc_id""",
    "q_curated_corpus_v3" ->
      s"""${gopherRulesCtes(minStopHits = 1,
          from = "(SELECT * FROM documents WHERE doc_id % 2 = 0)")},
         bgt AS (SELECT doc_id, lang,
                   string_split_regex(trim(text), '\\s+') AS t
                 FROM documents
                 WHERE doc_id % 2 = 0 AND length(trim(text)) > 0),
         bgp AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2, count(*) AS c
                 FROM bgt, LATERAL unnest(generate_series(1, len(t) - 1))
                   AS g2(i)
                 WHERE len(t) >= 2 GROUP BY 1, 2, 3),
         bgc AS (SELECT w1, w2, sum(c) AS c_bg FROM bgp GROUP BY 1, 2),
         bgx AS (SELECT w1, sum(c_bg) AS c_ctx FROM bgc GROUP BY 1),
         bgu AS (SELECT w2, count(*) AS c_ug
                 FROM (SELECT unnest(t) AS w2 FROM bgt) GROUP BY 1),
         bgn AS (SELECT sum(c_ug) AS nn FROM bgu),
         ce AS (SELECT p.doc_id,
                  sum(p.c * -log2(
                    0.7::DOUBLE * (b.c_bg / CAST(x.c_ctx AS DOUBLE))
                    + (1.0::DOUBLE - 0.7::DOUBLE)
                      * (u.c_ug / CAST(t2.nn AS DOUBLE)))) / sum(p.c) AS bpt
                FROM bgp p
                JOIN bgc b ON b.w1 = p.w1 AND b.w2 = p.w2
                JOIN bgx x ON x.w1 = p.w1
                JOIN bgu u ON u.w2 = p.w2
                CROSS JOIN bgn t2 GROUP BY 1),
         cem AS (SELECT avg(bpt) AS m FROM ce),
         dsfe AS (SELECT doc_id, lang, 'u:' || unnest(t) AS f2 FROM bgt
                  UNION ALL
                  SELECT doc_id, lang, 'b:' || t[i] || ' ' || t[i + 1]
                  FROM bgt, LATERAL unnest(generate_series(1, len(t) - 1))
                    AS g3(i)
                  WHERE len(t) >= 2),
         dsp AS (SELECT doc_id, lang,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split(
                       substring(sha256(f2), 1, 13), ''),
                       c -> CAST(instr('0123456789abcdef', c) - 1
                         AS BIGINT))),
                     (acc, x) -> acc * 16 + x) % 4096 AS bucket,
                   count(*) AS c
                 FROM dsfe GROUP BY 1, 2, 3),
         dst AS (SELECT bucket, sum(c) AS c_t FROM dsp
                 WHERE lang = 'en' GROUP BY 1),
         dsr AS (SELECT bucket, sum(c) AS c_r FROM dsp GROUP BY 1),
         dstt AS (SELECT (SELECT sum(c_r) FROM dsr) AS cr,
                         (SELECT coalesce(sum(c_t), 0) FROM dst) AS ct),
         dsw AS (SELECT p.doc_id, sum(p.c) AS nf,
                   sum(p.c * (ln((coalesce(t3.c_t, 0) + 1)
                                / (dstt.ct + 4096.0))
                            - ln((r.c_r + 1) / (dstt.cr + 4096.0)))) AS w
                 FROM dsp p
                 JOIN dsr r ON r.bucket = p.bucket
                 LEFT JOIN dst t3 ON t3.bucket = p.bucket
                 CROSS JOIN dstt GROUP BY 1),
         dswm AS (SELECT avg(w / nf) AS m FROM dsw)
         SELECT d.doc_id, d.lang, d.source
         FROM documents d
         JOIN rules ru ON ru.doc_id = d.doc_id AND ru.pass
         JOIN ce ON ce.doc_id = d.doc_id
         JOIN cem ON ce.bpt < cem.m - 1e-9
         JOIN dsw ON dsw.doc_id = d.doc_id
         JOIN dswm ON dsw.w / dsw.nf > dswm.m + 1e-9
         ORDER BY d.doc_id""",
    // same synthesized URLs, same anchored extracts; DuckDB replacement
    // backrefs are \1 where Spark's are $1 (pattern side is shared)
    // rn=1 under (prefix-len desc, allow desc) IS the RFC precedence;
    // unmatched docs left-join to default allow with rule_len -1
    "q_url_policy" ->
      """WITH u AS (SELECT doc_id,
             (CASE WHEN doc_id % 7 = 0 THEN 'http://' ELSE 'https://' END) ||
             (CASE WHEN doc_id % 5 = 0 THEN 'Sub.' ELSE '' END) ||
             source || '.example.com' ||
             (CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END) ||
             '/' || lang || '/doc/' || CAST(doc_id AS VARCHAR) AS url
           FROM documents),
         p AS (SELECT doc_id,
             lower(regexp_replace(regexp_extract(url,
               '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)', 2),
               ':[0-9]+$', '')) AS host,
             CASE WHEN regexp_extract(url,
                 '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)([^?#]*)', 3) = ''
               THEN '/'
               ELSE regexp_extract(url,
                 '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)([^?#]*)', 3) END
               AS path
           FROM u),
         r AS (SELECT lower(host) AS host, path_prefix, allow
               FROM (VALUES
                 ('src1.example.com', '/', false),
                 ('src1.example.com', '/en/', true),
                 ('src2.example.com', '/de/', false),
                 ('sub.src3.example.com', '/', false),
                 ('src4.example.com', '/en/doc/', false),
                 ('src4.example.com', '/en/doc/1', true),
                 ('src5.example.com', '/en/', true),
                 ('src5.example.com', '/en/', false))
                 t(host, path_prefix, allow)),
         m AS (SELECT p.doc_id, len(r.path_prefix) AS l, r.allow,
                 row_number() OVER (PARTITION BY p.doc_id
                   ORDER BY len(r.path_prefix) DESC,
                            CAST(r.allow AS INT) DESC) AS rn
               FROM p JOIN r ON r.host = p.host
                 AND substring(p.path, 1, len(r.path_prefix))
                   = r.path_prefix)
         SELECT p.doc_id, p.host, p.path,
                CAST(coalesce(b.l, -1) AS INTEGER) AS rule_len,
                coalesce(b.allow, true) AS allowed
         FROM p LEFT JOIN (SELECT doc_id, l, allow FROM m WHERE rn = 1) b
           USING (doc_id)
         ORDER BY p.doc_id""",
    // expected rows as literals derived from the shared fixture bytes
    // (no file/parse path on the oracle side); see warcExtractOracleSql
    "q_warc_extract" -> warcExtractOracleSql,
    // recovered body text stats straight from the fixture bytes
    "q_wet_text" -> wetTextOracleSql,
    // planted charset/encoding expectations (no twin decoder)
    "q_warc_charset" -> warcCharsetOracleSql,
    // hand-derived winners from the revisit fixture: /rv/a keeps its
    // only capture with last_seen = the later revisit; /rv/b keeps the
    // 08-03 variant capture with last_seen unchanged; /rv/c absent
    "q_crawl_revisit" -> warcRevisitOracleSql,
    // hand-derived digest-chain resolution per planted case: latest
    // at-or-before capture per (canonical URL, digest), header
    // passthrough, URL-scoped misses unresolved
    "q_revisit_chains" -> revisitChainsOracleSql,
    // hand-derived WAT metadata literals per planted response
    "q_warc_wat" -> warcWatOracleSql,
    // the per-doc winner derived literally: once-moved pages' newest
    // capture is the OLD-url one (ro-, 2026-09-01) — it must appear
    // under the FINAL url; everyone else keeps the current capture.
    // Exactly one row per doc: any un-rewritten old capture would
    // surface as an extra canonical group and fail the row count
    "q_redirected_dedup" ->
      """SELECT 'http://rd.example.com/p' || CAST(doc_id AS VARCHAR)
             AS canonical_url,
           CASE WHEN doc_id % 5 = 0
             THEN 'ro-' || CAST(doc_id AS VARCHAR)
             ELSE 'rc-' || CAST(doc_id AS VARCHAR) END AS record_id,
           CASE WHEN doc_id % 5 = 0 THEN '2026-09-01T00:00:00Z'
             ELSE '2026-08-' ||
               lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0') ||
               'T00:00:00Z' END AS warc_date
         FROM documents ORDER BY canonical_url""",
    // the same functional graph walked step-by-step (recursive CTE,
    // 16-hop bound): last reached node per source, exact hops,
    // resolved ⟺ final is not itself a source — must equal the
    // pointer-doubled composition exactly
    "q_redirect_chains" ->
      """WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
         e AS (SELECT 'http://r.example.com/u' || CAST(doc_id AS VARCHAR)
                 AS src,
                 'http://r.example.com/u' ||
                   CAST((doc_id * 2 + 1) % nn.n AS VARCHAR) AS dst
               FROM documents, nn WHERE doc_id % 3 <> 0),
         walk(src, cur, hop) AS (
           SELECT src, dst, 1 FROM e
           UNION ALL
           SELECT w.src, e.dst, w.hop + 1
           FROM walk w JOIN e ON e.src = w.cur
           WHERE w.hop < 16),
         last AS (SELECT src, cur, hop FROM (
             SELECT src, cur, hop, row_number() OVER (
               PARTITION BY src ORDER BY hop DESC) AS rn
             FROM walk) WHERE rn = 1)
         SELECT l.src AS url, l.cur AS final_url,
                CAST(l.hop AS BIGINT) AS hops,
                (s.src IS NULL) AS resolved
         FROM last l LEFT JOIN (SELECT DISTINCT src FROM e) s
           ON s.src = l.cur
         ORDER BY url""",
    // keep-latest winner per hand-derived canonical key: the three URL
    // variants of group g all canonicalize to .../p/g; winner = max
    // (warc_date, record_id) restated as a window
    "q_crawl_dedup" ->
      """WITH d AS (SELECT doc_id,
             CAST(doc_id // 3 AS VARCHAR) AS g,
             lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0') AS day
           FROM documents),
         rows0 AS (SELECT doc_id,
             'http://crawl.example.com/p/' || g AS canonical_url,
             'rec-' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS record_id,
             '2026-08-' || day || 'T00:00:00Z' AS warc_date
           FROM d),
         r AS (SELECT *, row_number() OVER (PARTITION BY canonical_url
                 ORDER BY warc_date DESC, record_id DESC) AS rn
               FROM rows0)
         SELECT canonical_url, doc_id, record_id, warc_date
         FROM r WHERE rn = 1
         ORDER BY canonical_url""",
    // RFC-derived expected rules as literals (hand-derived from RFC
    // 9309 — the parser is judged against the spec, not a twin parser)
    "q_robots_rules" -> robotsRulesOracleSql,
    // the fixture's two Sitemap lines, hand-derived
    "q_robots_sitemaps" ->
      """SELECT * FROM (VALUES
           ('src3.example.com', 'https://src3.example.com/sitemap.xml'),
           ('src4.example.com', 'https://src4.example.com/s.xml'))
           t(host, sitemap_url)
         ORDER BY host, sitemap_url""",
    // parsed-rules gate: DuckDB recomputes the longest-prefix /
    // allow-wins precedence independently from the expected rule
    // literals over the same synthesized URLs (q_url_policy skeleton)
    "q_robots_policy" ->
      ("""WITH u AS (SELECT doc_id,
             'https://' || source || '.example.com' ||
             (CASE CAST(doc_id % 6 AS INT)
                WHEN 0 THEN '/private/pub/p' WHEN 1 THEN '/private/p'
                WHEN 2 THEN '/gb/p' WHEN 3 THEN '/gb2/mid/p'
                WHEN 4 THEN '/a' ELSE '/b' END) ||
             CAST(doc_id AS VARCHAR) AS url
           FROM documents),
         p AS (SELECT doc_id,
             lower(regexp_replace(regexp_extract(url,
               '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)', 2),
               ':[0-9]+$', '')) AS host,
             CASE WHEN regexp_extract(url,
                 '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)([^?#]*)', 3) = ''
               THEN '/'
               ELSE regexp_extract(url,
                 '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)([^?#]*)', 3) END
               AS path
           FROM u),
         r AS (SELECT host, path_prefix, match_len, allow FROM (VALUES """ +
        robotsExpectedRules.map { case (h, p, a, _, l, _) =>
          s"('$h', '$p', $l, $a)" }.mkString(", ") +
        """) t(host, path_prefix, match_len, allow)),
         m AS (SELECT p.doc_id, r.match_len AS l, r.allow,
                 row_number() OVER (PARTITION BY p.doc_id
                   ORDER BY r.match_len DESC,
                            CAST(r.allow AS INT) DESC) AS rn
               FROM p JOIN r ON r.host = p.host
                 AND substring(p.path, 1, len(r.path_prefix))
                   = r.path_prefix)
         SELECT p.doc_id, p.host, p.path,
                CAST(coalesce(b.l, -1) AS INTEGER) AS rule_len,
                coalesce(b.allow, true) AS allowed
         FROM p LEFT JOIN (SELECT doc_id, l, allow FROM m WHERE rn = 1) b
           USING (doc_id)
         ORDER BY p.doc_id"""),
    // hand-derived anchored regexes + raw-pattern lengths; DuckDB's
    // RE2 matches them independently, row_number (l desc, allow desc)
    // restates the longest-raw-pattern precedence
    "q_robots_policy_exact" ->
      """WITH u AS (SELECT doc_id,
             'https://' || source || '.example.com' ||
             (CASE CAST(doc_id % 8 AS INT)
                WHEN 0 THEN '/private/pub/p' || CAST(doc_id AS VARCHAR)
                WHEN 1 THEN '/private/p' || CAST(doc_id AS VARCHAR)
                WHEN 2 THEN '/gb/ok'
                WHEN 3 THEN '/gb/ok' || CAST(doc_id AS VARCHAR)
                WHEN 4 THEN '/gb2/m' || CAST(doc_id AS VARCHAR) || '/x5'
                WHEN 5 THEN '/gb2/m' || CAST(doc_id AS VARCHAR) || '/y'
                WHEN 6 THEN '/a' || CAST(doc_id AS VARCHAR)
                ELSE '/b' END) AS url
           FROM documents),
         p AS (SELECT doc_id,
             lower(regexp_replace(regexp_extract(url,
               '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)', 2),
               ':[0-9]+$', '')) AS host,
             CASE WHEN regexp_extract(url,
                 '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)([^?#]*)', 3) = ''
               THEN '/'
               ELSE regexp_extract(url,
                 '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)([^?#]*)', 3) END
               AS path
           FROM u),
         r AS (SELECT * FROM (VALUES
             ('src1.example.com', '^/private/', 9, false),
             ('src1.example.com', '^/private/pub/', 13, true),
             ('src2.example.com', '^/gb/', 4, false),
             ('src2.example.com', '^/gb/ok$', 7, true),
             ('src2.example.com', '^/gb2/.*/x', 9, false),
             ('src3.example.com', '^/a.*', 3, true),
             ('src3.example.com', '^/b$', 3, false))
             t(host, rx, l, allow)),
         m AS (SELECT p.doc_id, r.l, r.allow,
                 row_number() OVER (PARTITION BY p.doc_id
                   ORDER BY r.l DESC, CAST(r.allow AS INT) DESC) AS rn
               FROM p JOIN r ON r.host = p.host
                 AND regexp_matches(p.path, r.rx))
         SELECT p.doc_id, p.host, p.path,
                CAST(coalesce(b.l, -1) AS INTEGER) AS rule_len,
                coalesce(b.allow, true) AS allowed
         FROM p LEFT JOIN (SELECT doc_id, l, allow FROM m WHERE rn = 1) b
           USING (doc_id)
         ORDER BY p.doc_id""",
    // seen-set anti-join + expected-rules gate + min-id politeness
    // quota (row_number formulation) + sha52 fetch order per host —
    // chain factored into crawlFrontierOracleCtes (shared with the
    // fetch schedule)
    "q_crawl_frontier" ->
      (crawlFrontierOracleCtes +
        """ SELECT doc_id, host, path, frontier_rank
         FROM f ORDER BY doc_id"""),
    // the frontier joined to the parsed per-host delays (graftbot 2.0
    // on src1, * 0.5 on src3, junk src5 absent -> 1 s default); exact
    // binary-fraction delays keep the ms arithmetic engine-exact
    "q_fetch_schedule" ->
      (crawlFrontierOracleCtes +
        """, d AS (SELECT * FROM (VALUES
             ('src1.example.com', CAST(2.0 AS DOUBLE)),
             ('src3.example.com', CAST(0.5 AS DOUBLE)))
             t(host, delay_s))
         SELECT f.doc_id, f.host, f.frontier_rank,
                CAST((f.frontier_rank - 1) * coalesce(d.delay_s, 1.0)
                  * 1000 AS BIGINT) AS fetch_offset_ms
         FROM f LEFT JOIN d USING (host)
         ORDER BY f.doc_id"""),
    // hand-derived RFC 3986 resolutions of the six planted link
    // shapes (the two unfetchable refs are simply absent); the
    // <base href="/based/deep/"> pages (doc_id%5=0) rebase the three
    // relative links, hand-resolved per arm
    "q_outlinks" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS id,
             'https://' || source || '.example.com' AS h,
             CAST(doc_id % 4 AS VARCHAR) AS m,
             (doc_id % 5 = 0) AS b
           FROM documents)
         SELECT doc_id, outlink FROM (
           SELECT doc_id, CASE WHEN b
               THEN h || '/based/deep/rel/p' || id || '.html'
               ELSE h || '/sec' || m || '/rel/p' || id || '.html' END
             AS outlink FROM d
           UNION ALL SELECT doc_id, h || '/abs/q' || id FROM d
           UNION ALL SELECT doc_id, CASE WHEN b
               THEN h || '/based/up' || id || '.html'
               ELSE h || '/up' || id || '.html' END FROM d
           UNION ALL SELECT doc_id,
             'https://cdn.example.org/lib' || id || '.js' FROM d
           UNION ALL SELECT doc_id, CASE WHEN b
               THEN h || '/based/deep/img' || id || '.png'
               ELSE h || '/sec' || m || '/img' || id || '.png' END FROM d
           UNION ALL SELECT doc_id,
             'https://ext.example.net/e' || id || '?x=1' FROM d)
         ORDER BY doc_id, outlink""",
    // the same two anchor rows per doc, grouped per hand-derived
    // canonical target; sorted-distinct join restated as an ordered
    // string_agg over a DISTINCT subquery
    "q_anchor_corpus" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS id,
             CAST(doc_id % 53 AS VARCHAR) AS m,
             'https://' || source || '.example.com' AS h
           FROM documents),
         a AS (SELECT h || '/p' || m AS target,
                 'Doc ' || id || ' reference' AS anchor FROM d
               UNION ALL
               SELECT h || '/dir/rel' || id, 'see also ' || id FROM d),
         g1 AS (SELECT target, CAST(count(*) AS BIGINT) AS n_anchors
                FROM a GROUP BY 1),
         g2 AS (SELECT target,
                  string_agg(anchor, '|' ORDER BY anchor) AS anchor_texts
                FROM (SELECT DISTINCT target, anchor FROM a)
                GROUP BY 1)
         SELECT g1.target, g1.n_anchors, g2.anchor_texts
         FROM g1 JOIN g2 USING (target) ORDER BY g1.target""",
    // two hand-derived anchor rows per doc: markup stripped, runs of
    // whitespace collapsed, fragment-only anchor and img src absent
    "q_anchor_text" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS id,
             'https://' || source || '.example.com' AS h
           FROM documents)
         SELECT doc_id, outlink, anchor FROM (
           SELECT doc_id, h || '/p' || id AS outlink,
                  'Doc ' || id || ' reference' AS anchor FROM d
           UNION ALL
           SELECT doc_id, h || '/dir/rel' || id,
                  'see also ' || id FROM d)
         ORDER BY doc_id, outlink""",
    // the same host edges rebuilt relationally (two modular-target
    // joins for the linked sources) + the SHARED unrolled PageRank
    // recurrence — both sides run the identical arithmetic
    "q_outlink_pagerank" ->
      ("""WITH nn0 AS (SELECT count(*) AS n FROM documents),
         t AS (SELECT d.source,
                 CAST((d.doc_id + 1) % nn0.n AS BIGINT) AS a1,
                 CAST((d.doc_id * 7 + 3) % nn0.n AS BIGINT) AS a2
               FROM documents d, nn0),
         l AS (SELECT t.source AS s0, d2.source AS sa, d3.source AS sb
               FROM t JOIN documents d2 ON d2.doc_id = t.a1
                      JOIN documents d3 ON d3.doc_id = t.a2),
         e0 AS (SELECT s0 || '.example.com' AS h1,
                  sa || '.example.com' AS h2 FROM l
                UNION ALL
                SELECT s0 || '.example.com', sb || '.example.com' FROM l),
         e AS (SELECT DISTINCT least(h1, h2) AS ia,
                 greatest(h1, h2) AS ib
               FROM e0 WHERE h1 <> h2),
         """ + pageRankOracleTail(10)),
    // the directed recurrence with dangling-mass redistribution; the
    // % 3 filter keeps src0/src3/… out of the publishing set so they
    // are genuine sinks — the D/n term is load-bearing, not zero
    "q_directed_pagerank" ->
      ("""WITH nn0 AS (SELECT count(*) AS n FROM documents),
         t AS (SELECT d.source,
                 CAST((d.doc_id + 1) % nn0.n AS BIGINT) AS a1,
                 CAST((d.doc_id * 7 + 3) % nn0.n AS BIGINT) AS a2
               FROM documents d, nn0
               WHERE CAST(substring(d.source, 4) AS INT) % 3 <> 0),
         l AS (SELECT t.source AS s0, d2.source AS sa, d3.source AS sb
               FROM t JOIN documents d2 ON d2.doc_id = t.a1
                      JOIN documents d3 ON d3.doc_id = t.a2),
         e0 AS (SELECT s0 || '.example.com' AS src,
                  sa || '.example.com' AS dst FROM l
                UNION ALL
                SELECT s0 || '.example.com', sb || '.example.com' FROM l),
         e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
         """ + pageRankDirectedOracleCtes(10) + """
         SELECT node, pagerank FROM r10 ORDER BY node"""),
    // weighted form: same directed prelude, edges aggregated to
    // (src, dst, w = link count), contributions ∝ w/Σw
    "q_weighted_pagerank" ->
      ("""WITH nn0 AS (SELECT count(*) AS n FROM documents),
         t AS (SELECT d.source,
                 CAST((d.doc_id + 1) % nn0.n AS BIGINT) AS a1,
                 CAST((d.doc_id * 7 + 3) % nn0.n AS BIGINT) AS a2
               FROM documents d, nn0
               WHERE CAST(substring(d.source, 4) AS INT) % 3 <> 0),
         l AS (SELECT t.source AS s0, d2.source AS sa, d3.source AS sb
               FROM t JOIN documents d2 ON d2.doc_id = t.a1
                      JOIN documents d3 ON d3.doc_id = t.a2),
         e0 AS (SELECT s0 || '.example.com' AS src,
                  sa || '.example.com' AS dst FROM l
                UNION ALL
                SELECT s0 || '.example.com', sb || '.example.com' FROM l),
         we AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
                FROM e0 WHERE src <> dst GROUP BY 1, 2),
         """ + pageRankWeightedOracleCtes(10) + """
         SELECT node, pagerank FROM wr10 ORDER BY node"""),
    // personalized form: same directed prelude, teleport restricted to
    // the % 4 == 1 seed hosts (the dangling mass lands on seeds too)
    "q_personalized_pagerank" ->
      ("""WITH nn0 AS (SELECT count(*) AS n FROM documents),
         t AS (SELECT d.source,
                 CAST((d.doc_id + 1) % nn0.n AS BIGINT) AS a1,
                 CAST((d.doc_id * 7 + 3) % nn0.n AS BIGINT) AS a2
               FROM documents d, nn0
               WHERE CAST(substring(d.source, 4) AS INT) % 3 <> 0),
         l AS (SELECT t.source AS s0, d2.source AS sa, d3.source AS sb
               FROM t JOIN documents d2 ON d2.doc_id = t.a1
                      JOIN documents d3 ON d3.doc_id = t.a2),
         e0 AS (SELECT s0 || '.example.com' AS src,
                  sa || '.example.com' AS dst FROM l
                UNION ALL
                SELECT s0 || '.example.com', sb || '.example.com' FROM l),
         e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
         sd AS (SELECT DISTINCT source || '.example.com' AS s
                FROM documents
                WHERE CAST(substring(source, 4) AS INT) % 4 = 1),
         """ + pprOracleCtes(10) + """
         SELECT node, pagerank FROM qr10 ORDER BY node"""),
    // spam mass: the directed and seeded recurrences composed over ONE
    // shared edge prelude (both families' CTEs are prefix-disjoint),
    // differenced per node
    "q_spam_mass" ->
      ("""WITH nn0 AS (SELECT count(*) AS n FROM documents),
         t AS (SELECT d.source,
                 CAST((d.doc_id + 1) % nn0.n AS BIGINT) AS a1,
                 CAST((d.doc_id * 7 + 3) % nn0.n AS BIGINT) AS a2
               FROM documents d, nn0
               WHERE CAST(substring(d.source, 4) AS INT) % 3 <> 0),
         l AS (SELECT t.source AS s0, d2.source AS sa, d3.source AS sb
               FROM t JOIN documents d2 ON d2.doc_id = t.a1
                      JOIN documents d3 ON d3.doc_id = t.a2),
         e0 AS (SELECT s0 || '.example.com' AS src,
                  sa || '.example.com' AS dst FROM l
                UNION ALL
                SELECT s0 || '.example.com', sb || '.example.com' FROM l),
         e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
         sd AS (SELECT DISTINCT source || '.example.com' AS s
                FROM documents
                WHERE CAST(substring(source, 4) AS INT) % 4 = 1),
         """ + pageRankDirectedOracleCtes(10) + ",\n         " +
        pprOracleCtes(10) + """
         SELECT r10.node, r10.pagerank,
                qr10.pagerank AS trustrank,
                r10.pagerank - qr10.pagerank AS spam_mass,
                1.0::DOUBLE - qr10.pagerank / r10.pagerank AS spam_frac
         FROM r10 JOIN qr10 ON qr10.node = r10.node
         ORDER BY r10.node"""),
    // HITS: the L2-normalized hub/authority recursion over the same
    // directed host graph, 8 unrolled double-steps
    "q_hits_authority" ->
      ("""WITH nn0 AS (SELECT count(*) AS n FROM documents),
         t AS (SELECT d.source,
                 CAST((d.doc_id + 1) % nn0.n AS BIGINT) AS a1,
                 CAST((d.doc_id * 7 + 3) % nn0.n AS BIGINT) AS a2
               FROM documents d, nn0
               WHERE CAST(substring(d.source, 4) AS INT) % 3 <> 0),
         l AS (SELECT t.source AS s0, d2.source AS sa, d3.source AS sb
               FROM t JOIN documents d2 ON d2.doc_id = t.a1
                      JOIN documents d3 ON d3.doc_id = t.a2),
         e0 AS (SELECT s0 || '.example.com' AS src,
                  sa || '.example.com' AS dst FROM l
                UNION ALL
                SELECT s0 || '.example.com', sb || '.example.com' FROM l),
         he AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
         """ + hitsOracleCtes(8) + """
         SELECT hh8.node, hh8.h AS hub, ha8.a AS authority
         FROM hh8 JOIN ha8 ON ha8.node = hh8.node
         ORDER BY hh8.node"""),
    // anchors → per-target authority → integer weight → min-ratio
    // mixture, + the shared unrolled PageRank recurrence joined per
    // source host (double, tolerance-compared)
    "q_curated_corpus_v8" ->
      ("""WITH nn0 AS (SELECT count(*) AS n FROM documents),
         t AS (SELECT d.source,
                 CAST((d.doc_id + 1) % nn0.n AS BIGINT) AS a1,
                 CAST((d.doc_id * 7 + 3) % nn0.n AS BIGINT) AS a2
               FROM documents d, nn0),
         l AS (SELECT t.source AS s0, d2.source AS sa, d3.source AS sb
               FROM t JOIN documents d2 ON d2.doc_id = t.a1
                      JOIN documents d3 ON d3.doc_id = t.a2),
         an0 AS (SELECT s0 || '.example.com' AS src,
                   sa || '.example.com' AS dst FROM l
                 UNION ALL
                 SELECT s0 || '.example.com', sb || '.example.com' FROM l),
         an AS (SELECT src, dst FROM an0 WHERE src <> dst),
         auth AS (SELECT dst AS host, CAST(count(*) AS BIGINT) AS n_anchors,
                    CAST(count(DISTINCT src) AS BIGINT) AS n_link_sources
                  FROM an GROUP BY 1),
         c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY 1),
         w AS (SELECT c.source, c.n_docs,
                 coalesce(auth.n_anchors, CAST(0 AS BIGINT)) AS n_anchors,
                 coalesce(auth.n_link_sources, CAST(0 AS BIGINT))
                   AS n_link_sources,
                 greatest(CAST(1 AS BIGINT),
                   coalesce(auth.n_anchors, CAST(0 AS BIGINT)) * 10 +
                     coalesce(auth.n_link_sources, CAST(0 AS BIGINT)))
                   AS w
               FROM c LEFT JOIN auth
                 ON auth.host = c.source || '.example.com'),
         k AS (SELECT a.source,
                 CAST(min((b.n_docs * a.w) // b.w) AS BIGINT) AS kept
               FROM w a CROSS JOIN w b GROUP BY 1),
         e AS (SELECT DISTINCT least(src, dst) AS ia,
                 greatest(src, dst) AS ib FROM an),
         ze AS (SELECT DISTINCT src, dst FROM an),
         """ + pageRankOracleCtes(10) + ",\n         " +
        pageRankDirectedOracleCtes(10, "z") + """
         SELECT w.source, w.n_docs, w.n_anchors, w.n_link_sources, w.w,
                k.kept,
                CAST((CAST(1000000 AS BIGINT) * k.kept) // w.n_docs
                  AS BIGINT) AS rate_micro,
                r10.pagerank AS pagerank,
                zr10.pagerank AS pagerank_directed
         FROM w JOIN k USING (source)
         JOIN r10 ON r10.node = w.source || '.example.com'
         JOIN zr10 ON zr10.node = w.source || '.example.com'
         ORDER BY w.source"""),
    // v9: the triptych restated relationally — the fixture is a pure
    // function of documents, so every stage (capture set with the
    // redirect rewrite baked in, keep-latest window, revisit
    // freshness, exact-text dedup, gopher + classifier gates, link
    // rollup, directed recurrence, mixture) re-derives from the table
    "q_curated_corpus_v9" ->
      (gopherRulesCtes(minStopHits = 1) + ",\n         " +
        classifierScoreCtes.replaceFirst("^WITH\\s+", "") + ",\n         " +
        raw"""nn0 AS (SELECT count(*) AS n FROM documents),
         srcx AS (SELECT d.doc_id, d.source, d.text,
                 '2026-08-' || lpad(CAST((d.doc_id % 28) + 1 AS VARCHAR),
                   2, '0') || 'T00:00:00Z' AS cdate
               FROM documents d),
         caps AS (
           SELECT 'https://' || source || '.example.com/p' ||
                    CAST(doc_id AS VARCHAR) AS url,
                  doc_id,
                  '<urn:v9:c:' || CAST(doc_id AS VARCHAR) || '>'
                    AS record_id,
                  cdate AS warc_date
           FROM srcx
           UNION ALL
           SELECT 'https://' || source || '.example.com/p' ||
                    CAST(doc_id AS VARCHAR),
                  doc_id,
                  '<urn:v9:o:' || CAST(doc_id AS VARCHAR) || '>',
                  '2026-09-01T00:00:00Z'
           FROM srcx WHERE doc_id % 5 = 0
           UNION ALL
           SELECT 'https://' || source || '.example.com/zdup' ||
                    CAST(doc_id AS VARCHAR),
                  doc_id,
                  '<urn:v9:z:' || CAST(doc_id AS VARCHAR) || '>',
                  '2026-08-30T00:00:00Z'
           FROM srcx WHERE doc_id % 11 = 0),
         kl AS (SELECT url, doc_id, record_id, warc_date FROM (
                  SELECT *, row_number() OVER (PARTITION BY url
                    ORDER BY warc_date DESC, record_id DESC) AS rn
                  FROM caps)
                WHERE rn = 1),
         rvd AS (SELECT 'https://' || source || '.example.com/p' ||
                   CAST(doc_id AS VARCHAR) AS url,
                   '2026-09-10T00:00:00Z' AS rdate
                 FROM srcx WHERE doc_id % 7 = 0),
         ls AS (SELECT kl.url, kl.doc_id, kl.record_id, kl.warc_date,
                  greatest(kl.warc_date, coalesce(r2.rdate, ''))
                    AS last_seen
                FROM kl LEFT JOIN rvd r2 ON r2.url = kl.url),
         dd AS (SELECT url, doc_id, last_seen FROM (
                  SELECT ls.*, row_number() OVER (PARTITION BY s2.text
                    ORDER BY ls.url) AS rn2
                  FROM ls JOIN srcx s2 ON s2.doc_id = ls.doc_id)
                WHERE rn2 = 1),
         cur AS (SELECT dd.doc_id, dd.url, dd.last_seen, s3.source
                 FROM dd JOIN srcx s3 ON s3.doc_id = dd.doc_id
                 JOIN rules ru ON ru.doc_id = dd.doc_id
                 WHERE ru.pass AND dd.doc_id IN
                   (SELECT doc_id FROM sc WHERE score_sum > 0)),
         c2 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_curated,
                  max(last_seen) AS last_seen_max
                FROM cur GROUP BY 1),
         t2 AS (SELECT d.doc_id, d.source,
                  CAST((d.doc_id + 1) % nn0.n AS BIGINT) AS a1,
                  CAST((d.doc_id * 7 + 3) % nn0.n AS BIGINT) AS a2
                FROM documents d, nn0),
         lk0 AS (
           SELECT t2.doc_id, t2.source || '.example.com' AS src,
                  d2.source || '.example.com' AS dst
           FROM t2 JOIN documents d2 ON d2.doc_id = t2.a1
           UNION
           SELECT t2.doc_id, t2.source || '.example.com',
                  d3.source || '.example.com'
           FROM t2 JOIN documents d3 ON d3.doc_id = t2.a2
           UNION
           SELECT doc_id, source || '.example.com', 'sink.example.net'
           FROM t2),
         lk AS (SELECT * FROM lk0 WHERE src <> dst),
         auth AS (SELECT dst AS host,
                    CAST(count(*) AS BIGINT) AS n_linking_pages,
                    CAST(count(DISTINCT src) AS BIGINT) AS n_link_sources
                  FROM lk GROUP BY 1),
         ze AS (SELECT DISTINCT src, dst FROM lk),
         ywe AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
                 FROM lk GROUP BY 1, 2),
         """ + pageRankDirectedOracleCtes(10, "z") + ",\n         " +
        pageRankWeightedOracleCtes(10, "y") + raw""",
         w2 AS (SELECT c2.source, c2.n_curated, c2.last_seen_max,
                  coalesce(a.n_linking_pages, CAST(0 AS BIGINT))
                    AS n_linking_pages,
                  coalesce(a.n_link_sources, CAST(0 AS BIGINT))
                    AS n_link_sources,
                  greatest(CAST(1 AS BIGINT),
                    coalesce(a.n_linking_pages, CAST(0 AS BIGINT)) * 10 +
                      coalesce(a.n_link_sources, CAST(0 AS BIGINT))) AS w
                FROM c2 LEFT JOIN auth a
                  ON a.host = c2.source || '.example.com'),
         k2 AS (SELECT a.source,
                  CAST(min((b.n_curated * a.w) // b.w) AS BIGINT) AS kept
                FROM w2 a CROSS JOIN w2 b GROUP BY 1),
         rvs AS (SELECT source,
                   CAST(count(*) AS BIGINT) AS n_revisits,
                   CAST(sum(CASE WHEN doc_id % 21 <> 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_revisits_resolved
                 FROM srcx WHERE doc_id % 7 = 0 GROUP BY 1)
         SELECT w2.source, w2.n_curated, w2.n_linking_pages,
                w2.n_link_sources, w2.w, k2.kept,
                CAST((CAST(1000000 AS BIGINT) * k2.kept) // w2.n_curated
                  AS BIGINT) AS rate_micro,
                coalesce(rvs.n_revisits, CAST(0 AS BIGINT)) AS n_revisits,
                coalesce(rvs.n_revisits_resolved, CAST(0 AS BIGINT))
                  AS n_revisits_resolved,
                w2.last_seen_max,
                zr10.pagerank AS pagerank_directed,
                ywr10.pagerank AS pagerank_weighted
         FROM w2 JOIN k2 USING (source)
         JOIN zr10 ON zr10.node = w2.source || '.example.com'
         JOIN ywr10 ON ywr10.node = w2.source || '.example.com'
         LEFT JOIN rvs USING (source)
         ORDER BY w2.source"""),
    // the FROM-SCRATCH recompute over every page — night split absent
    // on purpose: the Spark side folds night 2's edges into the
    // materialized night-1 graph, and the theorem under adjudication
    // is merged ≡ from-scratch (same CTE family as q_outlink_pagerank)
    "q_incremental_pagerank" ->
      ("""WITH nn0 AS (SELECT count(*) AS n FROM documents),
         t AS (SELECT d.source,
                 CAST((d.doc_id + 1) % nn0.n AS BIGINT) AS a1,
                 CAST((d.doc_id * 7 + 3) % nn0.n AS BIGINT) AS a2
               FROM documents d, nn0),
         l AS (SELECT t.source AS s0, d2.source AS sa, d3.source AS sb
               FROM t JOIN documents d2 ON d2.doc_id = t.a1
                      JOIN documents d3 ON d3.doc_id = t.a2),
         e0 AS (SELECT s0 || '.example.com' AS h1,
                  sa || '.example.com' AS h2 FROM l
                UNION ALL
                SELECT s0 || '.example.com', sb || '.example.com' FROM l),
         e AS (SELECT DISTINCT least(h1, h2) AS ia,
                 greatest(h1, h2) AS ib
               FROM e0 WHERE h1 <> h2),
         """ + pageRankOracleTail(10)),
    // recursive-CTE min-hop reachability over the arithmetic edge rule
    // — the hop<4 bound keeps the UNION ALL recursion finite; min(hop)
    // over all paths IS the BFS first-reach label
    "q_crawl_bfs" ->
      """WITH RECURSIVE
         nn AS (SELECT count(*) AS n FROM documents),
         e AS (SELECT d.doc_id AS src,
                 CAST((d.doc_id * 2 + 1) % nn.n AS BIGINT) AS dst
               FROM documents d, nn
               UNION ALL
               SELECT d.doc_id,
                 CAST((d.doc_id * 3 + 2) % nn.n AS BIGINT)
               FROM documents d, nn),
         bfs(doc_id, hop) AS (
           SELECT doc_id, 0 FROM documents WHERE doc_id % 97 = 0
           UNION ALL
           SELECT e.dst, b.hop + 1 FROM bfs b
           JOIN e ON e.src = b.doc_id WHERE b.hop < 4)
         SELECT doc_id, CAST(min(hop) AS INTEGER) AS hop
         FROM bfs GROUP BY doc_id ORDER BY doc_id""",
    // every stage hand-derived: seeds = src3/src4 locs (src1 has no
    // Sitemap line), seen = doc_id%5, gate = src3 blocks the /b arm
    // (rules /a allow len 3 / /b disallow len 3; src4 ruleless →
    // default allow), min-7-per-host quota, sha52 order, delay-priced
    // offsets (src3 0.5 s from *, src4 the 1 s default)
    "q_seeded_frontier" ->
      """WITH s AS (SELECT doc_id, source || '.example.com' AS host,
             'https://' || source || '.example.com' ||
               (CASE WHEN doc_id % 3 = 0 THEN '/b' ELSE '/a' END) ||
               CAST(doc_id AS VARCHAR) AS loc,
             (CASE WHEN doc_id % 3 = 0 THEN '/b' ELSE '/a' END) ||
               CAST(doc_id AS VARCHAR) AS path,
             CASE WHEN doc_id % 2 = 0
               THEN '2026-07-' ||
                 lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
               ELSE NULL END AS lastmod
           FROM documents WHERE source IN ('src3', 'src4')),
         fresh AS (SELECT * FROM s WHERE doc_id % 5 <> 0),
         g AS (SELECT * FROM fresh
               WHERE NOT (host = 'src3.example.com'
                 AND path LIKE '/b%')),
         q AS (SELECT *, row_number() OVER (PARTITION BY host
                 ORDER BY doc_id) AS rn FROM g),
         k AS (SELECT * FROM q WHERE rn <= 7),
         h AS (SELECT doc_id, host, loc, lastmod,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(
                     substring(sha256(CAST(doc_id AS VARCHAR)), 1, 13), ''),
                     x -> CAST(instr('0123456789abcdef', x) - 1
                       AS BIGINT))),
                   (acc, x) -> acc * 16 + x) AS hv
               FROM k),
         f AS (SELECT *, CAST(row_number() OVER (PARTITION BY host
                 ORDER BY hv, doc_id) AS BIGINT) AS frontier_rank
               FROM h),
         d AS (SELECT * FROM (VALUES
             ('src3.example.com', CAST(0.5 AS DOUBLE)))
             t(host, delay_s))
         SELECT f.host, f.loc, f.lastmod, f.frontier_rank,
                CAST((f.frontier_rank - 1) * coalesce(d.delay_s, 1.0)
                  * 1000 AS BIGINT) AS fetch_offset_ms
         FROM f LEFT JOIN d USING (host)
         ORDER BY f.host, f.loc""",
    // hand-derived group-scoped delays: graftbot group beats *,
    // merged groups take the max, junk host absent
    "q_crawl_delays" ->
      """SELECT * FROM (VALUES
           ('src1.example.com', CAST(2.0 AS DOUBLE)),
           ('src3.example.com', CAST(0.5 AS DOUBLE)))
           t(host, crawl_delay_s)
         ORDER BY host""",
    // hand-derived sitemap entries: trimmed loc, NULL lastmod when
    // absent, loc-less entry dropped, index entries kind=sitemap
    "q_sitemap_urls" ->
      """SELECT * FROM (VALUES
           ('src1.example.com', 'url', 'https://src1.example.com/a',
            '2026-08-01'),
           ('src1.example.com', 'url', 'https://src1.example.com/b',
            CAST(NULL AS VARCHAR)),
           ('src2.example.com', 'sitemap',
            'https://src2.example.com/s1.xml', '2026-07-01'),
           ('src2.example.com', 'sitemap',
            'https://src2.example.com/s2.xml', CAST(NULL AS VARCHAR)))
           t(host, kind, loc, lastmod)
         ORDER BY host, loc""",
    "q_url_parts" ->
      """WITH u AS (SELECT doc_id,
             (CASE WHEN doc_id % 7 = 0 THEN 'http://' ELSE 'https://' END) ||
             (CASE WHEN doc_id % 5 = 0 THEN 'Sub.' ELSE '' END) ||
             source || '.example.com' ||
             (CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END) ||
             '/' || lang || '/doc/' || CAST(doc_id AS VARCHAR) ||
             (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
             (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=1&utm_campaign=x'
                   WHEN doc_id % 3 = 1 THEN '?id=2&gclid=abc' ELSE '' END) AS url
           FROM documents),
         p AS (SELECT doc_id, url,
             regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)', 1) AS scheme,
             regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)', 2) AS host,
             regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]+)([^?#]*)', 3) AS path
           FROM u),
         q AS (SELECT *, regexp_replace(host, ':[0-9]+$', '') AS host_no_port
           FROM p)
         SELECT doc_id, url, host, host_no_port,
           CASE WHEN regexp_matches(host_no_port, '[^.]+\.[^.]+$')
                THEN regexp_extract(host_no_port, '([^.]+\.[^.]+)$', 1)
                ELSE host_no_port END AS registered_domain,
           path,
           CAST(len(list_filter(string_split(path, '/'),
             s -> length(s) > 0)) AS INTEGER) AS path_depth,
           regexp_extract(url, '\?([^#]*)', 1) AS query_string,
           CASE WHEN host = '' THEN ''
                ELSE lower(scheme) || '://' || lower(host) ||
                     regexp_replace(path, '/+$', '') END AS canonical,
           regexp_replace(regexp_replace(regexp_replace(url,
               '&(?:utm_|gclid|fbclid)[^&#]*', '', 'g'),
               '\?(?:utm_|gclid|fbclid)[^&#]*&', '?', 'g'),
               '\?(?:utm_|gclid|fbclid)[^&#]*(#|$)', '\1', 'g') AS clean_url
         FROM q ORDER BY doc_id""",
    // the CASE chain is GENERATED from the same PSL snapshot the Spark
    // broadcast join uses (PublicSuffix.oracleCaseSql) — rule-list
    // drift between engine and oracle is impossible by construction
    "q_registered_domain_psl" ->
      s"""WITH u AS (SELECT doc_id,
             (CASE WHEN doc_id % 8 = 0 THEN source || '.co.uk'
                   WHEN doc_id % 8 = 1 THEN 'www.' || source || '.com.au'
                   WHEN doc_id % 8 = 2 THEN 'A.B.' || source || '.co.uk'
                   WHEN doc_id % 8 = 3 THEN source || '.example.com'
                   WHEN doc_id % 8 = 4 THEN 'x.' || source || '.kawasaki.jp'
                   WHEN doc_id % 8 = 5 THEN 'city.kawasaki.jp'
                   WHEN doc_id % 8 = 6 THEN source || '.github.io'
                   ELSE 'localhost' END) ||
             (CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END) AS rawhost
           FROM documents),
         h AS (SELECT doc_id,
             regexp_replace(rawhost, ':[0-9]+$$', '') AS hnp FROM u)
         SELECT doc_id, lower(hnp) AS host,
           ${graft.functions.PublicSuffix.oracleCaseSql("hnp")} AS registered_domain,
           CASE WHEN regexp_matches(hnp, '[^.]+\\.[^.]+$$')
                THEN regexp_extract(hnp, '([^.]+\\.[^.]+)$$', 1)
                ELSE hnp END AS heuristic_domain
         FROM h ORDER BY doc_id""",
    // identical regex/replace chain (RE2-safe: inline (?is), no
    // backreferences); DuckDB regexp_replace needs the explicit 'g'
    // flag where Spark's is global by default
    "q_clean_html" ->
      """SELECT doc_id,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     '<html><head><style>p{color:#888}</style></head><body><h1>Doc</h1><p class="x">'
                       || text ||
                       ' &amp; tail&#39;s &lt;end&gt;</p><script>if(1<2){x=1;}</script></body></html>',
                     '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                   '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                 '<[^>]*>', ' ', 'g'),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
             '\s+', ' ', 'g')) AS clean
         FROM documents ORDER BY doc_id""",
    // block split at block-level tags → per-block text + anchor-text
    // word counts → minWords/maxLinkDensity gate → kept blocks
    // reassembled in order; the regex/unescape chain is mainContent's
    // verbatim (CTE chain shared with q_curated_corpus_v6)
    "q_main_content" ->
      (s"WITH $mainContentCtes" +
        """ SELECT doc_id, main_text, n_blocks, n_kept
         FROM mc ORDER BY doc_id"""),
    // v6: extraction tier composed — main-content CTEs → ≥ 40-token
    // floor on the EXTRACTED text → classifier chain over main_text
    // with the 512-row VALUES artifact
    "q_curated_corpus_v6" ->
      (s"WITH $mainContentCtes," +
        s""" wts AS MATERIALIZED (
           SELECT bucket, CAST(w AS BIGINT) AS w
           FROM (VALUES ${classifierFixtureValues(512)}) t(bucket, w)),""" +
        """
         mtoks AS (SELECT doc_id,
                string_split_regex(trim(main_text), '\s+') AS t
              FROM mc WHERE length(trim(main_text)) > 0),
         mfeats AS (
           SELECT doc_id, 'u:' || unnest(t) AS f FROM mtoks
           UNION ALL
           SELECT doc_id, 'b:' || t[i] || ' ' || t[i + 1] AS f
           FROM mtoks, LATERAL unnest(generate_series(1, len(t) - 1))
             AS g(i)
           WHERE len(t) >= 2),
         mfb AS (SELECT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(
                      substring(sha256(f), 1, 13), ''),
                      c -> CAST(instr('0123456789abcdef', c) - 1
                        AS BIGINT))),
                    (acc, x) -> acc * 16 + x) % 512 AS bucket
                FROM mfeats WHERE f <> 'u:'),
         mperdoc AS (SELECT doc_id, bucket, count(*) AS c
                     FROM mfb GROUP BY 1, 2),
         msc AS (SELECT doc_id, sum(c * w) AS score_sum
                 FROM mperdoc JOIN wts USING (bucket) GROUP BY 1)
         SELECT m.doc_id, m.n_blocks, m.n_kept
         FROM mc m JOIN msc ON msc.doc_id = m.doc_id
         WHERE m.n_kept > 0
           AND len(string_split_regex(trim(m.main_text), '\s+')) >= 40
           AND msc.score_sum > 0
         ORDER BY m.doc_id"""),
    "q_head_cap_sample" ->
      """WITH t AS (SELECT source,
                CAST(floor(least(1.0, 5.0 / sqrt(count(*))) * 1000000) AS BIGINT)
                  AS thresh
              FROM documents GROUP BY source)
         SELECT d.doc_id, d.lang, d.source
         FROM documents d JOIN t ON d.source = t.source
         WHERE d.doc_id % 1000000 < t.thresh
         ORDER BY d.doc_id""",
    "q_tfidf_keywords" ->
      """WITH toks AS (
           SELECT doc_id, term FROM (
             SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
             FROM documents) t
           WHERE length(term) > 0),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.term,
                  tf.tf * ((n.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
                    AS score
           FROM tf JOIN dfreq USING (term) CROSS JOIN n)
         SELECT doc_id, rank, term, score FROM (
           SELECT doc_id, term, score,
                  CAST(row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, term) AS INT) AS rank
           FROM scored) r
         WHERE rank <= 5 ORDER BY doc_id, rank""",
    "q_top_terms" ->
      """SELECT term, n FROM (
           SELECT term, count(*) AS n FROM (
             SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
             FROM documents) t
           WHERE length(term) > 0 GROUP BY term)
         ORDER BY n DESC, term ASC LIMIT 50""",
    // same head formulation, OLS of ln(n) on ln(rank) over 100 rows
    "q_zipf_fit" ->
      """WITH top AS (SELECT term, n,
               CAST(row_number() OVER (ORDER BY n DESC, term)
                 AS DOUBLE) AS rank
             FROM (SELECT term, count(*) AS n FROM (
                 SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
                 FROM documents) t
               WHERE length(term) > 0 GROUP BY term)
             ORDER BY n DESC, term LIMIT 100),
         xy AS (SELECT ln(rank) AS x, ln(CAST(n AS DOUBLE)) AS y FROM top),
         a AS (SELECT CAST(count(*) AS DOUBLE) AS k,
                 sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
                 sum(y * y) AS syy, sum(x * y) AS sxy
               FROM xy)
         SELECT CAST(k AS BIGINT) AS n_terms,
                (sxy - sx * sy / k) / (sxx - sx * sx / k) AS slope,
                sy / k - ((sxy - sx * sy / k) / (sxx - sx * sx / k))
                  * sx / k AS intercept,
                ((k * sxy - sx * sy) * (k * sxy - sx * sy))
                  / ((k * sxx - sx * sx) * (k * syy - sy * sy)) AS r2
         FROM a""",
    // digest-group sizes -> integer micro weights
    "q_dup_weights" ->
      """WITH g AS (SELECT doc_id, sha256(text) AS d FROM documents
                    WHERE text IS NOT NULL),
         s AS (SELECT d, count(*) AS n_members FROM g GROUP BY 1)
         SELECT g.doc_id, s.n_members,
                CAST(CAST(1000000 AS BIGINT) // s.n_members AS BIGINT)
                  AS weight_micro
         FROM g JOIN s USING (d) ORDER BY g.doc_id""",
    // integer cumulative count over the k-row head, one double division
    // per row — the cut and the shares are bit-identical cross-engine
    "q_vocab_coverage" ->
      """WITH tc AS (SELECT term, count(*) AS n FROM (
                SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
                FROM documents) t
              WHERE length(term) > 0 GROUP BY term),
         tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM tc),
         top AS (SELECT term, n FROM tc ORDER BY n DESC, term ASC LIMIT 50)
         SELECT term, n,
                CAST(sum(n) OVER (ORDER BY n DESC, term ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                  / total AS coverage
         FROM top CROSS JOIN tot ORDER BY n DESC, term ASC""",
    // floor(x + 0.5) spelled out on both sides: round() half-case
    // conventions differ across engines, floor does not
    "q_quantize_int8" ->
      """WITH m AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                           list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS ma
                    FROM embeddings)
         SELECT vec_id, CAST(u.i AS INTEGER) AS dim,
                CAST(floor(v[u.i + 1] * (127.0 / ma) + 0.5) AS INTEGER) AS q,
                127.0 / ma AS scale
         FROM m, unnest(range(len(v))) AS u(i)
         WHERE ma > 0
         ORDER BY vec_id, dim""",
    "q_label_centroids" ->
      """SELECT label, dim, avg(v) AS centroid FROM (
           SELECT label, CAST(unnest(range(len(embedding))) AS INTEGER) AS dim,
                  unnest(embedding) AS v
           FROM embeddings)
         GROUP BY 1, 2 ORDER BY label, dim""",
    // centroids per half, joined on (label, dim), cosine folded with
    // one more aggregation — the float compare rides the driver's
    // tolerance, as with every averaged metric
    "q_embedding_drift" ->
      """WITH o AS (
           SELECT label, dim, avg(v) AS c FROM (
             SELECT label, unnest(range(len(embedding))) AS dim,
                    unnest(embedding) AS v
             FROM embeddings WHERE vec_id % 2 = 0)
           GROUP BY 1, 2),
         n AS (
           SELECT label, dim, avg(v) AS c FROM (
             SELECT label, unnest(range(len(embedding))) AS dim,
                    unnest(embedding) AS v
             FROM embeddings WHERE vec_id % 2 = 1)
           GROUP BY 1, 2),
         cnt AS (
           SELECT label,
                  count(*) FILTER (vec_id % 2 = 0) AS n_old,
                  count(*) FILTER (vec_id % 2 = 1) AS n_new
           FROM embeddings GROUP BY 1)
         SELECT o.label AS label, cnt.n_old, cnt.n_new,
                SUM(o.c * n.c) / (sqrt(SUM(o.c * o.c)) * sqrt(SUM(n.c * n.c)))
                  AS cos_sim
         FROM o JOIN n ON n.label = o.label AND n.dim = o.dim
         JOIN cnt ON cnt.label = o.label
         GROUP BY 1, 2, 3 ORDER BY o.label""",
    // the full cascade restated as one WITH chain over the same
    // shrinking corpora: sha-dedup survivors d1 → simhash (hex-fold
    // portable hash, exhaustive Hamming ≤ 3) survivors d2 → capped
    // jaccard (df-cap computed ON d2) → final anti-membership
    "q_dedup_cascade" ->
      s"""WITH d0 AS (SELECT doc_id, text, lang, source FROM documents
                      WHERE doc_id % 2 = 0),
         s1 AS (SELECT min(doc_id) AS doc_id FROM d0
                GROUP BY sha256(text)),
         d1 AS (SELECT d.doc_id, d.text, d.lang, d.source
                FROM d0 d JOIN s1 USING (doc_id)),
         toks AS (SELECT doc_id,
                unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS t
              FROM d1),
         h AS (SELECT doc_id,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(substring(sha256(t), 1, 15), ''),
                          c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))),
                        (acc, x) -> acc * 16 + x) AS h
               FROM toks),
         bits AS (SELECT doc_id, i,
                         CASE WHEN SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) > 0
                              THEN 1 ELSE 0 END AS bit
                  FROM h, (SELECT unnest(range(64)) AS i) idx
                  GROUP BY doc_id, i),
         sig AS (SELECT doc_id,
                SUM(CASE WHEN i < 32 AND bit = 1
                    THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS lo,
                SUM(CASE WHEN i >= 32 AND bit = 1
                    THEN CAST(1 AS BIGINT) << (i - 32) ELSE 0 END) AS hi
              FROM bits GROUP BY doc_id),
         -- packed halves + bit_count(xor) keep the pairwise join at
         -- one row per doc pair; the per-(doc, bit) join formulation
         -- spills DuckDB's temp disk at sf0.1
         ham AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM sig a JOIN sig b ON a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.lo, b.lo))
                     + bit_count(xor(a.hi, b.hi)) <= 3),
         d2 AS (SELECT * FROM d1
                WHERE doc_id NOT IN (SELECT id_b FROM ham)),
         tok2 AS (SELECT doc_id,
                list_distinct(CASE WHEN len(string_split_regex(trim(text), '\\s+')) < 3 THEN []
                  ELSE list_transform(range(1, len(string_split_regex(trim(text), '\\s+')) - 1),
                    i -> array_to_string((string_split_regex(trim(text), '\\s+'))[i:i+2], ' ')) END) AS sh
              FROM d2),
         inv0 AS (SELECT doc_id, unnest(sh) AS s FROM tok2 WHERE len(sh) > 0),
         dfq AS (SELECT s FROM inv0 GROUP BY s HAVING count(*) <= $shingleDfCap),
         inv AS (SELECT i.doc_id, i.s FROM inv0 i JOIN dfq USING (s)),
         sizes AS (SELECT doc_id, count(*) AS n FROM inv GROUP BY doc_id),
         cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
         jp AS (SELECT c.id_a, c.id_b FROM cand c
                JOIN sizes sa ON sa.doc_id = c.id_a
                JOIN sizes sb ON sb.doc_id = c.id_b
                WHERE CAST(c.shared AS DOUBLE) / (sa.n + sb.n - c.shared) >= 0.6)
         SELECT doc_id, lang, source FROM d2
         WHERE doc_id NOT IN (SELECT id_b FROM jp)
         ORDER BY doc_id""",
    "q_jaccard_neardup" -> cappedJaccardOracleSql,
    // containment over the quote-augmented corpus; the capped-universe
    // machinery mirrors cappedJaccardCtes but scores shared/|A| with
    // the asymmetric join (a.doc_id <> b.doc_id, both directions)
    "q_containment_pairs" ->
      s"""WITH aug AS (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 10000000,
                      array_to_string(
                        (string_split_regex(trim(text), '\\s+'))[6:20], ' ')
               FROM documents WHERE doc_id % 37 = 0),
         tok AS (SELECT doc_id,
                list_distinct(CASE WHEN len(string_split_regex(trim(text), '\\s+')) < 3 THEN []
                  ELSE list_transform(range(1, len(string_split_regex(trim(text), '\\s+')) - 1),
                    i -> array_to_string((string_split_regex(trim(text), '\\s+'))[i:i+2], ' ')) END) AS sh
              FROM aug),
         inv0 AS (SELECT doc_id, unnest(sh) AS s FROM tok WHERE len(sh) > 0),
         dfq AS (SELECT s FROM inv0 GROUP BY s HAVING count(*) <= $shingleDfCap),
         inv AS (SELECT i.doc_id, i.s FROM inv0 i JOIN dfq USING (s)),
         sizes AS (SELECT doc_id, count(*) AS n FROM inv GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                   FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id <> b.doc_id
                   GROUP BY 1, 2),
         scored AS (SELECT p.id_a, p.id_b,
                           CAST(p.shared AS DOUBLE) / sa.n AS containment
                    FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a)
         SELECT id_a, id_b, containment FROM scored
         WHERE containment >= 0.9 ORDER BY id_a, id_b""",
    "q_source_dup_matrix" -> sourceDupMatrixOracleSql,
    // anti-join against the larger id of every capped-Jaccard pair —
    // the WITH body is cappedJaccardOracleSql's, reused verbatim
    "q_drop_neardups" ->
      (cappedJaccardOracleSql.replaceFirst(
        "(?s)SELECT id_a, id_b, jaccard FROM scored.*$",
        """SELECT d.doc_id, d.lang, d.source FROM documents d
           WHERE d.doc_id NOT IN (
             SELECT id_b FROM scored WHERE jaccard >= 0.6)
           ORDER BY doc_id""")),
    // transitive dedup clusters over the (capped) jaccard pair graph,
    // expressed as min-reachable-id via a recursive CTE
    "q_neardup_components" -> jaccardComponentsOracleSql,
    // same component chain, histogrammed
    "q_dup_cluster_sizes" -> (jaccardComponentsCtes +
      """, cs AS (SELECT component_id, count(*) AS cluster_size
                  FROM comp GROUP BY 1)
         SELECT cluster_size, count(*) AS n_clusters,
                CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         FROM cs GROUP BY 1 ORDER BY cluster_size"""),
    // the star-contraction algorithm must reach the IDENTICAL labeling
    // — components are algorithm-independent, so the same oracle
    // adjudicates it (previously property-spec'd ≡ min-label only)
    "q_neardup_components_star" -> jaccardComponentsOracleSql,
    // from-scratch recompute over the FULL corpus with the UNCAPPED
    // pair rule — the incremental merge must reach the identical
    // min-reachable-id labeling
    "q_incremental_components" ->
      """WITH RECURSIVE
         tok AS (SELECT doc_id,
                list_distinct(CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3 THEN []
                  ELSE list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 1),
                    i -> array_to_string((string_split_regex(trim(text), '\s+'))[i:i+2], ' ')) END) AS sh
              FROM documents),
         sized AS (SELECT doc_id, sh, len(sh) AS n FROM tok WHERE len(sh) > 0),
         inv AS (SELECT doc_id, n, unnest(sh) AS s FROM sized),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb, count(*) AS shared
                   FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2, 3, 4),
         jp AS (SELECT id_a, id_b FROM pairs
                WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.6),
         edges AS (SELECT id_a AS src, id_b AS dst FROM jp
                   UNION SELECT id_b, id_a FROM jp),
         reach(node, root) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node)
         SELECT node AS doc_id, min(root) AS component_id
         FROM reach GROUP BY node ORDER BY doc_id""",
    // FROM-SCRATCH recompute of the WARC-rooted chain over the parquet
    // documents table: the WARC fixture's texts ARE documents.text and
    // keep-latest-per-URL collapses the planted recrawls back to one
    // capture per doc, so the effective corpus is exactly the
    // floor-filtered table; warc_date is the hand-derived per-parity
    // date (08-02 for the %10==0 recrawls night 1 must keep)
    "q_warc_incremental_curation" ->
      """WITH RECURSIVE
         base AS (SELECT doc_id, text,
                CASE WHEN doc_id % 10 = 0 THEN '2026-08-02T00:00:00Z'
                     WHEN doc_id % 2 = 0 THEN '2026-08-01T00:00:00Z'
                     ELSE '2026-08-03T00:00:00Z' END AS warc_date
              FROM documents
              WHERE len(string_split_regex(trim(text), '\s+')) >= 20),
         tok AS (SELECT doc_id,
                list_distinct(CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3 THEN []
                  ELSE list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 1),
                    i -> array_to_string((string_split_regex(trim(text), '\s+'))[i:i+2], ' ')) END) AS sh
              FROM base),
         sized AS (SELECT doc_id, sh, len(sh) AS n FROM tok WHERE len(sh) > 0),
         inv AS (SELECT doc_id, n, unnest(sh) AS s FROM sized),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na,
                     b.n AS nb, count(*) AS shared
                   FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2, 3, 4),
         jp AS (SELECT id_a, id_b FROM pairs
                WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.6),
         edges AS (SELECT id_a AS src, id_b AS dst FROM jp
                   UNION SELECT id_b, id_a FROM jp),
         reach(node, root) AS (
           SELECT doc_id, doc_id FROM base
           UNION
           SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node),
         comp AS (SELECT node AS doc_id, min(root) AS component_id
                  FROM reach GROUP BY node)
         SELECT c.doc_id, c.component_id,
                (c.component_id = c.doc_id) AS keep, b.warc_date
         FROM comp c JOIN base b USING (doc_id)
         ORDER BY c.doc_id""",
    // FROM-SCRATCH recompute of the whole incremental curation chain:
    // cleanTextV2 (q_clean_text_v2's expression) → ≥20-token floor →
    // classifier gate (512-bucket VALUES artifact) → uncapped jaccard
    // components over the gated survivors → keep = min-id canonical
    "q_incremental_curation" ->
      ("""WITH RECURSIVE
         cl AS (SELECT doc_id,
                trim(regexp_replace(regexp_replace(
                  nfc_normalize(regexp_replace(
                    text || ' zero' || chr(8203) || 'width bidi' ||
                      chr(8238) || 'evil' || chr(8236) || ' soft' ||
                      chr(173) || 'hyphen cafe' || chr(769) || chr(1) ||
                      '  end ',
                    '[\x{00AD}\x{200B}-\x{200F}\x{202A}-\x{202E}\x{2060}\x{2066}-\x{2069}\x{FEFF}]',
                    '', 'g')),
                  '[\x00-\x08\x0B-\x1F\x7F]', '', 'g'),
                  ' {2,}', ' ', 'g')) AS t
              FROM documents),
         fl AS (SELECT doc_id, t, string_split_regex(trim(t), '\s+') AS w
                FROM cl
                WHERE len(string_split_regex(trim(t), '\s+')) >= 20),""" +
        s"""
         wts AS MATERIALIZED (
           SELECT bucket, CAST(w AS BIGINT) AS w
           FROM (VALUES ${classifierFixtureValues(512)}) tt(bucket, w)),""" +
        """
         feats AS (
           SELECT doc_id, 'u:' || unnest(w) AS f FROM fl
           UNION ALL
           SELECT doc_id, 'b:' || w[i] || ' ' || w[i + 1] AS f
           FROM fl, LATERAL unnest(generate_series(1, len(w) - 1)) AS g(i)
           WHERE len(w) >= 2),
         fb AS (SELECT doc_id,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(
                      substring(sha256(f), 1, 13), ''),
                      c -> CAST(instr('0123456789abcdef', c) - 1
                        AS BIGINT))),
                    (acc, x) -> acc * 16 + x) % 512 AS bucket
                FROM feats WHERE f <> 'u:'),
         perdoc AS (SELECT doc_id, bucket, count(*) AS c
                    FROM fb GROUP BY 1, 2),
         sc AS (SELECT doc_id, sum(c * w) AS score_sum
                FROM perdoc JOIN wts USING (bucket) GROUP BY 1),
         surv AS (SELECT fl.doc_id, fl.w FROM fl
                  JOIN sc ON sc.doc_id = fl.doc_id AND sc.score_sum > 0),
         tok AS (SELECT doc_id,
                  list_distinct(CASE WHEN len(w) < 3 THEN []
                    ELSE list_transform(range(1, len(w) - 1),
                      i -> array_to_string(w[i:i+2], ' ')) END) AS sh
                FROM surv),
         sized AS (SELECT doc_id, sh, len(sh) AS n FROM tok
                   WHERE len(sh) > 0),
         inv AS (SELECT doc_id, n, unnest(sh) AS s FROM sized),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          a.n AS na, b.n AS nb, count(*) AS shared
                   FROM inv a JOIN inv b
                     ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2, 3, 4),
         jp AS (SELECT id_a, id_b FROM pairs
                WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.6),
         edges AS (SELECT id_a AS src, id_b AS dst FROM jp
                   UNION SELECT id_b, id_a FROM jp),
         reach(node, root) AS (
           SELECT doc_id, doc_id FROM surv
           UNION
           SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node),
         comp AS (SELECT node AS doc_id, min(root) AS component_id
                  FROM reach GROUP BY node)
         SELECT c.doc_id, c.component_id,
                CAST(len(s.w) AS BIGINT) AS n_tokens,
                c.component_id = c.doc_id AS keep
         FROM comp c JOIN surv s ON s.doc_id = c.doc_id
         ORDER BY c.doc_id"""),
    // same recursive-CTE component derivation; the winner per component
    // is the row_number-window formulation of the Spark side's max_by
    // (quality DESC, id ASC) reduction
    "q_best_of_cluster" ->
      s"""WITH RECURSIVE
         tok AS (SELECT doc_id,
                list_distinct(CASE WHEN len(string_split_regex(trim(text), '\\s+')) < 3 THEN []
                  ELSE list_transform(range(1, len(string_split_regex(trim(text), '\\s+')) - 1),
                    i -> array_to_string((string_split_regex(trim(text), '\\s+'))[i:i+2], ' ')) END) AS sh
              FROM documents),
         inv0 AS (SELECT doc_id, unnest(sh) AS s FROM tok WHERE len(sh) > 0),
         dfq AS (SELECT s FROM inv0 GROUP BY s HAVING count(*) <= $shingleDfCap),
         inv AS (SELECT i.doc_id, i.s FROM inv0 i JOIN dfq USING (s)),
         sizes AS (SELECT doc_id, count(*) AS n FROM inv GROUP BY doc_id),
         cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
         jp AS (SELECT c.id_a, c.id_b FROM cand c
                JOIN sizes sa ON sa.doc_id = c.id_a
                JOIN sizes sb ON sb.doc_id = c.id_b
                WHERE CAST(c.shared AS DOUBLE) / (sa.n + sb.n - c.shared) >= 0.6),
         edges AS (SELECT id_a AS src, id_b AS dst FROM jp
                   UNION SELECT id_b, id_a FROM jp),
         reach(node, root) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node)
         SELECT doc_id, lang, source, n_chars FROM (
           SELECT d.doc_id, d.lang, d.source, d.n_chars,
                  row_number() OVER (PARTITION BY c.component_id
                    ORDER BY d.n_chars DESC, d.doc_id) AS rn
           FROM documents d
           JOIN (SELECT node, min(root) AS component_id
                 FROM reach GROUP BY node) c ON c.node = d.doc_id)
         WHERE rn = 1 ORDER BY doc_id""",
    // Brute-force Hamming oracle over signatures recomputed in SQL: the
    // portable token hash (sha256 prefix fold) and the per-bit sign-sums
    // are mirrored exactly, and the banding is pigeonhole-complete for
    // Hamming ≤ bands-1 (4×16 for ≤ 3; 8×8 for the wide ≤ 7 variant),
    // so the banded Spark output EQUALS the exhaustive pair set. Bits
    // 60–63 of the 60-bit hash are constant 0 on both sides (sign -1),
    // contributing nothing to any distance.
    "q_simhash_neardup" -> simhashOracleSql(3),
    "q_simhash_neardup_wide" -> simhashOracleSql(5),
    // exhaustive length-banded cross join over the distinct-name
    // universe; both engines' levenshtein is the exact unit-cost edit
    // distance, so pair sets and distances agree bit-for-bit
    "q_edit_distance_pairs" ->
      """WITH n AS (SELECT DISTINCT p_name AS s FROM part)
         SELECT a.s AS str_a, b.s AS str_b,
                CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
         FROM n a JOIN n b
           ON a.s < b.s AND abs(length(a.s) - length(b.s)) <= 2
         WHERE levenshtein(a.s, b.s) <= 2
         ORDER BY str_a, str_b""",
    "q_event_transitions" ->
      """WITH s AS (SELECT event_type,
                lead(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS nxt
              FROM events)
         SELECT event_type AS from_type, nxt AS to_type, count(*) AS n
         FROM s WHERE nxt IS NOT NULL
         GROUP BY 1, 2 ORDER BY from_type, to_type""",
    "q_moving_avg_sales" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS transaction_date,
                           SUM(value) AS total_sales
                    FROM events GROUP BY 1)
         SELECT transaction_date, total_sales,
                avg(total_sales) OVER (ORDER BY transaction_date
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7
         FROM d ORDER BY transaction_date""",
    // CEP-lite: string_agg ordered by (us, id) + RE2 extract-all —
    // literal/star/group patterns behave identically to Java regex
    "q_event_pattern" ->
      """WITH s AS (SELECT user_id, count(*) AS n_events,
                string_agg(coalesce(event_type, ''), ','
                  ORDER BY epoch_us(ts), event_id) || ',' AS seq
              FROM events
              WHERE user_id IS NOT NULL AND ts IS NOT NULL
                AND event_id IS NOT NULL
              GROUP BY user_id),
         m AS (SELECT user_id, n_events,
                      regexp_extract_all(seq, 'click,(view,)*purchase,')
                        AS ms
               FROM s)
         SELECT user_id, n_events,
                CAST(len(ms) AS INTEGER) AS n_matches,
                ms[1] AS first_match
         FROM m WHERE len(ms) > 0 ORDER BY user_id""",
    // RAKE: identical run construction (prefix-sum islands over
    // stopword flags), word deg/freq over the candidate set, per-
    // occurrence score sums; scores value-compared under tolerance
    "q_keyphrases" ->
      """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
              FROM documents WHERE length(trim(text)) > 0),
         pidx AS (SELECT doc_id, ts,
                  unnest(range(1, len(ts) + 1)) AS pos FROM d),
         toks AS (SELECT doc_id, CAST(pos AS INTEGER) AS pos,
                  ts[CAST(pos AS INTEGER)] AS tok FROM pidx),
         flagged AS (SELECT doc_id, tok, pos,
                CASE WHEN tok IN ('a','the','and','of','to','in','is',
                  'on','for','with') THEN 1 ELSE 0 END AS st
              FROM toks),
         runs AS (SELECT doc_id, tok, pos, st,
                sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS run
              FROM flagged),
         phr AS (SELECT doc_id, run, list(tok ORDER BY pos) AS ws
                 FROM runs WHERE st = 0 GROUP BY doc_id, run),
         cand AS (SELECT doc_id, run, ws,
                  array_to_string(ws, ' ') AS phrase, len(ws) AS l
                  FROM phr WHERE len(ws) BETWEEN 2 AND 4),
         cw AS (SELECT c.doc_id, c.run, c.phrase, c.l,
                       unnest(c.ws) AS tok FROM cand c),
         wstat AS (SELECT tok, count(*) AS freq, sum(l) AS deg
                   FROM cw GROUP BY 1),
         pscore AS (SELECT cw.doc_id, cw.run, cw.phrase,
                  sum(CAST(w.deg AS DOUBLE) / w.freq) AS score
                FROM cw JOIN wstat w ON w.tok = cw.tok GROUP BY 1, 2, 3)
         SELECT phrase, count(*) AS n, min(score) AS score
         FROM pscore GROUP BY phrase HAVING count(*) >= 2
         ORDER BY phrase""",
    // PSI: identical decile construction (integer rank cuts on the
    // reference, v > cut bucketing, (c+1)/(N+10) smoothing); ln is the
    // one libm call — both engines within compare tolerance
    "q_psi_drift" ->
      """WITH r AS (SELECT event_type AS k, CAST(value AS DOUBLE) AS v
                FROM events WHERE ts < TIMESTAMP '2024-01-16'
                  AND event_type IS NOT NULL AND value IS NOT NULL),
         c AS (SELECT event_type AS k, CAST(value AS DOUBLE) AS v
                FROM events WHERE ts >= TIMESTAMP '2024-01-16'
                  AND event_type IS NOT NULL AND value IS NOT NULL),
         rk AS (SELECT k, v,
                  row_number() OVER (PARTITION BY k ORDER BY v) AS rn,
                  count(*) OVER (PARTITION BY k) AS n FROM r),
         cutrows AS (SELECT k, i, v FROM rk CROSS JOIN range(1, 10) t(i)
                     WHERE rn = (i * n + 9) // 10),
         cutarr AS (SELECT k, list(v ORDER BY i) AS cuts
                    FROM cutrows GROUP BY k),
         br AS (SELECT r.k, len(list_filter(a.cuts, x -> r.v > x)) AS b,
                       count(*) AS cnt
                FROM r JOIN cutarr a ON a.k = r.k GROUP BY 1, 2),
         bc AS (SELECT c.k, len(list_filter(a.cuts, x -> c.v > x)) AS b,
                       count(*) AS cnt
                FROM c JOIN cutarr a ON a.k = c.k GROUP BY 1, 2),
         grid AS (SELECT k, unnest(range(0, 10)) AS b FROM cutarr),
         w AS (SELECT g.k, g.b,
                      coalesce(br.cnt, 0) AS cr, coalesce(bc.cnt, 0) AS cc
               FROM grid g
               LEFT JOIN br ON br.k = g.k AND br.b = g.b
               LEFT JOIN bc ON bc.k = g.k AND bc.b = g.b),
         tot AS (SELECT k, sum(cr) AS n_ref, sum(cc) AS n_cur
                 FROM w GROUP BY k)
         SELECT w.k AS event_type,
                CAST(max(t.n_ref) AS BIGINT) AS n_ref,
                CAST(max(t.n_cur) AS BIGINT) AS n_cur,
                sum((CAST(cr + 1 AS DOUBLE) / (t.n_ref + 10)
                     - CAST(cc + 1 AS DOUBLE) / (t.n_cur + 10))
                    * ln((CAST(cr + 1 AS DOUBLE) / (t.n_ref + 10))
                         / (CAST(cc + 1 AS DOUBLE) / (t.n_cur + 10))))
                  AS psi
         FROM w JOIN tot t ON t.k = w.k
         GROUP BY w.k
         UNION ALL
         SELECT c.k, CAST(0 AS BIGINT), CAST(count(*) AS BIGINT),
                CAST(NULL AS DOUBLE)
         FROM c WHERE c.k NOT IN (SELECT k FROM cutarr)
         GROUP BY c.k
         ORDER BY event_type""",
    // attribution: the window formulation replayed as a bounded
    // conversion⋈touch join + rank-1 picks; [c.us − 7d, c.us) matches
    // the Spark range frame exactly, (us, event_id) the struct order
    "q_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type, ts,
                epoch_us(ts) AS us FROM events),
         c AS (SELECT * FROM e WHERE event_type = 'purchase'),
         t AS (SELECT * FROM e WHERE event_type IN ('click', 'view')),
         j AS (SELECT c.user_id, c.event_id AS conv_event_id,
                      t.event_id AS tid, t.event_type AS ttype,
                      row_number() OVER (
                        PARTITION BY c.user_id, c.event_id
                        ORDER BY t.us DESC, t.event_id DESC) AS rl,
                      row_number() OVER (
                        PARTITION BY c.user_id, c.event_id
                        ORDER BY t.us ASC, t.event_id ASC) AS rf
               FROM c JOIN t ON t.user_id = c.user_id
                 AND t.us < c.us
                 AND t.us >= c.us - CAST(7 AS BIGINT) * 86400 * 1000000)
         SELECT c.user_id, c.event_id AS conv_event_id, c.ts AS conv_ts,
                f.tid AS first_touch_id, f.ttype AS first_touch_type,
                l.tid AS last_touch_id, l.ttype AS last_touch_type
         FROM c
         LEFT JOIN (SELECT * FROM j WHERE rf = 1) f
           ON f.user_id = c.user_id AND f.conv_event_id = c.event_id
         LEFT JOIN (SELECT * FROM j WHERE rl = 1) l
           ON l.user_id = c.user_id AND l.conv_event_id = c.event_id
         ORDER BY c.user_id, conv_ts, conv_event_id""",
    // gaps via one global lead — the oracle can afford the single sort
    "q_id_gaps" ->
      """WITH ids AS (SELECT DISTINCT event_id AS id FROM events
                      WHERE event_id % 97 <> 0 AND event_id IS NOT NULL),
         l AS (SELECT id, lead(id) OVER (ORDER BY id) AS nxt FROM ids)
         SELECT id + 1 AS gap_start, nxt - 1 AS gap_end
         FROM l WHERE nxt > id + 1 ORDER BY gap_start""",
    // correlations from the same raw co-moment sums and formula
    "q_numeric_corr" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val selects = (for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield {
        val (a, b) = (cols(i), cols(j))
        s"""SELECT '$a' AS col_x, '$b' AS col_y,
            (CAST(count(*) AS DOUBLE) * sum($a * $b) - sum($a) * sum($b))
              / sqrt((CAST(count(*) AS DOUBLE) * sum($a * $a)
                        - sum($a) * sum($a))
                     * (CAST(count(*) AS DOUBLE) * sum($b * $b)
                        - sum($b) * sum($b))) AS pearson_r
            FROM lineitem"""
      }).mkString("\n           UNION ALL\n           ")
      s"""WITH m AS (
           $selects)
         SELECT col_x, col_y, pearson_r FROM m ORDER BY col_x, col_y"""
    },
    // Benford: floor-div digit (DuckDB CAST rounds, so floor explicit)
    "q_benford" ->
      """WITH p AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS n
                    FROM orders WHERE o_totalprice IS NOT NULL
                      AND o_totalprice >= 1
                      AND o_totalprice < 9007199254740992),
         d AS (SELECT CAST(floor(n / power(10,
                 length(CAST(n AS VARCHAR)) - 1)) AS INTEGER) AS digit
               FROM p),
         c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
         t AS (SELECT count(*) AS t FROM d)
         SELECT digit, c.n,
                CAST(c.n AS DOUBLE) / CAST(t.t AS DOUBLE) AS observed_p,
                log10(CAST(1.0 AS DOUBLE)
                  + CAST(1.0 AS DOUBLE) / digit) AS benford_p
         FROM c, t ORDER BY digit""",
    // Gini: same rank construction, same operand order
    "q_gini_revenue" ->
      """WITH rev AS (SELECT o_custkey, round(sum(o_totalprice), 6) AS rev
                      FROM orders GROUP BY 1),
         r AS (SELECT rev, row_number() OVER (ORDER BY rev, o_custkey)
                 AS rank FROM rev)
         SELECT count(*) AS n, sum(rev) AS total,
                2.0 * sum(CAST(rank AS DOUBLE) * rev)
                  / (CAST(count(*) AS DOUBLE) * sum(rev))
                - CAST(count(*) + 1 AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS gini
         FROM r""",
    // CUSUM: running sum in day order, 6-dp argmax, day tie-break
    "q_changepoint" ->
      """WITH d AS (SELECT event_type AS k, CAST(ts AS DATE) AS dy,
                           round(sum(value), 6) AS x
                    FROM events GROUP BY 1, 2),
         mn AS (SELECT k, round(avg(x), 6) AS m FROM d GROUP BY k),
         c AS (SELECT d.k, d.dy,
                 sum(d.x - mn.m) OVER (PARTITION BY d.k ORDER BY d.dy
                   ROWS UNBOUNDED PRECEDING) AS s
               FROM d JOIN mn ON mn.k = d.k),
         r AS (SELECT k, dy, s, row_number() OVER (PARTITION BY k
                 ORDER BY round(abs(s), 6) DESC, dy ASC) AS rn
               FROM c)
         SELECT k AS event_type, dy AS changepoint_day, s AS cusum
         FROM r WHERE rn = 1 ORDER BY event_type""",
    // DQ suite: each metric an exact integer-count ratio; the verdict
    // comparison can only sit on a float boundary when counts are
    // EXACTLY equal — where both engines divide to the same 1.0
    "q_dq_checks" ->
      """WITH m AS (
           SELECT 'min_rows_lineitem' AS chk,
                  CAST(count(*) AS DOUBLE) AS metric,
                  CAST(1000 AS DOUBLE) AS thr
           FROM lineitem
           UNION ALL
           SELECT 'range_l_quantity_1_50' AS chk,
                  CAST(count(*) FILTER (WHERE l_quantity >= 1
                    AND l_quantity <= 50) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE) AS metric,
                  CAST(1.0 AS DOUBLE) AS thr
           FROM lineitem
           UNION ALL
           SELECT 'range_l_discount_0_005',
                  CAST(count(*) FILTER (WHERE l_discount >= 0
                    AND l_discount <= 0.05) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE), 1.0
           FROM lineitem
           UNION ALL
           SELECT 'complete_l_shipdate',
                  CAST(count(l_shipdate) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE), 1.0
           FROM lineitem
           UNION ALL
           SELECT 'unique_o_orderkey',
                  CAST(count(DISTINCT o_orderkey) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE), 1.0
           FROM orders
           UNION ALL
           SELECT 'ref_orders_customer',
                  CAST(count(*) FILTER (WHERE o_custkey IN
                    (SELECT c_custkey FROM customer)) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE), 1.0
           FROM orders WHERE o_custkey IS NOT NULL)
         SELECT chk AS "check", metric, metric >= thr AS passed
         FROM m ORDER BY chk""",
    // Mann–Kendall: identical rounded daily sums, sign pairs, τ
    "q_trend_test" ->
      """WITH d AS (SELECT event_type AS k, CAST(ts AS DATE) AS dy,
                           round(sum(value), 6) AS x
                    FROM events GROUP BY 1, 2),
         p AS (SELECT a.k, CAST(sign(b.x - a.x) AS BIGINT) AS sgn
               FROM d a JOIN d b ON a.k = b.k AND a.dy < b.dy),
         s AS (SELECT k, sum(sgn) AS s_stat FROM p GROUP BY k),
         n AS (SELECT k, count(*) AS n_days FROM d GROUP BY k)
         SELECT n.k AS event_type, n.n_days,
                CAST(s.s_stat AS BIGINT) AS s_stat,
                CAST(s.s_stat AS DOUBLE)
                  / CAST(n.n_days * (n.n_days - 1) / 2 AS DOUBLE) AS tau
         FROM s JOIN n ON n.k = s.k ORDER BY event_type""",
    // Theil–Sen: pairwise slopes over integer day gaps, median at
    // rank (m+1)//2
    "q_theilsen_trend" ->
      """WITH d AS (SELECT event_type AS k, CAST(ts AS DATE) AS dy,
                           round(sum(value), 6) AS x
                    FROM events GROUP BY 1, 2),
         p AS (SELECT a.k, (b.x - a.x)
                 / CAST(date_diff('day', a.dy, b.dy) AS DOUBLE) AS slope
               FROM d a JOIN d b ON a.k = b.k AND a.dy < b.dy),
         m AS (SELECT k, slope,
                 row_number() OVER (PARTITION BY k ORDER BY slope) AS rn,
                 count(*) OVER (PARTITION BY k) AS m
               FROM p),
         med AS (SELECT k, max(CASE WHEN rn = (m + 1) // 2
                   THEN slope END) AS slope_per_day
                 FROM m GROUP BY k),
         n AS (SELECT k, count(*) AS n_days FROM d GROUP BY k)
         SELECT med.k AS event_type, n.n_days, med.slope_per_day
         FROM med JOIN n ON n.k = med.k ORDER BY event_type""",
    // Holt: the two-variable recurrence as a recursive CTE; sNew's
    // expression appears twice on both sides — identical value
    "q_holt_trend" ->
      """WITH RECURSIVE agg AS (
           SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS x
           FROM events GROUP BY 1, 2),
         d AS (SELECT event_type, day, x,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY day) AS rn
               FROM agg),
         s AS (
           SELECT event_type, day, x, rn, x AS level,
                  CAST(0.0 AS DOUBLE) AS trend
           FROM d WHERE rn = 1
           UNION ALL
           SELECT d.event_type, d.day, d.x, d.rn,
                  d.x * CAST(0.5 AS DOUBLE)
                    + (s.level + s.trend) * CAST(0.5 AS DOUBLE),
                  ((d.x * CAST(0.5 AS DOUBLE)
                    + (s.level + s.trend) * CAST(0.5 AS DOUBLE)) - s.level)
                    * CAST(0.5 AS DOUBLE)
                    + s.trend * CAST(0.5 AS DOUBLE)
           FROM s JOIN d ON d.event_type = s.event_type
                        AND d.rn = s.rn + 1)
         SELECT event_type, day, x AS daily_value, level, trend,
                level + trend AS forecast_next
         FROM s ORDER BY event_type, day""",
    // OHLC: first/last by the same (ts, event_id) total order
    "q_ohlc_bars" ->
      """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day, value,
                           ts, event_id FROM events),
         r AS (SELECT event_type, day, value,
                 row_number() OVER (PARTITION BY event_type, day
                   ORDER BY ts, event_id) AS rn_a,
                 row_number() OVER (PARTITION BY event_type, day
                   ORDER BY ts DESC, event_id DESC) AS rn_d
               FROM e)
         SELECT event_type, day,
                max(CASE WHEN rn_a = 1 THEN value END) AS open,
                max(value) AS high, min(value) AS low,
                max(CASE WHEN rn_d = 1 THEN value END) AS close,
                count(*) AS n
         FROM r GROUP BY 1, 2 ORDER BY event_type, day""",
    // time-to-convert: forward-as-of restated as rank-1, whole-second
    // integer delays, median at rank (n+1)//2
    "q_time_to_convert" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
                    WHERE event_type = 'click'),
         p AS (SELECT user_id, ts, max(event_id) AS pid FROM events
               WHERE event_type = 'purchase' GROUP BY 1, 2),
         j AS (SELECT c.event_id, p.pid, p.ts AS pts,
                 row_number() OVER (PARTITION BY c.event_id
                   ORDER BY p.ts ASC) AS rn
               FROM c JOIN p ON p.user_id = c.user_id AND p.ts >= c.ts),
         f AS (SELECT c.event_id, CAST(c.ts AS DATE) AS day, j1.pid,
                 (epoch_us(j1.pts) - epoch_us(c.ts)) // 1000000 AS delay_s
               FROM c LEFT JOIN (SELECT event_id, pid, pts FROM j
                                 WHERE rn = 1) j1
                 ON j1.event_id = c.event_id),
         g AS (SELECT day, count(*) AS n_clicks, count(pid) AS n_converted
               FROM f GROUP BY day),
         m AS (SELECT day, delay_s,
                 row_number() OVER (PARTITION BY day ORDER BY delay_s) AS rn,
                 count(*) OVER (PARTITION BY day) AS nn
               FROM f WHERE delay_s IS NOT NULL),
         med AS (SELECT day, max(CASE WHEN rn = (nn + 1) // 2
                   THEN delay_s END) AS median_delay_s
                 FROM m GROUP BY day)
         SELECT g.day, g.n_clicks, g.n_converted, med.median_delay_s
         FROM g JOIN med ON med.day = g.day
         WHERE g.n_converted > 0 ORDER BY g.day""",
    // EWMA: the recurrence as a recursive CTE over per-key rn chains —
    // each step referenced once (the pageRank chain precedent, no
    // inlining blowup); s.ewma * 0.5 + d.x * 0.5 matches the Spark
    // fold's operand order exactly
    "q_ewma_daily_sales" ->
      """WITH RECURSIVE agg AS (
           SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS x
           FROM events GROUP BY 1, 2),
         d AS (SELECT event_type, day, x,
                      row_number() OVER (PARTITION BY event_type
                        ORDER BY day) AS rn
               FROM agg),
         s AS (
           SELECT event_type, day, x, rn, x AS ewma FROM d WHERE rn = 1
           UNION ALL
           SELECT d.event_type, d.day, d.x, d.rn,
                  s.ewma * CAST(0.5 AS DOUBLE) + d.x * CAST(0.5 AS DOUBLE)
           FROM s JOIN d ON d.event_type = s.event_type
                        AND d.rn = s.rn + 1)
         SELECT event_type, day, x AS daily_value, ewma
         FROM s ORDER BY event_type, day""",
    // dow seasonal profile: daily totals → ISO-weekday means and the
    // index vs the grand daily mean (two divisions, tolerance-safe)
    "q_seasonal_dow" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
                sum(o_totalprice) AS day_total
              FROM orders GROUP BY 1),
         g AS (SELECT avg(day_total) AS gm FROM daily),
         p AS (SELECT CAST(isodow(day) AS INT) AS dow,
                      count(*) AS n_days,
                      sum(day_total) AS total_sales,
                      avg(day_total) AS mean_sales
               FROM daily GROUP BY 1)
         SELECT p.dow, p.n_days, p.total_sales, p.mean_sales,
                p.mean_sales / g.gm AS seasonal_index
         FROM p, g ORDER BY dow""",
    // avg(BIGINT) here ≡ Spark's avg over exact-integer doubles
    "q_seasonal_anomalies" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
                count(*) AS n_events
              FROM events GROUP BY 1),
         p AS (SELECT CAST(isodow(day) AS INT) AS dow,
                      avg(n_events) AS dow_mean
               FROM daily GROUP BY 1)
         SELECT daily.day, p.dow, daily.n_events,
                CAST(daily.n_events AS DOUBLE) / p.dow_mean AS ratio
         FROM daily JOIN p ON p.dow = CAST(isodow(daily.day) AS INT)
         ORDER BY ratio DESC, day LIMIT 20""",
    // trailing-median spike scores: integer counts, one final double
    // division, full deterministic order under the top-20 cut
    "q_count_anomalies" ->
      """WITH agg AS (SELECT event_type, CAST(ts AS DATE) AS day,
                count(*) AS n FROM events GROUP BY 1, 2),
         w AS (SELECT event_type, day, n,
                      list(n) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING) AS tr
               FROM agg)
         SELECT event_type, day, n, list_sort(tr)[7] AS trail_median,
                CAST(n AS DOUBLE) / CAST(list_sort(tr)[7] AS DOUBLE) AS score
         FROM w WHERE len(tr) = 14
         ORDER BY score DESC, event_type, day LIMIT 20""",
    "q_edit_distance_across" ->
      """WITH n AS (SELECT DISTINCT p_name AS s FROM part),
         l AS (SELECT s FROM n WHERE length(s) % 2 = 0),
         r AS (SELECT s FROM n WHERE length(s) % 2 = 1)
         SELECT l.s AS str_left, r.s AS str_right,
                CAST(levenshtein(l.s, r.s) AS INTEGER) AS dist
         FROM l JOIN r ON abs(length(l.s) - length(r.s)) <= 2
         WHERE levenshtein(l.s, r.s) <= 2
         ORDER BY str_left, str_right""",
    // SCD2: change rows via null-safe lag compare, intervals via lead —
    // the same two windows over the same unique (ts, event_id) order
    "q_scd2_history" ->
      """WITH s AS (
           SELECT user_id, event_type, ts, event_id,
                  lag(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS prev,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS rn
           FROM events),
         c AS (
           SELECT user_id, event_type, ts, event_id FROM s
           WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
         SELECT user_id, event_type AS value, ts AS valid_from,
                lead(ts) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS valid_to,
                CAST(row_number() OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS INTEGER) AS version,
                (lead(ts) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) IS NULL) AS is_current
         FROM c ORDER BY user_id, valid_from""",
    // market-basket pairs: distinct (order, part), self-join per order,
    // support floor 2 — integer counts, hash-exact
    "q_copurchase_pairs" ->
      """WITH g AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item
                    FROM lineitem WHERE l_orderkey % 4 = 0)
         SELECT a.item AS item_a, b.item AS item_b,
                count(*) AS n_groups
         FROM g a JOIN g b ON a.grp = b.grp AND a.item < b.item
         GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY item_a, item_b""",
    "q_copurchase_degree" ->
      """WITH g AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item
                    FROM lineitem WHERE l_orderkey % 4 = 0),
         e AS (SELECT a.item AS ia, b.item AS ib
               FROM g a JOIN g b ON a.grp = b.grp AND a.item < b.item
               GROUP BY 1, 2 HAVING count(*) >= 2),
         d AS (SELECT ia AS node FROM e UNION ALL SELECT ib FROM e)
         SELECT node, count(*) AS degree FROM d GROUP BY node
         ORDER BY node""",
    // exhaustive a<b<c triangle join — any correct counting algorithm
    // (Spark runs the degree-ordered orientation) yields the same count
    "q_copurchase_triangles" ->
      """WITH g AS (SELECT DISTINCT l_orderkey AS grp, l_partkey AS item
                    FROM lineitem WHERE l_orderkey % 4 = 0),
         e AS (SELECT a.item AS ia, b.item AS ib
               FROM g a JOIN g b ON a.grp = b.grp AND a.item < b.item
               GROUP BY 1, 2 HAVING count(*) >= 2)
         SELECT count(*) AS n_triangles
         FROM e e1 JOIN e e2 ON e1.ib = e2.ia
              JOIN e e3 ON e3.ia = e1.ia AND e3.ib = e2.ib""",
    // BFS min-hop labels: the recursive CTE explores every path but
    // the d < 4 guard bounds it; min(d) per node ≡ BFS first-entry
    "q_bfs_hops" ->
      """WITH RECURSIVE g AS (SELECT DISTINCT l_orderkey AS grp,
                l_partkey AS item FROM lineitem WHERE l_orderkey % 4 = 0),
         e AS (SELECT a.item AS ia, b.item AS ib
               FROM g a JOIN g b ON a.grp = b.grp AND a.item < b.item
               GROUP BY 1, 2 HAVING count(*) >= 2),
         ed AS (SELECT ia AS src, ib AS dst FROM e
                UNION SELECT ib, ia FROM e),
         seeds AS (SELECT DISTINCT src AS node FROM ed WHERE src % 13 = 0),
         reach(node, d) AS (
           SELECT node, 0 FROM seeds
           UNION
           SELECT ed.dst, r.d + 1 FROM reach r JOIN ed ON ed.src = r.node
           WHERE r.d < 4)
         SELECT node, CAST(min(d) AS INT) AS hops
         FROM reach GROUP BY node ORDER BY node""",
    // discrete quantiles: value AT sorted position max(1, ceil(p·n)) —
    // tie permutations can't change the value at a fixed position
    "q_group_quantiles" ->
      """WITH r AS (
           SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY value) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM events WHERE value IS NOT NULL),
         p AS (SELECT CAST(p AS DOUBLE) AS p
               FROM (VALUES (0.5), (0.9), (0.99)) t(p))
         SELECT event_type, p, value AS quantile
         FROM r JOIN p ON rn = greatest(1, CAST(ceil(p * n) AS BIGINT))
         ORDER BY event_type, p""",
    "q_trimmed_mean" ->
      """WITH r AS (
           SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY value) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM events WHERE value IS NOT NULL),
         k AS (SELECT event_type, value, n FROM r
               WHERE rn > n * 1 // 10 AND rn <= n - n * 1 // 10)
         SELECT event_type, CAST(max(n) AS BIGINT) AS n_total,
                count(*) AS n_kept,
                sum(value) / count(*) AS trimmed_mean
         FROM k GROUP BY 1 ORDER BY event_type""",
    // MAD outliers: both medians are discrete quantiles (actual data
    // values), so dev/spread are short identical IEEE chains
    "q_mad_outliers" ->
      """WITH v AS (SELECT event_id, event_type, value FROM events
                    WHERE value IS NOT NULL),
         r AS (SELECT event_type, value,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY value) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS n
               FROM v),
         med AS (SELECT event_type, value AS center FROM r
                 WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))),
         d AS (SELECT v.event_id, v.event_type, v.value, med.center,
                      abs(v.value - med.center) AS dev
               FROM v JOIN med
                 ON v.event_type IS NOT DISTINCT FROM med.event_type),
         r2 AS (SELECT event_type, dev,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY dev) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
                FROM d),
         mad AS (SELECT event_type, dev AS mad FROM r2
                 WHERE rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT)))
         SELECT d.event_id, d.event_type, d.value, d.center,
                (3.0 * 1.4826) * mad.mad AS spread
         FROM d JOIN mad
           ON d.event_type IS NOT DISTINCT FROM mad.event_type
         WHERE d.dev > (3.0 * 1.4826) * mad.mad
         ORDER BY event_id""",
    // histogram: bin index and left edge are each one multiply-divide
    // chain mirrored verbatim — bit-exact bins
    "q_value_histogram" ->
      """WITH b AS (SELECT CAST(min(value) AS DOUBLE) AS lo,
                           CAST(max(value) AS DOUBLE) AS hi
                    FROM events WHERE value IS NOT NULL),
         x AS (SELECT CASE WHEN hi = lo THEN 0
                      ELSE least(19, CAST(floor(((value - lo) * 20) /
                             (hi - lo)) AS BIGINT)) END AS bucket,
                      lo, hi
               FROM events, b WHERE value IS NOT NULL)
         SELECT bucket, lo + (bucket * (hi - lo)) / 20 AS bin_lo,
                count(*) AS n
         FROM x GROUP BY bucket, lo, hi ORDER BY bucket""",
    // the merged two-summary path must equal the from-scratch scan
    "q_incremental_stats" ->
      """SELECT event_type, sum(value) AS s, count(value) AS cnt,
                min(value) AS mn, max(value) AS mx,
                sum(value) / count(value) AS mean
         FROM events WHERE value IS NOT NULL
         GROUP BY event_type ORDER BY event_type""",
    "q_profile_columns" ->
      """SELECT * FROM (
           SELECT 'event_id' AS column_name, count(*) AS n_rows,
                  count(*) - count(event_id) AS n_nulls,
                  count(DISTINCT event_id) AS n_distinct FROM events
           UNION ALL
           SELECT 'user_id', count(*), count(*) - count(user_id),
                  count(DISTINCT user_id) FROM events
           UNION ALL
           SELECT 'event_type', count(*), count(*) - count(event_type),
                  count(DISTINCT event_type) FROM events
           UNION ALL
           SELECT 'value', count(*), count(*) - count(value),
                  count(DISTINCT value) FROM events
           UNION ALL
           SELECT 'props', count(*), count(*) - count(props),
                  count(DISTINCT props) FROM events) u
         ORDER BY column_name""",
    // PMI odds ratio (c_xy·N)/(c_x·c_y): exact integer counts into one
    // multiply-divide chain — ranking and cut bit-exact, no log
    "q_pmi_bigrams" ->
      """WITH toks AS (SELECT string_split_regex(trim(text), '\s+') AS lst
                       FROM documents WHERE length(trim(text)) > 0),
         bgx AS (SELECT unnest(list_zip(lst[1:len(lst)-1],
                                        lst[2:len(lst)])) AS z
                 FROM toks WHERE len(lst) >= 2),
         bi AS (SELECT z[1] AS w1, z[2] AS w2, count(*) AS n_pair
                FROM bgx GROUP BY 1, 2),
         uni AS (SELECT term, count(*) AS n FROM (
                   SELECT unnest(string_split_regex(trim(text), '\s+'))
                     AS term FROM documents) t
                 WHERE length(term) > 0 GROUP BY term),
         tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n_total FROM bi)
         SELECT b.w1, b.w2, b.n_pair,
                (CAST(b.n_pair AS DOUBLE) * t.n_total) /
                  (CAST(u1.n AS DOUBLE) * u2.n) AS pmi_ratio
         FROM bi b JOIN uni u1 ON b.w1 = u1.term
              JOIN uni u2 ON b.w2 = u2.term CROSS JOIN tot t
         WHERE b.n_pair >= 5
         ORDER BY pmi_ratio DESC, w1, w2 LIMIT 100""",
    "q_zorder_values" -> zorderOracleSql,
    // Flesch formula written as the same IEEE expression tree as the
    // Spark side; counts from the same portable regexes
    "q_readability" ->
      """WITH f AS (SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE CAST(len(string_split_regex(trim(text), '\s+'))
                    AS BIGINT) END AS n_words,
             CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
               AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS BIGINT) AS n_syllables
           FROM documents)
         SELECT doc_id, n_words, n_sentences, n_syllables,
                CASE WHEN n_words = 0 THEN NULL
                     ELSE 206.835 -
                          (1.015 * (CAST(n_words AS DOUBLE) /
                            greatest(n_sentences, 1))) -
                          (84.6 * (CAST(n_syllables AS DOUBLE) / n_words))
                END AS flesch
         FROM f ORDER BY doc_id""",
    // bigram generation exactly as q_pmi_bigrams; vocabulary cut on
    // (count desc, bigram asc) mirrors the Spark orderBy+limit
    "q_oov_rate" ->
      """WITH toks AS (SELECT doc_id,
                string_split_regex(trim(text), '\s+') AS lst
              FROM documents WHERE length(trim(text)) > 0),
         bgx AS (SELECT doc_id, z[1] || ' ' || z[2] AS bg
                 FROM (SELECT doc_id,
                         unnest(list_zip(lst[1:len(lst)-1],
                                         lst[2:len(lst)])) AS z
                       FROM toks WHERE len(lst) >= 2)),
         vocab AS (SELECT bg FROM (
                     SELECT bg, count(*) AS n FROM bgx
                     GROUP BY bg ORDER BY n DESC, bg LIMIT 1000)),
         perdoc AS (SELECT doc_id, bg, count(*) AS c
                    FROM bgx GROUP BY 1, 2)
         SELECT p.doc_id,
                CAST(sum(p.c) AS BIGINT) AS n_bigrams,
                CAST(sum(CASE WHEN v.bg IS NULL THEN p.c ELSE 0 END)
                  AS BIGINT) AS n_oov,
                CAST(sum(CASE WHEN v.bg IS NULL THEN p.c ELSE 0 END)
                  AS DOUBLE) / sum(p.c) AS oov_rate
         FROM perdoc p LEFT JOIN vocab v ON p.bg = v.bg
         GROUP BY 1 ORDER BY doc_id""",
    "q_bigram_logprob" ->
      """WITH toks AS (SELECT doc_id,
                string_split_regex(trim(text), '\s+') AS t
              FROM documents WHERE length(trim(text)) > 0),
         bg AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
                FROM toks, LATERAL unnest(generate_series(1, len(t) - 1))
                  AS g(i)
                WHERE len(t) >= 2),
         perdoc AS (SELECT doc_id, w1, w2, count(*) AS c
                    FROM bg GROUP BY 1, 2, 3),
         bgc AS (SELECT w1, w2, sum(c) AS c_bg FROM perdoc GROUP BY 1, 2),
         ctx AS (SELECT w1, sum(c_bg) AS c_ctx FROM bgc GROUP BY 1),
         ugc AS (SELECT w2, count(*) AS c_ug
                 FROM (SELECT unnest(t) AS w2 FROM toks) GROUP BY 1),
         tot AS (SELECT sum(c_ug) AS nn FROM ugc)
         SELECT p.doc_id, CAST(sum(p.c) AS BIGINT) AS n_bigrams,
                sum(p.c * -log2(
                  0.7::DOUBLE * (b.c_bg / CAST(x.c_ctx AS DOUBLE))
                  + (1.0::DOUBLE - 0.7::DOUBLE)
                    * (u.c_ug / CAST(t.nn AS DOUBLE)))) / sum(p.c)
                  AS bits_per_token
         FROM perdoc p
         JOIN bgc b ON b.w1 = p.w1 AND b.w2 = p.w2
         JOIN ctx x ON x.w1 = p.w1
         JOIN ugc u ON u.w2 = p.w2
         CROSS JOIN tot t
         GROUP BY 1 ORDER BY doc_id""",
    "q_dsir_weights" ->
      """WITH toks AS (SELECT doc_id, lang,
                string_split_regex(trim(text), '\s+') AS t
              FROM documents WHERE length(trim(text)) > 0),
         feats AS (
           SELECT doc_id, lang, 'u:' || unnest(t) AS f FROM toks
           UNION ALL
           SELECT doc_id, lang, 'b:' || t[i] || ' ' || t[i + 1] AS f
           FROM toks, LATERAL unnest(generate_series(1, len(t) - 1))
             AS g(i)
           WHERE len(t) >= 2),
         fb AS (SELECT doc_id, lang,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(
                      substring(sha256(f), 1, 13), ''),
                      c -> CAST(instr('0123456789abcdef', c) - 1
                        AS BIGINT))),
                    (acc, x) -> acc * 16 + x) % 4096 AS bucket
                FROM feats),
         perdoc AS (SELECT doc_id, lang, bucket, count(*) AS c
                    FROM fb GROUP BY 1, 2, 3),
         tgt AS (SELECT bucket, sum(c) AS c_t FROM perdoc
                 WHERE lang = 'en' GROUP BY 1),
         raw AS (SELECT bucket, sum(c) AS c_r FROM perdoc GROUP BY 1),
         tot AS (SELECT (SELECT sum(c_r) FROM raw) AS cr,
                        (SELECT coalesce(sum(c_t), 0) FROM tgt) AS ct)
         SELECT p.doc_id, CAST(sum(p.c) AS BIGINT) AS n_feats,
                sum(p.c * (ln((coalesce(t2.c_t, 0) + 1)
                             / (tot.ct + 4096.0))
                         - ln((r.c_r + 1) / (tot.cr + 4096.0))))
                  AS log_weight
         FROM perdoc p
         JOIN raw r ON r.bucket = p.bucket
         LEFT JOIN tgt t2 ON t2.bucket = p.bucket
         CROSS JOIN tot
         GROUP BY 1 ORDER BY doc_id""",
    // same sha52 bucketing as DSIR; the weight is one integer
    // expression of the bucket, so every aggregate is BIGINT-exact
    "q_quality_classifier" ->
      (classifierScoreCtes +
        """ SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
                CAST(score_sum AS BIGINT) AS score_sum,
                score_sum > 0 AS label
         FROM sc ORDER BY doc_id"""),
    // the shipped-artifact apply path: identical scoring pipeline, but
    // the weights come from a 512-row VALUES literal (the artifact)
    // joined in, not an inline formula — BIGINT-exact end to end
    "q_classifier_apply" ->
      (classifierApplyCtes(512) +
        """ SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
                CAST(score_sum AS BIGINT) AS score_sum,
                score_sum > 0 AS label
         FROM sc ORDER BY doc_id"""),
    // classifier scores ranked per source: rn ≤ 8 under
    // (score desc, id) ≡ the TopKAggregator policy
    "q_domain_quota_best" ->
      (classifierApplyCtes(512) +
        """ SELECT doc_id, source, score_sum FROM (
           SELECT d.doc_id, d.source,
                  CAST(sc.score_sum AS BIGINT) AS score_sum,
                  row_number() OVER (PARTITION BY d.source
                    ORDER BY sc.score_sum DESC, d.doc_id) AS rn
           FROM documents d JOIN sc ON sc.doc_id = d.doc_id) q
         WHERE rn <= 8 ORDER BY doc_id"""),
    // classifier chain + whitespace token counts grouped per source —
    // every output column BIGINT
    "q_source_profile" ->
      (classifierApplyCtes(512) +
        """ SELECT d.source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(len(string_split_regex(trim(d.text), '\s+')))
                  AS BIGINT) AS n_tokens,
                CAST(sum(sc.score_sum) AS BIGINT) AS sum_score,
                CAST(sum(CASE WHEN sc.score_sum > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pass
         FROM documents d JOIN sc ON sc.doc_id = d.doc_id
         GROUP BY d.source ORDER BY d.source"""),
    // RRF over two integer-exact rankings (classifier score, n_chars):
    // identical ranks both engines => identical rrf doubles, cut safe
    "q_rank_fusion" ->
      (classifierScoreCtes +
        """, r1 AS (SELECT doc_id, row_number() OVER (
                 ORDER BY score_sum DESC, doc_id) AS r1 FROM sc),
         r2 AS (SELECT doc_id, row_number() OVER (
                 ORDER BY n_chars DESC, doc_id) AS r2 FROM documents),
         f AS (SELECT r1.doc_id, CAST(r1.r1 AS BIGINT) AS r1,
                      CAST(r2.r2 AS BIGINT) AS r2,
                      CAST(1.0 AS DOUBLE) / (60 + r1.r1)
                        + CAST(1.0 AS DOUBLE) / (60 + r2.r2) AS rrf
               FROM r1 JOIN r2 ON r2.doc_id = r1.doc_id)
         SELECT doc_id, r1, r2, rrf FROM f
         ORDER BY rrf DESC, doc_id LIMIT 20"""),
    // hybrid RRF: the q_bm25_topk arithmetic tree cut at 50 fused with
    // the exactTopK cosine formulation for query vec 0; absent ranks
    // are 0 and contribute nothing
    "q_hybrid_retrieval" ->
      """WITH toks AS (SELECT doc_id,
                unnest(string_split_regex(trim(text), '\s+')) AS t
              FROM documents WHERE length(trim(text)) > 0),
         lens AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         na AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
         tf AS (SELECT doc_id, t, count(*) AS tf FROM toks
                WHERE t IN ('spark', 'query', 'vector') GROUP BY 1, 2),
         dfr AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
         s AS (SELECT tf.doc_id,
                 ln((na.n_docs - dfr.df + CAST(0.5 AS DOUBLE))
                      / (dfr.df + CAST(0.5 AS DOUBLE))
                    + CAST(1.0 AS DOUBLE))
                   * tf.tf * CAST(2.25 AS DOUBLE)
                   / (tf.tf + CAST(1.25 AS DOUBLE)
                        * (CAST(0.25 AS DOUBLE)
                           + CAST(0.75 AS DOUBLE) * lens.dl / na.avgdl))
                   AS s
               FROM tf JOIN dfr USING (t)
               JOIN lens ON lens.doc_id = tf.doc_id
               CROSS JOIN na),
         bm AS (SELECT doc_id, sum(s) AS bm25 FROM s GROUP BY 1
                ORDER BY bm25 DESC, doc_id LIMIT 50),
         lex AS (SELECT doc_id, CAST(row_number() OVER (
                   ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_lex
                 FROM bm),
         q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
               WHERE vec_id = 0
                 AND list_dot_product(embedding::DOUBLE[],
                       embedding::DOUBLE[]) > 0),
         c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv
               FROM embeddings
               WHERE list_dot_product(embedding::DOUBLE[],
                       embedding::DOUBLE[]) > 0),
         dsc AS (SELECT nid, list_cosine_similarity(cv, qv) AS cos
                 FROM c, q WHERE nid <> 0),
         dr AS (SELECT nid AS doc_id, CAST(row_number() OVER (
                  ORDER BY cos DESC, nid) AS BIGINT) AS r_dense
                FROM dsc ORDER BY cos DESC, nid LIMIT 50),
         f AS (SELECT coalesce(lex.doc_id, dr.doc_id) AS doc_id,
                      coalesce(lex.r_lex, 0) AS r_lex,
                      coalesce(dr.r_dense, 0) AS r_dense
               FROM lex FULL OUTER JOIN dr ON dr.doc_id = lex.doc_id)
         SELECT doc_id, r_lex, r_dense,
                (CASE WHEN r_lex > 0
                      THEN CAST(1.0 AS DOUBLE) / (60 + r_lex)
                      ELSE CAST(0.0 AS DOUBLE) END
                 + CASE WHEN r_dense > 0
                        THEN CAST(1.0 AS DOUBLE) / (60 + r_dense)
                        ELSE CAST(0.0 AS DOUBLE) END) AS rrf
         FROM f ORDER BY rrf DESC, doc_id LIMIT 20""",
    "q_unigram_logprob" ->
      """WITH toks AS (SELECT doc_id,
                unnest(string_split_regex(trim(text), '\s+')) AS tok
              FROM documents WHERE length(trim(text)) > 0),
         perdoc AS (SELECT doc_id, tok, count(*) AS c
                    FROM toks GROUP BY 1, 2),
         vocab AS (SELECT tok, sum(c) AS n FROM perdoc GROUP BY 1),
         tot AS (SELECT sum(n) AS nn FROM vocab)
         SELECT p.doc_id, CAST(sum(p.c) AS BIGINT) AS n_tokens,
                sum(p.c * -log2(CAST(v.n AS DOUBLE) / t.nn)) / sum(p.c)
                  AS bits_per_token
         FROM perdoc p JOIN vocab v ON v.tok = p.tok CROSS JOIN tot t
         GROUP BY 1 ORDER BY doc_id""",
    // cross-doc boilerplate: doc-frequency over distinct (line, doc),
    // lines in >= 3 docs removed EVERYWHERE, docs reassembled in line
    // order; all-boilerplate docs survive with text = ''
    "q_boilerplate_lines" ->
      """WITH w AS (SELECT doc_id,
                replace(text, ' the ', chr(10)) AS text
              FROM documents WHERE text IS NOT NULL),
         t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM w),
         ln AS (SELECT doc_id, ls[i] AS l, i
                FROM t, LATERAL unnest(generate_series(1, len(ls)))
                  AS g(i)),
         df AS (SELECT l, count(DISTINCT doc_id) AS d FROM ln GROUP BY 1),
         keep AS (SELECT ln.doc_id, ln.l, ln.i
                  FROM ln JOIN df ON df.l = ln.l WHERE df.d < 3),
         agg AS (SELECT doc_id,
                   string_agg(l, chr(10) ORDER BY i) AS text,
                   count(*) AS n_kept
                 FROM keep GROUP BY 1)
         SELECT t.doc_id AS doc_id, coalesce(a.text, '') AS text,
                CAST(len(t.ls) AS BIGINT) AS n_lines,
                CAST(len(t.ls) - coalesce(a.n_kept, 0) AS BIGINT)
                  AS n_dropped
         FROM t LEFT JOIN agg a ON a.doc_id = t.doc_id
         ORDER BY t.doc_id""",
    "q_dedup_lines" ->
      """WITH w AS (SELECT doc_id,
                replace(text, ' the ', chr(10)) || chr(10)
                  || substring(text, 1, 30) || chr(10)
                  || substring(text, 1, 30) AS text
              FROM documents),
         t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM w),
         ln AS (SELECT doc_id, ls[i] AS l, i
                FROM t, LATERAL unnest(generate_series(1, len(ls)))
                  AS g(i)),
         firsts AS (SELECT doc_id, l, min(i) AS fi FROM ln GROUP BY 1, 2),
         agg AS (SELECT doc_id,
                   string_agg(l, chr(10) ORDER BY fi) AS text,
                   count(*) AS n_kept
                 FROM firsts GROUP BY 1)
         SELECT t.doc_id AS doc_id, a.text,
                CAST(len(t.ls) AS BIGINT) AS n_lines,
                CAST(len(t.ls) - a.n_kept AS BIGINT) AS n_dropped
         FROM t JOIN agg a ON a.doc_id = t.doc_id
         ORDER BY t.doc_id""",
    // KMV sketch: bottom-64 distinct sha52 hashes per group via a
    // window (the oracle may shuffle everything; the Spark side keeps
    // ≤ k per partition) — estimator arithmetic written in the exact
    // association order of Kmv.estimateCol, so doubles hash-match
    "q_distinct_kmv" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
                ${sha52Sql("CAST(user_id AS VARCHAR)")} AS h
              FROM events
              WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
         r AS (SELECT event_type, h, row_number()
                 OVER (PARTITION BY event_type ORDER BY h) AS rn
               FROM h),
         k AS (SELECT event_type, count(*) AS n_kept,
                      max(CASE WHEN rn = 64 THEN h END) AS hk
               FROM r WHERE rn <= 64 GROUP BY 1)
         SELECT event_type, CAST(n_kept AS INT) AS n_kept,
                CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
                     ELSE CAST(63 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
                          / hk END AS est_distinct
         FROM k ORDER BY event_type""",
    // MRL exact regime: the ceil(q·n)-th order statistic per customer;
    // q literals CAST to DOUBLE so both engines run the same IEEE
    // multiply (a bare 0.25 is DECIMAL in DuckDB), though 0.25/0.5/0.75
    // are exact binary fractions either way
    "q_mrl_quantiles" ->
      """WITH r AS (SELECT o_custkey, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice) AS rn,
                count(*) OVER (PARTITION BY o_custkey) AS n
              FROM orders)
         SELECT o_custkey, CAST(max(n) AS BIGINT) AS n,
                CAST(1 AS BIGINT) AS err_bound,
                max(CASE WHEN rn = CAST(ceil(CAST(0.25 AS DOUBLE) * n) AS BIGINT)
                         THEN o_totalprice END) AS p25,
                max(CASE WHEN rn = CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT)
                         THEN o_totalprice END) AS p50,
                max(CASE WHEN rn = CAST(ceil(CAST(0.75 AS DOUBLE) * n) AS BIGINT)
                         THEN o_totalprice END) AS p75
         FROM r GROUP BY o_custkey ORDER BY o_custkey""",
    // theta-sketch overlap: the same bottom-256 construction on each
    // corpus half of the 3-gram shingle universe; θ = min of the two
    // k-th minima (M when unsaturated), intersection counted below θ,
    // union by inclusion–exclusion in the Spark side's association
    // order. All M literals CAST to DOUBLE — a bare 4503599627370496.0
    // is DECIMAL in DuckDB and its products overflow DECIMAL(18)
    "q_kmv_shingle_overlap" ->
      s"""WITH t AS (SELECT doc_id,
                string_split_regex(trim(text), '\\s+') AS ts
              FROM documents),
         toks AS (SELECT doc_id, unnest(
                CASE WHEN len(ts) < 3 THEN []
                     ELSE list_transform(range(1, len(ts) - 1),
                       i -> array_to_string(ts[i:i+2], ' ')) END) AS tok
              FROM t),
         haa AS (SELECT DISTINCT ${sha52Sql("tok")} AS h FROM toks
                 WHERE doc_id % 2 = 0),
         hba AS (SELECT DISTINCT ${sha52Sql("tok")} AS h FROM toks
                 WHERE doc_id % 2 <> 0),
         ka AS (SELECT h FROM haa ORDER BY h LIMIT 256),
         kb AS (SELECT h FROM hba ORDER BY h LIMIT 256),
         pa AS (SELECT count(*) AS n_a, max(h) AS hka FROM ka),
         pb AS (SELECT count(*) AS n_b, max(h) AS hkb FROM kb),
         th AS (SELECT n_a, n_b, hka, hkb,
                 LEAST(CASE WHEN n_a < 256
                            THEN CAST(4503599627370496 AS DOUBLE)
                            ELSE CAST(hka AS DOUBLE) END,
                       CASE WHEN n_b < 256
                            THEN CAST(4503599627370496 AS DOUBLE)
                            ELSE CAST(hkb AS DOUBLE) END) AS theta
                FROM pa CROSS JOIN pb),
         inter AS (SELECT count(*) AS n_inter
                   FROM ka JOIN kb USING (h) CROSS JOIN th
                   WHERE CAST(h AS DOUBLE) < th.theta),
         est AS (SELECT CAST(t.n_a AS INT) AS n_a_kept,
                        CAST(t.n_b AS INT) AS n_b_kept,
                        CAST(i.n_inter AS INT) AS n_inter,
                        CASE WHEN t.n_a < 256 THEN CAST(t.n_a AS DOUBLE)
                             ELSE CAST(255 AS DOUBLE)
                                  * CAST(4503599627370496 AS DOUBLE)
                                  / t.hka END AS est_a,
                        CASE WHEN t.n_b < 256 THEN CAST(t.n_b AS DOUBLE)
                             ELSE CAST(255 AS DOUBLE)
                                  * CAST(4503599627370496 AS DOUBLE)
                                  / t.hkb END AS est_b,
                        CAST(i.n_inter AS DOUBLE)
                          * CAST(4503599627370496 AS DOUBLE)
                          / t.theta AS est_inter
                 FROM th t CROSS JOIN inter i)
         SELECT n_a_kept, n_b_kept, n_inter, est_a, est_b, est_inter,
                (est_a + est_b) - est_inter AS est_union,
                est_inter / ((est_a + est_b) - est_inter) AS jaccard_est
         FROM est""",
    "q_pca_top_component" -> pcaOracleSql(iters = 10),
    // count-min: the sketch TABLE itself is replicated (same sha52 row
    // hashes, same cells), then probed with the same min-over-rows —
    // integer counts end-to-end, hash-exact
    "q_countmin_freqs" ->
      s"""WITH toks AS (SELECT unnest(
                string_split_regex(trim(text), '\\s+')) AS tok
              FROM documents WHERE length(trim(text)) > 0),
         rows_ AS (SELECT unnest(generate_series(0, 3)) AS j),
         cm AS (SELECT j, hb, count(*) AS cnt FROM (
                  SELECT g.j,
                    ${sha52Sql("(CAST(g.j AS VARCHAR) || ':' || t.tok)")}
                      % 64 AS hb
                  FROM toks t CROSS JOIN rows_ g)
                GROUP BY 1, 2),
         exact AS (SELECT tok, count(*) AS exact_count FROM toks
                   GROUP BY 1),
         probes AS (SELECT e.tok, g.j,
                     ${sha52Sql("(CAST(g.j AS VARCHAR) || ':' || e.tok)")}
                       % 64 AS hb
                    FROM exact e CROSS JOIN rows_ g),
         est AS (SELECT p.tok,
                        min(coalesce(c.cnt, 0)) AS est_count
                 FROM probes p
                 LEFT JOIN cm c ON c.j = p.j AND c.hb = p.hb
                 GROUP BY 1)
         SELECT est.tok, CAST(est.est_count AS BIGINT) AS est_count,
                e2.exact_count
         FROM est JOIN exact e2 USING (tok) ORDER BY tok""",
    // count-min self-join estimate: same cells, row-wise Σ cnt², min
    // over rows — integer-exact on both sides
    "q_countmin_joinsize" ->
      s"""WITH rows_ AS (SELECT unnest(generate_series(0, 3)) AS j),
         cm AS (SELECT j, hb, count(*) AS cnt FROM (
                  SELECT g.j,
                    ${sha52Sql("(CAST(g.j AS VARCHAR) || ':' || CAST(t.l_partkey AS VARCHAR))")}
                      % 256 AS hb
                  FROM lineitem t CROSS JOIN rows_ g
                  WHERE t.l_partkey IS NOT NULL)
                GROUP BY 1, 2),
         re AS (SELECT j, sum(cnt * cnt) AS r FROM cm GROUP BY 1),
         est AS (SELECT min(r) AS est_join_size FROM re),
         exact AS (SELECT sum(c * c) AS exact_join_size FROM (
                     SELECT count(*) AS c FROM lineitem
                     WHERE l_partkey IS NOT NULL GROUP BY l_partkey))
         SELECT CAST(e.est_join_size AS BIGINT) AS est_join_size,
                CAST(x.exact_join_size AS BIGINT) AS exact_join_size
         FROM est e CROSS JOIN exact x""",
    // HLL: bucket = h mod 64, rho = 47 − bitlength(h div 64) via the
    // minimal-length bin() both engines share (no float log2), register
    // maxima per group, then the INTEGER harmonic-sum S = Σ 2^(47−rho)
    // with empty registers contributing 2^47. est_raw =
    // (0.709·2^59)/S — two exact factors, one shared α rounding, one
    // division. sum(BIGINT) is HUGEINT in DuckDB → CAST back
    "q_hll_distinct" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
                ${sha52Sql("CAST(user_id AS VARCHAR)")} AS h
              FROM events
              WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
         b AS (SELECT event_type, h % 64 AS bucket,
                      CASE WHEN h // 64 = 0 THEN 47
                           ELSE 47 - length(bin(h // 64)) END AS rho
               FROM h),
         r AS (SELECT event_type, bucket, max(rho) AS rho
               FROM b GROUP BY 1, 2),
         s AS (SELECT event_type,
                      CAST(64 - count(*) AS INT) AS n_zero,
                      CAST(sum(CAST(1 AS BIGINT) << (47 - rho))
                        + (64 - count(*)) * (CAST(1 AS BIGINT) << 47)
                        AS BIGINT) AS s_scaled
               FROM r GROUP BY 1),
         ex AS (SELECT event_type,
                       count(DISTINCT user_id) AS exact_distinct
                FROM events
                WHERE event_type IS NOT NULL AND user_id IS NOT NULL
                GROUP BY 1)
         SELECT s.event_type, s.n_zero, s.s_scaled,
                CAST(0.709 AS DOUBLE) * CAST(576460752303423488 AS DOUBLE)
                  / CAST(s.s_scaled AS DOUBLE) AS est_raw,
                ex.exact_distinct
         FROM s JOIN ex USING (event_type) ORDER BY event_type""",
    // HLL register merge ≡ sketch of the union: per-half register
    // tables unioned + re-maxed (= the full-outer-join greatest the
    // Spark side does), same scalarization as q_hll_distinct on each
    "q_hll_union" ->
      s"""WITH t AS (SELECT doc_id,
                string_split_regex(trim(text), '\\s+') AS ts
              FROM documents),
         toks AS (SELECT doc_id, unnest(
                CASE WHEN len(ts) < 3 THEN []
                     ELSE list_transform(range(1, len(ts) - 1),
                       i -> array_to_string(ts[i:i+2], ' ')) END) AS tok
              FROM t),
         ha AS (SELECT DISTINCT ${sha52Sql("tok")} AS h FROM toks
                WHERE doc_id % 2 = 0),
         hb AS (SELECT DISTINCT ${sha52Sql("tok")} AS h FROM toks
                WHERE doc_id % 2 <> 0),
         ra AS (SELECT h % 64 AS bucket,
                       max(CASE WHEN h // 64 = 0 THEN 47
                                ELSE 47 - length(bin(h // 64)) END) AS rho
                FROM ha GROUP BY 1),
         rb AS (SELECT h % 64 AS bucket,
                       max(CASE WHEN h // 64 = 0 THEN 47
                                ELSE 47 - length(bin(h // 64)) END) AS rho
                FROM hb GROUP BY 1),
         ru AS (SELECT bucket, max(rho) AS rho FROM (
                  SELECT * FROM ra UNION ALL SELECT * FROM rb)
                GROUP BY 1),
         sa AS (SELECT CAST(64 - count(*) AS INT) AS n_zero_a,
                       CAST(sum(CAST(1 AS BIGINT) << (47 - rho))
                         + (64 - count(*)) * (CAST(1 AS BIGINT) << 47)
                         AS BIGINT) AS s_a FROM ra),
         sb AS (SELECT CAST(64 - count(*) AS INT) AS n_zero_b,
                       CAST(sum(CAST(1 AS BIGINT) << (47 - rho))
                         + (64 - count(*)) * (CAST(1 AS BIGINT) << 47)
                         AS BIGINT) AS s_b FROM rb),
         su AS (SELECT CAST(64 - count(*) AS INT) AS n_zero_u,
                       CAST(sum(CAST(1 AS BIGINT) << (47 - rho))
                         + (64 - count(*)) * (CAST(1 AS BIGINT) << 47)
                         AS BIGINT) AS s_u FROM ru),
         ex AS (SELECT count(DISTINCT tok) AS exact_union FROM toks)
         SELECT sa.n_zero_a, sa.s_a,
                CAST(0.709 AS DOUBLE) * CAST(576460752303423488 AS DOUBLE)
                  / CAST(sa.s_a AS DOUBLE) AS est_a,
                sb.n_zero_b, sb.s_b,
                CAST(0.709 AS DOUBLE) * CAST(576460752303423488 AS DOUBLE)
                  / CAST(sb.s_b AS DOUBLE) AS est_b,
                su.n_zero_u, su.s_u,
                CAST(0.709 AS DOUBLE) * CAST(576460752303423488 AS DOUBLE)
                  / CAST(su.s_u AS DOUBLE) AS est_u,
                ex.exact_union
         FROM sa CROSS JOIN sb CROSS JOIN su CROSS JOIN ex""",
    "q_key_skew" ->
      """WITH g AS (SELECT l_partkey, count(*) AS n
                    FROM lineitem GROUP BY 1)
         SELECT n AS group_size, count(*) AS n_keys
         FROM g GROUP BY 1 ORDER BY group_size""",
    // quickselect result restated as the order statistic it is
    "q_exact_global_quantiles" ->
      """WITH v AS (SELECT l_extendedprice AS v FROM lineitem
                    WHERE l_extendedprice IS NOT NULL),
         nn AS (SELECT count(*) AS n FROM v),
         r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
         t AS (SELECT 'p50' AS q, (SELECT (n + 1) // 2 FROM nn) AS rank
               UNION ALL
               SELECT 'p90', (SELECT (9 * n + 9) // 10 FROM nn))
         SELECT t.q, CAST(t.rank AS BIGINT) AS rank, r.v AS value
         FROM t JOIN r ON r.rn = t.rank ORDER BY q""",
    // hash-rank sample quantiles: the oracle rebuilds the IDENTICAL
    // sample (bottom-256 by (sha52(event_id), value) per group) with a
    // window, then interpolates with quantile_cont ≡ percentile
    "q_sample_quantiles" ->
      s"""WITH s AS (SELECT DISTINCT event_type,
                ${sha52Sql("CAST(event_id AS VARCHAR)")} AS h,
                value AS v
              FROM events
              WHERE event_type IS NOT NULL AND event_id IS NOT NULL
                AND value IS NOT NULL),
         r AS (SELECT event_type, v, row_number()
                 OVER (PARTITION BY event_type ORDER BY h, v) AS rn
               FROM s),
         samp AS (SELECT event_type, v FROM r WHERE rn <= 256),
         q AS (SELECT event_type, CAST(count(*) AS INT) AS n_sample,
                      quantile_cont(v, 0.5) AS p50_sample,
                      quantile_cont(v, 0.9) AS p90_sample
               FROM samp GROUP BY 1),
         ex AS (SELECT event_type,
                       quantile_cont(value, 0.5) AS p50_exact,
                       quantile_cont(value, 0.9) AS p90_exact
                FROM events WHERE event_type IS NOT NULL GROUP BY 1)
         SELECT q.event_type, q.n_sample, q.p50_sample, q.p90_sample,
                ex.p50_exact, ex.p90_exact
         FROM q JOIN ex USING (event_type) ORDER BY event_type""",
    // bloom-pruned join ≡ the plain join: the oracle runs the exact
    // form — the bloom prune is a plan property, not a semantic one
    "q_bloom_pruned_join" ->
      """SELECT CAST(year(l.l_shipdate) AS INT) AS ship_year,
                count(*) AS n_lines, sum(l.l_quantity) AS sum_qty
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE o.o_orderpriority = '1-URGENT'
         GROUP BY 1 ORDER BY 1""",
    // the bloomed write→read round trip ≡ reading the source directly
    "q_bloom_layout_lookup" ->
      """SELECT p_partkey, p_name, p_brand FROM part
         WHERE p_partkey IN (1, 77, 123) ORDER BY p_partkey""",
    // MG + exact recount ≡ the frequent-items definition itself:
    // cnt·(k+1) > N in integer arithmetic, k = 4
    "q_heavy_hitters" ->
      """WITH t AS (SELECT lang AS term FROM documents
                    WHERE lang IS NOT NULL),
         c AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1),
         n AS (SELECT count(*) AS n_total FROM t)
         SELECT term, cnt, n_total FROM c CROSS JOIN n
         WHERE cnt * 5 > n_total ORDER BY term""",
    // strided token windows: generate_series starts + clamped list
    // slices restate the posexplode-of-slice term-for-term
    "q_chunk_windows" ->
      """WITH t AS (SELECT doc_id,
                string_split_regex(trim(text), '\s+') AS t
              FROM documents
              WHERE text IS NOT NULL AND length(trim(text)) > 0)
         SELECT doc_id,
                CAST(g.s // 24 AS BIGINT) AS chunk_idx,
                CAST(g.s AS BIGINT) AS start_tok,
                CAST(len(t[g.s + 1 : least(g.s + 32, len(t))])
                  AS BIGINT) AS n_chunk_tokens,
                array_to_string(t[g.s + 1 : least(g.s + 32, len(t))], ' ')
                  AS chunk_text
         FROM t, LATERAL unnest(generate_series(0, len(t) - 1, 24))
           AS g(s)
         ORDER BY doc_id, chunk_idx""",
    // 1-based list index → 0-based sent_idx; empties filtered AFTER
    // indexing on both sides, so surviving indices match posexplode's
    "q_sentences" ->
      """WITH s AS (SELECT doc_id,
                string_split_regex(text, '[.!?]+\s+') AS lst
              FROM documents),
         e AS (SELECT doc_id,
                      unnest(list_zip(lst, range(1, len(lst) + 1))) AS z
               FROM s)
         SELECT doc_id, CAST(z[2] - 1 AS INT) AS sent_idx,
                z[1] AS sentence
         FROM e WHERE length(trim(z[1])) > 0
         ORDER BY doc_id, sent_idx""",
    // exclusive prefix sum per source shard; floor-division on doubles
    // mirrors the Spark expressions term-for-term (token streams are
    // far below 2^53, so the double path is exact in both engines)
    "q_packed_sequences" ->
      """WITH t AS (SELECT doc_id, source,
                CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
              FROM documents),
         c AS (SELECT doc_id, source, n_tokens,
                      CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                        - n_tokens AS start_tok
               FROM t)
         SELECT doc_id, source, n_tokens, start_tok,
                CAST(floor(start_tok / 1024.0) AS BIGINT) AS seq_id,
                start_tok % 1024 AS seq_offset,
                CAST(floor((start_tok + n_tokens - 1) / 1024.0) AS BIGINT)
                  - CAST(floor(start_tok / 1024.0) AS BIGINT) + 1 AS n_seqs
         FROM c ORDER BY doc_id""",
    // block-local first-fit-decreasing replayed EXACTLY: ranks by
    // (cost desc, doc_id), blocks of 128, and a recursive CTE walks
    // each block in rank order carrying the open-bin load list —
    // list_position of the first fitting bin IS first-fit (NULLIF:
    // DuckDB returns 0, not NULL, for not-found)
    "q_sequence_packing" ->
      (s"WITH RECURSIVE $ffdPackCtes" +
        """ SELECT doc_id, n AS n_tokens, truncated, block, bin,
                block * 128 + bin AS window_id
         FROM s ORDER BY doc_id"""),
    // FFD CTEs + per-window rollup (docs as an ORDER BY'd string_agg —
    // the pack-insertion order) + the sha52 epoch-1 rank over windows
    "q_epoch_manifest" ->
      (s"WITH RECURSIVE $ffdPackCtes" +
        """, w AS (SELECT block * 128 + bin AS window_id,
                  CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(n) AS BIGINT) AS fill_tokens,
                  string_agg(CAST(doc_id AS VARCHAR), ','
                    ORDER BY n DESC, doc_id) AS doc_list
               FROM s GROUP BY 1),
         he AS (SELECT window_id, n_docs, fill_tokens, doc_list,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(string_split(
                      substring(sha256('1:' ||
                        CAST(window_id AS VARCHAR)), 1, 13), ''),
                      x -> CAST(instr('0123456789abcdef', x) - 1
                        AS BIGINT))),
                    (acc, x) -> acc * 16 + x) AS h1
                FROM w)
         SELECT window_id, n_docs, fill_tokens, doc_list,
                CAST(row_number() OVER (ORDER BY h1, window_id)
                  AS BIGINT) AS ord_e1
         FROM he ORDER BY ord_e1"""),
    // the packing priced: windows, packed tokens, padded waste
    // (capacity·windows − tokens), docs, truncations — all BIGINT, the
    // single-row efficiency read next to q_length_batches'
    // padding_waste (the two loader layouts compared on one axis)
    "q_packing_efficiency" ->
      (s"WITH RECURSIVE $ffdPackCtes" +
        """ SELECT CAST(count(DISTINCT block * 128 + bin) AS BIGINT)
                  AS n_windows,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN truncated THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_truncated,
                CAST(96 * count(DISTINCT block * 128 + bin) - sum(n)
                  AS BIGINT) AS padding_waste
         FROM s"""),
    // (n−1)//16 length buckets, batches of 8 in doc_id order; DuckDB's
    // integer // is floor division ≡ Spark DIV on BIGINT
    "q_length_batches" ->
      """WITH t AS (SELECT doc_id,
                CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
              FROM documents),
         f AS (SELECT doc_id, n, (n - 1) // 16 AS bucket
               FROM t WHERE n > 0),
         r AS (SELECT doc_id, n, bucket,
                      ((row_number() OVER (PARTITION BY bucket
                          ORDER BY doc_id)) - 1) // 8 AS batch_id
               FROM f)
         SELECT bucket, batch_id, count(*) AS n_docs,
                min(n) AS min_tokens, max(n) AS max_tokens,
                CAST(sum(n) AS BIGINT) AS n_tokens,
                max(n) * count(*) - CAST(sum(n) AS BIGINT) AS padding_waste
         FROM r GROUP BY 1, 2 ORDER BY bucket, batch_id""",
    // the global window the Spark operator analytically avoids — run
    // here ON PURPOSE as the adjudicator of the counts-table formula
    "q_interleave_order" ->
      """WITH p AS (SELECT doc_id, source,
                CAST(row_number() OVER (PARTITION BY source
                  ORDER BY doc_id) AS BIGINT) AS pos
              FROM documents)
         SELECT doc_id, source, pos,
                CAST(row_number() OVER (ORDER BY pos, source) - 1
                  AS BIGINT) AS ordinal
         FROM p ORDER BY ordinal""",
    // bin-major global row_number — the window the analytic formula
    // exists to avoid, used here to adjudicate it
    "q_curriculum_order" ->
      """WITH t AS (SELECT doc_id, source,
                least(3, (len(string_split_regex(trim(text), '\s+')) - 1)
                  // 32) + 1 AS bin
              FROM documents),
         p AS (SELECT doc_id, source, CAST(bin AS BIGINT) AS bin,
                CAST(row_number() OVER (PARTITION BY bin, source
                  ORDER BY doc_id) AS BIGINT) AS pos
              FROM t)
         SELECT doc_id, bin, source, pos,
                CAST(row_number() OVER (ORDER BY bin, pos, source) - 1
                  AS BIGINT) AS ordinal
         FROM p ORDER BY ordinal""",
    "q_token_repetition" ->
      (tokenRepetitionCtes +
        """ SELECT doc_id, n_tokens, n_distinct_tokens,
                1 - CAST(n_distinct_tokens AS DOUBLE) / n_tokens AS dup_token_frac,
                CAST(tc AS DOUBLE) / n_tokens AS top_token_frac
         FROM agg ORDER BY doc_id"""),
    "q_low_repetition" ->
      (tokenRepetitionCtes +
        """, kept AS (SELECT doc_id FROM agg
                WHERE 1 - CAST(n_distinct_tokens AS DOUBLE) / n_tokens <= 0.55
                  AND CAST(tc AS DOUBLE) / n_tokens <= 0.12)
         SELECT d.doc_id, d.lang, d.source FROM documents d
         JOIN kept USING (doc_id) ORDER BY doc_id"""),
    "q_dup_ngrams" ->
      (dupNgramCtes +
        """ SELECT s, df FROM dfq ORDER BY df DESC, s ASC LIMIT 100"""),
    "q_dup_ngram_stats" ->
      (dupNgramCtes +
        """ SELECT z.doc_id, CAST(z.n AS INTEGER) AS n_shingles,
                COALESCE(u.c, 0) AS dup_shingles,
                CAST(COALESCE(u.c, 0) AS DOUBLE) / z.n AS dup_ngram_frac
         FROM nz z LEFT JOIN dup u USING (doc_id) ORDER BY doc_id"""),
    "q_low_dupngrams" ->
      (dupNgramCtes +
        """, flagged AS (SELECT z.doc_id
                 FROM nz z LEFT JOIN dup u USING (doc_id)
                 WHERE CAST(COALESCE(u.c, 0) AS DOUBLE) / z.n > 0.8)
         SELECT d.doc_id, d.lang, d.source FROM documents d
         WHERE d.doc_id NOT IN (SELECT doc_id FROM flagged)
         ORDER BY doc_id"""),
    "q_contamination" ->
      (contaminationCtes +
        """ SELECT z.doc_id, CAST(z.n AS INTEGER) AS n_shingles,
                COALESCE(s.c, 0) AS shared_shingles,
                CAST(COALESCE(s.c, 0) AS DOUBLE) / z.n AS contamination
         FROM nz z LEFT JOIN shared s USING (doc_id) ORDER BY doc_id"""),
    "q_decontaminated" ->
      (contaminationCtes +
        """, flagged AS (SELECT z.doc_id
                 FROM nz z LEFT JOIN shared s USING (doc_id)
                 WHERE CAST(COALESCE(s.c, 0) AS DOUBLE) / z.n > 0.5)
         SELECT d.doc_id, d.lang, d.source FROM documents d
         WHERE d.doc_id NOT IN (SELECT doc_id FROM flagged)
         ORDER BY doc_id"""),
    // MinHash+LSH verifies candidates with EXACT Jaccard, so its output
    // equals the exhaustive inverted-index result whenever LSH recall is
    // 1 — which holds deterministically for the fixture's planted dups
    // (J ≥ 0.87; P[miss | 16 bands × 4 rows] < 1e-8) and is re-checked
    // here by sharing the oracle.
    "q_minhash_neardup" -> jaccardOracleSql,
    // winnowing selection replayed hash-for-hash: ordered trigram
    // sha52 stream, min-in-window with leftmost-tie list_position
    "q_winnowing" -> (winnowingCtes +
      """ SELECT doc_id, pos, h[pos] AS print
         FROM e ORDER BY doc_id, pos"""),
    "q_winnow_overlap" -> (winnowingCtes +
      """, inv AS (SELECT DISTINCT doc_id, h[pos] AS pr FROM e),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                          count(*) AS shared
                   FROM inv a JOIN inv b ON a.pr = b.pr
                     AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT id_a, id_b, shared FROM pairs
         WHERE shared >= 5 ORDER BY id_a, id_b"""),
    // banding P/R report: the DELIBERATELY-lossy 16-hash/8-band sha52
    // minhash replayed hash-for-hash (bucket strings included), full
    // outer vs the exhaustive J >= 0.6 truth, counts + two divisions
    "q_minhash_pr" ->
      s"""WITH tok AS (SELECT doc_id,
                list_distinct(CASE WHEN len(string_split_regex(trim(text), '\\s+')) < 3 THEN []
                  ELSE list_transform(range(1, len(string_split_regex(trim(text), '\\s+')) - 1),
                    i -> array_to_string((string_split_regex(trim(text), '\\s+'))[i:i+2], ' ')) END) AS sh
              FROM documents),
         sized AS (SELECT doc_id, sh, len(sh) AS n FROM tok WHERE len(sh) > 0),
         inv AS MATERIALIZED (SELECT doc_id, n, unnest(sh) AS s FROM sized),
         truth AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2, a.n, b.n
                   HAVING CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)) >= 0.6),
         hi AS (SELECT doc_id, ix.i AS i,
                  min(${sha52Sql("CAST(ix.i AS VARCHAR) || ':' || inv.s")}) AS h
                FROM inv CROSS JOIN (SELECT unnest(range(0, 16)) AS i) ix
                GROUP BY 1, 2),
         bk AS (SELECT doc_id, i // 2 AS band,
                       string_agg(CAST(h AS VARCHAR), '|' ORDER BY i) AS bucket
                FROM hi GROUP BY 1, 2),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.doc_id < b.doc_id),
         fo AS (SELECT CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS c,
                       CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END AS t
                FROM cand c FULL OUTER JOIN truth t
                  ON t.id_a = c.id_a AND t.id_b = c.id_b)
         SELECT CAST(sum(t) AS BIGINT) AS n_truth,
                CAST(sum(c) AS BIGINT) AS n_candidates,
                CAST(sum(c * t) AS BIGINT) AS tp,
                CAST(sum(c) - sum(c * t) AS BIGINT) AS fp,
                CAST(sum(t) - sum(c * t) AS BIGINT) AS fn,
                CASE WHEN sum(c) > 0
                     THEN CAST(sum(c * t) AS DOUBLE) / sum(c) END AS "precision",
                CASE WHEN sum(t) > 0
                     THEN CAST(sum(c * t) AS DOUBLE) / sum(t) END AS recall
         FROM fo""",
    // the simhash twin: sig CTEs are simhashOracleSql's verbatim;
    // 4×16-bit candidate bands from the packed halves, truth = the
    // exhaustive pairwise Hamming cutoff
    "q_simhash_pr" ->
      """WITH toks AS (SELECT doc_id,
                unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS t
              FROM documents),
         h AS (SELECT doc_id,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(substring(sha256(t), 1, 15), ''),
                          c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))),
                        (acc, x) -> acc * 16 + x) AS h
               FROM toks),
         bits AS (SELECT doc_id, i,
                         CASE WHEN SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) > 0
                              THEN 1 ELSE 0 END AS bit
                  FROM h, (SELECT unnest(range(64)) AS i) idx
                  GROUP BY doc_id, i),
         sig AS MATERIALIZED (SELECT doc_id,
                SUM(CASE WHEN i < 32 AND bit = 1
                    THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS lo,
                SUM(CASE WHEN i >= 32 AND bit = 1
                    THEN CAST(1 AS BIGINT) << (i - 32) ELSE 0 END) AS hi
              FROM bits GROUP BY doc_id),
         pair AS MATERIALIZED (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.lo, b.lo))
                    + bit_count(xor(a.hi, b.hi)) AS INTEGER) <= 5 AS t,
                 ((a.lo & 65535) = (b.lo & 65535)
                   OR ((a.lo >> 16) & 65535) = ((b.lo >> 16) & 65535)
                   OR (a.hi & 65535) = (b.hi & 65535)
                   OR ((a.hi >> 16) & 65535) = ((b.hi >> 16) & 65535)) AS c
                 FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
         SELECT CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
                CAST(sum(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
                CAST(sum(CASE WHEN c AND t THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                CAST(sum(CASE WHEN c AND NOT t THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                CAST(sum(CASE WHEN t AND NOT c THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                CASE WHEN sum(CASE WHEN c THEN 1 ELSE 0 END) > 0
                     THEN CAST(sum(CASE WHEN c AND t THEN 1 ELSE 0 END) AS DOUBLE)
                          / sum(CASE WHEN c THEN 1 ELSE 0 END) END AS "precision",
                CASE WHEN sum(CASE WHEN t THEN 1 ELSE 0 END) > 0
                     THEN CAST(sum(CASE WHEN c AND t THEN 1 ELSE 0 END) AS DOUBLE)
                          / sum(CASE WHEN t THEN 1 ELSE 0 END) END AS recall
         FROM pair""",
    // prefix filtering is exact over the same full universe
    "q_prefix_jaccard_pairs" -> jaccardOracleSql,
    // cross-corpus variant of the exhaustive formulation: candidates
    // restricted to left×right (mod-5 split); the Spark side's
    // size-ratio prefilter is exact-lossless, so outputs match
    "q_jaccard_across" ->
      """WITH tok AS (SELECT doc_id,
                list_distinct(CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3 THEN []
                  ELSE list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 1),
                    i -> array_to_string((string_split_regex(trim(text), '\s+'))[i:i+2], ' ')) END) AS sh
              FROM documents),
         sized AS (SELECT doc_id, sh, len(sh) AS n FROM tok WHERE len(sh) > 0),
         inv AS (SELECT doc_id, n, unnest(sh) AS s FROM sized),
         pairs AS (SELECT a.doc_id AS id_left, b.doc_id AS id_right,
                          a.n AS na, b.n AS nb, count(*) AS shared
                   FROM inv a JOIN inv b ON a.s = b.s
                   WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
                   GROUP BY 1, 2, 3, 4)
         SELECT id_left, id_right,
                CAST(shared AS DOUBLE) / (na + nb - shared) AS jaccard
         FROM pairs
         WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.5
         ORDER BY id_left, id_right""",
    // cross-corpus containment: exhaustive restatement over the
    // planted benchmark (left) × corpus (right), shared/|left| ≥ 0.9
    "q_containment_across" ->
      """WITH bench AS (SELECT doc_id + 20000000 AS doc_id,
               array_to_string(
                 (string_split_regex(trim(text), '\s+'))[4:18], ' ') AS text
             FROM documents WHERE doc_id % 23 = 0),
         ltok AS (SELECT doc_id,
                list_distinct(CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3 THEN []
                  ELSE list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 1),
                    i -> array_to_string((string_split_regex(trim(text), '\s+'))[i:i+2], ' ')) END) AS sh
              FROM bench),
         rtok AS (SELECT doc_id,
                list_distinct(CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3 THEN []
                  ELSE list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 1),
                    i -> array_to_string((string_split_regex(trim(text), '\s+'))[i:i+2], ' ')) END) AS sh
              FROM documents),
         linv AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s
                  FROM ltok WHERE len(sh) > 0),
         rinv AS (SELECT doc_id, unnest(sh) AS s
                  FROM rtok WHERE len(sh) > 0),
         pairs AS (SELECT a.doc_id AS id_left, b.doc_id AS id_right,
                          a.n AS na, count(*) AS shared
                   FROM linv a JOIN rinv b ON a.s = b.s
                   GROUP BY 1, 2, 3)
         SELECT id_left, id_right,
                CAST(shared AS DOUBLE) / na AS containment
         FROM pairs WHERE CAST(shared AS DOUBLE) / na >= 0.9
         ORDER BY id_left, id_right""",
    // same containment CTEs, rolled up per source
    "q_contamination_by_source" ->
      """WITH bench AS (SELECT doc_id + 20000000 AS doc_id,
               array_to_string(
                 (string_split_regex(trim(text), '\s+'))[4:18], ' ') AS text
             FROM documents WHERE doc_id % 23 = 0),
         ltok AS (SELECT doc_id,
                list_distinct(CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3 THEN []
                  ELSE list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 1),
                    i -> array_to_string((string_split_regex(trim(text), '\s+'))[i:i+2], ' ')) END) AS sh
              FROM bench),
         rtok AS (SELECT doc_id,
                list_distinct(CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3 THEN []
                  ELSE list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 1),
                    i -> array_to_string((string_split_regex(trim(text), '\s+'))[i:i+2], ' ')) END) AS sh
              FROM documents),
         linv AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s
                  FROM ltok WHERE len(sh) > 0),
         rinv AS (SELECT doc_id, unnest(sh) AS s
                  FROM rtok WHERE len(sh) > 0),
         pairs AS (SELECT a.doc_id AS id_left, b.doc_id AS id_right,
                          a.n AS na, count(*) AS shared
                   FROM linv a JOIN rinv b ON a.s = b.s
                   GROUP BY 1, 2, 3),
         hits AS (SELECT id_right AS doc_id, count(*) AS h
                  FROM pairs WHERE CAST(shared AS DOUBLE) / na >= 0.9
                  GROUP BY 1),
         agg AS (SELECT d.source,
                   count(*) AS n_docs,
                   CAST(sum(CASE WHEN h.h IS NOT NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_contaminated,
                   CAST(sum(coalesce(h.h, 0)) AS BIGINT) AS n_bench_hits
                 FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
                 GROUP BY 1)
         SELECT source, n_docs, n_contaminated, n_bench_hits,
                CAST(n_contaminated AS DOUBLE) / n_docs
                  AS frac_contaminated
         FROM agg ORDER BY source""",
    // substring dedup: same planted text; sliding 8-grams keyed by the
    // gram STRING (the Spark side's xxhash64 is identical absent a
    // 64-bit collision — the q_dedup_spans precedent); interval merge
    // via the same running-max gaps-and-islands window
    "q_substring_dedup" ->
      """WITH src AS (SELECT doc_id,
             concat_ws(' ',
               array_to_string(list_transform(range(0, doc_id % 7 + 4),
                 j -> 'u' || doc_id || 'x' || j), ' '),
               CASE WHEN doc_id % 3 = 0 THEN
                 'alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu' END,
               'v' || doc_id || 'y0 v' || doc_id || 'y1 v' || doc_id || 'y2',
               CASE WHEN doc_id % 4 = 0 THEN
                 'one two three four five six seven eight nine ten' END,
               'w' || doc_id || 'z') AS text
           FROM documents),
         tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                 FROM src),
         grams AS (SELECT doc_id, i - 1 AS pos,
                     array_to_string(t[i:i+7], ' ') AS g
                   FROM tok, LATERAL unnest(generate_series(1, len(t) - 7)) u(i)
                   WHERE len(t) >= 8),
         dup AS (SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS d
                                FROM grams GROUP BY g) WHERE d >= 2),
         anch AS (SELECT doc_id, pos, pos + 7 AS e
                  FROM grams WHERE g IN (SELECT g FROM dup)),
         m AS (SELECT doc_id, pos, e,
                 max(e) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
               FROM anch),
         isl AS (SELECT doc_id, pos, e,
                   sum(CASE WHEN pm IS NULL OR pos > pm + 1 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                 FROM m)
         SELECT doc_id, min(pos) AS span_start, max(e) AS span_end
         FROM isl GROUP BY doc_id, grp ORDER BY doc_id, span_start""",
    // span extraction mirrors the q_doc_chunks oracle at stride =
    // chunkTokens = 40 (disjoint spans); dup spans = text in >= 2
    // distinct docs; reassembly is ORDER BY chunk_idx with a single
    // space, the whitespace-normalized contract of the operator
    "q_dedup_spans" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 100000 AS doc_id,
                  array_to_string(string_split_regex(trim(text), '\s+')[1:40], ' ') AS text
           FROM documents WHERE doc_id % 10 = 0),
         t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w,
                      CASE WHEN length(trim(text)) = 0 THEN 0
                           ELSE len(string_split_regex(trim(text), '\s+')) END AS n
               FROM corpus),
         c AS (SELECT doc_id, w,
                      CASE WHEN n = 0 THEN 0
                           ELSE greatest(1, CAST(ceil((n - 40) / 40.0) AS INTEGER) + 1)
                      END AS nc
               FROM t),
         spans AS (SELECT doc_id, CAST(u.i AS INTEGER) AS chunk_idx,
                          array_to_string(w[u.i*40 + 1 : u.i*40 + 40], ' ') AS chunk_text
                   FROM c, unnest(range(nc)) AS u(i)),
         dup AS (SELECT chunk_text FROM (
                   SELECT chunk_text, count(DISTINCT doc_id) AS d
                   FROM spans GROUP BY 1) z
                 WHERE d >= 2),
         kept AS (SELECT * FROM spans
                  WHERE chunk_text NOT IN (SELECT chunk_text FROM dup))
         SELECT doc_id, string_agg(chunk_text, ' ' ORDER BY chunk_idx) AS text,
                count(*) AS n_spans_kept
         FROM kept GROUP BY doc_id ORDER BY doc_id""",
    // pair graph = the exhaustive Jaccard formulation (recall-1 contract
    // of q_minhash_neardup), components = min-reachable-id recursive
    // CTE (the q_neardup_components formulation), split = component
    // mod 100 against the 80/10 boundaries
    "q_leakage_split" ->
      """WITH RECURSIVE
         tok AS (SELECT doc_id,
                list_distinct(CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3 THEN []
                  ELSE list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 1),
                    i -> array_to_string((string_split_regex(trim(text), '\s+'))[i:i+2], ' ')) END) AS sh
              FROM documents),
         sized AS (SELECT doc_id, sh, len(sh) AS n FROM tok WHERE len(sh) > 0),
         inv AS (SELECT doc_id, n, unnest(sh) AS s FROM sized),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.n AS na, b.n AS nb, count(*) AS shared
               FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY 1, 2, 3, 4),
         jp AS (SELECT id_a, id_b FROM p
                WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.6),
         edges AS (SELECT id_a AS src, id_b AS dst FROM jp
                   UNION SELECT id_b, id_a FROM jp),
         reach(node, root) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node),
         comp AS (SELECT node AS doc_id, min(root) AS component_id
                  FROM reach GROUP BY node)
         SELECT doc_id, component_id,
                CASE WHEN component_id % 100 < 80 THEN 'train'
                     WHEN component_id % 100 < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM comp ORDER BY doc_id""",
    // norm > 0 filters mirror the Spark side's zero-vector exclusion
    // (cos is undefined for zero vectors; Spark drops them, so must we)
    // blocked pairs + the identical IEEE chain: (1 − d/maxlen)·0.6
    // then + CASE·0.4, left-associated as the operator writes it
    // SNM: global (name, id) rank, band |Δrank| ≤ 10, same score chain
    "q_snm_linkage" ->
      """WITH c AS (SELECT c_custkey, c_name, c_acctbal FROM customer
                    WHERE c_custkey % 2 = 0),
         u AS (SELECT * FROM c
               UNION ALL
               SELECT c_custkey + 10000000, c_name || ' jr', c_acctbal
               FROM c WHERE c_custkey % 41 = 0),
         rk AS (SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal,
                       row_number() OVER (ORDER BY c_name, c_custkey)
                         AS rank
                FROM u WHERE c_name IS NOT NULL),
         p AS (SELECT least(a.id, b.id) AS id_a,
                      greatest(a.id, b.id) AS id_b,
                 (CASE WHEN a.name IS NULL OR b.name IS NULL THEN 0.0
                       ELSE (1.0 - CAST(levenshtein(a.name, b.name)
                           AS DOUBLE)
                         / CAST(greatest(length(a.name), length(b.name),
                             1) AS DOUBLE)) * 0.6 END)
                 + (CASE WHEN a.bal IS NULL OR b.bal IS NULL THEN 0.0
                         WHEN a.bal = b.bal THEN 1.0 * 0.4
                         ELSE 0.0 END) AS score
               FROM rk a JOIN rk b
                 ON b.rank > a.rank AND b.rank <= a.rank + 10)
         SELECT id_a, id_b, score FROM p WHERE score >= 0.9
         ORDER BY id_a, id_b""",
    "q_record_linkage" ->
      """WITH c AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                           c_mktsegment FROM customer
                    WHERE c_custkey % 2 = 0),
         u AS (SELECT * FROM c
               UNION ALL
               SELECT c_custkey + 10000000, substring(c_name, 2, 40),
                      c_nationkey, c_acctbal, c_mktsegment
               FROM c WHERE c_custkey % 41 = 0),
         p AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                 (1.0 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)
                    / CAST(greatest(length(a.c_name), length(b.c_name), 1)
                      AS DOUBLE)) * 0.6
                 + (CASE WHEN a.c_acctbal = b.c_acctbal
                         THEN 1.0 ELSE 0.0 END) * 0.4 AS score
               FROM u a JOIN u b
                 ON a.c_nationkey = b.c_nationkey
                AND a.c_mktsegment = b.c_mktsegment
                AND a.c_custkey < b.c_custkey)
         SELECT id_a, id_b, score FROM p WHERE score >= 0.9
         ORDER BY id_a, id_b""",
    // linkage edges → recursive-CTE components → completeness-ranked
    // survivor (row_number ORDER BY length DESC, id ≡ the max_by
    // (present, quality, −id) struct)
    "q_golden_records" ->
      """WITH RECURSIVE
         c AS (SELECT c_custkey, c_name, c_nationkey, c_acctbal,
                      c_mktsegment FROM customer
               WHERE c_custkey % 2 = 0),
         u AS (SELECT * FROM c
               UNION ALL
               SELECT c_custkey + 10000000,
                      CASE WHEN c_custkey % 164 = 0 THEN c_name || 'x'
                           ELSE substring(c_name, 2, 40) END,
                      c_nationkey, c_acctbal, c_mktsegment
               FROM c WHERE c_custkey % 41 = 0),
         p AS (SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                 (1.0 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)
                    / CAST(greatest(length(a.c_name), length(b.c_name), 1)
                      AS DOUBLE)) * 0.6
                 + (CASE WHEN a.c_acctbal = b.c_acctbal
                         THEN 1.0 ELSE 0.0 END) * 0.4 AS score
               FROM u a JOIN u b
                 ON a.c_nationkey = b.c_nationkey
                AND a.c_mktsegment = b.c_mktsegment
                AND a.c_custkey < b.c_custkey),
         m AS (SELECT id_a, id_b FROM p WHERE score >= 0.9),
         edges AS (SELECT id_a AS src, id_b AS dst FROM m
                   UNION SELECT id_b, id_a FROM m),
         reach(node, root) AS (
           SELECT c_custkey, c_custkey FROM u
           UNION
           SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node),
         comp AS (SELECT node, min(root) AS cid FROM reach GROUP BY node)
         SELECT c_custkey, c_name, c_acctbal FROM (
           SELECT u.c_custkey, u.c_name, u.c_acctbal,
                  row_number() OVER (PARTITION BY comp.cid
                    ORDER BY length(u.c_name) DESC, u.c_custkey) AS rn
           FROM u JOIN comp ON comp.node = u.c_custkey)
         WHERE rn = 1 ORDER BY c_custkey""",
    "q_embedding_topk" -> exactTopKOracleSql,
    "q_kcenter_coreset" -> kCenterOracleSql(8),
    "q_binary_quant_topk" -> exactTopKOracleSql,
    // the k-NN graph shares the exhaustive formulation — queries = ALL
    // nodes, over the same planted golden-angle circle vectors as the
    // Spark side ([4cosθ, 4sinθ] ++ 0.001·raw)
    "q_knn_graph" ->
      """WITH c AS (SELECT vec_id AS id,
                      [4.0 * cos((vec_id * 0.618033988749895) % 1.0
                                 * 6.283185307179586),
                       4.0 * sin((vec_id * 0.618033988749895) % 1.0
                                 * 6.283185307179586)]
                        || list_transform(embedding::DOUBLE[], x -> x * 0.001) AS v
                    FROM embeddings),
         c2 AS (SELECT id, v FROM c
                WHERE list_dot_product(v, v) > 0),
         s AS (SELECT a.id AS query_id, b.id AS neighbor_id,
                      list_cosine_similarity(b.v, a.v) AS cos
               FROM c2 a, c2 b WHERE a.id <> b.id),
         r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank FROM s)
         SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",
    // exhaustive top-5 → mutual edges → recursive components over the
    // 16-anchor planted corpus
    "q_knn_components" ->
      """WITH RECURSIVE
         c AS (SELECT vec_id AS id,
                 [4.0 * cos(CAST(vec_id % 16 AS DOUBLE) * 0.39269908169872414),
                  4.0 * sin(CAST(vec_id % 16 AS DOUBLE) * 0.39269908169872414)]
                   || list_transform(embedding::DOUBLE[], x -> x * 0.001) AS v
               FROM embeddings),
         c2 AS (SELECT id, v FROM c WHERE list_dot_product(v, v) > 0),
         s AS (SELECT a.id AS qa, b.id AS qb,
                      list_cosine_similarity(b.v, a.v) AS cos
               FROM c2 a, c2 b WHERE a.id <> b.id),
         r AS (SELECT qa, qb, ROW_NUMBER() OVER (PARTITION BY qa
                 ORDER BY cos DESC, qb) AS rank FROM s),
         t AS (SELECT qa, qb FROM r WHERE rank <= 5),
         m AS (SELECT t.qa AS id_a, t.qb AS id_b FROM t
               JOIN t t2 ON t2.qa = t.qb AND t2.qb = t.qa
               WHERE t.qa < t.qb),
         edges AS (SELECT id_a AS src, id_b AS dst FROM m
                   UNION SELECT id_b, id_a FROM m),
         reach(node, root) AS (
           SELECT id, id FROM c2
           UNION
           SELECT e.dst, r2.root FROM reach r2 JOIN edges e ON e.src = r2.node)
         SELECT node AS doc_id, min(root) AS component_id
         FROM reach GROUP BY node ORDER BY doc_id""",
    // exhaustive restatement: rank only the cos < 0.25 band
    "q_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings
                    WHERE vec_id % 97 = 0
                      AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
         c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings
               WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
         s AS (SELECT qid AS query_id, nid AS neighbor_id,
                      list_cosine_similarity(cv, qv) AS cos
               FROM c, q WHERE nid <> qid),
         r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
               FROM s WHERE cos < 0.25)
         SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 8
         ORDER BY query_id, rank""",
    // the approximate plans share the EXACT oracle: their parameters are
    // fixture-tuned for recall 1 (see the queries-side comment), and
    // both verify candidates with exact cosine, so output ≡ exhaustive
    "q_ann_lsh_topk" -> exactTopKOracleSql,
    "q_ivf_topk" -> exactTopKOracleSql,
    // frozen-cell serving at recall-1 nProbe ⇒ same exhaustive truth
    "q_ivf_extend_topk" -> exactTopKOracleSql,
    "q_ivf_topk_bigk" -> exactTopKOracleSql,
    "q_pq_topk" -> exactTopKOracleSql,
    "q_ivfpq_topk" -> exactTopKOracleSql,
    "q_embedding_neardup" ->
      """WITH nz AS (SELECT vec_id, embedding FROM embeddings
                     WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
         FROM nz a JOIN nz b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
         ORDER BY id_a, id_b""",
    // DBSCAN: exhaustive ε-graph (cosine ≥ 0.4), core = neighborhood
    // incl. self ≥ 3, clusters = recursive components of the core-core
    // subgraph labelled min core id, border = min cluster among core
    // neighbors, rest noise (−1) — zero vectors have no cosine, so they
    // can only be noise
    "q_dbscan_clusters" ->
      """WITH RECURSIVE
         nz AS (SELECT vec_id, embedding FROM embeddings
                WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
         pr AS (SELECT a.vec_id AS ia, b.vec_id AS ib
                FROM nz a JOIN nz b ON a.vec_id < b.vec_id
                WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4),
         ed AS (SELECT ia AS src, ib AS dst FROM pr UNION SELECT ib, ia FROM pr),
         dg AS (SELECT src AS node, count(*) AS n FROM ed GROUP BY src),
         core AS (SELECT node FROM dg WHERE n + 1 >= 3),
         ce AS (SELECT e.src, e.dst FROM ed e
                JOIN core a ON e.src = a.node JOIN core b ON e.dst = b.node),
         reach(node, root) AS (
           SELECT node, node FROM core
           UNION
           SELECT e.dst, r.root FROM reach r JOIN ce e ON e.src = r.node),
         lab AS (SELECT node, min(root) AS cid FROM reach GROUP BY node),
         bord AS (SELECT e.src AS node, min(l.cid) AS cid
                  FROM ed e JOIN lab l ON l.node = e.dst
                  WHERE e.src NOT IN (SELECT node FROM core)
                  GROUP BY e.src)
         SELECT v.vec_id,
                CASE WHEN l.cid IS NOT NULL THEN 'core'
                     WHEN b.cid IS NOT NULL THEN 'border'
                     ELSE 'noise' END AS role,
                COALESCE(l.cid, b.cid, -1) AS cluster_id
         FROM embeddings v
         LEFT JOIN lab l ON l.node = v.vec_id
         LEFT JOIN bord b ON b.node = v.vec_id
         ORDER BY vec_id""",
    // density dedup: the dbscan CTEs + max-norm (ties min id) rep per
    // cluster + noise pass-through; norms via the same left-fold dot
    "q_semantic_dedup_density" ->
      """WITH RECURSIVE
         nz AS (SELECT vec_id, embedding FROM embeddings
                WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
         pr AS (SELECT a.vec_id AS ia, b.vec_id AS ib
                FROM nz a JOIN nz b ON a.vec_id < b.vec_id
                WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4),
         ed AS (SELECT ia AS src, ib AS dst FROM pr UNION SELECT ib, ia FROM pr),
         dg AS (SELECT src AS node, count(*) AS n FROM ed GROUP BY src),
         core AS (SELECT node FROM dg WHERE n + 1 >= 3),
         ce AS (SELECT e.src, e.dst FROM ed e
                JOIN core a ON e.src = a.node JOIN core b ON e.dst = b.node),
         reach(node, root) AS (
           SELECT node, node FROM core
           UNION
           SELECT e.dst, r.root FROM reach r JOIN ce e ON e.src = r.node),
         lab AS (SELECT node, min(root) AS cid FROM reach GROUP BY node),
         bord AS (SELECT e.src AS node, min(l.cid) AS cid
                  FROM ed e JOIN lab l ON l.node = e.dst
                  WHERE e.src NOT IN (SELECT node FROM core)
                  GROUP BY e.src),
         memb AS (SELECT node, cid FROM lab
                  UNION ALL SELECT node, cid FROM bord),
         scored AS (SELECT m.node, m.cid,
                  list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS n2
                FROM memb m JOIN embeddings e ON e.vec_id = m.node),
         reps AS (SELECT node FROM (
                  SELECT node, row_number() OVER (PARTITION BY cid
                    ORDER BY n2 DESC, node ASC) AS rn FROM scored)
                  WHERE rn = 1),
         keep AS (SELECT vec_id FROM embeddings
                  WHERE vec_id NOT IN (SELECT node FROM memb)
                  UNION ALL SELECT node FROM reps)
         SELECT e.vec_id, e.label FROM embeddings e
         JOIN keep k ON k.vec_id = e.vec_id ORDER BY e.vec_id""",
    // exhaustive cross-side cosine: sides are disjoint by the mod split
    "q_embedding_across" ->
      """WITH nz AS (SELECT vec_id, embedding FROM embeddings
                     WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0)
         SELECT a.vec_id AS id_ref, b.vec_id AS id_new,
                list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
         FROM nz a JOIN nz b ON a.vec_id % 5 <> 0 AND b.vec_id % 5 = 0
         WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
         ORDER BY id_ref, id_new""",
    // byte_len = true UTF-8 byte count (octet_length of the encoded
    // blob). brightness is BYTE-level on both sides: the Spark stub
    // averages unsigned payload bytes, and the oracle recovers the same
    // bytes by expanding the blob's hex dump two nibbles at a time — so
    // non-ASCII text (multi-byte codepoints) hashes identically too,
    // unlike the earlier codepoint-mean formulation that was only
    // ASCII-equal.
    // the implicit ±1 matrix entry is bit 16 of (i·64+j)·2654435761 on
    // both sides; integer // and % reproduce Java's >>> 16 & 1 exactly
    // for the non-negative k this query generates
    "q_random_projection" ->
      """SELECT vec_id, CAST(i AS INT) AS dim,
                list_sum(list_transform(range(0, 64), j ->
                  CAST(embedding[CAST(j + 1 AS INT)] AS DOUBLE) *
                  (CASE WHEN ((((i*64 + j) * 2654435761) // 65536) % 2) = 0
                        THEN 1.0 ELSE -1.0 END)))
                / sqrt(16.0) AS val
         FROM embeddings, range(0, 16) t(i)
         ORDER BY vec_id, dim""",
    // audio rows: the planted WAV's data section IS the text bytes, so
    // the oracle recovers the same samples from the hex dump — mean
    // |b-128|/128 amplitude for 8-bit PCM, byte_len + the 44-byte
    // canonical header, and header params restated as the same pure
    // functions of doc_id the Spark-side builder uses (rate 16 kHz,
    // channels 1 + doc_id % 2, duration = data/byte-rate integer ms).
    // video rows: planted MP4 (ftyp 16 + moov 116+100·tracks + mdat
    // 8+n = 140 + 100·tracks + n bytes of header), mdat = text bytes →
    // byte-stub brightness; duration = n_chars·6 units / 600 timescale
    // = n_chars·10 ms; dims/tracks the builder's doc-column functions
    "q_media_features" ->
      """WITH b AS (SELECT doc_id, n_chars, hex(encode(text)) AS h,
                           octet_length(encode(text)) AS n,
                           (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS mt
                    FROM documents),
         v AS (SELECT doc_id, n_chars, mt, n,
                      list_transform(range(1, n + 1),
                        i -> (instr('0123456789ABCDEF', substring(h, CAST(2*i - 1 AS INTEGER), 1)) - 1) * 16
                           + (instr('0123456789ABCDEF', substring(h, CAST(2*i AS INTEGER), 1)) - 1)) AS bytes
               FROM b)
         SELECT doc_id AS asset_id, mt AS media_type,
                CAST(CASE WHEN mt = 'audio' THEN n + 44
                          WHEN mt = 'video' THEN 140 + 100 * (1 + (doc_id // 3) % 3)
                                                 + (2 + doc_id % 3) * 822
                          ELSE n END AS INTEGER) AS byte_len,
                CASE WHEN mt = 'audio'
                     THEN CAST(list_sum(list_transform(bytes, x -> abs(x - 128))) AS DOUBLE) / n / 128.0
                     WHEN mt = 'video'
                     THEN CAST(list_sum(list_transform(range(0, 2 + doc_id % 3),
                            k -> (doc_id * 31 + k * 17) % 256)) AS DOUBLE)
                          / (2 + doc_id % 3) / 255.0
                     ELSE CAST(list_sum(bytes) AS DOUBLE) / n / 255.0 END AS brightness,
                CAST(CASE WHEN mt = 'audio' THEN 16000 ELSE 0 END AS INTEGER) AS sample_rate,
                CAST(CASE WHEN mt = 'audio' THEN 1 + doc_id % 2 ELSE 0 END AS INTEGER) AS channels,
                CAST(CASE WHEN mt = 'video' THEN n_chars % 1920 ELSE 0 END AS INTEGER) AS width,
                CAST(CASE WHEN mt = 'video' THEN n_chars % 1080 ELSE 0 END AS INTEGER) AS height,
                CAST(CASE WHEN mt = 'video' THEN 1 + (doc_id // 3) % 3 ELSE 0 END AS INTEGER) AS tracks,
                CAST(CASE WHEN mt = 'audio'
                          THEN (n * 1000) // (16000 * (1 + doc_id % 2))
                          WHEN mt = 'video' THEN n_chars * 10
                          ELSE 0 END AS BIGINT) AS duration_ms,
                (mt IN ('audio', 'video')) AS decoded,
                CAST(CASE WHEN mt = 'video' THEN 2 + doc_id % 3 ELSE 0 END
                     AS INTEGER) AS frames
         FROM v ORDER BY asset_id"""
  )

  /** Morton-key oracle: the same five shift-or-mask spread steps as
    * `ZOrder.spreadBits`, generated as a CTE chain so each step appears
    * exactly once per dimension (no exponential text expansion). */
  private def zorderOracleSql: String = {
    val steps = Seq(
      (16, 0x0000FFFF0000FFFFL), (8, 0x00FF00FF00FF00FFL),
      (4, 0x0F0F0F0F0F0F0F0FL), (2, 0x3333333333333333L),
      (1, 0x5555555555555555L))
    val ctes = steps.zipWithIndex.map { case ((sh, m), i) =>
      s"""s${i + 1} AS (SELECT l_orderkey, l_linenumber,
            ((x | (x << $sh)) & $m) AS x,
            ((y | (y << $sh)) & $m) AS y FROM s$i)"""
    }.mkString(",\n")
    s"""WITH s0 AS (SELECT l_orderkey, l_linenumber,
          CAST(l_partkey AS BIGINT) & 4294967295 AS x,
          CAST(l_suppkey AS BIGINT) & 4294967295 AS y FROM lineitem),
        $ctes
        SELECT l_orderkey, l_linenumber, (x | (y << 1)) AS z_value
        FROM s5 ORDER BY l_orderkey, l_linenumber"""
  }

  /** Exhaustive SimHash-Hamming oracle, parameterized by the distance
    * cutoff — banding-free on the DuckDB side, so the same SQL
    * adjudicates every band layout the engine picks. */
  private def simhashOracleSql(maxDist: Int, where: String = ""): String =
    s"""WITH toks AS (SELECT doc_id,
                unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS t
              FROM documents $where),
         h AS (SELECT doc_id,
                      list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(string_split(substring(sha256(t), 1, 15), ''),
                          c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))),
                        (acc, x) -> acc * 16 + x) AS h
               FROM toks),
         bits AS (SELECT doc_id, i,
                         CASE WHEN SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) > 0
                              THEN 1 ELSE 0 END AS bit
                  FROM h, (SELECT unnest(range(64)) AS i) idx
                  GROUP BY doc_id, i),
         -- packed halves + bit_count(xor): one row per doc pair in the
         -- exhaustive join (the per-(doc, bit) formulation spills
         -- DuckDB's temp disk at full-corpus sf0.1 — the cascade
         -- oracle's lesson, applied here so the WIDE query can run the
         -- whole corpus instead of a mod-sample)
         sig AS (SELECT doc_id,
                SUM(CASE WHEN i < 32 AND bit = 1
                    THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS lo,
                SUM(CASE WHEN i >= 32 AND bit = 1
                    THEN CAST(1 AS BIGINT) << (i - 32) ELSE 0 END) AS hi
              FROM bits GROUP BY doc_id),
         ham AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                        CAST(bit_count(xor(a.lo, b.lo))
                           + bit_count(xor(a.hi, b.hi)) AS INTEGER) AS hamming
                 FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b, hamming FROM ham WHERE hamming <= $maxDist
         ORDER BY id_a, id_b"""

  /** DuckDB-native ASOF join, shared by the plain and skew-safe bucketed
    * as-of queries (the bucketed rewrite must be result-invariant). */
  /** PCA oracle: covariance as E[xxᵀ] − μμᵀ over the unnested
    * (vec_id, i, xi) frame, then `iters` chained power-iteration CTEs
    * (the pageRankOracleSql fixed-recurrence pattern) from the uniform
    * init 1/√64, then the centered projection. Dim 64 and the driver's
    * 500·sf-row table are fixture facts, hardcoded like every other
    * oracle's. */
  private def pcaOracleSql(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH idx AS (SELECT unnest(generate_series(1, 64)) AS i),
         x AS MATERIALIZED (SELECT vec_id, ix.i AS i,
                      CAST(embedding[ix.i] AS DOUBLE) AS xi
               FROM embeddings, idx ix WHERE embedding IS NOT NULL),
         nn AS (SELECT count(*) AS n FROM embeddings
                WHERE embedding IS NOT NULL),
         mu AS (SELECT i, avg(xi) AS m FROM x GROUP BY 1),
         cov AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
                        sum(a.xi * b.xi) / (SELECT n FROM nn)
                          - ma.m * mb.m AS c
                 FROM x a JOIN x b ON b.vec_id = a.vec_id
                 JOIN mu ma ON ma.i = a.i
                 JOIN mu mb ON mb.i = b.i
                 GROUP BY a.i, b.i, ma.m, mb.m),
         v0 AS (SELECT i, 1.0 / 8.0 AS v FROM idx)"""
    for (t <- 1 to iters) {
      sb ++= s""",
         w$t AS MATERIALIZED (SELECT c.i, sum(c.c * v.v) AS w
                 FROM cov c JOIN v${t - 1} v ON v.i = c.j GROUP BY 1),
         v$t AS MATERIALIZED (SELECT i,
                   w / (SELECT sqrt(sum(w * w)) FROM w$t) AS v
                 FROM w$t)"""
    }
    sb ++= s"""
         SELECT x.vec_id,
                sum(x.xi * v.v) - (SELECT sum(m.m * v2.v)
                                   FROM mu m JOIN v$iters v2 ON v2.i = m.i)
                  AS proj
         FROM x JOIN v$iters v ON v.i = x.i
         GROUP BY 1 ORDER BY vec_id"""
    sb.toString
  }

  /** The shipped tokenizer artifact for q_unigram_apply — a FIXED
    * (piece, cnt) table standing in for a stored [[TextAnalysis
    * .unigramTrain]] output (multi-char pieces over the fixture's
    * vocabulary plus the full single-char alphabet, so the <unk>
    * fallback stays a contract rather than a fixture dependency).
    * Shared verbatim by the Spark query and the oracle's VALUES
    * literal — the two sides cannot drift. */
  private val unigramArtifact: Seq[(String, Long)] = Seq(
    "table" -> 900L, "value" -> 760L, "row" -> 600L, "scan" -> 520L,
    "fast" -> 450L, "part" -> 420L, "data" -> 410L, "the" -> 390L,
    "qu" -> 300L, "ery" -> 280L, "er" -> 260L, "an" -> 240L,
    "in" -> 230L, "ow" -> 210L, "merge" -> 205L, "ba" -> 150L,
    "tch" -> 140L) ++
    ('a' to 'z').map(c => c.toString -> (40L + (c - 'a')))

  /** Shared winnowing CTE prefix: ordered trigram sha52 hashes, the
    * min-in-window (leftmost tie) selected positions, exploded —
    * mirrors `Dedup.winnowedFingerprints(n = 3, window = 4)` step for
    * step (the len ≥ 6 gate is n + window − 1). */
  private def winnowingCtes: String =
    s"""WITH w AS (SELECT doc_id,
              string_split_regex(trim(text), '\\s+') AS t
            FROM documents WHERE length(trim(text)) > 0),
       g AS (SELECT doc_id,
               list_transform(range(1, len(t) - 1),
                 i -> ${sha52Sql("array_to_string(t[i:i+2], ' ')")}) AS h
             FROM w WHERE len(t) >= 6),
       f AS (SELECT doc_id, h,
               list_distinct(list_transform(range(0, len(h) - 3),
                 p -> p + list_position(h[p+1:p+4],
                   list_min(h[p+1:p+4])))) AS selpos
             FROM g),
       e AS (SELECT doc_id, h, unnest(selpos) AS pos FROM f)"""

  /** DuckDB rendering of the portable sha52 hash of expression `e` —
    * the identical first-13-hex-nibbles-of-sha256 integer the Spark
    * side computes (`Kmv.sha52`, the DSIR/classifier bucketing). */
  private def sha52Sql(e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split(substring(sha256($e), 1, 13), ''),
       |    c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))),
       |  (acc, x) -> acc * 16 + x)""".stripMargin

  private val asofOracleSql: String =
      """WITH r AS (SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP) AS ots,
                          max(o_totalprice) AS order_price
                   FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, r.order_price
         FROM events e ASOF LEFT JOIN r
           ON e.user_id = r.o_custkey AND e.ts >= r.ots
         ORDER BY e.event_id"""

  /** Top-3 orders per customer (custkey < 100), shared by the window
    * query and the typed-TopKAggregator query. */
  private val topOrdersOracleSql: String =
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
           FROM orders WHERE o_custkey < 100) t
         WHERE rnk <= 3 ORDER BY o_custkey, rnk"""

  /** Exhaustive top-k-by-cosine oracle (k=5, queries = vec_id < 10),
    * shared by the exact query and the recall-1-tuned ANN variants. */
  /** k-center greedy unrolled: round r picks argmin of (best, id) from
    * the running state, then folds the new center's cosine into every
    * point's best via `greatest` — the cappedBudget fixed-unroll
    * pattern. Centers are never excluded (their best pins at ~1.0),
    * mirroring the operator's argmin rule exactly. */
  private def kCenterOracleSql(k: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH cands AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
          FROM embeddings
          WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
       sel1 AS (SELECT id, v FROM cands ORDER BY id LIMIT 1),
       st1 AS (SELECT c.id, c.v, list_cosine_similarity(c.v, s.v) AS best
               FROM cands c, sel1 s)"""
    for (r <- 2 to k) {
      val p = r - 1
      sb ++= s""",
       sel$r AS (SELECT id, v, best FROM st$p ORDER BY best, id LIMIT 1)"""
      if (r < k) sb ++= s""",
       st$r AS (SELECT c.id, c.v,
                greatest(c.best, list_cosine_similarity(c.v, s.v)) AS best
                FROM st$p c, sel$r s)"""
    }
    sb ++= """
       SELECT * FROM (
         SELECT CAST(1 AS BIGINT) AS rank, id AS center_id,
                CAST(1.0 AS DOUBLE) AS sim_at_selection FROM sel1"""
    for (r <- 2 to k) sb ++= s"""
         UNION ALL SELECT CAST($r AS BIGINT), id, best FROM sel$r"""
    sb ++= ") ORDER BY rank"
    sb.toString
  }

  private val exactTopKOracleSql: String =
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings
                    WHERE vec_id < 10
                      AND list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
         c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings
               WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
         s AS (SELECT qid AS query_id, nid AS neighbor_id,
                      list_cosine_similarity(cv, qv) AS cos
               FROM c, q WHERE nid <> qid),
         r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank FROM s)
         SELECT query_id, neighbor_id, rank, cos FROM r WHERE rank <= 5
         ORDER BY query_id, rank"""

  /** Shingle document-frequency cap for the registered Jaccard pipeline.
    * On the fixtures (max df 7 at sf0.01, 25 at sf0.1) this prunes only
    * the hottest shingles; in production it is corpus-scaled and is the
    * knob that bounds the inverted-index join under boilerplate. */
  val shingleDfCap: Int = 20

  /** Cyrillic lookalikes for 'aeocp' in that order (a→а e→е o→о c→с
    * p→р) — the planted spoofing map for q_homoglyph_dedup, shared by
    * the Spark query and its oracle. */
  private val cyrSpoof: String =
    "\u0430\u0435\u043E\u0441\u0440"

  /** Shared CTE prefix for the Gopher rule-gate oracles: one
    * tokenization + one line split per doc, every rule measurement,
    * then the combined pass — mirroring `TextAnalysis.gopherRules`
    * term for term (incl. the empty-trim n_words = 0 guard and the
    * ≥ 1 line count from split's never-empty result). */
  private def gopherRulesCtes(minStopHits: Int = 2,
      from: String = "documents"): String =
      raw"""WITH f AS (SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE CAST(len(string_split_regex(trim(text), '\s+'))
                       AS BIGINT) END AS n_words,
                string_split_regex(trim(text), '\s+') AS toks,
                string_split(text, chr(10)) AS lines,
                CAST(len(regexp_extract_all(text, '#')) +
                     len(regexp_extract_all(text, '(\.\.\.|…)'))
                  AS BIGINT) AS symbols
              FROM $from),
         g AS (SELECT doc_id, n_words, symbols,
                CAST(list_sum(list_transform(toks, t -> length(t)))
                  AS BIGINT) AS len_sum,
                CAST(len(lines) AS BIGINT) AS n_lines,
                CAST(len(list_filter(lines,
                  l -> regexp_matches(l, '^\s*[-*•]'))) AS BIGINT) AS bullet_lines,
                CAST(len(list_filter(lines,
                  l -> regexp_matches(l, '(\.\.\.|…)\s*$$'))) AS BIGINT) AS ellipsis_lines,
                CAST(len(list_filter(toks,
                  t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
                CAST(len(list_filter(
                  ['the','be','to','of','and','that','have','with'],
                  w -> list_contains(toks, w))) AS BIGINT) AS stop_hits
              FROM f),
         m AS (SELECT doc_id, n_words,
                CASE WHEN n_words = 0 THEN 0.0
                     ELSE CAST(len_sum AS DOUBLE) / n_words END AS mean_word_len,
                CASE WHEN n_words = 0 THEN 0.0
                     ELSE CAST(symbols AS DOUBLE) / n_words END AS symbol_ratio,
                CAST(bullet_lines AS DOUBLE) / n_lines AS bullet_line_frac,
                CAST(ellipsis_lines AS DOUBLE) / n_lines AS ellipsis_line_frac,
                CASE WHEN n_words = 0 THEN 0.0
                     ELSE CAST(alpha_words AS DOUBLE) / n_words END AS alpha_word_frac,
                stop_hits
              FROM g),
         rules AS (SELECT *,
                (n_words >= 50 AND n_words <= 100000 AND
                 mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND
                 symbol_ratio <= 0.1 AND bullet_line_frac <= 0.9 AND
                 ellipsis_line_frac <= 0.3 AND alpha_word_frac >= 0.8 AND
                 stop_hits >= $minStopHits) AS pass
              FROM m)"""

  /** Shared CTE prefix for the token-repetition oracles: per-(doc,
    * token) counts, then per-doc totals/distincts/max — mirroring
    * `TextAnalysis.tokenRepetition` (incl. the `['']` empty-split quirk
    * both engines share, so blank docs report one empty token). */
  private val tokenRepetitionCtes: String =
      """WITH toks AS (SELECT doc_id,
                unnest(string_split_regex(trim(text), '\s+')) AS t
              FROM documents),
         tc AS (SELECT doc_id, t, count(*) AS c FROM toks GROUP BY 1, 2),
         agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                        COUNT(*) AS n_distinct_tokens, MAX(c) AS tc
                 FROM tc GROUP BY doc_id)"""

  /** Shared CTE prefix for the decontamination oracles: corpus 3-gram
    * sets (`nz`), exploded postings (`ds`), distinct probe shingles
    * (`ps`, probe set = doc_id % 20 == 0), per-doc shared counts
    * (`shared`). Mirrors `Dedup.ngramContamination` on raw shingle
    * strings — no hashing on either side, so counts are exact. */
  private val contaminationCtes: String =
      """WITH tok AS (SELECT doc_id,
                list_distinct(CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3 THEN []
                  ELSE list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 1),
                    i -> array_to_string((string_split_regex(trim(text), '\s+'))[i:i+2], ' ')) END) AS sh
              FROM documents),
         nz AS (SELECT doc_id, sh, len(sh) AS n FROM tok WHERE len(sh) > 0),
         ds AS (SELECT doc_id, unnest(sh) AS s FROM nz),
         ps AS (SELECT DISTINCT unnest(sh) AS s FROM tok
                WHERE doc_id % 20 = 0 AND len(sh) > 0),
         shared AS (SELECT doc_id, count(*) AS c FROM ds JOIN ps USING (s)
                    GROUP BY doc_id)"""

  /** Shared CTE prefix for the duplicated-n-gram oracles: corpus 3-gram
    * sets (`nz`), exploded postings (`ds`), shingles with df ≥ 2
    * (`dfq`), per-doc duplicated-shingle counts (`dup`). Mirrors
    * `Dedup.dupNgramStats`; the Spark side joins on xxhash64(shingle)
    * (collisions negligible and only ever merge shingles), the oracle
    * on raw strings. */
  private val dupNgramCtes: String =
      """WITH tok AS (SELECT doc_id,
                list_distinct(CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3 THEN []
                  ELSE list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 1),
                    i -> array_to_string((string_split_regex(trim(text), '\s+'))[i:i+2], ' ')) END) AS sh
              FROM documents),
         nz AS (SELECT doc_id, sh, len(sh) AS n FROM tok WHERE len(sh) > 0),
         ds AS (SELECT doc_id, unnest(sh) AS s FROM nz),
         dfq AS (SELECT s, count(*) AS df FROM ds GROUP BY s HAVING count(*) >= 2),
         dup AS (SELECT d.doc_id, count(*) AS c
                 FROM ds d JOIN dfq USING (s) GROUP BY d.doc_id)"""

  /** Capped-df Jaccard oracle: mirrors `Dedup.jaccardNearDupPairs` with
    * `maxShingleDf` — shingles above the cap are dropped BEFORE set
    * sizes are computed, so J is the exact Jaccard over the reduced
    * universe on both sides. */
  /** Min-reachable-id components over the capped-jaccard pair graph as
    * a recursive CTE — shared by the min-label-loop and star-contraction
    * registrations (the labeling is algorithm-independent). */
  private def jaccardComponentsCtes: String =
      s"""WITH RECURSIVE
         tok AS (SELECT doc_id,
                list_distinct(CASE WHEN len(string_split_regex(trim(text), '\\s+')) < 3 THEN []
                  ELSE list_transform(range(1, len(string_split_regex(trim(text), '\\s+')) - 1),
                    i -> array_to_string((string_split_regex(trim(text), '\\s+'))[i:i+2], ' ')) END) AS sh
              FROM documents),
         inv0 AS (SELECT doc_id, unnest(sh) AS s FROM tok WHERE len(sh) > 0),
         dfq AS (SELECT s FROM inv0 GROUP BY s HAVING count(*) <= $shingleDfCap),
         inv AS (SELECT i.doc_id, i.s FROM inv0 i JOIN dfq USING (s)),
         sizes AS (SELECT doc_id, count(*) AS n FROM inv GROUP BY doc_id),
         cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2),
         jp AS (SELECT c.id_a, c.id_b FROM cand c
                JOIN sizes sa ON sa.doc_id = c.id_a
                JOIN sizes sb ON sb.doc_id = c.id_b
                WHERE CAST(c.shared AS DOUBLE) / (sa.n + sb.n - c.shared) >= 0.6),
         edges AS (SELECT id_a AS src, id_b AS dst FROM jp
                   UNION SELECT id_b, id_a FROM jp),
         reach(node, root) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node),
         comp AS (SELECT node AS doc_id, min(root) AS component_id
                  FROM reach GROUP BY node)"""

  private def jaccardComponentsOracleSql: String =
    jaccardComponentsCtes +
      """ SELECT doc_id, component_id FROM comp ORDER BY doc_id"""

  private def cappedJaccardCtes: String =
      s"""WITH tok AS (SELECT doc_id,
                list_distinct(CASE WHEN len(string_split_regex(trim(text), '\\s+')) < 3 THEN []
                  ELSE list_transform(range(1, len(string_split_regex(trim(text), '\\s+')) - 1),
                    i -> array_to_string((string_split_regex(trim(text), '\\s+'))[i:i+2], ' ')) END) AS sh
              FROM documents),
         inv0 AS (SELECT doc_id, unnest(sh) AS s FROM tok WHERE len(sh) > 0),
         dfq AS (SELECT s FROM inv0 GROUP BY s HAVING count(*) <= $shingleDfCap),
         inv AS (SELECT i.doc_id, i.s FROM inv0 i JOIN dfq USING (s)),
         sizes AS (SELECT doc_id, count(*) AS n FROM inv GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                   FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         scored AS (SELECT p.id_a, p.id_b,
                           CAST(p.shared AS DOUBLE) / (sa.n + sb.n - p.shared) AS jaccard
                    FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a
                                 JOIN sizes sb ON sb.doc_id = p.id_b)
"""

  private def cappedJaccardOracleSql: String =
    cappedJaccardCtes +
      """ SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.6
         ORDER BY id_a, id_b"""

  /** Cross-source duplication matrix oracle: the capped pair graph's
    * surviving edges, each attributed to its unordered source pair. */
  private def sourceDupMatrixOracleSql: String =
    cappedJaccardCtes +
      """, np AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.6)
         SELECT least(da.source, db.source) AS source_x,
                greatest(da.source, db.source) AS source_y,
                count(*) AS n_pairs
         FROM np
         JOIN documents da ON da.doc_id = np.id_a
         JOIN documents db ON db.doc_id = np.id_b
         GROUP BY 1, 2 ORDER BY source_x, source_y"""

  private val jaccardOracleSql: String =
      """WITH tok AS (SELECT doc_id,
                list_distinct(CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3 THEN []
                  ELSE list_transform(range(1, len(string_split_regex(trim(text), '\s+')) - 1),
                    i -> array_to_string((string_split_regex(trim(text), '\s+'))[i:i+2], ' ')) END) AS sh
              FROM documents),
         sized AS (SELECT doc_id, sh, len(sh) AS n FROM tok WHERE len(sh) > 0),
         inv AS (SELECT doc_id, n, unnest(sh) AS s FROM sized),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb, count(*) AS shared
                   FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
                   GROUP BY 1, 2, 3, 4)
         SELECT id_a, id_b, CAST(shared AS DOUBLE) / (na + nb - shared) AS jaccard
         FROM pairs WHERE CAST(shared AS DOUBLE) / (na + nb - shared) >= 0.6
         ORDER BY id_a, id_b"""
}
