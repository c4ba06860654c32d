package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.col

/** Plan-shape regression guards: the properties that make these queries
  * scale (pushdown, pruning, broadcast) asserted against the actual
  * physical plan, so a refactor that silently loses them fails CI. */
class PlanShapeSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.explainString(FormattedMode)

  test("q_raw_events pushes the value filter into the parquet scan") {
    val p = plan("q_raw_events")
    assert(p.contains("PushedFilters: [IsNotNull(value), GreaterThanOrEqual(value,100.0)]"))
    // column pruning: props/ts must not be read
    assert(!p.contains("props"))
  }

  test("q3_shipping broadcasts the filtered customer dimension") {
    val p = plan("q3_shipping")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q5_region_revenue reads only 3 lineitem columns and broadcasts dims") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains(
      "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"))
  }

  test("q1_lineitem_agg is a partial -> exchange -> final aggregation") {
    val p = plan("q1_lineitem_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(p.contains("hashpartitioning"))
  }

  test("range join plans as a hash join on buckets, not a nested loop") {
    val p = plan("q_events_within_minute")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("Join") || p.contains("join"))
  }

  test("as-of join is union + single keyed window, no join blowup") {
    val p = plan("q_asof_last_order")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("Window"))
  }

  test("q_top_orders_per_cust_agg is a map-side-combined aggregate, no window sort") {
    val p = plan("q_top_orders_per_cust_agg")
    assert(!p.contains("Window"))
    // typed Aggregator plans as partial + final ObjectHashAggregate
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"))
  }

  test("q_embedding_neardup plans as bucket joins, not a cross join") {
    val p = plan("q_embedding_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("top-k epilogue is a partial-combining aggregate, not a window sort") {
    // the exact brute-force path would otherwise shuffle EVERY corpus
    // row of a query into one window partition; the TopKAggregator
    // epilogue shuffles ≤ k rows per query per input partition
    for (q <- Seq("q_embedding_topk", "q_ann_lsh_topk", "q_ivf_topk",
        "q_tfidf_keywords")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q epilogue still plans a Window")
      assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
        s"$q epilogue is not an aggregate")
    }
  }

  test("q9 broadcasts both dimension sides into the fact join") {
    val p = plan("q9_supplier_nation_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_top_terms plans as TakeOrderedAndProject over the aggregated vocab") {
    val p = plan("q_top_terms")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k head must merge per-partition top-k, not global-sort")
  }

  test("windowed aggregations are partial -> exchange -> final") {
    for (q <- Seq("q_hourly_category_sales", "q_sliding_revenue")) {
      val p = plan(q)
      assert(p.contains("HashAggregate"), q)
      assert(!p.contains("CartesianProduct"), q)
    }
  }

  test("composite-key quota keeps the no-window aggregate shape") {
    val p = plan("q_domain_quota_multi")
    assert(!p.contains("Window"),
      "composite-key groupQuota must not fall back to a window sort")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"))
  }

  test("contamination probe side broadcasts; corpus shingles never shuffle to match") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin"),
      "probe shingles must broadcast against the corpus postings")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("wide simhash verifies Hamming inside the band join — one join, no sig re-joins") {
    // full-corpus registration: band rows carry the packed signature,
    // so the plan must hold exactly ONE join (the band-bucket
    // self-join) with the bit_count Hamming filter BELOW the distinct
    // aggregate — the two historical post-candidate sig joins (which
    // shuffled every bucket collision twice more) must not reappear
    val lp = SparkEntry.queries("q_simhash_neardup_wide")(spark, sf)
      .queryExecution.optimizedPlan
    val joins = lp.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size === 1, s"expected exactly one join:\n$lp")
    // Catalyst folds the Hamming predicate into the join condition
    // itself (filter-into-join) — accept it there or as a Filter below
    // the distinct aggregate; either way it must gate the join output
    val hammingInJoin = joins.head.condition
      .exists(_.toString.toLowerCase.contains("bit_count"))
    val hammingBelowAgg = lp.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.collect {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter
                if f.condition.toString.toLowerCase.contains("bit_count") => f
          }.nonEmpty => a
    }
    assert(hammingInJoin || hammingBelowAgg.nonEmpty,
      s"bit_count Hamming check gates neither the join nor a filter below the distinct:\n$lp")
  }

  test("aggregation queries keep whole-stage codegen on the scan side") {
    val p = SparkEntry.queries("q1_lineitem_agg")(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(p.contains("WholeStageCodegen"))
  }

  test("q_pq_topk: both top-k stages are aggregates, queries broadcast") {
    // the ADC shortlist and the exact re-rank both run through the
    // map-side-combining TopKAggregator — no per-query window sort
    val p = plan("q_pq_topk")
    assert(!p.contains("Window"))
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side must broadcast against the streamed code scan")
  }

  test("bloomAntiJoin probes scan-locally: no join, no exchange on the left") {
    val left = Tables.documents(spark, sf)
    val right = Tables.documents(spark, sf).filter(col("doc_id") % 7 === 0)
    val p = graft.operators.Dedup.bloomAntiJoin(left, "doc_id", right, "doc_id",
        expectedItems = 1000)
      .queryExecution.explainString(FormattedMode)
    // the whole point: the probe is a filter on the scan, the left side
    // never joins or shuffles
    assert(!p.contains("Join") && !p.contains("Exchange"), p)
    assert(p.contains("might_contain"))
  }

  test("q_dedup_spans: digest joins, and the span generator runs exactly once") {
    val df = SparkEntry.queries("q_dedup_spans")(spark, sf)
    val p = df.queryExecution.explainString(FormattedMode)
    // dup detection + anti-join key on the materialized __s digest
    // column (xxhash64(chunk_text), computed once inside the checkpoint)
    assert(p.contains("__s"))
    // dedupSpans eagerly localCheckpoints the span rows (AQE's stage
    // cache does not unify two planned copies of a typed MapPartitions
    // subtree, so a plain barrier would chunk the corpus once per
    // consumer): both consumers must scan the SAME materialized RDD —
    // the chunk generator ran exactly once
    val rddRefs = "MapPartitionsRDD\\[\\d+\\]".r.findAllIn(p).toList
    assert(rddRefs.size >= 2 && rddRefs.distinct.size === 1,
      s"expected both consumers to share one checkpointed RDD, saw $rddRefs")
  }

  test("q_vocab_coverage: head cut is TakeOrderedAndProject, window is k-bounded") {
    val p = plan("q_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      "top-k head must ship per-partition local top-k, not a global sort")
  }

  test("q_edit_distance_pairs: segment-banded equi-joins, never all-pairs") {
    val p = plan("q_edit_distance_pairs")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "candidates must come from the (len, slot, segment) equi-join")
  }

  test("q_copurchase_triangles: every graph join is a hash equi-join") {
    val p = plan("q_copurchase_triangles")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_pmi_bigrams: top-k cut is TakeOrderedAndProject, N broadcasts") {
    val p = plan("q_pmi_bigrams")
    assert(p.contains("TakeOrderedAndProject"),
      "the k-cut must not globally sort the scored pairs")
    // the 1-row bigram total joins in as a broadcast, like bruteForceTopK's
    // query block — the only acceptable nested-loop shape (1 × m rows)
    assert(p.contains("BroadcastExchange"))
  }

  test("q_group_quantiles: one exchange per grouped window, scan pruned") {
    val p = plan("q_group_quantiles")
    // row_number + count share the (event_type) partitioning: exactly one
    // shuffle of the (event_type, value) projection
    assert(p.contains("ReadSchema: struct<event_type:string,value:double>"),
      "quantile scan must read only the group and value columns")
  }

  test("sentence segmentation is generator-only: no exchange, pruned scan") {
    // the operator itself (the registered query adds an output orderBy,
    // whose range exchange is presentation, not work)
    val df = graft.functions.TextAnalysis.sentences(
      Tables.documents(spark, sf), "doc_id", "text")
    val p = df.queryExecution.explainString(FormattedMode)
    assert(!p.contains("Exchange"), "per-row split must not shuffle")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "sentence scan must read only id and text")
  }

  test("q_oov_rate: vocabulary broadcasts into the per-doc side") {
    val p = plan("q_oov_rate")
    assert(p.contains("TakeOrderedAndProject"),
      "vocabulary cut must be a local-top-k, not a global sort")
    assert(p.contains("BroadcastHashJoin"),
      "k-row vocabulary must broadcast, not shuffle the per-doc counts")
  }

  test("q_embedding_across: candidates from bucket equi-joins, no NLJ") {
    val p = plan("q_embedding_across")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "cross-corpus candidates must come from the (tbl, bkt) equi-join")
  }

  test("q_top_revenue_supplier: 1-row max broadcasts, no global window") {
    val p = plan("q_top_revenue_supplier")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the scalar max must broadcast back onto the aggregate")
    assert(!p.contains("Window"),
      "Q15 winner selection must not rank all suppliers")
  }

  test("q_bulk_part_suppliers: both membership tests stay semi-joins") {
    val p = plan("q_bulk_part_suppliers")
    assert("LeftSemi".r.findAllIn(p).size >= 2,
      "part-membership and supplier-membership must both be left_semi")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_snapshot_diff: one full-outer key join, values compared in place") {
    val p = plan("q_snapshot_diff")
    assert(p.contains("FullOuter"), "classification needs the full-outer join")
    // tree lines only ("SortMergeJoin FullOuter (n)") — FormattedMode
    // repeats every node name again in the details section
    assert("""(SortMergeJoin|ShuffledHashJoin) \w+ \(""".r.findAllIn(p).size === 1,
      "exactly one join: statuses derive from presence flags, not extra joins")
  }

  test("q7: both nation roles broadcast; lineitem streams through one join chain") {
    val p = plan("q7_nation_volume")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "supplier-nation and customer-nation role dims must both broadcast")
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      "the fact side must not shuffle for the role dims")
  }

  test("q_cdc_state: latest-change reduction is an aggregate, not a window") {
    val p = plan("q_cdc_state")
    assert(!p.contains("Window"),
      "max_by reduction must not per-key sort the changelog")
    assert(p.contains("LeftAnti"), "untouched keys ship through the anti-join")
  }

  test("q_outlinks: extraction+resolution is scan-local — no join, no hash shuffle") {
    val p = plan("q_outlinks")
    assert(p.contains("Generate"), "explode of extracted refs must plan")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin") &&
      !p.contains("CartesianProduct"),
      "outlink extraction must not join anything")
    assert(!p.contains("Exchange hashpartitioning"),
      "resolution is a projection — only the final orderBy may exchange")
  }

  test("q_crawl_dedup: keep-latest is ONE aggregation, no window over the corpus") {
    val p = plan("q_crawl_dedup")
    assert(!p.contains("Window"),
      "max_by reduction must not per-key window-sort the recrawl stream")
    // max_by of a whole-row struct is not hash-aggregable (struct agg
    // buffer), so Spark plans partial -> exchange -> final
    // SortAggregate — map-side collapse of recrawls before the shuffle
    // is the property that matters at scale
    assert("(Sort|Hash)Aggregate".r.findAllIn(p).size >= 2,
      "partial -> final max_by aggregation expected (map-side collapse " +
        "of recrawls before the shuffle)")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "keep-latest must not join")
  }

  private def offenders(pick: CatalogBuilds.Verdicts => Seq[String]): Seq[String] =
    CatalogBuilds.all(spark, sf).flatMap { b =>
      val bad = pick(b.verdicts)
      if (bad.isEmpty) Nil else Seq(s"${b.name} (${bad.mkString("; ")})")
    }

  test("NO registered query plans a CartesianProduct — the whole suite, forever") {
    // 1-row broadcast crossJoins plan as BroadcastNestedLoopJoin (cheap,
    // streamed once) and are allowed; an actual CartesianProduct means a
    // pairwise blow-up reached a registered path — that must never ship.
    val offenders = CatalogBuilds.all(spark, sf)
      .collect { case b if b.verdicts.cartesian => b.name }
    assert(offenders.isEmpty,
      s"CartesianProduct in registered plans: ${offenders.mkString(", ")}")
  }

  test("no broadcast hint on a corpus-derived host/url registry — the whole registry, forever") {
    val bad = offenders(_.hintOffenders)
    assert(bad.isEmpty,
      s"broadcast hints over host/url registries: ${bad.mkString(", ")}")
  }

  test("every unpartitioned window reads a bounded input — suite-wide") {
    val bad = offenders(_.windowOffenders)
    assert(bad.isEmpty,
      s"unpartitioned windows over unbounded input: ${bad.mkString(", ")}")
  }
}
