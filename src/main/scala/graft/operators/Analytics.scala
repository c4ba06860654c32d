package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Reuse.ReuseOps

/** Product-analytics operators over the event stream — the batch
  * counterparts of what the reference's dashboards would ask of its
  * aggregate tables: sessionization, funnel conversion, cohort
  * retention. All three are integer/timestamp-exact (no floating
  * point in any grouping key or count), so their DuckDB oracles are
  * hash-exact, not tolerance-fuzzy.
  */
object Analytics {

  /** Gap-based sessionization: consecutive events of one user belong to
    * the same session iff they are ≤ `gapMinutes` apart; a longer gap
    * (or the user's first event) opens a new session. Classic
    * lag-then-running-sum: the window partitions by user, so at scale
    * this is ONE shuffle on the user key; the per-(user, session)
    * rollup that follows combines map-side. Gap comparison is in µs
    * longs (`unix_micros`), not floating seconds — exact, and exactly
    * `epoch_us` in the oracle. The (ts, id) sort key is unique, so the
    * running sum's frame is deterministic.
    * Output: (user, session_idx 1-based, n_events, session_start,
    * session_end). */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, gapMinutes: Int): DataFrame = {
    require(gapMinutes > 0, s"need a positive session gap, got $gapMinutes")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val us = unix_micros(col(tsCol))
    val prev = lag(us, 1).over(w)
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val isNew = when(prev.isNull || (us - prev) > gapUs, 1L).otherwise(0L)
    events
      .withColumn("session_idx",
        sum(isNew).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col(userCol), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))
  }

  /** Ordered funnel: a user reaches step k iff the FIRST occurrence of
    * each step's event type happens in strict step order
    * (t₁ < t₂ < … < tₖ). One conditional-min aggregation per user
    * (map-side combined — the only shuffle moves one row per user with
    * `steps.size` timestamps), then a `steps.size`-row summary.
    * A missing or out-of-order step breaks the prefix: later steps
    * can't count even if their types occurred (strict-order semantics,
    * mirrored by the CASE chain in the oracle — NULL comparisons fall
    * to the 0 branch in both engines).
    * Output: (step 1-based, step_name, n_users). */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.distinct == steps,
      s"need distinct funnel steps, got $steps")
    val firsts = events.groupBy(col(userCol))
      .agg(min(when(col(typeCol) === steps.head, col(tsCol))).as("t0"),
        steps.tail.zipWithIndex.map { case (s, i) =>
          min(when(col(typeCol) === s, col(tsCol))).as(s"t${i + 1}")
        }: _*)
    // prefix-AND of the step conditions: cond_k = cond_{k-1} ∧ t_k > t_{k-1}
    val conds = steps.indices.foldLeft(Vector.empty[Column]) { (acc, i) =>
      val step = if (i == 0) col("t0").isNotNull
                 else acc.last && (col(s"t$i") > col(s"t${i - 1}"))
      acc :+ step
    }
    val depth = conds.map(c => when(c, 1L).otherwise(0L)).reduce(_ + _)
    val wide = firsts.agg(
      sum(when(depth >= 1, 1L).otherwise(0L)).as(s"s1"),
      (2 to steps.size).map(k =>
        sum(when(depth >= k, 1L).otherwise(0L)).as(s"s$k")): _*)
    val stepRows = steps.zipWithIndex.map { case (name, i) =>
      struct(lit(i + 1).as("step"), lit(name).as("step_name"),
        col(s"s${i + 1}").as("n_users"))
    }
    wide.select(explode(array(stepRows: _*)).as("r"))
      .select(col("r.step"), col("r.step_name"), col("r.n_users"))
  }

  /** First-order Markov transition counts: how often event type A is
    * immediately followed by B within a user's (ts, id)-ordered stream.
    * One lead window over one shuffle on the user key, then a
    * map-side-combinable count over the (from, to) pairs — the
    * next-event model / UX-flow matrix. Integer counts over a unique
    * sort key: hash-exact. Output: (from_type, to_type, n). */
  def transitionCounts(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    events
      .select(col(userCol), col(tsCol), col(idCol), col(typeCol))
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Damped PageRank over an undirected edge list, fixed iteration
    * count. Each round is contributions-out (rank/degree along every
    * edge) then sum-in — two joins + one aggregation, all keyed on the
    * node, with a periodic `localCheckpoint` to stop lineage growth
    * (the same discipline as `Dedup.nearDupComponents`' label loop).
    * Undirected edges mean no dangling-mass correction is needed
    * (every node has degree ≥ 1). Oracle-registered via
    * `SparkEntry.pageRankOracleSql`'s unrolled-CTE recurrence (same
    * double constants both sides); cross-engine float-summation-order
    * differences stay orders of magnitude inside the compare tolerance
    * because the iteration count is FIXED, not convergence-tested.
    *
    * The adjacency is degree-pre-joined, repartitioned on `src` ONCE
    * and localCheckpointed, so each iteration shuffles only the
    * node-sized rank frame — never the edge list — and pays one join +
    * one map-side-combinable aggregation. Output: (node, rank), ranks
    * summing to 1. */
  def pageRank(edges: DataFrame, aCol: String, bCol: String,
      iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1 && damping > 0 && damping < 1)
    val arcs = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val deg = arcs.groupBy("src").agg(count(lit(1)).as("odeg"))
    val e = arcs.join(deg, Seq("src"))
      .repartition(col("src"))
      .materialized // edge-sized; shuffled once, read every round
    val nodes = e.select(col("src").as("node")).distinct()
    val n = nodes.count()
    // an empty (or all-self-loop) edge list gives n = 0 → 1.0/n would
    // seed every rank at Infinity; fail loudly instead
    require(n > 0, "pageRank: edge list has no non-self-loop edges")
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (i <- 1 to iterations) {
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("rank") / col("odeg")).as("c"))
      // every node of an undirected graph has in-arcs, so the
      // contribution aggregate already covers the full node set — no
      // left-join-back onto `nodes` needed (it would be required for a
      // DIRECTED graph, where sinks receive nothing)
      ranks = contribs.groupBy("node").agg(sum(col("c")).as("s"))
        .select(col("node"),
          (lit((1.0 - damping) / n) +
            lit(damping) * col("s")).as("rank"))
      // cadence A/B'd in r16 (verdict #4): every-5 measured dead even
      // (q_pagerank 1.518 s vs 1.521 s, controls flat) — kept at 3,
      // which bounds the unmaterialized lineage chain at 3 rounds
      if (i % 3 == 0 || i == iterations) ranks = ranks.materialized
    }
    ranks
  }

  /** Damped PageRank over a DIRECTED edge list with per-iteration
    * dangling-mass redistribution — the web-authority form
    * ([[pageRank]] is the undirected variant, where every node has
    * out-degree ≥ 1 by construction and no correction exists). Sinks
    * (nodes with no outlinks — crawl-frontier leaves, 404 targets)
    * hold rank they can pass to no one; the standard fix (Page et al.
    * '99 §2.7 / the "teleport from dangling nodes" form) redistributes
    * their aggregate mass uniformly each round:
    *
    *   r'(v) = (1-d)/n + d * ( Σ_{u→v} r(u)/odeg(u)  +  D/n ),
    *   D = Σ_{odeg(u)=0} r(u)
    *
    * which keeps Σ r = 1 exactly (spec'd as an invariant).
    *
    * Scale shape: the adjacency is degree-pre-joined, repartitioned on
    * `src` once and materialized, so each of the fixed iterations
    * shuffles only the node-sized rank frame. The dangling mass D is a
    * ONE-ROW aggregate of the rank frame, attached via a broadcast
    * cross join (bounded by construction — the PlanShapeSpec-sanctioned
    * 1-row pattern); sinks receive contributions via a left join back
    * onto the node registry, which the undirected form provably never
    * needs. Output: (node, rank), ranks summing to 1. */
  def pageRankDirected(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1 && damping > 0 && damping < 1)
    val arcs = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .filter(col("src") =!= col("dst"))
      .distinct()
    val deg = arcs.groupBy("src").agg(count(lit(1)).as("odeg"))
    val e = arcs.join(deg, Seq("src"))
      .repartition(col("src"))
      .materialized // edge-sized; shuffled once, read every round
    // directed node set = sources ∪ targets; odeg 0 marks a sink
    val nodes = arcs.select(col("src").as("node"))
      .unionAll(arcs.select(col("dst").as("node")))
      .distinct()
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("odeg"), lit(0L)).as("odeg"))
      .repartition(col("node"))
      .materialized // node-registry-sized; read every round
    val n = nodes.count()
    require(n > 0, "pageRankDirected: edge list has no non-self-loop edges")
    var ranks = nodes.select(col("node"), col("odeg"),
      lit(1.0 / n).as("rank")).materialized
    for (i <- 1 to iterations) {
      // D as an IN-PLAN 1-row broadcast over the previous round's
      // materialized state. `ranks` is a LogicalRDD LEAF in every
      // reuse mode (Reuse.materialize always cuts the logical
      // lineage), so referencing it twice — dangling
      // aggregate + contribution join — duplicates an O(1) leaf, not a
      // growing subtree; the aggregate rides the SAME action as the
      // round's materialize instead of paying its own per-iteration
      // driver job (the r14 head() form — one extra scheduling floor
      // per round, the top cost of the whole rank family at local[32])
      val dmDf = ranks.filter(col("odeg") === 0L)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))
      val contribs = e
        .join(ranks.select(col("node").as("src"), col("rank")), Seq("src"))
        .select(col("dst").as("node"), (col("rank") / col("odeg")).as("c"))
      // left join back onto the registry: sinks (and link-only
      // sources) receive no in-contributions but still hold rank
      ranks = nodes
        .join(contribs.groupBy("node").agg(sum(col("c")).as("s")),
          Seq("node"), "left")
        .crossJoin(broadcast(dmDf)) // 1 row by construction
        .select(col("node"), col("odeg"),
          (lit((1.0 - damping) / n) + lit(damping) *
            (coalesce(col("s"), lit(0.0)) + col("__dm") / n)).as("rank"))
        .materialized // one action per round, dangling agg included
    }
    ranks.select(col("node"), col("rank"))
  }

  /** WEIGHTED directed PageRank — [[pageRankDirected]] with each
    * outlink's share of its source's rank proportional to the edge
    * weight instead of uniform (the natural upgrade when the crawl
    * tier knows HOW OFTEN one host links another: edge weight = anchor
    * count, so a host linked by 50 anchors from `u` receives 50× the
    * rank share of a host `u` links once):
    *
    *   r'(v) = (1-d)/n + d * ( Σ_{u→v} r(u)·w(u,v)/W(u)  +  D/n ),
    *   W(u) = Σ_out w(u,·),  D = Σ_{W(u)=0} r(u)
    *
    * Parallel (src, dst) edges merge ADDITIVELY (their weights sum —
    * the anchor-count semantics); non-positive and NULL weights are
    * dropped (a zero-weight edge is "no link"), so a node whose every
    * outlink is dropped becomes a genuine dangling sink. Σ r = 1 holds
    * exactly, same argument as the uniform form. With all weights
    * equal it reduces to [[pageRankDirected]] (spec'd).
    *
    * Scale shape identical to [[pageRankDirected]]: weight-pre-joined
    * adjacency shuffled once, per-round node-registry frames, dangling
    * mass as an in-plan 1-row broadcast riding the round's materialize
    * action. Output: (node, rank). */
  def pageRankDirectedWeighted(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, iterations: Int = 10,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1 && damping > 0 && damping < 1)
    val arcs = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("double").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .filter(col("src") =!= col("dst"))
      .filter(col("w") > 0.0)
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))
    val wout = arcs.groupBy("src").agg(sum(col("w")).as("wout"))
    val e = arcs.join(wout, Seq("src"))
      .repartition(col("src"))
      .materialized // edge-sized; shuffled once, read every round
    val nodes = arcs.select(col("src").as("node"))
      .unionAll(arcs.select(col("dst").as("node")))
      .distinct()
      .join(wout.withColumnRenamed("src", "node"), Seq("node"), "left")
      .select(col("node"), coalesce(col("wout"), lit(0.0)).as("wout"))
      .repartition(col("node"))
      .materialized // node-registry-sized; read every round
    val n = nodes.count()
    require(n > 0,
      "pageRankDirectedWeighted: no positive-weight non-self-loop edges")
    var ranks = nodes.select(col("node"), col("wout"),
      lit(1.0 / n).as("rank")).materialized
    for (i <- 1 to iterations) {
      // in-plan 1-row dangling broadcast over the previous round's
      // LEAF — see pageRankDirected
      val dmDf = ranks.filter(col("wout") === 0.0)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))
      val contribs = e
        .join(ranks.select(col("node").as("src"), col("rank")), Seq("src"))
        .select(col("dst").as("node"),
          (col("rank") * col("w") / col("wout")).as("c"))
      ranks = nodes
        .join(contribs.groupBy("node").agg(sum(col("c")).as("s")),
          Seq("node"), "left")
        .crossJoin(broadcast(dmDf)) // 1 row by construction
        .select(col("node"), col("wout"),
          (lit((1.0 - damping) / n) + lit(damping) *
            (coalesce(col("s"), lit(0.0)) + col("__dm") / n)).as("rank"))
        .materialized
    }
    ranks.select(col("node"), col("rank"))
  }

  /** PERSONALIZED PageRank over a directed edge list — [[pageRankDirected]]
    * with the uniform teleport replaced by a seed-set distribution
    * (Haveliwala '02 topic-sensitive form): restarts land only on the
    * seeds, so rank measures authority AS SEEN FROM the seed set — the
    * crawl-frontier prioritization signal ("how close is this host to
    * my trusted seeds"), and the TrustRank shape when seeds are a
    * whitelist.
    *
    *   r'(v) = (1-d)·p(v) + d·( Σ_{u→v} r(u)/odeg(u) + D·p(v) ),
    *   p = 1/|S∩nodes| on the seeds, 0 elsewhere; r₀ = p
    *
    * Dangling mass D also teleports to the seeds (the standard
    * strongly-preferential form), so Σ r = 1 holds exactly. Seeds
    * outside the graph are ignored (require ≥ 1 inside). Scale shape
    * identical to [[pageRankDirected]]: adjacency shuffled once, D a
    * 1-row broadcast, the seed indicator a node-registry column.
    * Output: (node, rank). */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, seedCol: String,
      iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1 && damping > 0 && damping < 1)
    val arcs = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .filter(col("src") =!= col("dst"))
      .distinct()
    val deg = arcs.groupBy("src").agg(count(lit(1)).as("odeg"))
    val e = arcs.join(deg, Seq("src"))
      .repartition(col("src"))
      .materialized
    val sd = seeds.select(col(seedCol).cast("string").as("node"))
      .filter(col("node").isNotNull).distinct()
    val nodes = arcs.select(col("src").as("node"))
      .unionAll(arcs.select(col("dst").as("node")))
      .distinct()
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .join(sd.withColumn("__s", lit(1L)), Seq("node"), "left")
      .select(col("node"), coalesce(col("odeg"), lit(0L)).as("odeg"),
        coalesce(col("__s"), lit(0L)).as("is_seed"))
      .repartition(col("node"))
      .materialized
    val nSeeds = nodes.filter(col("is_seed") === 1L).count()
    require(nSeeds > 0,
      "personalizedPageRank: no seed is a node of the edge graph")
    val p = col("is_seed").cast("double") / nSeeds
    var ranks = nodes.select(col("node"), col("odeg"), col("is_seed"),
      p.as("rank")).materialized
    for (i <- 1 to iterations) {
      // in-plan 1-row dangling broadcast over the previous round's
      // LEAF — same fold-the-scalar-into-the-materialize-action shape
      // as pageRankDirected (see the comment there)
      val dmDf = ranks.filter(col("odeg") === 0L)
        .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))
      val contribs = e
        .join(ranks.select(col("node").as("src"), col("rank")), Seq("src"))
        .select(col("dst").as("node"), (col("rank") / col("odeg")).as("c"))
      ranks = nodes
        .join(contribs.groupBy("node").agg(sum(col("c")).as("s")),
          Seq("node"), "left")
        .crossJoin(broadcast(dmDf)) // 1 row by construction
        .select(col("node"), col("odeg"), col("is_seed"),
          (lit(1.0 - damping) * p + lit(damping) *
            (coalesce(col("s"), lit(0.0)) + col("__dm") * p)).as("rank"))
        .materialized
    }
    ranks.select(col("node"), col("rank"))
  }

  /** HITS hubs-and-authorities (Kleinberg '99) over a directed edge
    * list, fixed iteration count with L2 normalization per half-step —
    * the anchor-authority companion to PageRank: a good HUB links many
    * good authorities (a directory/sitemap page), a good AUTHORITY is
    * linked by many good hubs (the page worth keeping). Initialization
    * h₀ = 1; each iteration a = Aᵀh / ‖Aᵀh‖₂ then h = Aa / ‖Aa‖₂.
    * Nodes with no in-links report authority 0, no out-links hub 0 —
    * kept, never dropped.
    *
    * Scale shape: the edge list is shuffled once per DIRECTION
    * (repartitioned on src and dst respectively — each iteration's two
    * joins then co-locate), scores are node-registry frames, the L2
    * norms are 1-row broadcast aggregates. Output: (node, hub,
    * authority). */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 8): DataFrame = {
    require(iterations >= 1)
    val arcs = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .filter(col("src") =!= col("dst"))
      .distinct()
    val eBySrc = arcs.repartition(col("src")).materialized
    val eByDst = arcs.repartition(col("dst")).materialized
    val nodes = arcs.select(col("src").as("node"))
      .unionAll(arcs.select(col("dst").as("node")))
      .distinct().materialized
    require(!nodes.isEmpty, "hits: edge list has no non-self-loop edges")
    var hub = nodes.withColumn("h", lit(1.0)).materialized
    var auth: DataFrame = null
    for (i <- 1 to iterations) {
      // each half-step: materialize the raw sums ONCE, then divide by
      // the L2 norm as an IN-PLAN 1-row broadcast over that
      // materialized LEAF (Reuse.materialize cuts the logical lineage
      // in every mode, so the double reference duplicates an
      // O(1) leaf, not a growing subtree). The r14 form read the norm
      // back as a driver scalar — one extra per-half-step job whose
      // scheduling floor dominated the suite's HITS cost at local[32]
      val aRaw = eByDst
        .join(hub.select(col("node").as("src"), col("h")), Seq("src"))
        .groupBy(col("dst").as("node")).agg(sum(col("h")).as("a0"))
        .materialized
      val naDf = aRaw.agg(sqrt(sum(col("a0") * col("a0"))).as("__na"))
      auth = nodes.join(aRaw, Seq("node"), "left")
        .crossJoin(broadcast(naDf)) // 1 row by construction
        .select(col("node"),
          (coalesce(col("a0"), lit(0.0)) / col("__na")).as("a"))
      val hRaw = eBySrc
        .join(auth.select(col("node").as("dst"), col("a")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("a")).as("h0"))
        .materialized
      val nhDf = hRaw.agg(sqrt(sum(col("h0") * col("h0"))).as("__nh"))
      hub = nodes.join(hRaw, Seq("node"), "left")
        .crossJoin(broadcast(nhDf)) // 1 row by construction
        .select(col("node"),
          (coalesce(col("h0"), lit(0.0)) / col("__nh")).as("h"))
    }
    nodes.join(hub, Seq("node")).join(auth, Seq("node"))
      .select(col("node"), col("h").as("hub"), col("a").as("authority"))
  }

  /** SCD2 (slowly-changing-dimension, type 2) history: collapse an
    * append-only event log into attribute validity intervals — one row
    * per (key, attribute-value run) with [valid_from, valid_to) bounds,
    * NULL valid_to marking the current value. Change detection is a
    * null-safe lag comparison, interval close a lead — two windows over
    * ONE shuffle on the key (same partitioning, Catalyst plans a single
    * Exchange). The (ts, id) sort key is unique, so run boundaries are
    * deterministic; repeated equal values collapse into one interval
    * (true SCD2, not snapshot-per-event). Timestamps pass through
    * untouched — every comparison is on exact µs values, so the oracle
    * is hash-exact.
    * Output: (key, value, valid_from, valid_to, version, is_current). */
  def scd2History(df: DataFrame, keyCol: String, attrCol: String,
      tsCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    val changes = df
      .select(col(keyCol), col(attrCol), col(tsCol), col(idCol))
      .withColumn("__prev", lag(col(attrCol), 1).over(w))
      .withColumn("__first", lag(col(tsCol), 1).over(w).isNull)
      .filter(col("__first") || !(col(attrCol) <=> col("__prev")))
    val w2 = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    changes
      .withColumn("valid_to", lead(col(tsCol), 1).over(w2))
      .withColumn("version", row_number().over(w2))
      .select(col(keyCol), col(attrCol).as("value"),
        col(tsCol).as("valid_from"), col("valid_to"), col("version"),
        col("valid_to").isNull.as("is_current"))
  }

  /** Co-occurrence (market-basket) pairs: items appearing together in a
    * group (order, session, document), counted once per group. The
    * classic association-mining support count, and the edge list of the
    * co-occurrence graph the metrics below consume.
    *
    * Scale: the self-join is keyed on the group, so cost is Σ|group|² —
    * bounded by the natural basket size, not the corpus. For corpora
    * with degenerate mega-groups (a crawler session with 10⁵ items),
    * `maxGroupSize` drops oversized groups before the join — the same
    * cap-the-pathology move as `jaccardNearDupPairs.maxShingleDf`, and
    * like there the count is then exact over the reduced universe.
    * Output: (item_a, item_b, n_groups) with item_a < item_b. */
  def coOccurrencePairs(df: DataFrame, groupCol: String, itemCol: String,
      minCount: Long = 1L, maxGroupSize: Option[Int] = None): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val g0 = df.select(col(groupCol).as("g"), col(itemCol).as("i")).distinct()
    val g = maxGroupSize match {
      case Some(cap) =>
        require(cap >= 2, s"maxGroupSize must be >= 2, got $cap")
        val sizes = g0.groupBy("g").agg(count(lit(1)).as("__n"))
          .filter(col("__n") <= cap).select("g")
        g0.join(sizes, Seq("g"))
      case None => g0
    }
    g.select(col("g"), col("i").as("item_a"))
      .join(g.select(col("g"), col("i").as("item_b")), Seq("g"))
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("n_groups"))
      .filter(col("n_groups") >= minCount)
  }

  /** Node degrees of an undirected edge list (normalized: one row per
    * unordered pair). One explode-free union + a map-side-combinable
    * count — the cheapest graph statistic, and the input to the
    * degree-ordered orientation below. */
  def degrees(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    edges.select(col(aCol).as("node"))
      .unionAll(edges.select(col(bCol).as("node")))
      .groupBy("node")
      .agg(count(lit(1)).as("degree"))

  /** Exact global triangle count via degree-ordered wedge counting:
    * orient every edge from the endpoint with lower (degree, node) rank
    * to the higher, generate wedges only at each node's out-neighbors,
    * and close them against the edge list. Out-degrees under this
    * orientation are bounded by the graph arboricity (≈√|E| worst
    * case), so wedge volume is O(|E|^1.5) instead of Σ deg² — the
    * difference between hours and minutes on a skewed 100 TB graph
    * where one hub node would otherwise generate deg² ≈ 10¹² wedges
    * (Suri & Vassilvitskii, WWW 2011 — public literature, independent
    * implementation). Each triangle is counted exactly once (its
    * rank-ordered orientation is unique). Output: one row,
    * (n_triangles). */
  def triangleCount(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = degrees(e, "a", "b")
    val withRanks = e
      .join(deg.select(col("node").as("a"), col("degree").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("degree").as("db")), Seq("b"))
    // orient low-rank → high-rank; rank = (degree, node) lexicographic
    val oriented = withRanks.select(
      when(col("da") < col("db") ||
           (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("src"), col("b").as("dst")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("o"))
      .select(col("o.src"), col("o.dst"))
    val wedges = oriented.select(col("src"), col("dst").as("v"))
      .join(oriented.select(col("src"), col("dst").as("w")), Seq("src"))
      .filter(col("v") < col("w"))
    wedges
      .join(e, col("v") === col("a") && col("w") === col("b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** CEP-lite batch pattern matching over per-user event sequences —
    * the batch restatement of what Flink users reach for in FlinkCEP
    * (the reference's ecosystem): each user's events are ordered by
    * (timestamp, id), their types joined into a comma-terminated
    * string ("view,click,purchase,"), and `pattern` — a regex over
    * that alphabet, e.g. `click,(view,)*purchase,` — is matched
    * non-overlapping left-to-right. Contiguity is real: a match means
    * those events were CONSECUTIVE for that user, which no
    * EXISTS-chain funnel can express.
    *
    * Scale: one shuffle to group by user; each user's history is
    * mat'd as ONE string (bounded by per-user activity, the same
    * assumption every sessionizer makes), and the regex engine runs
    * scan-local. Only literal/star/group patterns are sane here —
    * both engines (Java regex, RE2) agree on them; avoid backtracking
    * pathologies in the pattern, it runs once per user.
    * Output: (user, n_events, n_matches, first_match), matching
    * users only. */
  def eventPattern(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, pattern: String): DataFrame = {
    require(pattern.nonEmpty, "eventPattern needs a pattern")
    val seqd = events
      // rows with no owner or no position are droppable; a row with a
      // NULL TYPE is a real event in a real position — array_join
      // would silently skip it and FABRICATE contiguity across it, so
      // it becomes a sentinel token no sane pattern matches (it still
      // breaks runs and still counts in n_events)
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull &&
        col(idCol).isNotNull)
      .select(col(userCol), unix_micros(col(tsCol)).as("__us"),
        col(idCol).as("__id"),
        coalesce(col(typeCol), lit("")).as("__t"))
      .groupBy(userCol)
      .agg(count(lit(1)).as("n_events"),
        array_sort(collect_list(struct(col("__us"), col("__id"),
          col("__t")))).as("__es"))
      .withColumn("__s",
        concat(array_join(transform(col("__es"), e => e("__t")), ","),
          lit(",")))
    seqd
      .withColumn("__m", regexp_extract_all(col("__s"), lit(pattern), lit(0)))
      .filter(size(col("__m")) > 0)
      .select(col(userCol), col("n_events"),
        size(col("__m")).as("n_matches"),
        element_at(col("__m"), 1).as("first_match"))
  }

  /** Population Stability Index between a reference and a current
    * sample of a value column, per key — the standard drift monitor
    * for feature/score distributions (banking scorecards; public
    * methodology). Buckets are the reference's `buckets`-quantile cuts
    * at INTEGER rank positions ⌈i·n/buckets⌉ (integer arithmetic, no
    * IEEE ceil boundary), bucket assignment = how many cut values the
    * row exceeds (cuts are actual reference data points, bitwise
    * identical in both engines), proportions Laplace-smoothed
    * (c+1)/(N+buckets) so empty buckets stay finite, and
    * PSI = Σ (p−q)·ln(p/q).
    *
    * Scale: both inputs are scanned once; the cut table is
    * keys×(buckets−1) rows — broadcast at any sane key count; the
    * count frames are keys×buckets. The reference-side rank pass is
    * one per-key window sort, the same shuffle a groupBy costs.
    * Output: (key, n_ref, n_cur, psi). */
  def psiDrift(ref: DataFrame, cur: DataFrame, keyCol: String,
      valCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val r = ref.filter(col(keyCol).isNotNull && col(valCol).isNotNull)
      .select(col(keyCol).as("k"), col(valCol).cast("double").as("v"))
    val c = cur.filter(col(keyCol).isNotNull && col(valCol).isNotNull)
      .select(col(keyCol).as("k"), col(valCol).cast("double").as("v"))
    val wk = Window.partitionBy("k").orderBy("v")
    val ranked = r.withColumn("rn", row_number().over(wk))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("k")))
    // cut i at integer rank ⌈i·n/buckets⌉, i = 1..buckets−1
    // ⌈i·n/buckets⌉ = (i·n + buckets−1) floor-div buckets; the double
    // division is exact enough to truncate safely at these magnitudes
    // (an integer quotient is always hit exactly, a fractional one is
    // ≥ 1/buckets away from the next integer)
    val cuts = ranked
      .withColumn("i", explode(sequence(lit(1), lit(buckets - 1))))
      .filter(col("rn") ===
        floor((col("i") * col("n") + lit(buckets - 1)) / lit(buckets))
          .cast("long"))
      .groupBy("k")
      .agg(array_sort(collect_list(struct(col("i"), col("v")))).as("cs"))
      .select(col("k"), transform(col("cs"), s => s("v")).as("cuts"))
      // key-count-sized frame read by THREE consumers (both bucketed()
      // sides + the grid) — without the barrier each re-runs the
      // full per-key rank sort over the reference side (the
      // q_countmin_joinsize duplicate-subtree defect; AnalyticsSpec's
      // psiDrift cases pin the semantics)
      .materialized
    def bucketed(df: DataFrame): DataFrame =
      df.join(broadcast(cuts), Seq("k"))
        .withColumn("b", size(filter(col("cuts"), cut => col("v") > cut)))
        .groupBy("k", "b").agg(count(lit(1)).as("cnt"))
    val grid = cuts.select(col("k"),
      explode(sequence(lit(0), lit(buckets - 1))).as("b"))
    def withCounts(df: DataFrame, name: String): DataFrame =
      grid.join(bucketed(df), Seq("k", "b"), "left")
        .select(col("k"), col("b"), coalesce(col("cnt"), lit(0L)).as(name))
    val joined = withCounts(r, "cr").join(withCounts(c, "cc"), Seq("k", "b"))
    val totals = joined.groupBy("k")
      .agg(sum("cr").as("n_ref"), sum("cc").as("n_cur"))
    val p = (col("cr") + 1).cast("double") / (col("n_ref") + lit(buckets))
    val q = (col("cc") + 1).cast("double") / (col("n_cur") + lit(buckets))
    val scored = joined.join(totals, Seq("k"))
      .withColumn("term", (p - q) * log(p / q))
      .groupBy(col("k"), col("n_ref"), col("n_cur"))
      .agg(sum("term").as("psi"))
      .select(col("k").as(keyCol), col("n_ref"), col("n_cur"), col("psi"))
    // a key the reference has never seen has no cuts to bucket
    // against, but "everything here is new" is the STRONGEST drift
    // signal a monitor can receive — emit it with n_ref = 0 and a
    // NULL psi instead of silently dropping it
    val newKeys = c.join(cuts.select("k"), Seq("k"), "left_anti")
      .groupBy("k").agg(count(lit(1)).as("n_cur"))
      .select(col("k").as(keyCol), lit(0L).as("n_ref"), col("n_cur"),
        lit(null).cast("double").as("psi"))
    scored.unionByName(newKeys)
  }

  /** k-core of an undirected graph: the maximal subgraph where every
    * node keeps degree ≥ k, found by iterative peeling — drop all
    * nodes below k, recompute degrees on the survivors, repeat.
    * Peeling is monotone (the survivor set only shrinks), so once a
    * round removes nothing the fixpoint is reached and further rounds
    * are no-ops — which is what makes a FIXED `rounds` unroll
    * oracle-replayable (the LPA/PageRank precedent): give both
    * engines enough rounds and they sit on the same fixpoint. The
    * loop fails loudly if `rounds` was too small (the components
    * convergence-guard precedent). Per round: one degree aggregation
    * + one semi-join — edge-list-sized.
    * Output: (node, degree-in-core). */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
      rounds: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var und = edges
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .materialized
    var lastCount = -1L
    var survivors: DataFrame = null
    var converged = false
    for (_ <- 1 to rounds if !converged) {
      val deg = und.groupBy(col("src").as("node")).count()
      survivors = deg.filter(col("count") >= k).materialized
      val n = survivors.count()
      if (n == lastCount) converged = true
      else {
        lastCount = n
        und = und
          .join(survivors.select(col("node").as("src")), Seq("src"))
          .join(survivors.select(col("node").as("dst")), Seq("dst"))
          .materialized
      }
    }
    require(converged, s"kCore did not converge in $rounds rounds — " +
      "raise `rounds` (result would not be the fixpoint)")
    survivors.select(col("node"), col("count").as("core_degree"))
  }

  /** Synchronous label-propagation community detection (Raghavan et
    * al. 2007, public literature; deterministic variant): every node
    * starts as its own label; each round, a node adopts the label
    * carried by the MOST of its neighbors, ties to the smallest label
    * — the (max count, min label) argmax expressed as
    * `min(struct(-count, label))`, so the whole round is one
    * edges⋈labels join + two keyed aggregations, nothing node-quadratic.
    * Fixed `iterations` (synchronous LPA does not always converge —
    * bipartite structures oscillate — and a fixed unroll is what the
    * oracle can replay, the PageRank precedent). Covers the edge
    * list's nodes (an isolated node is its own community trivially —
    * callers union it back if they carry one). Distinct from connected
    * components: LPA splits a connected graph along dense regions —
    * two cliques joined by one bridge edge end as two communities
    * where components returns one.
    * Output: (node, community_id). */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val und = edges
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .materialized
    val nodes = und.select(col("src").as("node")).distinct().materialized
    var labels = nodes.withColumn("community_id", col("node"))
    for (_ <- 1 to iterations) {
      val voted = und
        .join(labels.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src").as("node"), col("community_id"))
        .agg(count(lit(1)).as("votes"))
        .groupBy("node")
        .agg(min(struct((-col("votes")).as("neg"),
          col("community_id").as("l"))).as("win"))
        .select(col("node"), col("win.l").as("community_id"))
      // every node has ≥ 1 neighbor (isolated nodes never enter the
      // edge list), so the vote covers all of `nodes`
      labels = voted.materialized
    }
    labels
  }

  /** Marketing attribution: for each conversion event, the FIRST and
    * LAST touchpoint by the same user inside a lookback window ending
    * strictly before the conversion. One shuffle by user, then a
    * microsecond range-frame window — no conversion×touch join blowup:
    * each row computes its window's min/max touch struct in the
    * per-user sort, so cost is the user shuffle + a sort however many
    * touches a user has (the struct min/max is a running aggregate,
    * not a window materialization). Conversions with no touch in
    * window keep NULL attribution (they are real rows a credit report
    * must count as "direct"). Ties at the same microsecond break by
    * event id (struct lexicographic order), deterministic.
    * Output: (user, conv_event_id, conv_ts, first_touch_id,
    * first_touch_type, last_touch_id, last_touch_type). */
  def touchAttribution(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, idCol: String, conversionType: String,
      touchTypes: Seq[String], lookbackDays: Int = 7): DataFrame = {
    require(touchTypes.nonEmpty, "touchAttribution needs touch types")
    require(lookbackDays >= 1, s"lookbackDays must be >= 1, got $lookbackDays")
    val lookbackUs = lookbackDays.toLong * 86400L * 1000000L
    val base = events.select(col(userCol), col(tsCol),
        col(typeCol).as("__type"), col(idCol).as("__id"))
      .withColumn("__us", unix_micros(col(tsCol)))
      .withColumn("__touch",
        when(col("__type").isin(touchTypes: _*),
          struct(col("__us"), col("__id"), col("__type"))))
    val w = Window.partitionBy(userCol).orderBy("__us")
      .rangeBetween(-lookbackUs, -1)
    base
      .withColumn("__first", min(col("__touch")).over(w))
      .withColumn("__last", max(col("__touch")).over(w))
      .filter(col("__type") === conversionType)
      .select(col(userCol), col("__id").as("conv_event_id"),
        col(tsCol).as("conv_ts"),
        col("__first.__id").as("first_touch_id"),
        col("__first.__type").as("first_touch_type"),
        col("__last.__id").as("last_touch_id"),
        col("__last.__type").as("last_touch_type"))
  }

  /** EWMA smoothing of a per-(key, day) aggregate: s₁ = x₁,
    * sₜ = (1−α)·sₜ₋₁ + α·xₜ over each key's day-ordered daily totals.
    * Output: (key, day date, daily_value, ewma).
    *
    * EWMA is a sequential recurrence, so it runs on the POST-AGGREGATE
    * frame (keys × days — thousands of rows at any corpus size; the
    * corpus-sized work is the one groupBy that produces the daily
    * totals). The fold is expressed declaratively: an ordered running
    * window collects each row's history and `aggregate` replays the
    * recurrence left-to-right — O(days²) per key on the tiny frame,
    * deterministic, and bit-identical to the oracle's recursive CTE
    * when α is an exact binary fraction (both sides compute
    * acc·(1−α) + x·α in the same IEEE order). */
  def ewmaSmooth(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String, alpha: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    val daily = df.groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(sum(col(valCol)).as("daily_value"))
    val w = Window.partitionBy(keyCol).orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("h", collect_list(col("daily_value")).over(w))
      .withColumn("ewma",
        aggregate(slice(col("h"), lit(2), greatest(size(col("h")) - 1, lit(0))),
          element_at(col("h"), 1),
          (acc, x) => acc * lit(1 - alpha) + x * lit(alpha)))
      .select(col(keyCol), col("day"), col("daily_value"), col("ewma"))
  }

  /** Sequence-gap audit over an integral id column: every maximal run
    * of missing ids strictly inside [min, max] — the
    * ledger/offset/invoice completeness check. Two-level decomposition
    * (the [[activeIntervals]] pattern) instead of one global sort:
    * ids bucket by ⌊id/bucketSize⌋, in-bucket gaps come from a
    * PARTITIONED lead window, and cross-bucket gaps (including whole
    * missing buckets) from a lead over the per-bucket (min, max)
    * summary — the only unpartitioned window, sized by bucket COUNT.
    * Duplicates are collapsed first (a duplicate is not a gap).
    * Output: (gap_start, gap_end) inclusive. */
  def sequenceGaps(df: DataFrame, idCol: String,
      bucketSize: Long = 1 << 20): DataFrame = {
    require(bucketSize >= 2, s"bucketSize must be >= 2, got $bucketSize")
    val ids = df.filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("id")).distinct()
      .withColumn("b", floor(col("id") / lit(bucketSize)).cast("long"))
    val wIn = Window.partitionBy("b").orderBy("id")
    val internal = ids.withColumn("nxt", lead("id", 1).over(wIn))
      .filter(col("nxt") > col("id") + 1)
      .select((col("id") + 1).as("gap_start"), (col("nxt") - 1).as("gap_end"))
    val summary = ids.groupBy("b").agg(min("id").as("mn"), max("id").as("mx"))
    val wS = Window.orderBy("b")
    val boundary = summary.withColumn("nmn", lead("mn", 1).over(wS))
      .filter(col("nmn") > col("mx") + 1)
      .select((col("mx") + 1).as("gap_start"), (col("nmn") - 1).as("gap_end"))
    internal.unionAll(boundary)
  }

  /** Benford first-digit profile of a positive numeric column — the
    * classic fabricated-data screen: natural multi-magnitude data
    * follows P(d) = log₁₀(1 + 1/d). The first digit is taken with
    * INTEGER arithmetic (floor to BIGINT, divide by 10^(digits−1)) —
    * no float log10 at a power-of-ten boundary and no double→string
    * formatting, the two places engines disagree. One aggregation.
    * Domain: values in [1, 2⁵³) — below 1 the floor has no first
    * digit under this scheme, and above 2⁵³ the double can no longer
    * hold the integer exactly (the division could even yield "digit
    * 10"), so both ends are excluded rather than silently wrong.
    * Output: (digit, n, observed_p, benford_p), digits 1-9. */
  def benfordProfile(df: DataFrame, valCol: String): DataFrame = {
    val pos = df.filter(col(valCol).isNotNull && col(valCol) >= 1 &&
        col(valCol) < lit(9007199254740992.0))
      .withColumn("__n", floor(col(valCol)).cast("long"))
      .withColumn("__digit",
        (col("__n") / pow(lit(10.0), length(col("__n").cast("string")) - 1))
          .cast("int"))
    val counts = pos.groupBy("__digit").agg(count(lit(1)).as("n"))
    val total = pos.agg(count(lit(1)).as("__t"))
    counts.crossJoin(broadcast(total))
      .select(col("__digit").as("digit"), col("n"),
        (col("n").cast("double") / col("__t").cast("double"))
          .as("observed_p"),
        log10(lit(1.0) + lit(1.0) / col("__digit").cast("double"))
          .as("benford_p"))
  }

  /** Gini coefficient of a non-negative value column: with x₍₁₎ ≤ … ≤
    * x₍ₙ₎ (ties broken by id for a total order),
    * G = 2·Σ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n — the revenue-concentration /
    * inequality statistic. Ranks come from the BUCKETED global rank
    * (no single-partition sort; [[graft.operators.Scale.globalRank]]),
    * so the only corpus-wide structures are the rank offsets.
    * Output: one row (n, total, gini). */
  def gini(df: DataFrame, valCol: String, idCol: String): DataFrame = {
    val ranked = Scale.globalRank(
      df.filter(col(valCol).isNotNull && col(valCol) >= 0)
        .select(col(idCol), col(valCol)), valCol, idCol)
    ranked.agg(count(lit(1)).as("n"), sum(col(valCol)).as("total"),
        sum(col("rank").cast("double") * col(valCol)).as("__rs"))
      .select(col("n"), col("total"),
        (lit(2.0) * col("__rs") / (col("n").cast("double") * col("total"))
          - (col("n") + 1).cast("double") / col("n").cast("double"))
          .as("gini"))
  }

  /** CUSUM changepoint locator per key: Sₜ = Σᵢ≤ₜ (xᵢ − x̄) over the
    * day-ordered daily series; the day maximizing |Sₜ| is the classic
    * single-changepoint estimate (where the level shift happened).
    * Daily sums and the mean are rounded to 6 dp (summation-order
    * armor), the running sum accumulates in day order in both engines,
    * and the argmax compares 6-dp |Sₜ| with a day tie-break — so the
    * LOCATED day is engine-exact while the reported cusum is a value
    * under tolerance.
    * Output: (key, changepoint_day, cusum). */
  def changepoint(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String): DataFrame = {
    val daily = df.groupBy(col(keyCol).as("k"), to_date(col(tsCol)).as("d"))
      .agg(round(sum(col(valCol)), 6).as("x"))
    val means = daily.groupBy("k").agg(round(avg("x"), 6).as("m"))
    val w = Window.partitionBy("k").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(means, Seq("k"))
      .withColumn("s", sum(col("x") - col("m")).over(w))
      .groupBy("k")
      .agg(min(struct((-round(abs(col("s")), 6)).as("na"),
        col("d").as("d"), col("s").as("s"))).as("win"))
      .select(col("k").as(keyCol), col("win.d").as("changepoint_day"),
        col("win.s").as("cusum"))
  }

  /** Day-of-week seasonal profile of a value series — the classical
    * multiplicative decomposition's seasonal component at weekly
    * period: daily totals first (the series), then per-ISO-weekday
    * count/total/mean and the seasonal index mean(dow) / grand daily
    * mean (index > 1 = the weekday runs hot). The input is raw events;
    * the profile is what capacity planning, anomaly baselines
    * ([[countAnomalies]]' trailing median is the trend-side complement)
    * and sampling calendars consume.
    *
    * Scale: one map-side-combined daily aggregation (the series is
    * days-sized from there on), a 7-row profile aggregation, and the
    * grand mean as a broadcast 1-row frame. Weekday is ISO (1 = Monday
    * .. 7 = Sunday — `weekday() + 1`, DuckDB `isodow`). The divisions
    * are the only doubles; totals are exact sums of the input values.
    * Output: (dow, n_days, total_sales, mean_sales, seasonal_index). */
  def seasonalProfile(df: DataFrame, tsCol: String,
      valCol: String): DataFrame = {
    val daily = df.groupBy(to_date(col(tsCol)).as("day"))
      .agg(sum(col(valCol)).as("day_total"))
      .materialized // feeds the grand mean AND the dow profile
    val grand = daily.agg(avg(col("day_total")).as("grand_mean"))
    daily
      .select((weekday(col("day")) + 1).cast("int").as("dow"),
        col("day_total"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_days"),
        sum(col("day_total")).as("total_sales"),
        avg(col("day_total")).as("mean_sales"))
      .crossJoin(broadcast(grand))
      .select(col("dow"), col("n_days"), col("total_sales"),
        col("mean_sales"),
        (col("mean_sales") / col("grand_mean")).as("seasonal_index"))
  }

  /** Mann–Kendall trend test per key over the daily series:
    * S = Σ_{i<j} sign(xⱼ − xᵢ) and Kendall's τ = S / (n(n−1)/2) — the
    * standard nonparametric "is there a monotone trend" statistic.
    * Daily values are rounded to 6 dp BEFORE the sign so engine
    * summation-order noise (~1e-12) can never flip a comparison
    * (the mean-gate-epsilon rule); S is then integer-exact and τ one
    * exact division. The pair join is per-key over DAYS (bounded by
    * series length, not corpus size).
    * Output: (key, n_days, s_stat, tau). */
  def mannKendallTrend(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String): DataFrame = {
    val daily = df.groupBy(col(keyCol).as("k"), to_date(col(tsCol)).as("d"))
      .agg(round(sum(col(valCol)), 6).as("x"))
    val a = daily.select(col("k"), col("d").as("da"), col("x").as("xa"))
    val b = daily.select(col("k"), col("d").as("db"), col("x").as("xb"))
    val pairs = a.join(b, Seq("k")).filter(col("da") < col("db"))
      .withColumn("sgn", signum(col("xb") - col("xa")).cast("long"))
    val nDays = daily.groupBy("k").agg(count(lit(1)).as("n_days"))
    pairs.groupBy("k").agg(sum("sgn").as("s_stat"))
      .join(nDays, Seq("k"))
      .select(col("k").as(keyCol), col("n_days"), col("s_stat"),
        (col("s_stat").cast("double") /
          (col("n_days") * (col("n_days") - 1) / 2).cast("double"))
          .as("tau"))
  }

  /** Theil–Sen robust trend per key: the MEDIAN of all pairwise slopes
    * (xⱼ − xᵢ)/(dⱼ − dᵢ) over the daily series — one outlier day
    * cannot move it, unlike least squares ([[groupTrend]]). Slopes are
    * computed from 6-dp-rounded daily values over integer day gaps, so
    * both engines produce the identical slope multiset; the median is
    * the value at rank ⌈m/2⌉ (the same integer-rank cut the quantile
    * family uses). Pair volume is days² per key — series-bounded.
    * Output: (key, n_days, slope_per_day). */
  def theilSenTrend(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String): DataFrame = {
    val daily = df.groupBy(col(keyCol).as("k"), to_date(col(tsCol)).as("d"))
      .agg(round(sum(col(valCol)), 6).as("x"))
    val a = daily.select(col("k"), col("d").as("da"), col("x").as("xa"))
    val b = daily.select(col("k"), col("d").as("db"), col("x").as("xb"))
    val slopes = a.join(b, Seq("k")).filter(col("da") < col("db"))
      .withColumn("slope", (col("xb") - col("xa")) /
        datediff(col("db"), col("da")).cast("double"))
    val nDays = daily.groupBy("k").agg(count(lit(1)).as("n_days"))
    slopes.groupBy("k")
      .agg(when(count(lit(1)) > 0,
        element_at(array_sort(collect_list(col("slope"))),
          ((count(lit(1)) + 1) / 2).cast("int"))).as("slope_per_day"))
      .join(nDays, Seq("k"))
      .select(col("k").as(keyCol), col("n_days"), col("slope_per_day"))
  }

  /** Holt double-exponential smoothing (level + trend) of the daily
    * series: s₁ = x₁, b₁ = 0; sₜ = α·xₜ + (1−α)(sₜ₋₁ + bₜ₋₁),
    * bₜ = β(sₜ − sₜ₋₁) + (1−β)bₜ₋₁; one-step forecast = sₜ + bₜ.
    * Same posture as [[ewmaSmooth]]: sequential recurrence replayed
    * declaratively on the post-aggregate frame via an ordered window
    * fold (struct state), bit-identical to the oracle's recursive CTE
    * when α, β are exact binary fractions.
    * Output: (key, day, daily_value, level, trend, forecast_next). */
  def holtSmooth(df: DataFrame, keyCol: String, tsCol: String,
      valCol: String, alpha: Double = 0.5, beta: Double = 0.5): DataFrame = {
    require(alpha > 0 && alpha <= 1 && beta > 0 && beta <= 1,
      s"alpha/beta must be in (0,1], got $alpha/$beta")
    val daily = df.groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(sum(col(valCol)).as("daily_value"))
    val w = Window.partitionBy(keyCol).orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("h", collect_list(col("daily_value")).over(w))
      .withColumn("st",
        aggregate(slice(col("h"), lit(2), greatest(size(col("h")) - 1, lit(0))),
          struct(element_at(col("h"), 1).as("s"),
            lit(0.0).as("b")),
          (acc, x) => {
            val sNew = x * lit(alpha) + (acc("s") + acc("b")) * lit(1 - alpha)
            struct(sNew.as("s"),
              ((sNew - acc("s")) * lit(beta) + acc("b") * lit(1 - beta))
                .as("b"))
          }))
      .select(col(keyCol), col("day"), col("daily_value"),
        col("st.s").as("level"), col("st.b").as("trend"),
        (col("st.s") + col("st.b")).as("forecast_next"))
  }

  /** Count-spike anomaly score per (key, day): today's event count
    * against the MEDIAN of the trailing `lookback` observed days —
    * score = n / trailing_median, the standard robust spike detector
    * (a mean would let one previous spike mask the next). Only days
    * with a FULL trailing window are eligible (no partial-history
    * noise); median = sorted trailing counts at position
    * ceil(lookback/2) — integer inputs, so the only double is the one
    * final division, identical in both engines. Emitting the score
    * (consumers threshold or top-k it) keeps the operator
    * corpus-agnostic: a fixed multiplier returns empty on smooth data
    * and floods on bursty data.
    * Output: (key, day, n, trail_median, score). */
  def countAnomalyScore(df: DataFrame, keyCol: String, tsCol: String,
      lookback: Int = 14): DataFrame = {
    require(lookback >= 1, s"lookback must be >= 1, got $lookback")
    val daily = df.groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(keyCol).orderBy("day")
      .rowsBetween(-lookback, -1)
    daily
      .withColumn("tr", collect_list(col("n")).over(w))
      .filter(size(col("tr")) === lookback)
      .withColumn("trail_median",
        element_at(array_sort(col("tr")), (lookback + 1) / 2))
      .select(col(keyCol), col("day"), col("n"), col("trail_median"),
        (col("n").cast("double") / col("trail_median").cast("double"))
          .as("score"))
  }

  /** BFS hop distance from a seed set over an undirected edge list:
    * (node, hops int) with hops = the MINIMUM number of edges from any
    * seed, seeds at 0, capped at `maxHops` (unreachable nodes are
    * absent). Completes the graph surface next to degrees / triangles /
    * PageRank / connected components.
    *
    * Classic distributed frontier expansion: per round, one keyed join
    * of the frontier against the edge list plus one anti-join against
    * the visited set — per-round shuffle is sized by frontier × degree,
    * never by the whole graph, and the anti-join is what makes each
    * node enter exactly once (BFS order ⇒ first entry IS the minimum).
    * The edge list is materialized once (every round re-reads it);
    * rounds run to `maxHops` with an early exit on an empty frontier,
    * so diameter-bounded graphs stop in diameter rounds. The fixed cap
    * keeps the construction oracle-replayable (the PageRank
    * fixed-iteration precedent: DuckDB's recursive CTE carries the
    * same `d < maxHops` guard). */
  def hopDistance(edges: DataFrame, aCol: String, bCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val und = edges
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .materialized
    var visited = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("hops", lit(0))
      .materialized
    var frontier = visited.select("node")
    var h = 1
    var exhausted = maxHops == 0
    while (!exhausted) {
      val next = und
        .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("hops", lit(h))
        .materialized
      val grew = next.limit(1).count() > 0
      if (grew) {
        visited = visited.unionAll(next).materialized
        frontier = next.select("node")
      }
      h += 1
      exhausted = !grew || h > maxHops
    }
    visited.select(col("node"), col("hops").cast("int").as("hops"))
  }

  /** Cohort retention: users grouped by their first active day; for
    * each cohort and each day offset ≤ `maxOffsetDays`, how many of
    * its users were active. Two map-side-combinable aggregations plus
    * one shuffle join on the user key; counts are exact (the activity
    * frame is (user, day)-distinct before counting).
    * Output: (cohort_day, day_offset int, n_users). */
  def retention(events: DataFrame, userCol: String, tsCol: String,
      maxOffsetDays: Int): DataFrame = {
    require(maxOffsetDays >= 0)
    val firstDay = events.groupBy(col(userCol))
      .agg(min(to_date(col(tsCol))).as("cohort_day"))
    val activity = events
      .select(col(userCol), to_date(col(tsCol)).as("day"))
      .distinct()
    activity.join(firstDay, userCol)
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
      .filter(col("day_offset") <= maxOffsetDays)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** CDC merge: apply an upsert/delete changelog to a snapshot — the
    * batch MERGE a warehouse runs per load cycle. Per key, the LATEST
    * change (by `orderCols`, which must be unique per key — e.g.
    * (ts, event_id)) decides: `deleteOp` removes the key, anything else
    * replaces/inserts the full row; untouched keys keep their snapshot
    * row. A key whose latest change is a delete is gone even if earlier
    * changes in the same batch upserted it — last-writer-wins, the
    * standard CDC compaction contract.
    *
    * Scale: the latest-change reduction is `max_by(struct(payload),
    * struct(orderCols))` — a map-side-combinable aggregate, ONE shuffle
    * of one row per (touched key, partition), no per-key sort (the
    * row_number formulation the oracle uses would sort every key's
    * changes; the aggregate form is the TopKAggregator k=1 shape).
    * The anti-join ships only touched keys. `changes` must carry the
    * snapshot schema plus `opCol`.
    * Output: the merged snapshot (same schema as `snapshot`). */
  def applyChangelog(snapshot: DataFrame, changes: DataFrame,
      keyCol: String, orderCols: Seq[String], opCol: String,
      deleteOp: String = "D"): DataFrame = {
    require(orderCols.nonEmpty, "need at least one ordering column")
    val payloadCols = changes.columns.filter(_ != keyCol).toSeq
    val latest = changes.groupBy(col(keyCol))
      .agg(max_by(struct(payloadCols.map(col): _*),
        struct(orderCols.map(col): _*)).as("__r"))
      .select(col(keyCol) +: payloadCols.map(c => col(s"__r.$c").as(c)): _*)
    val survivors = latest.filter(col(opCol) =!= deleteOp).drop(opCol)
    snapshot
      .join(latest.select(keyCol), Seq(keyCol), "left_anti")
      .unionByName(survivors.select(snapshot.columns.map(col): _*))
  }

  /** Strict sequential funnel with conversion windows: a user advances
    * to step k only via the EARLIEST step-k event that falls within
    * `windowSeconds` AFTER their step-(k-1) anchor — the
    * analytics-product semantics (GA/Amplitude-style) that [[funnel]]'s
    * first-occurrence ordering can't express: there, a user whose only
    * click predates their first view never converts, and no time bound
    * exists at all. Anchors are min-after-previous, so the cursor walks
    * forward through the user's timeline step by step.
    *
    * Scale: one aggregation per step over the step-filtered events,
    * each joined to the previous anchors on the user key — k-1 keyed
    * shuffles for k steps, no windows, no per-user sort. Each anchor
    * frame is localCheckpoint'ed: it feeds BOTH the next step's join
    * and the final count union, and the union would otherwise replay
    * every prefix stage per step counted.
    * Output: (step, step_name, n_users) — users whose anchor k exists. */
  def funnelWindowed(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String], windowSeconds: Long): DataFrame = {
    require(steps.nonEmpty && steps.distinct == steps,
      s"need distinct funnel steps, got $steps")
    require(windowSeconds > 0, s"need a positive window, got $windowSeconds")
    val anchors = steps.tail.scanLeft(
      events.filter(col(typeCol) === steps.head)
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
        .materialized) { (prev, step) =>
      events.filter(col(typeCol) === step)
        .join(prev.select(col(userCol), col("__t").as("__prev")), Seq(userCol))
        .filter(col(tsCol) > col("__prev") &&
          col(tsCol) <= col("__prev") + expr(s"INTERVAL $windowSeconds SECONDS"))
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
        .materialized
    }
    anchors.zip(steps).zipWithIndex.map { case ((a, name), i) =>
      a.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(name).as("step_name"),
          col("n_users"))
    }.reduce(_ unionAll _)
  }

  /** Schema diff between two snapshots: one row per column that was
    * added, removed, or changed type/nullability — the metadata
    * companion to [[snapshotDiff]]'s data diff, and the first thing a
    * crawl-refresh review checks before any row is compared. Schemas
    * are driver-side metadata (KB), so this builds a local DataFrame —
    * no jobs run against either input.
    * Output: (column, status ∈ added|removed|changed, old_type,
    * new_type), alphabetical. */
  def schemaDiff(oldDf: DataFrame, newDf: DataFrame): DataFrame = {
    val spark = oldDf.sparkSession
    import spark.implicits._
    def describe(df: DataFrame): Map[String, String] =
      df.schema.fields.map(f =>
        f.name -> s"${f.dataType.sql}${if (f.nullable) "" else " NOT NULL"}").toMap
    val o = describe(oldDf); val n = describe(newDf)
    val rows = (o.keySet ++ n.keySet).toSeq.sorted.flatMap { c =>
      (o.get(c), n.get(c)) match {
        case (None, Some(t)) => Some((c, "added", null: String, t))
        case (Some(t), None) => Some((c, "removed", t, null: String))
        case (Some(a), Some(b)) if a != b => Some((c, "changed", a, b))
        case _ => None
      }
    }
    rows.toDF("column", "status", "old_type", "new_type")
  }

  /** Time-weighted average per key: each sample's value is weighted by
    * how long it REMAINED CURRENT — the µs until the key's next sample
    * (the last sample of a key carries zero weight: nothing observed
    * after it). The honest mean for irregularly-sampled telemetry,
    * where the arithmetic mean over-counts bursts: a sensor that
    * reports 100 times during one hot minute and once an hour otherwise
    * has an arithmetic mean dominated by the burst, while the TWA
    * weights that minute as one minute. Keys with a single sample (no
    * held interval) yield NULL.
    *
    * Scale: one keyed window (lead) for the hold duration — the shuffle
    * is on the key, never global — then a map-side-combinable weighted
    * sum. Output: (key, n_samples, twa). */
  def timeWeightedAverage(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valCol: String): DataFrame = {
    // idCol totalizes the order: same-instant samples would otherwise
    // make the lead() — and thus every hold weight — nondeterministic
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    df.filter(col(tsCol).isNotNull && col(valCol).isNotNull)
      .withColumn("__hold",
        (unix_micros(lead(col(tsCol), 1).over(w)) - unix_micros(col(tsCol)))
          .cast("double"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_samples"),
        (sum(col(valCol) * col("__hold")) / sum(col("__hold"))).as("twa"))
  }

  /** Per-group linear trend: least-squares slope + intercept of y over
    * x — is each category's daily revenue rising or falling, and how
    * fast? Written as the EXPLICIT textbook sums
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), not `regr_slope`, so
    * the oracle can state the identical IEEE expression tree (the
    * readability/Flesch portability precedent). Keep x SMALL (a day
    * index, not a raw epoch) — the numerator subtracts near-equal
    * products, and small x keeps the cancellation harmless. A group
    * with one x value has no defined slope → NULL slope/intercept.
    *
    * Scale: one map-side-combinable aggregation — five running sums
    * per group, nothing else. Output: (group, n, slope, intercept). */
  def groupTrend(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * x).as("__sxx"), sum(x * y).as("__sxy"))
      .withColumn("__den", col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("slope",
        when(col("__den") =!= 0.0,
          (col("__n") * col("__sxy") - col("__sx") * col("__sy")) / col("__den")))
      .withColumn("intercept",
        when(col("__den") =!= 0.0,
          (col("__sy") - col("slope") * col("__sx")) / col("__n")))
      .select(col(groupCol), col("__n").cast("long").as("n"),
        col("slope"), col("intercept"))
  }

  /** Snapshot diff: classify every key across two corpus snapshots as
    * `added` (new only), `removed` (old only), `changed` (in both, some
    * compare column differs), or `unchanged` — the release-to-release
    * accounting a dataset card or crawl-refresh review starts from.
    * Change detection is null-safe per column (`NOT (a <=> b)`): a
    * value appearing or disappearing is a change, NULL→NULL is not.
    *
    * Scale: one full-outer shuffle join on the key, values compared in
    * place — no digesting step, no driver state; the output is one row
    * per distinct key across both snapshots. A NULL key never matches
    * across sides (SQL join semantics), so a null-keyed row shows up as
    * its side's own added/removed row — keys are expected non-null.
    * Output: (key, status). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCol: String,
      compareCols: Seq[String]): DataFrame = {
    require(compareCols.nonEmpty, "need at least one compare column")
    val o = oldDf.select(col(keyCol) +:
      compareCols.map(c => col(c).as(s"__o_$c")) :+ lit(true).as("__in_o"): _*)
    val n = newDf.select(col(keyCol) +:
      compareCols.map(c => col(c).as(s"__n_$c")) :+ lit(true).as("__in_n"): _*)
    val changed = compareCols
      .map(c => !(col(s"__o_$c") <=> col(s"__n_$c"))).reduce(_ || _)
    o.join(n, Seq(keyCol), "full_outer")
      .select(col(keyCol),
        when(col("__in_o").isNull, lit("added"))
          .when(col("__in_n").isNull, lit("removed"))
          .when(changed, lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Calendar gap-fill + forward-fill over a keyed daily series: emit
    * one row per (key, day) for EVERY day in the series' global
    * [min, max] range, carrying the last observed value forward across
    * the gaps (`is_gap` marks synthesized rows; days before a key's
    * first observation stay NULL). The standard densification step
    * before any time-series model or day-over-day comparison.
    *
    * Scale: the calendar is keys × days built from a BROADCAST 1-row
    * bounds aggregate (`sequence` + explode — no driver collect); the
    * forward-fill window partitions by key, so the big sort is one
    * shuffle on the key, never global. Day count is bounded (it's a
    * calendar), so per-key partitions stay small regardless of corpus
    * size.
    * Output: (key, day, value — filled, is_gap). */
  def gapFillForward(df: DataFrame, keyCol: String, dayCol: String,
      valCol: String): DataFrame = {
    // the series feeds THREE consumers (bounds, key set, fill join) —
    // materialize once so an expensive upstream (typically a daily
    // aggregation) doesn't replay per consumer; the series is already
    // keys × observed-days, far smaller than what produced it
    val series = df.materialized
    val bounds = series.agg(min(col(dayCol)).as("__lo"), max(col(dayCol)).as("__hi"))
    val calendar = series.select(col(keyCol)).distinct()
      .crossJoin(broadcast(bounds))
      .select(col(keyCol),
        explode(sequence(col("__lo"), col("__hi"),
          expr("interval 1 day"))).as(dayCol))
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dayCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    calendar.join(series, Seq(keyCol, dayCol), "left_outer")
      .select(col(keyCol), col(dayCol),
        last(col(valCol), ignoreNulls = true).over(w).as(valCol),
        col(valCol).isNull.as("is_gap"))
  }

  /** Sweep-line concurrency: for every interval boundary instant, how
    * many intervals are active (start ≤ t ≤ end, both ends inclusive —
    * a one-event session with start = end counts at its own instant).
    * The "peak concurrent sessions / connections / streams" question.
    *
    * Scale: boundaries first aggregate per distinct instant (map-side
    * combined), then the running sum is TWO-LEVEL — a window
    * partitioned by day plus a per-day carry-in prefix over the tiny
    * day-totals table — so no global unpartitioned sort ever touches
    * per-instant data (the same carry-in decomposition as the bucketed
    * as-of join). The oracle states the equivalent single global
    * cumsum; both count in exact integers.
    * Output: (t, active) per distinct boundary instant, where `active`
    * holds on [t, next boundary). */
  def activeIntervals(intervals: DataFrame, startCol: String,
      endCol: String): DataFrame = {
    // a null-bounded interval has no well-defined sweep contribution —
    // drop it whole (keeping only its non-null end would land in the
    // null-day partition, which sorts FIRST and poisons every carry-in)
    val closed = intervals
      .filter(col(startCol).isNotNull && col(endCol).isNotNull)
    // boundaries feed both the day-prefix aggregation and the main
    // running-sum path — materialize once (per-instant aggregate, far
    // smaller than the interval source, which may itself be a window
    // op like sessionize that would otherwise replay per consumer)
    val boundaries = closed.select(col(startCol).as("t"), lit(1L).as("s"), lit(0L).as("e"))
      .unionAll(closed.select(col(endCol).as("t"), lit(0L).as("s"), lit(1L).as("e")))
      .groupBy("t")
      .agg(sum(col("s")).as("s"), sum(col("e")).as("e"))
      .withColumn("__day", to_date(col("t")))
      .materialized
    // level 1: running sums within each day partition
    val wDay = Window.partitionBy(col("__day")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // level 2: exclusive prefix over per-day totals (rows = #days, tiny)
    val wDays = Window.orderBy(col("__day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val dayPrefix = boundaries.groupBy("__day")
      .agg(sum(col("s")).as("__ds"), sum(col("e")).as("__de"))
      .select(col("__day"),
        coalesce(sum(col("__ds")).over(wDays), lit(0L)).as("__ps"),
        coalesce(sum(col("__de")).over(wDays), lit(0L)).as("__pe"))
    boundaries
      .withColumn("__cs", sum(col("s")).over(wDay))
      .withColumn("__ce", sum(col("e")).over(wDay))
      .join(broadcast(dayPrefix), Seq("__day"))
      // active(t) = starts(≤t) − ends(<t); ends AT t still count (inclusive)
      .select(col("t"),
        (col("__ps") + col("__cs") - (col("__pe") + col("__ce") - col("e")))
          .as("active"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009)
    * of N retrieval rankings — the hybrid-retrieval glue between the
    * sparse side ([[graft.functions.TextAnalysis.bm25TopK]]) and the
    * dense side ([[Similarity.bruteForceTopK]] / the ANN family):
    * rrf(d) = Σ_i 1/(rrfK + rank_i(d)) over the rankings that contain
    * d, then the global top-`topK` by fused score.
    *
    * Each input is a (name, frame) pair where the frame carries
    * (`idCol`, `rank`) — a top-N LIST, not a corpus-wide ranking.
    * That is the scale contract: fusion inputs are the k-sized heads
    * each retriever already bounds (BM25's limit, the ANN epilogue's
    * per-query k), so every join here is list-sized no matter the
    * corpus; the corpus-wide work stays inside the retrievers, which
    * carry their own scale posture. Absent ranks surface as 0 in the
    * output (`r_<name>` BIGINT; real ranks are 1-based) and contribute
    * nothing to the fused score — standard RRF over the union.
    *
    * Determinism: ranks are integer-exact, so the rrf doubles are the
    * same IEEE sums cross-engine and the (rrf desc, id) cut is stable.
    * Output: (idCol, r_<name>..., rrf), top-`topK` by rrf desc, id. */
  def rankFusion(idCol: String, rankings: Seq[(String, DataFrame)],
      topK: Int, rrfK: Int = 60): DataFrame = {
    require(rankings.size >= 2, s"need >= 2 rankings, got ${rankings.size}")
    require(topK >= 1 && rrfK >= 1, s"need topK/rrfK >= 1, got $topK/$rrfK")
    require(rankings.map(_._1).distinct.size == rankings.size,
      "ranking names must be unique")
    val sides = rankings.map { case (name, df) =>
      df.select(col(idCol), col("rank").cast("long").as(s"r_$name"))
    }
    val joined = sides.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val filled = rankings.foldLeft(joined) { case (d, (name, _)) =>
      d.withColumn(s"r_$name", coalesce(col(s"r_$name"), lit(0L)))
    }
    val rrf = rankings.map { case (name, _) =>
      when(col(s"r_$name") > 0,
        lit(1.0) / (lit(rrfK) + col(s"r_$name"))).otherwise(lit(0.0))
    }.reduce(_ + _)
    filled.withColumn("rrf", rrf)
      .orderBy(col("rrf").desc, col(idCol))
      .limit(topK)
  }
}
