package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Reuse.ReuseOps
import graft.functions.UrlOps

/** The crawl loop actually LOOPING: multi-hop breadth-first frontier
  * expansion over a fetched-page corpus — fetch the frontier, extract
  * and absolutize its outlinks ([[UrlOps.extractOutlinks]]), drop
  * everything already seen, and the remainder is the next hop's
  * frontier. The batch form of the discover half of a crawler;
  * compose the robots gate / politeness quota / fetch schedule
  * ([[graft.SparkEntry]]'s frontier chain) on each hop's output in
  * production.
  */
object Crawl {

  /** Fixed-hop BFS (the [[Analytics.pageRank]] fixed-iteration
    * discipline — bounded hops, a [[graft.Reuse]] cut per hop so
    * iterative lineage never grows AND the deployment's reuse mode
    * governs durability: a 1000-executor run selecting `reliable`
    * keeps the seen set recoverable after executor loss instead of
    * pinned to the executors that computed it): returns (url, hop)
    * with `hop` = the FIRST
    * hop each URL was reached at (0 = seed). A seed or link without a
    * matching page row is still reported (it was discovered) — it
    * just fetches nothing, so it contributes no further links.
    *
    * Scale shape per hop: one semi join of pages against the frontier
    * (AQE broadcasts small frontiers), scan-local link extraction
    * (payloads never shuffle), one distinct + one anti-join on the
    * url key against the accumulated seen set. The exact anti-join is
    * right up to ~10⁹ seen URLs; beyond that swap the seen set for
    * [[Dedup.bloomAntiJoin]] (the adjudicated approximate path) at the
    * cost of occasionally re-fetching a false-positive "seen" URL.
    * Early exit on a drained frontier (web components are finite). */
  def bfs(pages: DataFrame, urlCol: String, htmlCol: String,
      seeds: DataFrame, seedUrlCol: String, hops: Int): DataFrame = {
    require(hops >= 0, s"hops must be >= 0, got $hops")
    var seen = seeds.select(col(seedUrlCol).cast("string").as("url"))
      .distinct
      .withColumn("hop", lit(0)).materialized
    var frontier = seen
    var h = 1
    while (h <= hops && !frontier.isEmpty) {
      val fetched = pages.join(
        frontier.select(col("url").as("__f")),
        pages(urlCol) === col("__f"), "left_semi")
      val links = UrlOps.extractOutlinks(fetched, urlCol, htmlCol)
        .select(col("outlink").as("url")).distinct
      frontier = links.join(seen.select("url"), Seq("url"), "left_anti")
        .withColumn("hop", lit(h)).materialized
      seen = seen.unionByName(frontier).materialized
      h += 1
    }
    seen
  }

  /** Redirect-chain resolution — map every redirecting URL to its
    * final target (the canonicalization step between the WAT tier's
    * `redirect_location` column and URL-keyed dedup: a page reached
    * via 301 chains must key under its FINAL url). POINTER DOUBLING
    * over the functional graph instead of hop-by-hop iteration: each
    * round composes the mapping with itself (m′(u) = m(m(u)), hops
    * adding), so chains up to 2^r hops collapse in r registry-sized
    * self-joins — ceil(log2(maxHops)) rounds, not maxHops. Terminals
    * absorb (a url with no outgoing redirect stays fixed); cycles and
    * over-long chains surface as `resolved = false` (the final url
    * still redirects) — never dropped, never an infinite loop.
    * Duplicate sources (two Locations recorded for one url) collapse
    * deterministically to max(dst) — run [[graft.sources.Warc
    * .latestByUrl]] upstream for date-aware selection. Effective hop
    * bound = the next power of two ≥ `maxHops` (exactly 2^rounds —
    * state it in oracles). Each round's frame is cut through
    * [[graft.Reuse]]. Output: one row per REDIRECTING url —
    * (url, final_url, hops, resolved). */
  def resolveRedirects(redirects: DataFrame, srcCol: String,
      dstCol: String, maxHops: Int = 16): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    var rounds = 0
    var reach = 1L
    while (reach < maxHops) { reach <<= 1; rounds += 1 }
    var m = redirects
      .groupBy(col(srcCol).cast("string").as("src"))
      .agg(max(col(dstCol).cast("string")).as("dst"))
      .withColumn("hops", lit(1L)).materialized
    for (_ <- 0 until rounds) {
      val b = m.select(col("src").as("__bs"), col("dst").as("__bd"),
        col("hops").as("__bh"))
      m = m.join(b, m("dst") === b("__bs"), "left")
        .select(col("src"), coalesce(col("__bd"), col("dst")).as("dst"),
          (col("hops") + coalesce(col("__bh"), lit(0L))).as("hops"))
        .materialized
    }
    // resolved ⟺ the final url no longer redirects (not a source)
    val srcs = m.select(col("src").as("__t")).distinct
    m.join(srcs, m("dst") === col("__t"), "left")
      .select(col("src").as("url"), col("dst").as("final_url"),
        col("hops"), col("__t").isNull.as("resolved"))
  }

  /** Nightly host-graph maintenance — the rank analog of the standing
    * dedup registry's `mergeComponents`: fold a crawl increment's new
    * edges into the standing undirected edge set (set union, the EXACT
    * merge). Rank itself is not exactly incrementally maintainable
    * (one new edge perturbs every score), so the consumer re-runs the
    * fixed-iteration recurrence ([[Analytics.pageRank]]) on the merged
    * adjacency — which is EDGE-registry-sized, not crawl-sized: the
    * expensive stage (outlink extraction from raw HTML) runs only on
    * the increment, and the merged result is provably ≡ the
    * from-scratch recompute (union is associative/idempotent; the
    * recurrence is a pure function of the edge set — the
    * q_incremental_pagerank oracle restates exactly that theorem).
    * Both inputs are (aCol, bCol) undirected pairs in any orientation;
    * output is (least, greatest)-normalized distinct. */
  def mergeHostEdges(standing: DataFrame, increment: DataFrame,
      aCol: String = "ha", bCol: String = "hb"): DataFrame = {
    // least/greatest skip NULLs in Spark, so an edge with one NULL
    // endpoint would silently normalize to a (host, host) self-loop —
    // drop incomplete edges instead (an extractor that couldn't
    // resolve a host never produced a real edge)
    def norm(df: DataFrame) = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(
        least(col(aCol), col(bCol)).as(aCol),
        greatest(col(aCol), col(bCol)).as(bCol))
    norm(standing).unionByName(norm(increment)).distinct
  }
}
