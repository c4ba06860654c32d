package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** One build of every catalog query per fixture and test JVM, shared by
  * the suites that sweep the whole catalog (`SparkEntrySpec`,
  * `PlanShapeSpec`): a build runs the query's eager `.materialized`
  * jobs, so building each query once per suite would pay for all of
  * them twice. Each record keeps only what the suites assert on, not the
  * frame. */
object CatalogBuilds {

  /** The three suite-wide plan verdicts of one query. */
  final case class Verdicts(cartesian: Boolean,
      hintOffenders: Seq[String], windowOffenders: Seq[String])

  /** One query's columns, whether `collect()` returned rows, and its plan
    * verdicts. */
  final case class Built(name: String, columns: Seq[String], nonEmpty: Boolean,
      verdicts: Verdicts)

  private val builds = new ConcurrentHashMap[String, Seq[Built]]()

  /** Every query of `SparkEntry.queries` on fixture `sf`, in name order,
    * built on the first call for that fixture. The verdicts are taken
    * before `collect()`: after execution the formatted plan is AQE's
    * final plan, which can hide a `CartesianProduct`. `collect()` (not
    * `count()`) exhausts every output column, so Catalyst cannot prune a
    * column under test. */
  def all(spark: SparkSession, sf: String): Seq[Built] =
    builds.computeIfAbsent(sf, _ =>
      SparkEntry.queries.keys.toSeq.sorted.map { name =>
        val df = SparkEntry.queries(name)(spark, sf)
        val qe = df.queryExecution
        val verdicts = Verdicts(
          qe.explainString(FormattedMode).contains("CartesianProduct"),
          broadcastRegistryOffenders(qe.analyzed),
          unboundedWindowOffenders(qe.analyzed))
        Built(name, df.columns.toSeq, df.collect().nonEmpty, verdicts)
      })

  // A broadcast() HINT is a claim the side fits in executor memory at
  // ANY corpus scale. Probe sets, mixture-source taxonomies, and
  // k/C-bounded centroid frames are bounded by API CONTRACT — the
  // plan can't show that, so they stay exempt. What the plan CAN
  // show, and what actually OOMs a driver at 100 TB, is a hint over a
  // registry aggregated from the corpus on host/url-like keys (a
  // web-scale host registry is ~10⁸ rows; url registries are
  // corpus-sized). Rule: inside a broadcast-hinted subtree, descending
  // only through nodes that preserve unboundedness (a 1-row aggregate
  // or a limit re-bounds and stops the walk), no Aggregate/Deduplicate
  // may key on a host/url-named column while reading a real table
  // (fixture LocalRelations are exempt — robots/delay fixtures group
  // on host legitimately). This is the q_redirected_dedup discipline
  // ("NOT broadcast … AQE picks the strategy"), enforced.
  private def broadcastRegistryOffenders(
      analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val registryKeys = Set("host", "url", "src_host", "dst_host", "ha",
      "hb", "final_url", "node", "outlink", "registered_domain",
      "target_uri")
    def keyed(names: Seq[String]): Boolean =
      names.exists(n => registryKeys(n.toLowerCase(java.util.Locale.ROOT)))
    def scansRealTable(p: LogicalPlan): Boolean = p.collectLeaves().exists {
      case _: LocalRelation | _: OneRowRelation | _: Range => false
      case _ => true
    }
    // taxonomy-bounded: grouping/dedup keyed on curated-list columns
    // (the mixture `source` list is an operator-supplied design choice
    // of tens of entries; `dow` is 7). A join with a taxonomy-bounded
    // side is re-bounded under the repo's join idioms (per-source
    // enrichment joins: one match per key), so the walk stops there.
    val taxonomyCols = Set("source", "dow", "__grp")
    def taxonomyKeyed(names: Seq[String]): Boolean =
      names.nonEmpty && names.forall(taxonomyCols)
    def bounded(p: LogicalPlan): Boolean = p match {
      case a: Aggregate => a.groupingExpressions.isEmpty ||
        taxonomyKeyed(a.groupingExpressions
          .flatMap(_.references.map(_.name).toSeq))
      case d: Deduplicate =>
        taxonomyKeyed(d.keys.map(_.name)) || bounded(d.child)
      case _: GlobalLimit | _: LocalLimit => true
      case _: LocalRelation | _: OneRowRelation | _: Range => true
      case j: Join => bounded(j.left) || bounded(j.right)
      case other =>
        other.children.nonEmpty && other.children.forall(bounded)
    }
    def offendersIn(p: LogicalPlan): Seq[String] = p match {
      case a: Aggregate if a.groupingExpressions.isEmpty => Nil // 1 row
      case _: GlobalLimit | _: LocalLimit => Nil // k rows
      case j: Join if bounded(j.left) || bounded(j.right) => Nil
      case a: Aggregate if keyed(a.groupingExpressions
            .flatMap(_.references.map(_.name).toSeq)) && scansRealTable(a) =>
        Seq(s"Aggregate[${a.groupingExpressions.mkString(",").take(60)}]")
      case d: Deduplicate
          if keyed(d.keys.map(_.name)) && scansRealTable(d) =>
        Seq(s"Deduplicate[${d.keys.mkString(",").take(60)}]")
      case other => other.children.flatMap(offendersIn)
    }
    analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
        offendersIn(h.child)
    }.flatten
  }

  // An unpartitioned Window moves ALL its input to one partition.
  // The suite's four sanctioned sites are bounded by construction
  // (a top-k head below a limit; exclusive prefix sums over
  // bucket/day summaries), but the plan-walk below is what keeps
  // them that way: a future edit that drops the limit or the
  // bucket-summary aggregate under one of these windows — or adds a
  // NEW global window over raw rows — fails here, not at 100 TB
  // (r15 verdict "what's wrong" #4).
  private def unboundedWindowOffenders(
      analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    // grouping keys that mark a bounded bucket-summary frame: idGaps'
    // id-range buckets ("b") and quantile-cut buckets ("__b");
    // additionally any DATE-typed grouping expression is a calendar
    // grid (salesPerDay's daily totals under the moving-average
    // window, activeIntervals' per-day prefix) — bounded by the
    // calendar, not the corpus
    val summaryKeys = Set("b", "__b")
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit | _: LocalLimit => true
      case a: Aggregate => a.groupingExpressions.isEmpty ||
        a.groupingExpressions.forall(ge =>
          ge.dataType == org.apache.spark.sql.types.DateType ||
            ge.references.map(_.name).toSeq.forall(summaryKeys))
      case _: LocalRelation | _: OneRowRelation | _: Range => true
      case j: Join => bounded(j.left) || bounded(j.right)
      case other =>
        other.children.nonEmpty && other.children.forall(bounded)
    }
    analyzed.collect {
      case w: Window if w.partitionSpec.isEmpty && !bounded(w.child) =>
        s"Window[${w.windowExpressions.mkString(",").take(60)}]"
    }
  }
}
