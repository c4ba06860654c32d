package perfbench

/** Order statistics and the freshness/lag arithmetic of the stream runs,
  * kept pure so the tests can drive them with synthetic sequences. */
object Stats {

  /** Linear-interpolated quantile (`q` in [0, 1]) of an unsorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail percentiles a sample may report. */
  val Percentiles: Seq[Double] = Seq(50, 75, 90, 95, 99, 99.9)

  /** The highest percentile that keeps at least `beyond` samples above it,
    * or None when even the median does not. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Double] =
    Percentiles.filter(p => n * (1 - p / 100) >= beyond - 1e-9).lastOption

  /** One trigger of one query, as its progress event reports it. */
  final case class Trigger(startMs: Long, durationMs: Long, rows: Long) {
    def endMs: Long = startMs + durationMs
  }

  /** Freshness of each file: from its due time to the end of the last
    * trigger, across all queries, that contained its events.
    *
    * Every query reads the files in landing order, whole, so a query's
    * cumulative row count places each of its triggers over a range of files.
    * `triggers` holds each query's triggers in order (empty ones may be
    * included). A file no query has finished yet gets no sample. */
  def freshnessMs(dueMs: IndexedSeq[Long], fileEvents: IndexedSeq[Long],
      triggers: Seq[Seq[Trigger]]): Vector[Double] = {
    val n = dueMs.size
    val ends = Array.fill(n)(Long.MinValue)
    val covered = Array.fill(n)(0)
    triggers.foreach { qs =>
      var file = 0 // first file this query has not finished
      var finished = 0L // events in files before `file`
      var consumed = 0L
      qs.foreach { t =>
        consumed += t.rows
        while (file < n && finished + fileEvents(file) <= consumed) {
          ends(file) = math.max(ends(file), t.endMs)
          covered(file) += 1
          finished += fileEvents(file)
          file += 1
        }
      }
    }
    (0 until n).filter(i => covered(i) == triggers.size)
      .map(i => (ends(i) - dueMs(i)).toDouble).toVector
  }

  /** Source lag at the end of each trigger: events landed by then minus
    * events the query had committed. */
  def lagEvents(landedBy: Long => Long, triggers: Seq[Trigger], base: Long): Vector[Double] = {
    var committed = base
    triggers.map { t =>
      committed += t.rows
      math.max(0L, landedBy(t.endMs) - committed).toDouble
    }.toVector
  }
}
