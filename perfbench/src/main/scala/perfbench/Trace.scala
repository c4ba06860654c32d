package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** In-memory span recorder of a traced run. Off by default: then `start`
  * returns [[NoCause]] without allocating, and `end` does nothing.
  *
  * A span has a name (`<layer>.<what>`), start and end (epoch ms, with
  * fractions from the monotonic clock), a cause (the id of the span that
  * caused it, or 0) and the run id. Spans are written out when the run ends.
  */
object Trace {
  final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
      cause: Long, run: String)

  val NoCause = 0L
  @volatile var enabled = false
  @volatile var runId = ""
  private val ids = new AtomicLong
  private val open = new java.util.concurrent.ConcurrentHashMap[Long, (String, Double, Long)]()
  private val done = new ConcurrentLinkedQueue[Span]()
  // epoch ms at a fixed monotonic instant, so spans keep sub-ms precision
  private val epochAtNs = (System.currentTimeMillis().toDouble, System.nanoTime())

  def nowMs: Double = epochAtNs._1 + (System.nanoTime() - epochAtNs._2) / 1e6

  def start(name: String, cause: Long): Long =
    if (!enabled) NoCause
    else {
      val id = ids.incrementAndGet()
      open.put(id, (name, nowMs, cause))
      id
    }

  def end(id: Long): Unit =
    if (id != NoCause) {
      val o = open.remove(id)
      if (o != null) done.add(Span(id, o._1, o._2, nowMs, o._3, runId))
    }

  /** An id for a span recorded later with [[record]]. */
  def newId(): Long = if (enabled) ids.incrementAndGet() else NoCause

  private val keyed = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** The id of the span known by `key` (a trigger, a stage), the same for
    * whoever asks first: its children may name it before it is recorded. */
  def keyedId(key: String): Long =
    if (!enabled) NoCause else keyed.computeIfAbsent(key, _ => ids.incrementAndGet()).longValue

  def triggerKey(runId: String, batchId: Long): String = s"trigger:$runId:$batchId"
  def stageKey(stageId: Int, attempt: Int): String = s"stage:$stageId.$attempt"

  private val byDescription = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Spark jobs described `desc` from now on are children of span `id`. */
  def describe(desc: String, id: Long): Unit = if (id != NoCause) byDescription.put(desc, id)

  private val BatchDescription = """(?s).*runId = (\S+)\s+batch = (\d+).*""".r

  /** The span that caused a Spark job, from the job's description: a span
    * named with [[describe]], or the trigger of a streaming micro-batch
    * (whose description carries the query's run id and batch id). */
  def causeOfJob(desc: String): Long = Option(byDescription.get(desc)) match {
    case Some(id) => id.longValue
    case None => desc match {
      case BatchDescription(run, batch) => keyedId(triggerKey(run, batch.toLong))
      case _ => NoCause
    }
  }

  /** Record a span whose times are already known (from listener events). */
  def record(id: Long, name: String, startMs: Double, endMs: Double, cause: Long): Unit =
    if (id != NoCause) done.add(Span(id, name, startMs, endMs, cause, runId))

  def spans: Vector[Span] = done.asScala.toVector

  /** Self time per layer in seconds: each span's duration minus the time
    * at least one of its direct children was open, summed by layer (the
    * span name up to the first dot). A parent's time is split without
    * counting overlapping children twice; children that run in parallel
    * each keep their own self time, so the layers add up to busy time over
    * all threads, not to wall time. */
  def selfSecondsByLayer(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.cause)
    def selfMs(s: Span): Double = (s.endMs - s.startMs) -
      coveredMs(children.getOrElse(s.id, Nil).map(c => (c.startMs max s.startMs, c.endMs min s.endMs)))
    spans.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map(selfMs).sum / 1000.0
    }
  }

  /** Length of the union of intervals (start, end); empty ones count 0. */
  def coveredMs(intervals: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var from, to = 0.0
    var open = false
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (open && a <= to) to = to max b
      else {
        if (open) covered += to - from
        from = a; to = b; open = true
      }
    }
    if (open) covered += to - from
    covered
  }

  def toJsonLines(spans: Seq[Span]): String = spans.sortBy(_.startMs).map { s =>
    f"""{"id":${s.id},"name":${Json.str(s.name)},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"cause":${s.cause},"run":${Json.str(s.run)}}"""
  }.mkString("", "\n", "\n")
}

/** Minimal JSON rendering for the result line and artifacts. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
