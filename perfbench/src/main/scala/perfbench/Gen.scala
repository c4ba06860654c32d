package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate

/** Seeded generator of reference-shaped JSON transactions.
  *
  * Every field of event `id` is a pure function of `(seed, id)`, so the same
  * seed gives byte-identical files however they are split or rendered. The
  * program never sees the seed: it only reads the files.
  */
object Gen {

  /** Key shape of a workload: how categories and days are drawn. */
  final case class Shape(categories: Int, zipfExponent: Double, days: Int,
      firstDay: LocalDate)

  /** The reference's own key space: 6 categories, 90 days in 3 months. */
  val Ref: Shape = Shape(6, 0.0, 90, LocalDate.of(2024, 9, 1))

  /** Wide keys: ~100k categories drawn Zipf, dates spread over 30 years. */
  val Wide: Shape = Shape(100000, 1.0, 10957, LocalDate.of(1994, 1, 1))

  private val refCategories =
    Vector("electronic", "fashion", "grocery", "home", "beauty", "toy")
  private val payments = Vector("credit_card", "debit_card", "online_transfer")

  /** SplitMix64 finaliser: a well-mixed 64-bit hash of (seed, id, field). */
  def mix(seed: Long, id: Long, field: Int): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L + field * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) from a mixed hash. */
  private def unit(h: Long): Double = (h >>> 11) * (1.0 / (1L << 53))

  /** Inverse-CDF sampler of a Zipf law over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
      var acc = 0.0
      var i = 0
      while (i < n) { acc += w(i); w(i) = acc; i += 1 }
      i = 0
      while (i < n) { w(i) /= acc; i += 1 }
      w
    }
    def sample(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      val r = if (i >= 0) i else -i - 1
      math.min(r, n - 1)
    }
  }

  /** Renders events of one shape under one seed. */
  final class Renderer(shape: Shape, seed: Long) {
    private val zipf =
      if (shape.zipfExponent > 0) Some(new Zipf(shape.categories, shape.zipfExponent))
      else None
    private val firstEpochDay = shape.firstDay.toEpochDay

    def categoryOf(id: Long): String = zipf match {
      case Some(z) => f"cat${z.sample(unit(mix(seed, id, 1)))}%06d"
      case None => refCategories(java.lang.Math.floorMod(mix(seed, id, 1), shape.categories.toLong).toInt)
    }

    def dayOf(id: Long): LocalDate =
      LocalDate.ofEpochDay(firstEpochDay +
        java.lang.Math.floorMod(mix(seed, id, 2), shape.days.toLong))

    def line(id: Long, sb: java.lang.StringBuilder): Unit = {
      val h = mix(seed, id, 5)
      val price = (java.lang.Math.floorMod(mix(seed, id, 3), 9900L) + 100) / 100.0
      val qty = java.lang.Math.floorMod(mix(seed, id, 4), 10L).toInt + 1
      val sec = java.lang.Math.floorMod(h, 86400L).toInt
      sb.append("{\"transactionId\":\"").append(idOf(id))
        .append("\",\"productId\":\"p").append(java.lang.Math.floorMod(h >>> 17, 500L))
        .append("\",\"productName\":\"item").append(java.lang.Math.floorMod(h >>> 17, 500L))
        .append("\",\"productCategory\":\"").append(categoryOf(id))
        .append("\",\"productPrice\":").append(price)
        .append(",\"productQuantity\":").append(qty)
        .append(",\"productBrand\":\"brand").append(java.lang.Math.floorMod(h >>> 29, 20L))
        .append("\",\"totalAmount\":").append(price * qty)
        .append(",\"currency\":\"").append(if ((h >>> 40 & 1L) == 0) "USD" else "GBP")
        .append("\",\"customerId\":\"c").append(java.lang.Math.floorMod(h >>> 41, 5000L))
        .append("\",\"transactionDate\":\"").append(dayOf(id))
        .append(f"T${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d.000000")
        .append("\",\"paymentMethod\":\"").append(payments(java.lang.Math.floorMod(h >>> 50, 3L).toInt))
        .append("\"}\n")
    }

    /** One file holding events [fromId, fromId + count). */
    def writeFile(path: Path, fromId: Long, count: Int): Unit = {
      val sb = new java.lang.StringBuilder(count * 330)
      var id = fromId
      while (id < fromId + count) { line(id, sb); id += 1 }
      Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Transaction id of event `id`; [[idNumber]] inverts it. */
  def idOf(id: Long): String = "tx" + id

  def idNumber(s: String): Long =
    if (s != null && s.startsWith("tx")) {
      try s.substring(2).toLong catch { case _: NumberFormatException => -1L }
    } else -1L

  /** A pre-rendered file waiting in the staging directory. */
  final case class Staged(path: Path, events: Int)

  /** Pre-render `files` files of `perFile` events, ids from `fromId` on,
    * named so that their lexical order is their landing order. */
  def render(r: Renderer, dir: Path, prefix: String, fromId: Long, files: Int,
      perFile: Int): Vector[Staged] = {
    Files.createDirectories(dir)
    (0 until files).map { f =>
      val p = dir.resolve(f"$prefix-$f%06d.json")
      r.writeFile(p, fromId + f.toLong * perFile, perFile)
      Staged(p, perFile)
    }.toVector
  }

  /** Lands staged files into `target` by atomic rename at their due times
    * (epoch ms), on one thread, recording when each actually landed. */
  final class Lander(files: Vector[Staged], target: Path, dueMs: Vector[Long])
      extends Thread("perfbench-lander") {
    require(files.size == dueMs.size)
    val landedMs: Array[Long] = Array.fill(files.size)(-1L)
    @volatile var landed: Int = 0
    setDaemon(true)

    override def run(): Unit = {
      var i = 0
      while (i < files.size && !isInterrupted) {
        var wait = dueMs(i) - System.currentTimeMillis()
        while (wait > 0 && !isInterrupted) {
          java.util.concurrent.locks.LockSupport.parkNanos(wait * 1000000L)
          wait = dueMs(i) - System.currentTimeMillis()
        }
        if (!isInterrupted) {
          val p = files(i).path
          Files.move(p, target.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
          landedMs(i) = System.currentTimeMillis()
          i += 1
          landed = i
        }
      }
    }

    /** How late each landed file ran behind its due time, in ms. */
    def lateMs: Vector[Double] =
      (0 until landed).map(i => (landedMs(i) - dueMs(i)).toDouble).toVector

    /** Events landed at or before `tMs`. */
    def eventsLandedBy(tMs: Long): Long = {
      var n = 0L
      var i = 0
      while (i < landed) { if (landedMs(i) <= tMs) n += files(i).events; i += 1 }
      n
    }
  }
}
