package perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.operators.PairGraph

/** The registry-cold catalog pass: a sample of `SparkEntry.queries`
  * entries over the bundled sf0.01 fixture, in catalog order, after
  * `PairGraph.clear()` on a warm session. A shared artifact's derivation is
  * charged to its first consumer, as a fresh session would pay it.
  *
  * The whole catalog takes minutes per pass, past one run's budget, so a
  * run measures a sample drawn from the recorded cold profile
  * (`data/catalog_profile.tsv`, written by [[ProfileCatalog]]) by
  * [[stratifiedSample]]. */
object CatalogBench {

  val WarmupQuery = "q1_lineitem_agg"

  /** Queries in the sample. */
  val SampleSize = 6

  /** Every catalog query, in the fixed order passes run them. */
  def catalogOrder: Vector[String] = SparkEntry.queries.keys.toVector.sorted

  /** One query of the recorded cold profile: its build + exhaust time with
    * the registry cleared just before it, and how many registry entries its
    * build derived. */
  final case class Profiled(name: String, coldS: Double, derived: Int)

  def readProfile(file: Path): Vector[Profiled] =
    Files.readAllLines(file).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(name, s, d) = l.split("\t")
      Profiled(name, s.toDouble, d.toInt)
    }.toVector

  /** One sampled query and the number of profiled queries it stands for. */
  final case class Sampled(query: Profiled, stratumSize: Int)

  /** A sample of `k` queries whose cold times follow the profile's.
    *
    * Queries whose build derived registry entries and those whose did not
    * are two groups; each gets slots in proportion to its size, at least
    * one. Within a group, queries are ordered by cold time and cut into as
    * many strata of equal count as it has slots, and each stratum gives its
    * median query. The sample runs in catalog order. */
  def stratifiedSample(profile: Seq[Profiled], k: Int): Vector[Sampled] = {
    val (deriving, plain) = profile.partition(_.derived > 0)
    val kd = if (deriving.isEmpty) 0
      else math.min(k - 1, math.max(1, math.round(k.toDouble * deriving.size / profile.size).toInt))
    def strata(group: Seq[Profiled], slots: Int): Seq[Sampled] = {
      val sorted = group.sortBy(p => (p.coldS, p.name)).toVector
      (0 until slots).map { j =>
        val lo = j * sorted.size / slots
        val hi = (j + 1) * sorted.size / slots
        Sampled(sorted(lo + (hi - lo - 1) / 2), hi - lo)
      }
    }
    val order = profile.map(_.name).sorted.zipWithIndex.toMap
    (strata(deriving, kd) ++ strata(plain, k - kd)).sortBy(s => order(s.query.name)).toVector
  }

  /** The measured queries, in run order. */
  def sample(profileFile: Path): Vector[String] =
    stratifiedSample(readProfile(profileFile), SampleSize).map(_.query.name)

  final case class Timing(name: String, buildS: Double, execS: Double, derived: Int) {
    def totalS: Double = buildS + execS
  }

  /** One pass: build and exhaust every query, timing each part, and count
    * the registry entries each query's build derived. */
  def pass(spark: SparkSession, dir: String, queries: Vector[String]): Vector[Timing] =
    queries.map { name =>
      spark.sparkContext.setJobDescription(name)
      val q = Trace.start("catalog.query", Trace.NoCause)
      val before = PairGraph.size
      val t0 = Host.nowS
      val b = Trace.start("catalog.build", q)
      Trace.describe(name, b) // jobs run while building are registry derivations
      val df = SparkEntry.queries(name)(spark, dir)
      Trace.end(b)
      val t1 = Host.nowS
      val e = Trace.start("catalog.exec", q)
      Trace.describe(name, e)
      Host.exhaust(df)
      Trace.end(e)
      val t2 = Host.nowS
      Trace.end(q)
      spark.sparkContext.setJobDescription(null)
      Timing(name, t1 - t0, t2 - t1, PairGraph.size - before)
    }

  // ---- output check: row count + order-insensitive content hash ----

  private val rel = new MathContext(9, RoundingMode.HALF_EVEN)

  /** A float rounded to the oracle's tolerance (1e-6 absolute or 1e-9
    * relative, whichever is coarser at this magnitude). */
  def roundFloat(x: Double): String =
    if (x.isNaN || x.isInfinite) x.toString
    else {
      val bd = new java.math.BigDecimal(x)
      val byAbs = bd.setScale(6, RoundingMode.HALF_EVEN)
      val byRel = bd.round(rel)
      val r = if (byRel.scale < byAbs.scale) byRel else byAbs
      val s = r.stripTrailingZeros.toPlainString
      if (s == "-0") "0" else s
    }

  def render(v: Any): String = v match {
    case null => "∅"
    case d: Double => roundFloat(d)
    case f: Float => roundFloat(f.toDouble)
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case o => o.toString
  }

  /** 64-bit content hash, independent of row order and column order. */
  def contentHash(columns: Seq[String], rows: Iterator[Row]): (Long, Long) = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    var n = 0L
    var h = 0L
    rows.foreach { r =>
      val s = order.map(i => render(r.get(i))).mkString("\u0001")
      val d = java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      h += java.nio.ByteBuffer.wrap(d).getLong
      n += 1
    }
    (n, h)
  }

  def hashOf(df: DataFrame): (Long, Long) = contentHash(df.columns.toSeq, df.collect().iterator)

  /** Expected (rows, hash) per query, as recorded from an oracle-checked dump. */
  def readExpected(file: Path): Map[String, (Long, Long)] =
    Files.readAllLines(file).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(name, rows, hash) = l.split("\t")
      name -> (rows.toLong, java.lang.Long.parseUnsignedLong(hash, 16))
    }.toMap

  /** Check every measured query, outside the timed pass: (queries, failed). */
  def check(spark: SparkSession, dir: String, queries: Vector[String],
      expected: Map[String, (Long, Long)]): (Long, Long) = {
    val failed = queries.count { name =>
      try {
        val got = hashOf(SparkEntry.queries(name)(spark, dir))
        val ok = expected.get(name).contains(got)
        if (!ok) System.err.println(s"[perfbench] $name: got $got, expected ${expected.get(name)}")
        !ok
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name threw: $e"); true
      }
    }
    (queries.size.toLong, failed.toLong)
  }
}

/** Records the catalog check's expected values for every catalog query
  * from a dump of their results (the parquet directories `graft.Verify`
  * writes, after `tools/check_oracle.py` has passed them).
  * Usage: RecordCatalog <dump dir> <output tsv> */
object RecordCatalog {
  def main(args: Array[String]): Unit = {
    val Array(dump, out) = args
    val spark = Host.session()
    val lines = SparkEntry.queries.keys.toVector.sorted.map { name =>
      val df = spark.read.option("inferTimestampNTZ", "false").parquet(s"$dump/$name")
      val (n, h) = CatalogBench.hashOf(df)
      s"$name\t$n\t${java.lang.Long.toHexString(h)}"
    }
    Files.write(Path.of(out), ("# query\trows\thash (see CatalogBench.contentHash)" +: lines)
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Records the catalog's cold profile, from which the measured sample is
  * drawn: one untimed pass over every `SparkEntry.queries` entry to warm the
  * session, then `passes` timed passes, all in catalog order, with
  * `PairGraph.clear()` before every query: each query pays for every
  * registry entry it uses, as it would as the first consumer in a sample.
  * Per query: the median build + exhaust time and the registry entries its
  * build derived.
  * Usage: ProfileCatalog <data dir> <output tsv> <passes> */
object ProfileCatalog {
  def main(args: Array[String]): Unit = {
    val Array(dir, out, passesArg) = args
    val spark = Host.session()
    val names = CatalogBench.catalogOrder
    names.foreach(n => Host.exhaust(SparkEntry.queries(n)(spark, dir)))
    val passes = (1 to passesArg.toInt).map { _ =>
      names.map { n =>
        PairGraph.clear()
        val before = PairGraph.size
        val t0 = Host.nowS
        Host.exhaust(SparkEntry.queries(n)(spark, dir))
        (Host.nowS - t0, PairGraph.size - before)
      }
    }
    val lines = names.indices.map { i =>
      val ts = passes.map(_(i))
      f"${names(i)}\t${Stats.median(ts.map(_._1))}%.4f\t${ts.map(_._2).max}"
    }
    val total = passes.map(_.map(_._1).sum)
    val header = s"# query\tcold_s (median of ${passes.size} passes, registry cleared before each query; " +
      s"totals ${total.map(t => f"$t%.1f").mkString(", ")} s; ${Host.cpus} cores)\tderived"
    Files.write(Path.of(out), (header +: lines).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
