package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session, the JVM and the host, as the benchmark sees them. */
object Host {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** The program's own local session (`GraftSession.local`: its engine
    * settings and its shuffle partitions per core), on every core. */
  def session(): SparkSession = {
    val spark = graft.GraftSession.local("perfbench", cpus.toString)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Evaluate every output column of `df` (a count would let Catalyst prune). */
  def exhaust(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def nowS: Double = System.nanoTime() / 1e9

  /** Run `f` again and again until `seconds` have passed since the first
    * run started, at least `atLeast` and at most `atMost` times. */
  def repeatFor[T](seconds: Int, atLeast: Int, atMost: Int = Int.MaxValue)(f: => T): Vector[T] = {
    val t0 = nowS
    val out = Vector.newBuilder[T]
    var n = 0
    while (n < atMost && (n < atLeast || nowS - t0 < seconds)) { out += f; n += 1 }
    out.result()
  }

  /** The parallel calibration `graft.Bench` reports as `calib_par_s`. */
  def calibParS(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, max, xxhash64}
    val t0 = nowS
    spark.range(0, 1L << 30, 1, 64).select(max(xxhash64(col("id")))).collect()
    nowS - t0
  }

  def memoryGb: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getTotalMemorySize / 1073741824.0
    case _ => 0.0
  }

  /** Heap in use after a full collection, in MB. Spark's context cleaner
    * drops blocks of collected frames asynchronously, so collect, give it a
    * moment, and collect again. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
