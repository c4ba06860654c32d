package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expressions.LshExpressions
import graft.operators.Similarity

/** HyperplaneBuckets: bit-for-bit equivalence with the compositional
  * lshBucket reference form, both eval paths, dimension checking. */
class LshExpressionsSpec extends SparkSpec {
  import spark.implicits._

  /** Sign-bucket id of a vector under one table of `planes`: bit h =
    * sign(v · plane_h). Packed to an int.
    *
    * Compositional REFERENCE implementation (a `when`-tree over
    * `dotProduct` calls) for the equivalence spec; the production
    * path is the one-pass codegen `HyperplaneBuckets` expression — a
    * multi-table `when`-tree is a single unsplittable expression whose
    * generated method overflows the JIT bytecode ceiling and runs
    * interpreted (profiled ~0.5 ms/row at 32×3 planes). */
  private def lshBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.map { p =>
      val planeCol = array(p.map(lit): _*)
      when(Similarity.dotProduct(vec, planeCol) >= 0, 1).otherwise(0)
    }
    bits.reduceLeft((acc, b) => acc * 2 + b)
  }

  private val dim = 16
  private val planes = Similarity.hyperplanes(4 * 3, dim, seed = 7L)

  private def withSQLConf[A](pairs: (String, String)*)(f: => A): A = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val vecs = {
    val rnd = new scala.util.Random(11)
    Seq.tabulate(50)(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
  }

  test("one-pass expression equals the compositional when-tree, every table") {
    val df = vecs.toDF("id", "v")
    val compositional = df.select(col("id"),
      array((0 until 4).map { t =>
        lshBucket(col("v"), planes.slice(t * 3, (t + 1) * 3))
      }: _*).as("b"))
    val onePass = df.select(col("id"),
      LshExpressions.hyperplaneBuckets(col("v"), planes, 4, 3).as("b"))
    val exp = compositional.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val got = onePass.collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got === exp)
  }

  test("interpreted eval path agrees with codegen") {
    val df = vecs.toDF("id", "v")
    val expr = LshExpressions.hyperplaneBuckets(col("v"), planes, 4, 3).as("b")
    val codegen = df.select(col("id"), expr).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val interp = withSQLConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      df.select(col("id"), expr).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    }
    assert(interp === codegen)
  }

  test("double-typed vectors are supported") {
    val df = vecs.map { case (i, v) => (i, v.map(_.toDouble)) }.toDF("id", "v")
    val out = df.select(
      LshExpressions.hyperplaneBuckets(col("v"), planes, 4, 3).as("b"))
      .collect()
    assert(out.length === 50 && out.forall(_.getSeq[Int](0).length === 4))
  }

  test("bucket ids are within [0, 2^bits)") {
    val df = vecs.toDF("id", "v")
    val all = df.select(explode(
        LshExpressions.hyperplaneBuckets(col("v"), planes, 4, 3)).as("bkt"))
      .collect().map(_.getInt(0))
    assert(all.forall(b => b >= 0 && b < 8))
  }

  test("null vector propagates null") {
    val df = Seq((1L, Option.empty[Array[Float]])).toDF("id", "v")
    val r = df.select(
      LshExpressions.hyperplaneBuckets(col("v"), planes, 4, 3).as("b"))
      .collect().head
    assert(r.isNullAt(0))
  }

  test("wrong dimensionality fails loudly") {
    val df = Seq((1L, Array.fill(dim + 1)(0.5f))).toDF("id", "v")
    val ex = intercept[Exception] {
      df.select(LshExpressions.hyperplaneBuckets(col("v"), planes, 4, 3))
        .collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(t =>
      Option(t.getMessage).exists(_.contains("dims"))))
  }
}
