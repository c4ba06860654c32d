package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Distributed PCA for embedding columns — the preprocessing step the
  * semantic-dedup / clustering literature applies before SemDeDup-style
  * pipelines (reduce d, whiten, THEN cluster).
  *
  * Architecture is the mini-batch-k-means split
  * (`Similarity.trainCentroidsMiniBatch`): the corpus-sized work is ONE
  * streaming pass that accumulates the d-vector of sums and the
  * d(d+1)/2 upper triangle of the second-moment matrix in a bounded
  * typed-Aggregator buffer — each partition contributes ONE ≈d²/2
  * -double buffer to the merge, no explode, no shuffle of vectors —
  * while the d×d eigenproblem is solved on the driver (for d = 64,
  * 32 KB — the same "k·dim doubles on the driver" budget as centroid
  * training; the driver never sees a row). Eigenvectors come from
  * FIXED-ITERATION power iteration with deflation: a deterministic,
  * engine-replayable construction (the PageRank fixed-recurrence
  * precedent) rather than a library eigensolver the DuckDB oracle
  * could not restate.
  *
  * Float caveat (the ANN family's standing one): partial-buffer merge
  * order varies with partitioning, so second moments carry last-ulp
  * noise run to run; normalized power iteration is
  * perturbation-stable (contraction ≤ λ₂/λ₁ per step), so projections
  * agree cross-engine to ~1e-13 — far inside the oracle tolerance.
  *
  * Reference scope: extension surface (no vector ops in the 485-line
  * reference job).
  */
object Pca {

  /** n rows, Σx (d doubles), upper-triangular Σxxᵀ (d(d+1)/2). Arrays
    * are mutated in place during a partition's reduce — only the merge
    * boundary pays encoding. */
  final case class GramBuf(n: Long, s: Array[Double], g: Array[Double])

  private def triIndex(d: Int, i: Int, j: Int): Int =
    i * d - i * (i - 1) / 2 + (j - i) // requires i <= j

  def gramAggregator(d: Int): Aggregator[Seq[Double], GramBuf, GramBuf] =
    new Aggregator[Seq[Double], GramBuf, GramBuf] {
      override def zero: GramBuf =
        GramBuf(0L, new Array[Double](d), new Array[Double](d * (d + 1) / 2))
      override def reduce(b: GramBuf, x: Seq[Double]): GramBuf = {
        require(x.length == d,
          s"dimension mismatch: expected $d, got ${x.length}")
        val xa = x.toArray
        var i = 0
        var t = 0
        while (i < d) {
          b.s(i) += xa(i)
          var j = i
          while (j < d) { b.g(t) += xa(i) * xa(j); j += 1; t += 1 }
          i += 1
        }
        b.copy(n = b.n + 1)
      }
      override def merge(a: GramBuf, b: GramBuf): GramBuf = {
        var i = 0
        while (i < a.s.length) { a.s(i) += b.s(i); i += 1 }
        var t = 0
        while (t < a.g.length) { a.g(t) += b.g(t); t += 1 }
        a.copy(n = a.n + b.n)
      }
      override def finish(r: GramBuf): GramBuf = r
      override def bufferEncoder: Encoder[GramBuf] = ExpressionEncoder()
      override def outputEncoder: Encoder[GramBuf] = ExpressionEncoder()
    }

  /** Dimension from the first row — loud empty-frame message instead of
    * head()'s bare NoSuchElementException (the require(buf.n > 0) check
    * downstream never fires if dim-sniffing throws first). */
  private def sniffDim(vecs: Dataset[Seq[Double]], op: String): Int =
    vecs.take(1).headOption.getOrElse(throw new IllegalArgumentException(
      s"$op of an empty frame")).length

  /** One pass over `df(vecCol)` (array<numeric>): (n, mean, covariance)
    * with cov = E[xxᵀ] − μμᵀ, driver-resident (d×d). Null vectors are
    * dropped; inconsistent dimensions throw. */
  def covariance(df: DataFrame, vecCol: String): (Long, Array[Double], Array[Array[Double]]) = {
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.filter(col(vecCol).isNotNull)
      .select(col(vecCol).cast("array<double>")).as[Seq[Double]]
    val dim = sniffDim(vecs, "covariance")
    val buf = vecs.select(gramAggregator(dim).toColumn).head()
    require(buf.n > 0, "covariance of an empty frame")
    val n = buf.n.toDouble
    val mean = buf.s.map(_ / n)
    val cov = Array.ofDim[Double](dim, dim)
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = buf.g(triIndex(dim, i, j)) / n - mean(i) * mean(j)
        cov(i)(j) = c
        cov(j)(i) = c
        j += 1
      }
      i += 1
    }
    (buf.n, mean, cov)
  }

  /** Top-r eigenpairs of a symmetric matrix by FIXED-count power
    * iteration + deflation, from the deterministic uniform init
    * v₀ = 1/√d. Returns (eigenvector, λ = vᵀCv) in decreasing order.
    * Fixed iterations make the construction engine-replayable; callers
    * wanting convergence raise `iters`. */
  def topComponents(cov: Array[Array[Double]], r: Int,
      iters: Int): Seq[(Array[Double], Double)] = {
    val d = cov.length
    require(r >= 1 && r <= d && iters >= 1)
    val c = cov.map(_.clone())
    def matVec(v: Array[Double]): Array[Double] =
      Array.tabulate(d) { i =>
        var acc = 0.0
        var j = 0
        while (j < d) { acc += c(i)(j) * v(j); j += 1 }
        acc
      }
    def norm(v: Array[Double]): Double = math.sqrt(v.map(x => x * x).sum)
    (0 until r).map { _ =>
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      for (_ <- 0 until iters) {
        val w = matVec(v)
        val nw = norm(w)
        require(nw > 0, "power iteration collapsed to the null space")
        v = w.map(_ / nw)
      }
      val lambda = {
        val cv = matVec(v)
        var acc = 0.0
        var i = 0
        while (i < d) { acc += v(i) * cv(i); i += 1 }
        acc
      }
      // deflate: C ← C − λ v vᵀ
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) { c(i)(j) -= lambda * v(i) * v(j); j += 1 }
        i += 1
      }
      (v, lambda)
    }
  }

  /** Project each vector onto `comps` about `mean`:
    * (idCol, proj array<double>) with proj_k = ⟨x, v_k⟩ − ⟨μ, v_k⟩ —
    * the centering collapses to one constant per component, so the row
    * side is r codegen'd dot products against broadcast literals. */
  def project(df: DataFrame, idCol: String, vecCol: String,
      mean: Array[Double], comps: Seq[Array[Double]]): DataFrame = {
    val projCols = comps.map { v =>
      val mu = mean.zip(v).map { case (m, w) => m * w }.sum
      Similarity.dotProduct(col(vecCol).cast("array<double>"),
        array(v.map(lit).toIndexedSeq: _*)) - lit(mu)
    }
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol), array(projCols: _*).as("proj"))
  }

  /** The registered composition: covariance pass → `iters`-step top
    * component → per-row scalar projection (idCol, proj double). */
  def projectTop(df: DataFrame, idCol: String, vecCol: String,
      iters: Int = 10): DataFrame = {
    val (_, mean, cov) = covariance(df, vecCol)
    val Seq((v1, _)) = topComponents(cov, 1, iters)
    project(df, idCol, vecCol, mean, Seq(v1))
      .select(col(idCol), element_at(col("proj"), 1).as("proj"))
  }

  // ----- randomized range-finder PCA (Halko, Martinsson & Tropp 2011)

  /** Range-pass buffer: n rows, Σx (d), Σ x·(Ωᵀx)ᵀ (d×ℓ row-major) —
    * the per-partition state is d·ℓ doubles instead of [[GramBuf]]'s
    * d²/2, which is what lifts the usable d from a few hundred to
    * thousands. */
  final case class RangeBuf(n: Long, s: Array[Double], y: Array[Double])

  /** The test matrix Ω is the SAME implicit hash-derived ±1 matrix as
    * [[graft.expressions.RandomProject]] (entry (i, j) =
    * `RandomProject.sign(i·d + j)`): no seed state, no broadcast,
    * every executor derives it from integer arithmetic alone. */
  private def rangeAggregator(d: Int, ell: Int): Aggregator[Seq[Double], RangeBuf, RangeBuf] =
    new Aggregator[Seq[Double], RangeBuf, RangeBuf] {
      override def zero: RangeBuf =
        RangeBuf(0L, new Array[Double](d), new Array[Double](d * ell))
      override def reduce(b: RangeBuf, x: Seq[Double]): RangeBuf = {
        require(x.length == d,
          s"dimension mismatch: expected $d, got ${x.length}")
        val xa = x.toArray
        val w = new Array[Double](ell)
        var i = 0
        while (i < ell) {
          val base = i.toLong * d
          var acc = 0.0
          var j = 0
          while (j < d) {
            acc += xa(j) * graft.expressions.RandomProject.sign(base + j)
            j += 1
          }
          w(i) = acc
          i += 1
        }
        var j = 0
        while (j < d) {
          b.s(j) += xa(j)
          val off = j * ell
          val xj = xa(j)
          var i2 = 0
          while (i2 < ell) { b.y(off + i2) += xj * w(i2); i2 += 1 }
          j += 1
        }
        b.copy(n = b.n + 1)
      }
      override def merge(a: RangeBuf, b: RangeBuf): RangeBuf = {
        var i = 0
        while (i < a.s.length) { a.s(i) += b.s(i); i += 1 }
        var t = 0
        while (t < a.y.length) { a.y(t) += b.y(t); t += 1 }
        a.copy(n = a.n + b.n)
      }
      override def finish(r: RangeBuf): RangeBuf = r
      override def bufferEncoder: Encoder[RangeBuf] = ExpressionEncoder()
      override def outputEncoder: Encoder[RangeBuf] = ExpressionEncoder()
    }

  /** Modified Gram–Schmidt over the columns of a d×`ell` matrix given
    * column-major; near-null columns (rank deficiency) are dropped.
    * Driver-side: d·ell² flops on at most a few MB. */
  private def orthonormalize(cols: Array[Array[Double]]): Seq[Array[Double]] = {
    val out = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    val eps = 1e-12
    cols.foreach { c0 =>
      val c = c0.clone()
      out.foreach { q =>
        var dot = 0.0
        var j = 0
        while (j < c.length) { dot += c(j) * q(j); j += 1 }
        var j2 = 0
        while (j2 < c.length) { c(j2) -= dot * q(j2); j2 += 1 }
      }
      val nrm = math.sqrt(c.map(x => x * x).sum)
      if (nrm > eps) out += c.map(_ / nrm)
    }
    out.toSeq
  }

  /** Top-r principal components for LARGE d by the randomized
    * range-finder (Halko et al. 2011, Algorithm 4.1 + Rayleigh–Ritz):
    *
    *  1. range pass: one streaming aggregation of Y = Σ x·(Ωᵀx)ᵀ and
    *     Σx — centering gives Ŷ = n·(C·Ω), an ℓ-column sample of the
    *     covariance's range; per-partition state d·ℓ doubles (the
    *     full-Gram [[covariance]] needs d²/2, capping d at a few
    *     hundred — this is its scale path for d in the thousands);
    *  2. driver: orthonormalize Ŷ → Q (d×ℓ′, modified Gram–Schmidt);
    *  3. Rayleigh–Ritz pass: rows project onto Q (ℓ′ codegen dots
    *     against literal columns — the [[project]] machinery), and the
    *     SMALL ℓ′×ℓ′ covariance [[covariance]] + fixed-iteration
    *     [[topComponents]] solve the eigenproblem there;
    *  4. lift: v = Q·u (unit — Q orthonormal), λ unchanged (Rayleigh
    *     quotients are invariant under the isometry).
    *
    * Exact for any component lying in the range sample; the classic
    * guarantee is near-optimal capture when the spectrum decays and ℓ
    * exceeds the target rank by a margin (ℓ ≥ r + ~10). Deterministic
    * end to end: Ω is the hash matrix, MGS and power iteration are
    * fixed driver arithmetic (the PageRank/PCA replayability
    * discipline — spec'd against a planted component, the
    * [[covariance]] twin at small d).
    * Returns (n, mean, components (vector, λ) in decreasing λ). */
  def randomizedComponents(df: DataFrame, vecCol: String, ell: Int,
      r: Int, iters: Int = 10): (Long, Array[Double], Seq[(Array[Double], Double)]) = {
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.filter(col(vecCol).isNotNull)
      .select(col(vecCol).cast("array<double>")).as[Seq[Double]]
    val dim = sniffDim(vecs, "randomizedComponents")
    require(ell >= 1 && ell <= dim, s"need 1 <= ell <= $dim, got $ell")
    require(r >= 1 && r <= ell, s"need 1 <= r <= ell, got $r")
    val buf = vecs.select(rangeAggregator(dim, ell).toColumn).head()
    require(buf.n > 0, "randomizedComponents of an empty frame")
    val n = buf.n.toDouble
    val mean = buf.s.map(_ / n)
    // wMu = Ωᵀμ; centered range columns: Y_i = (Σ x·w_i)/n − μ·wMu_i
    val wMu = Array.tabulate(ell) { i =>
      val base = i.toLong * dim
      var acc = 0.0
      var j = 0
      while (j < dim) {
        acc += mean(j) * graft.expressions.RandomProject.sign(base + j)
        j += 1
      }
      acc
    }
    val yCols = Array.tabulate(ell) { i =>
      Array.tabulate(dim) { j => buf.y(j * ell + i) / n - mean(j) * wMu(i) }
    }
    val q = orthonormalize(yCols)
    require(q.size >= r,
      s"range sample has rank ${q.size} < r=$r (degenerate input)")
    // Rayleigh–Ritz in the Q basis: small covariance + exact power
    // iteration, then lift back
    val projected = df.filter(col(vecCol).isNotNull)
      .select(array(q.map { v =>
        val mu = mean.zip(v).map { case (m, w) => m * w }.sum
        Similarity.dotProduct(col(vecCol).cast("array<double>"),
          array(v.map(lit).toIndexedSeq: _*)) - lit(mu)
      }: _*).as("proj"))
    val (_, _, smallCov) = covariance(projected, "proj")
    val small = topComponents(smallCov, r, iters)
    val lifted = small.map { case (u, lambda) =>
      val v = Array.tabulate(dim) { j =>
        var acc = 0.0
        var i = 0
        while (i < u.length) { acc += q(i)(j) * u(i); i += 1 }
        acc
      }
      (v, lambda)
    }
    (buf.n, mean, lifted)
  }
}
