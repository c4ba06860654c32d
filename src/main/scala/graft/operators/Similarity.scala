package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Reuse.ReuseOps

/** Embedding similarity search over an `array<float>` column:
  * brute-force cosine top-k as the exact baseline, and two approximate
  * scale paths — random-hyperplane LSH and IVF (coarse-cell probing).
  *
  * All arithmetic is double precision via the custom codegen'd
  * `DotProductDouble` Catalyst expression, accumulating in the same
  * left-to-right order as the DuckDB oracle (`list_dot_product` on
  * `::DOUBLE[]`), so results agree within float tolerance.
  *
  * Zero-norm vectors (padding rows, failed encoders) have no defined
  * cosine; every operator here filters them out rather than letting
  * `0/0 = NaN` — which Spark sorts as the LARGEST double — hijack rank 1
  * of every top-k list.
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double precision, sequential left fold (matches DuckDB).
    * Backed by the custom codegen'd `DotProductDouble` Catalyst
    * expression — a `zip_with`+`aggregate` formulation is semantically
    * identical but runs interpreted (HOFs don't codegen), which costs
    * ~an order of magnitude on pairwise similarity joins. */
  def dotProduct(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.dotDouble(a, b)

  def l2Norm(a: Column): Column = sqrt(dotProduct(a, a))

  def cosine(a: Column, b: Column): Column =
    dotProduct(a, b) / (l2Norm(a) * l2Norm(b))

  /** Corpus side as (neighbor_id, cv, cnorm), zero vectors dropped. */
  private def corpusSide(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cnorm", l2Norm(col("cv")))
      .filter(col("cnorm") > 0)

  private def querySide(queries: DataFrame, idCol: String, vecCol: String): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qnorm", l2Norm(col("qv")))
      .filter(col("qnorm") > 0)

  /** Shared epilogue: per-query rank by cosine desc (ties on neighbor
    * id), keep k. Input must already be projected to
    * (query_id, neighbor_id, cos) so no arrays enter this shuffle.
    *
    * Runs through the map-side-combining `TopKAggregator`, NOT a
    * `row_number()` window: the window shuffles EVERY candidate of a
    * query into one partition and sorts it — for the exact brute-force
    * path that is the whole corpus per query in a single-partition sort.
    * The aggregator contributes at most k rows per query per input
    * partition to the shuffle, so the epilogue moves ≈ k × queries ×
    * partitions rows no matter how large the corpus is. Ids must be
    * long-castable (they are bare numeric ids by the time they reach
    * this projection). Ties break identically to the window form
    * (`orderBy(cos desc, neighbor_id asc)`), spec-asserted equivalent. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    // the aggregator path requires INTEGRAL ids (its buffer is
    // (Double, Long)-typed): a string/decimal id would cast("long") to
    // null row-by-row and silently collapse groups. Non-integral ids
    // fall back to the window formulation — correct for any id type,
    // just without the map-side-combine shuffle bound.
    // (Spark's IntegralType abstraction is private[sql]; enumerate the
    // four integral scalar types instead)
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integral = Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    val idTypesOk = Seq("query_id", "neighbor_id")
      .forall(c => integral(scored.schema(c).dataType))
    if (!idTypesOk) rankTopKWindow(scored, k)
    else {
      val spark = scored.sparkSession
      import spark.implicits._
      graft.functions.TopKAggregator.topKPerGroup(
          scored.select(col("query_id").cast("long"), col("cos").cast("double"),
            col("neighbor_id").cast("long")).as[(Long, Double, Long)], k)
        .select(col("key").as("query_id"), col("id").as("neighbor_id"),
          col("rank"), col("score").as("cos"))
    }
  }

  /** Window-function formulation of the epilogue — the oracle-shaped
    * REFERENCE implementation `rankTopK` is spec'd equivalent to. Not on
    * any registered path: it single-partition-sorts each query's full
    * candidate list (every corpus row, for the exact baseline). */
  private[graft] def rankTopKWindow(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** Scored-candidate projection shared by the exact and ANN top-k
    * variants, exposed for the epilogue-equivalence spec. */
  private[graft] def bruteForceScored(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String): DataFrame =
    corpusSide(corpus, idCol, vecCol)
      .crossJoin(broadcast(querySide(queries, idCol, vecCol)))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotProduct(col("cv"), col("qv")) / (col("cnorm") * col("qnorm"))).as("cos"))

  /** Exact top-k cosine neighbors for each query vector.
    *
    * Plan shape: broadcast the (small) query set against the corpus —
    * a BroadcastNestedLoopJoin that streams the 100 TB side once with
    * no shuffle — then one exchange on query_id for the per-query top-k
    * window. Norms are computed once per side, not once per pair.
    * Deterministic: ties break on neighbor id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame =
    rankTopK(bruteForceScored(corpus, queries, idCol, vecCol), k)

  /** Hard-negative mining for contrastive training: for each anchor,
    * the k most-similar corpus vectors whose cosine stays BELOW
    * `maxCos` — near misses, not near-duplicates. Vectors in
    * [maxCos, 1] are likely paraphrases/duplicates of the anchor and
    * would poison a negative set, so they are excluded BEFORE the
    * top-k cut (filtering after the cut would return fewer than k and
    * drop the next-best true negatives). Same plan shape as
    * [[bruteForceTopK]]: anchors broadcast, corpus streamed once with
    * no shuffle, ≤ k rows per anchor per partition into the epilogue
    * exchange. Output: (query_id, neighbor_id, rank, cos). */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, idCol: String,
      vecCol: String, k: Int, maxCos: Double): DataFrame =
    rankTopK(bruteForceScored(corpus, anchors, idCol, vecCol)
      .filter(col("cos") < maxCos), k)

  /** Deterministic random hyperplanes: `numPlanes × dim` entries in
    * {-1,+1} from a fixed-seed PRNG, embedded as a literal array — no
    * data, no broadcast variable, identical on every executor. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(if (rng.nextBoolean()) 1.0 else -1.0)
  }

  /** (tbl, bkt, id) bucket rows for one side — arrays are NOT carried;
    * candidates travel as bare ids and vectors join back later. All
    * table buckets come from ONE `HyperplaneBuckets` pass (codegen'd
    * nested loop; see that expression's scaladoc for why the
    * compositional form is off the hot path). */
  private def bucketRows(df: DataFrame, idName: String, vecName: String,
      bitsPerTable: Int, numTables: Int,
      allPlanes: Array[Array[Double]]): DataFrame =
    df.select(col(idName),
      posexplode(graft.expressions.LshExpressions.hyperplaneBuckets(
        col(vecName), allPlanes, numTables, bitsPerTable))
        .as(Seq("tbl", "bkt")))

  /** Multi-probe expansion of (tbl, bkt) rows: each row also emits its
    * `bitsPerTable` Hamming-1 neighbor buckets (one sign-bit flip each).
    * Probing ONE side of a bucket equi-join makes the join match any
    * pair whose buckets agree exactly OR differ in a single bit — the
    * classic multi-probe LSH trade (Lv et al., VLDB'07): per-table
    * recall rises steeply (a near-miss pair usually differs in exactly
    * the one plane whose margin was smallest), so far fewer tables are
    * needed for the same recall, and it is TABLE COUNT that multiplies
    * the 100 TB side's emitted rows and shuffle volume. Probes are
    * integer XORs on an already-computed bucket — no extra dot
    * products. */
  private def probeHamming1(bucketed: DataFrame, idName: String,
      bitsPerTable: Int): DataFrame = {
    val probes = (lit(0) +: (0 until bitsPerTable).map(i => lit(1 << i)))
    bucketed.select(col(idName), col("tbl"),
      explode(array(probes.map(m => col("bkt").bitwiseXOR(m)): _*)).as("bkt"))
  }

  /** Vector dimension = length of the first non-empty vector (one tiny
    * driver job; the scan prunes to the vector column). The planes must
    * match the data's true dimension, which the schema doesn't carry.
    * A corpus with no usable vector (empty, all null/empty arrays —
    * e.g. a partition of failed-encoder output) yields dim 1: the
    * operator's result is empty either way, and degenerate input must
    * produce an empty result, not a driver crash. */
  private def inferDimOpt(df: DataFrame, vecCol: String): Option[Int] = {
    val first = df.select(size(col(vecCol)).as("d")).filter(col("d") > 0).take(1)
    first.headOption.map(_.getInt(0))
  }

  private def inferDim(df: DataFrame, vecCol: String): Int =
    inferDimOpt(df, vecCol).getOrElse(1)

  /** Dim for a two-sided operator: the reference side decides, but an
    * all-null/degenerate reference falls back to the BATCH side — a
    * dim-1 guess would build wrong-dimension hyperplanes, and whether
    * the batch's bucket expression (which validates dims) ever runs
    * against them depends on an AQE stage-materialization race: the
    * empty-side propagation can cancel the batch stage or lose the
    * race to it (the NullSafetySpec embedding-across flake, now
    * deterministic). */
  private def inferDim2(reference: DataFrame, batch: DataFrame,
      vecCol: String): Int =
    inferDimOpt(reference, vecCol)
      .orElse(inferDimOpt(batch, vecCol)).getOrElse(1)

  /** Approximate top-k: candidates = corpus vectors sharing an LSH
    * bucket with the query in ANY of `numTables` independent tables;
    * exact cosine + top-k on the candidates only.
    *
    * Scale: each table is an equi-join on (table, bucket) — a hash
    * shuffle whose key cardinality is 2^bitsPerTable × numTables; the
    * 100 TB side is scanned once to emit numTables bucket rows per
    * vector (bare ids — no array traffic), and the expensive exact
    * cosine runs on the candidate set only (≪ n²). Recall tunes with
    * numTables; bucket width with bitsPerTable; `multiProbe` flips each
    * sign bit on the QUERY side (tiny), matching Hamming-≤1 buckets per
    * table — same recall with far fewer tables, i.e. far fewer emitted
    * rows per corpus vector. `dim = 0` (default) infers the vector
    * dimension from the data.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, bitsPerTable: Int = 4, numTables: Int = 16,
      multiProbe: Boolean = false, dim: Int = 0, seed: Long = 42L): DataFrame = {
    val d = if (dim > 0) dim else inferDim2(corpus, queries, vecCol)
    val allPlanes = hyperplanes(bitsPerTable * numTables, d, seed)
    val c = corpusSide(corpus, idCol, vecCol)
    val q = querySide(queries, idCol, vecCol)

    val qBuckets = bucketRows(q, "query_id", "qv", bitsPerTable, numTables, allPlanes)
    val qProbed =
      if (multiProbe) probeHamming1(qBuckets, "query_id", bitsPerTable) else qBuckets
    val cand = bucketRows(c, "neighbor_id", "cv", bitsPerTable, numTables, allPlanes)
      .join(broadcast(qProbed), Seq("tbl", "bkt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
      .distinct()

    val scored = cand
      .join(c, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotProduct(col("cv"), col("qv")) / (col("cnorm") * col("qnorm"))).as("cos"))
    rankTopK(scored, k)
  }

  /** IVF (inverted-file) approximate top-k — the FAISS-style scale
    * path: partition the corpus into `numCentroids` coarse cells by
    * nearest centroid, and probe only the `nProbe` cells closest to
    * each query.
    *
    * Centroids are the first `numCentroids` corpus vectors by id
    * (Forgy initialization) and are COLLECTED TO THE DRIVER eagerly
    * when this operator is built (C × dim floats — kilobytes), then
    * embedded as literals: cell assignment is a codegen'd argmax over C
    * literal dot products in the scan projection — no explode, no
    * window, no shuffle on the 100 TB side beyond the probe join
    * itself, which is an equi-join on cell id touching ~nProbe/C of the
    * corpus per query.
    */
  /** Lloyd refinement for IVF coarse centroids: `iters` rounds of
    * assign-to-nearest (codegen'd literal argmax, no shuffle) +
    * per-cell mean (posexplode + partial aggregation, one shuffle of
    * narrow rows). Centroids stay driver-resident between rounds —
    * C × dim doubles. Cosine-space assignment, so means are computed on
    * the raw vectors and re-normalized implicitly by the next round's
    * cosine. Empty cells keep their previous centroid. */
  def refineCentroids(corpus: DataFrame, vecCol: String,
      init: Array[(Int, Array[Double], Double)],
      iters: Int): Array[(Int, Array[Double], Double)] = {
    var cents = init
    val dim = init.head._2.length
    for (_ <- 0 until iters) {
      val means = corpus
        .withColumn("__vnorm", l2Norm(col(vecCol)))
        .filter(col("__vnorm") > 0)
        .withColumn("cell", graft.expressions.CentroidExpressions
          .topCentroids(col(vecCol), col("__vnorm"), cents, 1).getItem(0))
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("dim", "v")))
        .groupBy("cell", "dim")
        .agg(avg(col("v")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          val v = new Array[Double](dim)
          rows.foreach(r => v(r.getInt(1)) = r.getDouble(2))
          cell -> v
        }
      cents = cents.map { case (cell, oldV, oldN) =>
        means.get(cell) match {
          case Some(v) => (cell, v, math.sqrt(v.map(x => x * x).sum))
          case None => (cell, oldV, oldN) // empty cell: keep previous
        }
      }
    }
    cents
  }

  /** Driver-side Forgy initialization shared by the IVF family: the
    * first `numCentroids` NON-ZERO vectors by id (a zero-norm seed
    * would make a dead cell: NULL cell score, never probed). Elements
    * are read as boxed Numbers so `array<float>` and `array<double>`
    * corpora both work — the expressions accept both, and a
    * `getSeq[Float]` read would ClassCastException on doubles. */
  private def forgyInit(corpus: DataFrame, idCol: String, vecCol: String,
      numCentroids: Int): Array[(Int, Array[Double], Double)] =
    corpus.filter(l2Norm(col(vecCol)) > 0)
      .orderBy(col(idCol)).limit(numCentroids)
      .select(col(vecCol)).collect()
      .zipWithIndex.map { case (row, i) =>
        val v = row.getSeq[Number](0).iterator.map(_.doubleValue).toArray
        (i, v, math.sqrt(v.map(x => x * x).sum))
      }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, numCentroids: Int = 16, nProbe: Int = 4,
      refineIters: Int = 2): DataFrame = {
    require(nProbe >= 1 && nProbe <= numCentroids)
    // driver-side centroid collection (eager, small by construction),
    // then Lloyd refinement
    val init = forgyInit(corpus, idCol, vecCol, numCentroids)
    val cents =
      if (refineIters > 0) refineCentroids(corpus, vecCol, init, refineIters)
      else init
    ivfServe(corpus, queries, idCol, vecCol, cents, k, nProbe)
  }

  /** Shared IVF serving path: assign corpus rows to their nearest cell,
    * probe each query's `nProbe` nearest cells, exact-cosine the probed
    * candidates, rank top-k.
    *
    * Cell assignment / probing via the one-pass codegen TopCentroids
    * expression: a compositional array-of-struct scorer is ONE
    * unsplittable expression of C dot products, which overflows the
    * JIT bytecode ceiling and runs interpreted (see TopCentroids doc);
    * ordering semantics — (score, cell) descending — are identical.
    * The centroid array rides the expression's reference object, which
    * Spark ships inside the stage's task binary — itself a torrent
    * broadcast, so C × dim doubles cross the network once per stage,
    * not once per task. */
  private def ivfServe(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, cents: Array[(Int, Array[Double], Double)], k: Int,
      nProbe: Int): DataFrame = {
    val c = corpusSide(corpus, idCol, vecCol)
      .withColumn("cell", graft.expressions.CentroidExpressions
        .topCentroids(col("cv"), col("cnorm"), cents, 1).getItem(0))
    val q = querySide(queries, idCol, vecCol)
      .withColumn("cell", explode(graft.expressions.CentroidExpressions
        .topCentroids(col("qv"), col("qnorm"), cents, nProbe)))

    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotProduct(col("cv"), col("qv")) / (col("cnorm") * col("qnorm"))).as("cos"))
    rankTopK(scored, k)
  }

  /** Distributed mini-batch k-means (Sculley, WWW'10) for IVF/SemDeDup
    * coarse centroids — the k ≈ 10⁴ scale path that the driver-resident
    * Lloyd loop ([[refineCentroids]]) cannot reach, because that loop's
    * per-iteration cost is a full-corpus assignment pass.
    *
    * Everything data-sized stays in DataFrames; the ONLY driver-side
    * state is k × dim doubles — the centroids themselves, exactly what
    * the assignment broadcast must hold regardless of trainer:
    *  - init: the k hash-smallest non-zero vectors (seeded xxhash64) —
    *    a distributed TakeOrdered, k·dim rows collected;
    *  - per iteration: a deterministic hash-slice mini-batch of
    *    ≈ k·batchPerCell rows (the slice predicate pushes to the scan;
    *    cost of everything downstream is BATCH-sized, not
    *    corpus-sized), assigned by the codegen'd TopCentroids argmax,
    *    then per-(cell, dim) sums/counts via partial-combining groupBy
    *    — at most k·dim narrow rows cross back to the driver, the same
    *    volume the next iteration's broadcast ships out;
    *  - update: cumulative-count mini-batch rule
    *    c ← (n_c·c + Σ_batch x) / (n_c + |batch|) — Sculley's
    *    per-centroid learning rate η = 1/n_c in batched form. Cells a
    *    batch misses keep their centroid and count.
    *
    * Per-iteration cost is therefore flat in corpus size (fixed batch)
    * except the O(corpus) slice scan, whose constant is a hash + filter
    * — the property the ScaleProbe `kmeans` mode measures. Fully
    * deterministic given (corpus, seed): same init, same slices, same
    * update algebra (per-cell double sums vary with partition order in
    * the last ulps, the same tolerance every ANN path already carries).
    *
    * Returns (cell, centroid, norm) for [[ivfServe]]-style assignment;
    * cells are 0..C-1 with C = min(k, non-zero corpus rows). */
  def trainCentroidsMiniBatch(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int = 4, batchPerCell: Int = 8,
      seed: Long = 42L): Array[(Int, Array[Double], Double)] = {
    require(k >= 1 && iters >= 0 && batchPerCell >= 1)
    val nz = corpus.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__n", l2Norm(col("__v")))
      .filter(col("__n") > 0)
    val initRows = nz
      .orderBy(xxhash64(col("__id"), lit(seed)), col("__id"))
      .limit(k).select("__v").collect()
    var cents: Array[(Int, Array[Double], Double)] =
      initRows.zipWithIndex.map { case (row, i) =>
        val v = row.getSeq[Number](0).iterator.map(_.doubleValue).toArray
        (i, v, math.sqrt(v.map(x => x * x).sum))
      }
    if (cents.isEmpty || iters == 0) return cents
    val dim = cents.head._2.length
    val counts = Array.fill(cents.length)(1L) // each seed has seen itself
    val total = nz.count()
    val targetBatch = cents.length.toLong * batchPerCell
    val modulus = math.max(1L, total / math.max(1L, targetBatch))
    for (it <- 0 until iters) {
      val batch =
        if (modulus == 1L) nz // tiny corpus: mini-batch degrades to full Lloyd
        else nz.filter(
          pmod(xxhash64(col("__id"), lit(seed + 1 + it)), lit(modulus)) === 0)
      val agg = batch
        .withColumn("cell", graft.expressions.CentroidExpressions
          .topCentroids(col("__v"), col("__n"), cents, 1).getItem(0))
        .select(col("cell"), posexplode(col("__v")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg(sum(col("x").cast("double")).as("s"), count(lit(1)).as("c"))
        .collect() // ≤ k·dim rows — broadcast-sized by construction
      val sums = new Array[Array[Double]](cents.length)
      val batchCount = new Array[Long](cents.length)
      agg.foreach { r =>
        val cell = r.getInt(0)
        if (sums(cell) == null) sums(cell) = new Array[Double](dim)
        sums(cell)(r.getInt(1)) = r.getDouble(2)
        batchCount(cell) = r.getLong(3)
      }
      cents = cents.map { case (cell, v, n) =>
        if (batchCount(cell) == 0L) (cell, v, n) // cell missed this batch
        else {
          val nOld = counts(cell)
          val nNew = nOld + batchCount(cell)
          val s = sums(cell)
          val v2 = Array.tabulate(dim)(i => (v(i) * nOld + s(i)) / nNew)
          counts(cell) = nNew
          (cell, v2, math.sqrt(v2.map(x => x * x).sum))
        }
      }
    }
    cents
  }

  /** IVF top-k over mini-batch-trained centroids — the big-k (≥ 256
    * coarse cells, SemDeDup's operating regime) entry point. Identical
    * serving shape to [[ivfTopK]]; only the trainer differs. `nProbe`
    * is clamped to the trained cell count so a corpus smaller than `k`
    * still serves. */
  def ivfTopKBig(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, numCentroids: Int, nProbe: Int,
      iters: Int = 4, batchPerCell: Int = 8, seed: Long = 42L): DataFrame = {
    require(nProbe >= 1 && nProbe <= numCentroids)
    val cents = trainCentroidsMiniBatch(corpus, idCol, vecCol, numCentroids,
      iters, batchPerCell, seed)
    if (cents.isEmpty) { // degenerate corpus (no non-zero vectors)
      return rankTopKWindow(corpus.sparkSession.range(0)
        .select(col("id").as("query_id"), col("id").as("neighbor_id"),
          col("id").cast("double").as("cos")), k)
    }
    ivfServe(corpus, queries, idCol, vecCol, cents, k,
      math.min(nProbe, cents.length))
  }

  /** IVF serving under a PRE-TRAINED centroid table — the shipped-
    * index-artifact form of [[ivfTopKBig]]/[[ivfTopKIncremental]]: a
    * production index trains its coarse quantizer once per corpus
    * snapshot and persists it (FAISS `train` then store); every serving
    * pass loads the model-sized table and pays only assignment + probe.
    * Serving shape identical to [[ivfTopKBig]]. */
  def ivfTopKServe(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nProbe: Int,
      cents: Array[(Int, Array[Double], Double)]): DataFrame = {
    require(nProbe >= 1)
    require(cents.nonEmpty,
      "empty centroid table — cannot serve an IVF index")
    ivfServe(corpus, queries, idCol, vecCol, cents, k,
      math.min(nProbe, cents.length))
  }

  /** Incremental IVF serving — the index-MAINTENANCE shape a growing
    * corpus needs: coarse centroids are trained ONCE (on the reference
    * corpus that existed when the index was built) and a grown corpus —
    * old vectors plus every batch that arrived since — is assigned to
    * those frozen cells and served WITHOUT retraining. This is how
    * production IVF indexes absorb inserts (FAISS `add` after `train`):
    * retraining shifts every cell boundary and forces a full corpus
    * re-assignment, so it is amortized to rare rebuilds while daily
    * batches only pay their own assignment pass (one broadcast-centroid
    * scoring scan over the NEW rows).
    *
    * The price of frozen cells is quantization drift: new-region
    * vectors land in stretched cells, so recall at fixed nProbe decays
    * as the corpus outgrows the training snapshot — the operational
    * signal to rebuild. The registered query pins the serving contract
    * (recall 1 at tuned nProbe with the index trained on HALF the
    * corpus) against the exhaustive oracle over the full corpus.
    *
    * `trainCorpus` is typically a past snapshot or sample of `corpus`;
    * serving cost is identical to [[ivfTopKBig]]. */
  def ivfTopKIncremental(trainCorpus: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String, k: Int,
      numCentroids: Int, nProbe: Int, iters: Int = 4,
      batchPerCell: Int = 8, seed: Long = 42L): DataFrame = {
    require(nProbe >= 1 && nProbe <= numCentroids)
    val cents = trainCentroidsMiniBatch(trainCorpus, idCol, vecCol,
      numCentroids, iters, batchPerCell, seed)
    // unlike ivfTopKBig (where an empty result is the honest answer for
    // a degenerate corpus), here train and serve corpora are DISTINCT:
    // an empty training snapshot means the caller's snapshot predicate
    // matched nothing — "no neighbors for anyone" would silently bury
    // that mistake
    require(cents.nonEmpty,
      "trainCorpus has no non-zero vectors — cannot build an IVF index " +
        "(check the snapshot predicate)")
    ivfServe(corpus, queries, idCol, vecCol, cents, k,
      math.min(nProbe, cents.length))
  }

  /** ANN evaluation harness — recall@k of an approximate top-k result
    * frame against the exact one (both in this family's
    * (query_id, neighbor_id, rank) shape): the measurement behind every
    * "recall-1 at tuned parameters" claim in this file, exposed as an
    * operator so a pipeline can run the SAME tuning sweep on its own
    * corpus before committing LSH table counts / IVF probe budgets
    * (the [[graft.operators.Dedup.minhashBandingReport]] counterpart
    * for the serving side).
    *
    * Per query: n_hit = |approx∩exact| within rank ≤ k, n_exact ≤ k
    * (boundary queries can have fewer than k true neighbors), recall =
    * n_hit / n_exact. Queries the approximate index returned NOTHING
    * for still appear (n_hit 0) — silent-miss-proof. Cost: one semi
    * join + two k-bounded aggregations over result frames (rows ≈
    * queries × k, never corpus-sized). */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    val e = exact.filter(col("rank") <= k).select("query_id", "neighbor_id")
    val a = approx.filter(col("rank") <= k).select("query_id", "neighbor_id")
    val hits = e.join(a, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    e.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        col("n_exact"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_exact"))
          .as("recall"))
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ) — compressed-store ANN
  // ------------------------------------------------------------------

  /** Train PQ codebooks: `m` subspaces × `ksub` codewords, Lloyd
    * k-means per subspace over a deterministic training sample of
    * L2-NORMALIZED corpus vectors (PQ serves cosine here: on unit
    * vectors cos = 1 − ‖q−x‖²/2, so L2 codebooks carry cosine order).
    *
    * Training is SAMPLE-based by design — exactly how production PQ
    * trains (FAISS trains on 10⁴–10⁶ vectors regardless of corpus
    * size): the first `maxTrainRows` non-zero vectors by id are
    * collected to the driver (≤ maxTrainRows × dim floats — MBs, the
    * same driver-resident trade as IVF centroids), initialized Forgy
    * (first ksub sample subvectors) and refined `iters` rounds with
    * ties to the smaller code. Fully deterministic: same corpus ⇒ same
    * codebooks, the reproducibility a data recipe needs. */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int = 10,
      maxTrainRows: Int = 16384): Array[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 1 && iters >= 0 && maxTrainRows >= ksub)
    val rows = corpus
      .withColumn("__n", l2Norm(col(vecCol)))
      .filter(col("__n") > 0)
      .orderBy(col(idCol)).limit(maxTrainRows)
      .select(col(vecCol), col("__n"))
      .collect()
    require(rows.nonEmpty, "pqCodebooks: no non-zero training vectors")
    val dim = rows.head.getSeq[Number](0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    // normalized sample, row-major; boxed-Number reads so float AND
    // double vector columns work (the expressions accept both)
    val sample: Array[Array[Double]] = rows.map { r =>
      val n = r.getDouble(1)
      r.getSeq[Number](0).iterator.map(_.doubleValue / n).toArray
    }
    Array.tabulate(m) { j =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      var cents = Array.tabulate(math.min(ksub, pts.length))(c => pts(c).clone())
      if (cents.length < ksub) { // degenerate tiny corpus: pad by repetition
        cents = Array.tabulate(ksub)(c => pts(c % pts.length).clone())
      }
      def nearest(p: Array[Double]): Int = {
        var best = 0; var bestDist = Double.PositiveInfinity
        var c = 0
        while (c < ksub) {
          var dist = 0.0; var i = 0
          while (i < dsub) { val d = p(i) - cents(c)(i); dist += d * d; i += 1 }
          if (dist < bestDist) { bestDist = dist; best = c }
          c += 1
        }
        best
      }
      for (_ <- 0 until iters) {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val counts = new Array[Long](ksub)
        pts.foreach { p =>
          val c = nearest(p)
          counts(c) += 1
          var i = 0
          while (i < dsub) { sums(c)(i) += p(i); i += 1 }
        }
        cents = Array.tabulate(ksub) { c =>
          if (counts(c) == 0) cents(c) // empty cell keeps its codeword
          else sums(c).map(_ / counts(c))
        }
      }
      cents
    }
  }

  /** PQ-encode the corpus: (idCol, codes array<int> of length m) — the
    * compressed embedding store. 64 float32 dims (256 bytes + ids)
    * become m ints (m bytes once written as int8 parquet), a 16–32×
    * store cut, and the codes column is all a serving scan needs. One
    * codegen'd pass, no shuffle; zero-norm vectors are dropped like the
    * rest of the cosine family. */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    corpusSide(corpus, idCol, vecCol)
      .select(col("neighbor_id").as(idCol),
        graft.expressions.PqExpressions
          .pqEncode(col("cv"), col("cnorm"), codebooks).as("codes"))

  /** PQ approximate top-k with exact re-rank — the compressed-store
    * serving path: score every (query, code-row) pair with the
    * asymmetric (ADC) distance — reading m bytes of codes per corpus
    * vector instead of D floats, the memory-bandwidth win PQ exists
    * for — shortlist the `rerank` best per query through the map-side-
    * combining TopK epilogue, then re-score ONLY the shortlist with
    * exact cosine on the raw vectors. With `rerank` covering the ADC
    * shortlist's true top-k (fixture-tuned via `AnnTune`, like
    * LSH/IVF), output EQUALS brute force and shares the exhaustive
    * oracle; recall degrades gracefully as rerank shrinks.
    *
    * Scale shape: codes build is one codegen'd scan; ADC scoring
    * streams the (m-byte-wide) codes once against broadcast queries —
    * no shuffle on the corpus side; the shortlist join touches
    * `rerank × queries` rows only. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, m: Int = 8, ksub: Int = 16,
      rerank: Int = 64, iters: Int = 10,
      codebooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    require(rerank >= k, s"rerank $rerank must cover k = $k")
    // `codebooks` = the stored model artifact (FAISS train-then-store):
    // pass it to serve without retraining; None trains here
    val cbs = codebooks.getOrElse(
      pqCodebooks(corpus, idCol, vecCol, m, ksub, iters))
    val c = corpusSide(corpus, idCol, vecCol)
    val codes = c.select(col("neighbor_id"),
      graft.expressions.PqExpressions
        .pqEncode(col("cv"), col("cnorm"), cbs).as("codes"))
    val q = querySide(queries, idCol, vecCol)
    // approx cosine from ADC on unit vectors: cos ≈ 1 − ‖q−x̂‖²/2
    val shortlist = rankTopK(
      codes.crossJoin(broadcast(q))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          (lit(1.0) - graft.expressions.PqExpressions
            .pqAdcDistance(col("codes"), col("qv"), col("qnorm"), cbs) / 2)
            .as("cos")),
      rerank).select("query_id", "neighbor_id")
    exactRerank(shortlist, c, q, k)
  }

  /** Exact-cosine re-rank of an ANN shortlist: join the raw vectors
    * back onto the (rerank × queries)-sized candidate set and rank the
    * true scores. Shared epilogue of the PQ family. */
  private def exactRerank(shortlist: DataFrame, c: DataFrame, q: DataFrame,
      k: Int): DataFrame = {
    val rescored = shortlist
      .join(c.select("neighbor_id", "cv", "cnorm"), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotProduct(col("cv"), col("qv")) / (col("cnorm") * col("qnorm"))).as("cos"))
    rankTopK(rescored, k)
  }

  /** IVF-PQ composed index — the full production serving shape (FAISS
    * IndexIVFPQ): coarse cells prune the corpus to ~nProbe/C per query,
    * PQ codes compress what remains to m bytes per vector, ADC scores
    * the probed codes, and the shortlist is re-ranked exactly. At
    * 100 TB both stages are load-bearing: IVF bounds how much is READ
    * per query, PQ bounds how much is STORED (and how fast the probed
    * cells stream). Both stages reuse their standalone recall-1-tuned
    * machinery; the composition is spec'd ≡ brute force at the
    * registered-parameter point (probing keeps every true neighbor, so
    * the ADC shortlist over the probed subset can only be a superset
    * of pure PQ's over the same neighbors). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, numCentroids: Int = 16, nProbe: Int = 14,
      m: Int = 16, ksub: Int = 32, rerank: Int = 256,
      refineIters: Int = 2, pqIters: Int = 10,
      codebooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    require(nProbe >= 1 && nProbe <= numCentroids && rerank >= k)
    val init = forgyInit(corpus, idCol, vecCol, numCentroids)
    val cents =
      if (refineIters > 0) refineCentroids(corpus, vecCol, init, refineIters)
      else init
    // shared stored-artifact hook — see pqTopK
    val cbs = codebooks.getOrElse(
      pqCodebooks(corpus, idCol, vecCol, m, ksub, pqIters))

    val c = corpusSide(corpus, idCol, vecCol)
      .withColumn("cell", graft.expressions.CentroidExpressions
        .topCentroids(col("cv"), col("cnorm"), cents, 1).getItem(0))
    // the serving-side table: cell id + m-byte code per vector
    val codes = c.select(col("neighbor_id"), col("cell"),
      graft.expressions.PqExpressions
        .pqEncode(col("cv"), col("cnorm"), cbs).as("codes"))
    // q0 = one row per query (the re-rank side); qProbed = one row per
    // (query, probed cell) for the ADC scan — passing the exploded
    // frame to the re-rank would duplicate every pair nProbe times
    val q0 = querySide(queries, idCol, vecCol)
    val qProbed = q0.withColumn("cell",
      explode(graft.expressions.CentroidExpressions
        .topCentroids(col("qv"), col("qnorm"), cents, nProbe)))

    val shortlist = rankTopK(
      codes.join(broadcast(qProbed), Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          (lit(1.0) - graft.expressions.PqExpressions
            .pqAdcDistance(col("codes"), col("qv"), col("qnorm"), cbs) / 2)
            .as("cos")),
      rerank).select("query_id", "neighbor_id")
    exactRerank(shortlist, c, q0, k)
  }

  /** Symmetric int8 quantization of an embedding column — the storage
    * step that cuts a float32 embedding store 4× (and feeds int8 SIMD
    * distance kernels downstream). Per vector: scale = 127 / max|x|,
    * q_d = ⌊x_d · scale + 0.5⌋ (explicit floor-plus-half, which is
    * defined identically in every engine — `round()` half-case
    * conventions differ across engines/dialects, so the oracle uses the
    * same floor form). Zero vectors have no scale and are dropped, like
    * every cosine operator here.
    *
    * Output long-form (id, dim, q, scale): one narrow row per
    * dimension. Plan shape: posexplode → partial-combined max-abs
    * aggregate → join back on id — the per-id join shuffles narrow
    * (id, dim, val) rows; no interpreted higher-order functions in the
    * per-element path. */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val exploded = df.select(col(idCol).as("__qid"),
      posexplode(col(vecCol)).as(Seq("dim", "v")))
    val scales = exploded.groupBy("__qid")
      .agg(max(abs(col("v"))).as("__ma"))
      .filter(col("__ma") > 0)
    exploded.join(scales, Seq("__qid"))
      .select(col("__qid").as(idCol), col("dim"),
        floor(col("v") * (lit(127.0) / col("__ma")) + lit(0.5)).cast("int").as("q"),
        (lit(127.0) / col("__ma")).as("scale"))
  }

  /** Per-label centroid of an embedding column, one output row per
    * (label, dimension). The explode/aggregate shape is deliberate for
    * scale: `posexplode` widens rows 64× but keeps them 3 columns
    * narrow, and the (label × dim) key space is tiny, so map-side
    * partial aggregation collapses nearly everything before the single
    * shuffle. (The array-typed alternative — aggregating whole vectors
    * — ships full arrays through the shuffle and needs a custom
    * aggregator for elementwise mean.) */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(avg(col("v")).as("centroid"))

  /** Centroid drift between two corpus snapshots: per label, the cosine
    * between the old and new mean embedding (plus both member counts) —
    * the embedding-space release check that catches a crawl refresh or
    * pipeline change silently shifting a class's distribution, the way
    * a schema diff never can. cos ≈ 1 means the class moved nowhere;
    * the lower it falls, the harder the drift.
    *
    * Scale: both centroids are narrow-row posexplode → (label, dim)
    * partial-combining averages — embeddings never shuffle whole, only
    * (label, dim, sum, count)-shaped partials; the cosine folds the
    * D-row-per-label join with one more tiny aggregation. Labels
    * missing from either side have no drift to measure (inner join).
    * Output: (label, n_old, n_new, cos_sim). */
  def centroidDrift(oldDf: DataFrame, newDf: DataFrame, labelCol: String,
      vecCol: String): DataFrame = {
    val o = labelCentroids(oldDf, labelCol, vecCol)
      .withColumnRenamed("centroid", "__co")
    val n = labelCentroids(newDf, labelCol, vecCol)
      .withColumnRenamed("centroid", "__cn")
    val counts = oldDf.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_old"))
      .join(newDf.groupBy(col(labelCol).as("label"))
        .agg(count(lit(1)).as("n_new")), Seq("label"))
    o.join(n, Seq("label", "dim"))
      .groupBy("label")
      .agg((sum(col("__co") * col("__cn")) /
        (sqrt(sum(col("__co") * col("__co"))) *
          sqrt(sum(col("__cn") * col("__cn"))))).as("cos_sim"))
      .join(broadcast(counts), Seq("label"))
      .select("label", "n_old", "n_new", "cos_sim")
  }

  /** Embedding near-duplicate pairs: all (a,b) with cosine ≥ threshold,
    * a < b. Exact variant = self-join (quadratic — fixture scale only);
    * the scale path is `lshNearDupPairs`. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("norm", l2Norm(col("v")))
      .filter(col("norm") > 0)
    val a = v.select(col("id").as("id_a"), col("v").as("va"), col("norm").as("na"))
    val b = v.select(col("id").as("id_b"), col("v").as("vb"), col("norm").as("nb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dotProduct(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** LSH-bucketed near-dup pairs — the 100 TB shape of
    * `cosineNearDupPairs`: only vectors sharing a bucket in some table
    * are compared exactly. Candidates travel as bare id pairs; vectors
    * join back once per surviving pair. With `multiProbe`, ONE side of
    * the self-join also emits each bucket's Hamming-1 flips, so a pair
    * is a candidate when its per-table buckets differ in ≤ 1 sign bit —
    * flip symmetry means one probed side covers both directions. The
    * probed rows stay bare (id, tbl, bkt) ints; the win is needing far
    * fewer tables (the multiplier on rows emitted per corpus vector)
    * for the same recall. `dim = 0` infers the dimension.
    *
    * Tuning note: probing also widens each table's FALSE-candidate net
    * ((1+bits)/2^bits of random pairs vs 1/2^bits), so when switching
    * multiProbe on, raise `bitsPerTable` until per-table selectivity is
    * back where you want it — the recall gain usually pays for 1–2
    * extra bits. The registered fixture keeps bits=3 only because its
    * near-dups sit at cos ≈ 0.4–0.5 (barely above the random band, the
    * worst case for sign-LSH discrimination); corpora with real dup
    * clusters (cos ≥ 0.8) should run bits 6–8 with probing. */
  def lshNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bitsPerTable: Int = 4, numTables: Int = 16,
      multiProbe: Boolean = false, dim: Int = 0, seed: Long = 42L): DataFrame = {
    val d = if (dim > 0) dim else inferDim(df, vecCol)
    val allPlanes = hyperplanes(bitsPerTable * numTables, d, seed)
    // NO materialization barrier here, unlike the Jaccard/SimHash
    // pipelines — measured (3-pass minima, sf0.1): an explicit
    // (tbl, bkt) repartition of `banded` costs MORE than recomputing
    // the codegen hyperplane pass per join side (+1.1 s), because the
    // multi-probe side explodes its flips AFTER any shared exchange and
    // must re-shuffle regardless, so the barrier only adds a shuffle.
    // The bucket expression is arithmetic on in-partition rows; the
    // scan+norm triple-read is three 9 MB parquet scans. Cheap to
    // recompute, expensive to pipe through an extra exchange.
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("norm", l2Norm(col("v")))
      .filter(col("norm") > 0)
    val banded = bucketRows(v, "id", "v", bitsPerTable, numTables, allPlanes)
    val probed =
      if (multiProbe) probeHamming1(banded, "id", bitsPerTable) else banded

    val cand = banded.select(col("tbl"), col("bkt"), col("id").as("id_a"))
      .join(probed.select(col("tbl"), col("bkt"), col("id").as("id_b")),
        Seq("tbl", "bkt"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()

    cand
      .join(v.select(col("id").as("id_a"), col("v").as("va"), col("norm").as("na")),
        Seq("id_a"))
      .join(v.select(col("id").as("id_b"), col("v").as("vb"), col("norm").as("nb")),
        Seq("id_b"))
      .withColumn("cos", dotProduct(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Cross-corpus embedding near-dup pairs — the incremental-crawl
    * shape of [[lshNearDupPairs]], completing the across-variant family
    * (Jaccard and edit distance have the same split): which vectors of
    * a NEW batch near-duplicate something in an existing REFERENCE
    * corpus. Both sides are bucketed by the SAME hyperplanes (same
    * seed), so any cross pair the self-join variant finds collides in
    * the same tables here — recall carries over unchanged from the
    * self-join's tuning. Only left×right candidates exist: no
    * within-side pairs are ever generated, the property that makes
    * re-crawl dedup linear in the new batch instead of quadratic in
    * the union.
    *
    * Scale: the reference side emits `numTables` bare (tbl, bkt, id)
    * rows per vector — the 100 TB side's multiplier — while the
    * Hamming-1 probe expansion runs on the (small) new batch only.
    * Output: (id_ref, id_new, cos), exact cosine ≥ threshold. */
  def lshNearDupPairsAcross(reference: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      bitsPerTable: Int = 4, numTables: Int = 16,
      multiProbe: Boolean = false, dim: Int = 0, seed: Long = 42L): DataFrame = {
    val d = if (dim > 0) dim else inferDim2(reference, batch, vecCol)
    val allPlanes = hyperplanes(bitsPerTable * numTables, d, seed)
    def side(df: DataFrame): DataFrame =
      df.select(col(idCol).as("id"), col(vecCol).as("v"))
        .withColumn("norm", l2Norm(col("v")))
        .filter(col("norm") > 0)
    val ref = side(reference)
    val nw = side(batch)
    val refBanded = bucketRows(ref, "id", "v", bitsPerTable, numTables, allPlanes)
    val nwBanded = bucketRows(nw, "id", "v", bitsPerTable, numTables, allPlanes)
    val nwProbed =
      if (multiProbe) probeHamming1(nwBanded, "id", bitsPerTable) else nwBanded

    val cand = refBanded.select(col("tbl"), col("bkt"), col("id").as("id_ref"))
      .join(nwProbed.select(col("tbl"), col("bkt"), col("id").as("id_new")),
        Seq("tbl", "bkt"))
      .filter(col("id_ref") =!= col("id_new"))
      .select("id_ref", "id_new")
      .distinct()

    cand
      .join(ref.select(col("id").as("id_ref"), col("v").as("va"), col("norm").as("na")),
        Seq("id_ref"))
      .join(nw.select(col("id").as("id_new"), col("v").as("vb"), col("norm").as("nb")),
        Seq("id_new"))
      .withColumn("cos", dotProduct(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select("id_ref", "id_new", "cos")
  }

  /** DBSCAN (Ester et al. 1996) over a precomputed ε-neighbor pair
    * graph: `pairs` holds the undirected (id_a < id_b) edges of the
    * "within ε" relation — here cosine ≥ threshold from
    * [[lshNearDupPairs]] at recall-1 parameters, so the neighbor sets
    * are exact. A point is **core** when its ε-neighborhood (self
    * included, the classic definition) has ≥ `minPts` members; clusters
    * are the connected components of the core–core subgraph (labelled
    * min-core-id by [[Dedup.nearDupComponents]]); a non-core point with
    * ≥ 1 core neighbor is a **border** point assigned to the minimum
    * cluster id among its core neighbors (the deterministic resolution
    * of DBSCAN's order-dependent border tie); everything else — zero
    * vectors included, they have no defined cosine — is **noise**.
    *
    * Scale: the quadratic work lives in the banded pair generation,
    * which is the already-audited LSH path; everything here is sized by
    * the edge list (degrees, one components run on the core subgraph,
    * one join for borders), never by corpus². Output:
    * (id, role ∈ core|border|noise, cluster_id; −1 for noise). */
  def dbscan(df: DataFrame, idCol: String, pairs: DataFrame,
      minPts: Int): DataFrame = {
    // Both directions from one scan of the (expensive) pair plan, then
    // materialize: degrees, the core filter, and the border join all
    // re-read it.
    val edges = pairs
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .materialized

    val degrees = edges.groupBy(col("src").as("node")).count()
    val core = degrees.filter(col("count") + 1 >= minPts).select("node")

    // Cluster the core subgraph only. nearDupComponents stitches every
    // row of the df it is given, so restricting it to core ids makes an
    // isolated core (all its ε-neighbors are non-core) its own
    // single-point cluster — exactly DBSCAN's semantics for it.
    val coreEdges = edges
      .join(core.withColumnRenamed("node", "src"), Seq("src"))
      .join(core.withColumnRenamed("node", "dst"), Seq("dst"))
      .filter(col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"))
    val coreLabels = Dedup
      .nearDupComponents(core.withColumnRenamed("node", idCol), idCol, coreEdges)
      .select(col(idCol).as("node"), col("component_id").as("cluster_id"))

    // Border assignment: non-core endpoints of edges into the core set,
    // taking the min cluster id among their core neighbors.
    val borderLabels = edges
      .join(coreLabels.withColumnRenamed("node", "dst"), Seq("dst"))
      .join(core.withColumnRenamed("node", "src"), Seq("src"), "left_anti")
      .groupBy(col("src").as("node"))
      .agg(min("cluster_id").as("cluster_id"))

    val idT = df.schema(idCol).dataType
    df.select(col(idCol).as("id"))
      .join(coreLabels.select(col("node").as("id"),
        col("cluster_id").as("core_cid")), Seq("id"), "left")
      .join(borderLabels.select(col("node").as("id"),
        col("cluster_id").as("border_cid")), Seq("id"), "left")
      .select(col("id"),
        when(col("core_cid").isNotNull, lit("core"))
          .when(col("border_cid").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("core_cid"), col("border_cid"), lit(-1).cast(idT))
          .as("cluster_id"))
  }

  /** Score bare id pairs: two keyed joins fetch the vectors, one
    * codegen dot per pair — candidates travel as ids, vectors join in
    * only at scoring time (the repo-wide ANN discipline). When the
    * node table provably fits an executor (`broadcastNodes`), both
    * joins broadcast — zero shuffles on the scoring path; at corpus
    * scale they are plain keyed shuffle joins. */
  private def scorePairs(pairs: DataFrame, nodes: DataFrame,
      broadcastNodes: Boolean): DataFrame = {
    def side(n: DataFrame) = if (broadcastNodes) broadcast(n) else n
    pairs
      .join(side(nodes.select(col("id").as("a"), col("v").as("va"),
        col("norm").as("na"))), Seq("a"))
      .join(side(nodes.select(col("id").as("b"), col("v").as("vb"),
        col("norm").as("nb"))), Seq("b"))
      .select(col("a").as("query_id"), col("b").as("neighbor_id"),
        (dotProduct(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
  }

  /** Full k-NN GRAPH by NN-Descent (Dong, Moses & Li, WWW'11) — every
    * node's k best cosine neighbors, the artifact graph-based semantic
    * dedup and agglomerative clustering consume. The query-serving ANN
    * family (LSH/IVF/PQ) answers point lookups; this builds the whole
    * graph without the N² pass.
    *
    * The NN-Descent principle: a neighbor of a neighbor is likely a
    * neighbor. State is each node's current k-best list; every
    * iteration joins the (undirected) neighborhood with itself per
    * node — neighbor-of-neighbor candidate pairs — scores the
    * candidates, and folds them into the lists. With a connected
    * deterministic start the lists converge to the exact graph on
    * clustered data in a few rounds (registered parameters are
    * verified recall-1 against the exhaustive oracle, the LSH/IVF
    * precedent).
    *
    * Scale shape per iteration — exactly TWO keyed shuffles plus the
    * state materialization: (1) the undirected neighborhood of every
    * node, capped at its 2·searchK best (forward ∪ reverse in one
    * map-side-combining dedupe-aware aggregator — Dong et al.'s
    * reverse sampling, so hubs can't inflate any B set), lands as one
    * id ARRAY per node; (2) candidate pairs come from a map-side
    * double explode of those arrays (no self-join), are scored
    * against the node table (broadcast when provably small, keyed
    * joins at corpus scale — candidates travel as BARE id pairs), and
    * fold straight into the per-query top-list aggregator, whose
    * distinct buffer absorbs duplicate pairs map-side. No cartesian
    * anywhere; every shuffle is keyed and bounded by N·searchK². Init
    * is a deterministic TWO-RING start via the bucketed
    * [[Scale.globalRank]] (no single-partition sort): an LSH-bucket-
    * ordered ring (locality, so descent refines instead of searching)
    * union a sha-ordered blind ring (global mixing) — seedless,
    * reproducible, connected.
    *
    * `searchK` is the INTERNAL list width (Dong et al.'s K, emitted
    * lists cut to `k` at the end): descent mixing is driven by
    * neighborhood size, and small-k lists (the classic small-K
    * failure mode) stall in sparse sub-digraphs — per-node candidate
    * coverage per round is ≈ (2·searchK)², so searchK is the knob
    * that makes a cluster's pair space blanket-covered in O(1)
    * rounds while the emitted graph stays k-wide.
    *
    * Convergence: after each round the EMITTED k-wide graph's
    * order-independent fingerprint ((count, xor of row hashes) — one
    * map-side aggregation over the already-materialized state, no
    * join) is compared to the previous round's; an unchanged
    * fingerprint means a full round of neighbor-of-neighbor mixing
    * moved nothing in the output — Dong et al.'s update-count stopping
    * criterion at δ = 0 on the emitted width — and the loop STOPS
    * EARLY there (remaining rounds are free). The fingerprint
    * deliberately covers rank ≤ k, NOT the internal searchK tails:
    * tail entries keep churning rounds after the emitted lists are
    * exact (measured on the registered corpora), and since per-query
    * lists only improve (the fold keeps the best-k distinct), a
    * stagnant emitted round is the standard stop signal — the +1-round
    * registration margin covers the theoretical stall-then-improve
    * case. With `requireConverged = true` (the registered-query
    * setting) a loop that exhausts `iterations` with the output STILL
    * MOVING fails loudly, kCore-style, instead of returning a
    * silently-unfinished graph. The fingerprint is w.h.p. exact (a
    * missed change needs an xxhash64 xor collision).
    *
    * Zero-norm vectors are excluded as both queries and neighbors
    * (undefined cosine — the family contract). Ids must be
    * long-castable. Output: (query_id, neighbor_id, rank, cos), ranks
    * 1..k by (cos desc, neighbor_id asc). */
  def knnGraph(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iterations: Int, searchK: Int = 0,
      requireConverged: Boolean = false): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(iterations >= 0, s"need iterations >= 0, got $iterations")
    val kk = if (searchK <= 0) k else searchK
    require(kk >= k, s"searchK $kk must be >= k $k")
    val nodes = df
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .filter(col("id").isNotNull)
      .withColumn("norm", l2Norm(col("v")))
      .filter(col("norm") > 0)
      .materialized
    val nTotal = nodes.count()
    if (nTotal == 0) {
      val empty = nodes.select(
        col("id").as("query_id"), col("id").as("neighbor_id"),
        lit(0).as("rank"), lit(0.0).as("cos")).limit(0)
      return df.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), empty.schema)
    }
    // deterministic two-ring init: an LSH-localized ring (ring order =
    // (8-bit sign-LSH bucket, hashed within-bucket) — walks similarity
    // buckets arc by arc, so initial lists start locality-biased and
    // descent refines instead of searches: LSH-seeded NN-Descent) UNION
    // a blind sha-ordered ring (global mixing — pure LSH-local starts
    // can trap whole buckets in local optima, pure random starts cost
    // extra rounds to FIND locality; the union buys both). Both rings
    // are seedless and engine-independent (exact-integer combined key
    // bucket·2^20 + sha52 mod 2^20; ties break on id in globalRank)
    val dim = inferDim(nodes, "v")
    val initBucket = graft.expressions.LshExpressions.hyperplaneBuckets(
      col("v"), hyperplanes(8, dim), 1, 8)(0)
    def ringPairs(orderCol: DataFrame => DataFrame): DataFrame = {
      val ringRank = Scale.globalRank(orderCol(nodes), "h", "id")
        .select(col("id"), col("rank"))
      ringRank
        .select(col("id").as("a"),
          explode(array((1 to kk).map(lit): _*)).as("o"), col("rank"))
        .select(col("a"),
          (((col("rank") - 1 + col("o")) % nTotal) + 1).as("rank"))
        .join(ringRank.select(col("id").as("b"), col("rank")), Seq("rank"))
        .select(col("a"), col("b"))
    }
    val initPairs = ringPairs(_.select(col("id"),
        (initBucket.cast("double") * lit(1048576.0) +
          (graft.functions.Kmv.sha52(col("id").cast("string")) % 1048576L)
            .cast("double")).as("h")))
      .unionByName(ringPairs(_.select(col("id"),
        graft.functions.Kmv.sha52(col("id").cast("string"))
          .cast("double").as("h"))))
    val bothDirs = initPairs
      .unionByName(initPairs.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
    // node tables provably executor-sized broadcast on the scoring path
    val bcastNodes = nTotal <= 100000
    val spark2 = df.sparkSession
    import spark2.implicits._
    // the fold epilogue: exact per-query top-kk over DISTINCT neighbor
    // ids — the dedupe-aware aggregator absorbs duplicate candidate
    // pairs (one copy per witnessing node) map-side, so no distinct or
    // group-by shuffle ever precedes the rank
    def rankDistinct(scored: DataFrame): DataFrame =
      graft.functions.TopKAggregator.topKDistinctPerGroup(
          scored.select(col("query_id").cast("long"),
            col("cos").cast("double"), col("neighbor_id").cast("long"))
            .as[(Long, Double, Long)], kk)
        .select(col("key").as("query_id"), col("id").as("neighbor_id"),
          col("rank"), col("score").as("cos"))
    var graph = rankDistinct(scorePairs(bothDirs, nodes, bcastNodes))
      .materialized
    // order-independent EMITTED-graph fingerprint (rank ≤ k — the
    // output, not the churning searchK tails): one scan of the
    // materialized frame (map-side xor/count aggregation, zero shuffle
    // beyond the 32-partial reduce); cos is a pure function of the
    // (query, neighbor) pair, so (ids, rank) pins the structure
    def fingerprint(g: DataFrame): (Long, Long) = {
      val r = g.filter(col("rank") <= k).agg(
        count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(query_id, neighbor_id, rank))"),
          lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var prevFp = fingerprint(graph)
    var converged = false
    var round = 0
    // each iteration = exactly TWO keyed shuffles (B-list aggregation,
    // fold/rank aggregation) + the state materialization; candidates
    // and scoring stay map-side
    while (round < iterations && !converged) {
      // undirected neighborhood, capped at the 2·searchK best per node
      // (forward + reverse in ONE map-side-combining aggregator pass —
      // hubs can't inflate any B set), as one id ARRAY per node
      val undirected = graph
        .select(col("query_id").cast("long").as("u"),
          col("cos").cast("double"), col("neighbor_id").cast("long").as("x"))
        .unionByName(graph.select(col("neighbor_id").cast("long").as("u"),
          col("cos").cast("double"), col("query_id").cast("long").as("x")))
      val bLists = graft.functions.TopKAggregator
        .topKDistinctArrays(undirected.as[(Long, Double, Long)], 2 * kk)
        .select(transform(col("topk"), e => e("_2")).as("arr"))
      // neighbor-of-neighbor candidates: a map-side double explode of
      // each B array — no self-join, no shuffle; duplicate pairs ride
      // into the fold where the distinct buffer absorbs them
      val cands = bLists
        .select(explode(col("arr")).as("a"), col("arr"))
        .select(col("a"), explode(col("arr")).as("b"))
        .filter(col("a") =!= col("b"))
      val folded = graph
        .select(col("query_id"), col("neighbor_id"), col("cos"))
        .unionByName(scorePairs(cands, nodes, bcastNodes))
      graph = rankDistinct(folded).materialized
      val fp = fingerprint(graph)
      if (fp == prevFp) converged = true else prevFp = fp
      round += 1
    }
    require(!requireConverged || converged || iterations == 0,
      s"knnGraph's emitted top-$k lists were still moving after " +
        s"$iterations rounds — raise `iterations` or `searchK` (the " +
        "output would be a silently-unfinished descent state)")
    graph.filter(col("rank") <= k)
  }

  /** Binary-quantization serving funnel — the modern vector-DB serving
    * shape (1-bit sign quantization, Hamming shortlist, exact rerank):
    * every vector is packed to `numBits` sign bits under the shared
    * deterministic hyperplanes ([[hyperplanes]]), stage 1 ranks the
    * corpus per query by Hamming distance over the packed words
    * (XOR + popcount — codegen'd integer ops, ~numBits/64 instructions
    * per pair instead of a `dim`-length float dot), stage 2 re-scores
    * only the top-`rerank` shortlist with exact cosine and cuts to k.
    *
    * Scale shape: the corpus is STREAMED twice and shuffled never —
    * stage 1 broadcasts the (small) query signatures and keeps ≤
    * `rerank` rows per query per partition via the TopKAggregator
    * epilogue; stage 2 broadcasts the (queries × rerank)-sized
    * shortlist back against the corpus for the exact rescore. Memory
    * per corpus row in stage 1 is `numBits/8` bytes of signature, not
    * the vector. Recall is fixture-tuned like the rest of the ANN
    * family: `rerank` must cover the true top-k's Hamming spread
    * (binary resolution on near-orthogonal corpora needs a deep
    * shortlist — tune against the exhaustive oracle, then keep a
    * margin). Ties break on (distance, id) in stage 1 and
    * (cos desc, id) in stage 2 — deterministic end to end. */
  def binaryQuantTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, rerank: Int, numBits: Int = 64,
      dim: Int = 64, seed: Long = 42L): DataFrame = {
    require(k >= 1 && rerank >= k,
      s"need rerank >= k >= 1, got k=$k rerank=$rerank")
    require(numBits > 0 && numBits % 32 == 0 && numBits <= 512,
      s"numBits must be a positive multiple of 32 <= 512, got $numBits")
    val tables = numBits / 32
    val planes = hyperplanes(numBits, dim, seed)
    val c = corpusSide(corpus, idCol, vecCol)
    val q = querySide(queries, idCol, vecCol)
    val cSig = c.select(col("neighbor_id"),
      graft.expressions.LshExpressions
        .hyperplaneBuckets(col("cv"), planes, tables, 32).as("csig"))
    val qSig = q.select(col("query_id"),
      graft.expressions.LshExpressions
        .hyperplaneBuckets(col("qv"), planes, tables, 32).as("qsig"))
    // bit_count promotes int -> long with SIGN EXTENSION, so a word
    // whose xor has the top bit set would count 32 phantom ones — mask
    // to the unsigned 32-bit value first (measured, not assumed: the
    // unmasked form scrambled the shortlist enough to drop a
    // hamming-rank-25 true neighbor out of a 512-deep funnel)
    val ham = (0 until tables).map(i =>
        bit_count(element_at(col("csig"), i + 1)
          .bitwiseXOR(element_at(col("qsig"), i + 1))
          .cast("long").bitwiseAND(lit(0xFFFFFFFFL))))
      .reduce(_ + _)
    val shortlist = rankTopK(
        cSig.crossJoin(broadcast(qSig))
          .filter(col("query_id") =!= col("neighbor_id"))
          .select(col("query_id"), col("neighbor_id"),
            (-ham.cast("double")).as("cos")), // fewest differing bits
        rerank)
      .select(col("query_id"), col("neighbor_id"))
    val rescored = c.join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotProduct(col("cv"), col("qv")) / (col("cnorm") * col("qnorm")))
          .as("cos"))
    rankTopK(rescored, k)
  }

  /** k-center greedy coreset (Gonzalez 1985 2-approximation; the
    * diversity-sampling seed selection of Sener & Savarese 2018): pick
    * `k` maximally-spread representatives in cosine space — seed = the
    * smallest nonzero-vector id, then repeatedly the point LEAST
    * similar to its nearest chosen center (ties → smallest id). The
    * dual of dedup in a curation stack: dedup removes redundancy,
    * this SELECTS for coverage — eval-set seeding, annotation-budget
    * triage, and diversity-constrained subsampling under a token
    * budget all start from exactly this selection.
    *
    * Scale shape: `k` driver-paced rounds. Each round the new center
    * (ONE row) is collected and re-enters as a literal vector, the
    * per-point running best-similarity updates scan-locally
    * (`greatest(best, cos(v, center))` — no join, no shuffle), and the
    * round's argmin is a map-side-combining `min_by` — one row per
    * partition into a 1-row exchange. Vectors never shuffle; the
    * corpus-sized state (id, v, best) re-materializes once per round
    * (the NN-Descent "state re-reads locally" bill). Driver memory is
    * k vectors. Centers stay IN the state (their best pins at ~1.0 so
    * they are never re-picked while k ≪ n) — exclusion would change
    * the argmin rule and the oracle mirrors this exactly.
    *
    * Output: (rank 1-based BIGINT, center_id, sim_at_selection) —
    * `sim_at_selection` is the selected point's best-center cosine at
    * pick time (non-decreasing over rounds; the coverage-radius curve
    * a budget decision reads). Seed row carries 1.0 by definition. */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 1024,
      s"k-center greedy is k driver-paced rounds; need 1 <= k <= 1024, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .filter(dotProduct(col("v"), col("v")) > 0)
    // k > n would re-pick already-covered centers (their best pins at
    // ~1.0) and silently emit duplicate center_ids — fail loudly; one
    // count is in-family for a k-round driver-paced loop
    val nPoints = base.count()
    require(k <= nPoints,
      s"kCenterGreedy: k=$k exceeds the $nPoints nonzero vectors — " +
        "duplicate centers would be selected")
    val seed = base
      .agg(min_by(struct(col("id"), col("v")), col("id")).as("s"))
      .select("s.*").collect()
    require(seed.nonEmpty && !seed(0).isNullAt(0),
      "kCenterGreedy: no nonzero vectors to select from")
    def vecLit(a: Seq[Double]): Column = array(a.map(lit): _*)
    var centers = Vector[(Long, Double)](
      (seed(0).getLong(0), 1.0))
    var state = base
      .withColumn("best",
        cosine(col("v"), vecLit(seed(0).getSeq[Double](1))))
      .materialized
    var r = 2
    while (r <= k) {
      val pick = state
        .agg(min_by(struct(col("id"), col("v"), col("best")),
          struct(col("best"), col("id"))).as("s"))
        .select("s.*").collect()(0)
      centers :+= ((pick.getLong(0), pick.getDouble(2)))
      if (r < k) {
        state = state
          .withColumn("best", greatest(col("best"),
            cosine(col("v"), vecLit(pick.getSeq[Double](1)))))
          .materialized
      }
      r += 1
    }
    centers.zipWithIndex
      .map { case ((id, sim), i) => (i + 1L, id, sim) }
      .toDF("rank", "center_id", "sim_at_selection")
  }
}
