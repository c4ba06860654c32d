package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Reuse.ReuseOps

/** Write-once session registry for artifacts that several queries
  * share.
  *
  * THE RULE: an entry must have at least two consuming queries, and
  * its key must encode every parameter of the derivation. A frame only
  * one query reads is derived live (`.materialized` where that query
  * reads it more than once) — serving a query its own cached result is
  * not a speed-up, it only hides the derivation from a warm pass.
  *
  * The components family — cluster labels, star contraction,
  * keep-best-per-cluster, leakage-safe split, drop-near-dups — all
  * consume the SAME pair graph (the round-4 bench showed each of the
  * five registered queries re-deriving it from the raw corpus: five
  * full LSH/minhash derivations per suite, which at 100 TB is five full
  * corpus passes instead of one plus four cheap reads).
  *
  * `of` memoizes the derived pair list per (session, key) and
  * materializes it eagerly via [[graft.Reuse]] (mode-selectable:
  * executor-local or reliable checkpoint — see that scaladoc for the
  * durability trade), so:
  *  - the derivation executes exactly once per session per corpus;
  *  - every consumer's plan starts from the materialized edge list
  *    (bare id pairs — tiny next to the corpus), not from the
  *    shingle/signature pipeline;
  *  - downstream lineage stays short, which is what the iterative
  *    components operators want anyway.
  *
  * On a real cluster the equivalent artifact is the pair list written
  * to a table once per ingest batch ("derive once, join many"); the
  * session-scoped checkpoint is the single-JVM expression of that
  * contract — `reliable` mode is the long-lived-cluster form, where
  * the edge list must survive executor loss. Keys are caller-chosen;
  * [[graft.SparkEntry]] uses `"<kind>:<params>:<dir>"`, so a forgotten
  * parameter (corpus dir, n, threshold, banding, …) would serve a stale
  * artifact without any error.
  */
object PairGraph {
  private val cache = new ConcurrentHashMap[String, DataFrame]()
  private val deriveLock = new Object

  /** Return the memoized pair graph for `key`, deriving and
    * materializing it on first use. Keyed by session identity too, so a
    * frame checkpointed in a dead session is never served to a new one.
    *
    * REENTRANT: a derivation may itself call `of` for a different key
    * (the rank registry derives its rank frames FROM the registry's
    * edge frames), which `ConcurrentHashMap.computeIfAbsent` forbids
    * ("Recursive update" whenever the nested insert lands in the bin
    * the outer compute holds). Derivations therefore run under one
    * JVM-wide reentrant monitor with a double-checked cache read: hits
    * stay lock-free, misses serialize (a derivation is a Spark job —
    * serializing driver-side closure setup costs nothing next to it),
    * and nested calls re-enter the monitor on the same thread. */
  def of(spark: SparkSession, key: String)(derive: => DataFrame): DataFrame = {
    val k = s"${System.identityHashCode(spark)}:$key"
    val hit = cache.get(k)
    if (hit != null) hit
    else deriveLock.synchronized {
      val again = cache.get(k)
      if (again != null) again
      else {
        val v = derive.materialized
        cache.put(k, v)
        v
      }
    }
  }

  /** Forget everything (between probe corpora, or Bench's
    * registry-cold pass). Checkpoint blocks have no eager teardown API
    * at the DataFrame level — dropping the map's strong reference makes
    * them ContextCleaner-reclaimable (weak-ref GC), which is the same
    * lifecycle every superseded checkpoint in the engine has. */
  def clear(): Unit = cache.clear()

  /** Number of materialized graphs (observability for specs/bench). */
  def size: Int = cache.size()
}
