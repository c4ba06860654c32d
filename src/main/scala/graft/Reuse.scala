package graft

import org.apache.spark.sql.DataFrame

/** The engine's shared materialization / lineage-cut primitive.
  *
  * Several pipelines derive one frame that multiple consumers read
  * (the near-dup pair graph, the LM model frames, iterative component
  * /rank state). Deriving it once and materializing is the right
  * design at any scale; HOW it is materialized is a durability /
  * locality trade the deployment should pick, not the operator:
  *
  *  - `local` (default) — `localCheckpoint()`: blocks pinned to
  *    executors, fastest, but lost on executor failure and sized to
  *    executor local disks. Right for single-JVM and short-lived work.
  *  - `reliable` — eager `checkpoint()` to the reliable checkpoint
  *    dir (`spark.graft.reuse.checkpointDir`, default
  *    `<java.io.tmpdir>/graft-checkpoints`): survives executor loss,
  *    re-readable by any executor; the mode a 1000-executor run wants
  *    for corpus-derived artifacts. Costs a write to shared storage.
  *
  * Both modes cut the logical lineage (the result is a `LogicalRDD`
  * leaf), so iterative loops never grow their plans. Superseded
  * rounds need no release: once unreferenced, their blocks are
  * reclaimed by the ContextCleaner.
  *
  * Mode is read per call from the session conf
  * (`spark.graft.reuse.mode`), falling back to the
  * `SPARK_GRAFT_REUSE_MODE` env var (so Verify/Bench runs can select a
  * mode without code changes), then to `local`. Any other value fails
  * loudly.
  */
object Reuse {
  val ModeKey = "spark.graft.reuse.mode"
  val DirKey = "spark.graft.reuse.checkpointDir"

  def mode(df: DataFrame): String =
    df.sparkSession.conf.getOption(ModeKey)
      .orElse(sys.env.get("SPARK_GRAFT_REUSE_MODE"))
      .getOrElse("local")

  /** Materialize `df` eagerly (both modes: consumers NEVER re-derive)
    * and return the reusable frame. */
  def materialize(df: DataFrame): DataFrame = mode(df) match {
    case "local" => df.localCheckpoint()
    case "reliable" =>
      val sc = df.sparkSession.sparkContext
      df.sparkSession.conf.getOption(DirKey) match {
        // honor an explicitly configured dir: setCheckpointDir stores
        // the QUALIFIED <dir>/<uuid>, so "already pointing there" is a
        // prefix check against the qualified dir plus a separator (a
        // sibling like <dir>2 must not match)
        case Some(dir) if !sc.getCheckpointDir.exists(
            _.startsWith(qualified(df, dir) + "/")) =>
          sc.setCheckpointDir(dir)
        case None if sc.getCheckpointDir.isEmpty =>
          sc.setCheckpointDir(s"${sys.props("java.io.tmpdir")}/graft-checkpoints")
        case _ => ()
      }
      df.checkpoint() // eager by default, like localCheckpoint
    case other => throw new IllegalArgumentException(
      s"$ModeKey=$other (expected local | reliable)")
  }

  /** `dir` qualified the way `SparkContext.setCheckpointDir` stores it
    * (scheme + absolute path, no trailing slash). */
  private def qualified(df: DataFrame, dir: String): String = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.makeQualified(path).toString.stripSuffix("/")
  }

  /** `df.materialized` sugar so call sites stay chain-shaped. */
  implicit class ReuseOps(private val df: DataFrame) extends AnyVal {
    def materialized: DataFrame = Reuse.materialize(df)
  }
}
