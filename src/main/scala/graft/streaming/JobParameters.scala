package graft.streaming

import java.io.FileInputStream
import java.util.Properties

import scala.jdk.CollectionConverters._

/** C1: args/properties → [[EcommerceStreamJob.JobConfig]], mirroring the
  * reference's parameter resolution (`DataStreamJob.java:339-355` +
  * `ParameterToolUtils.java:10-14`): a local run parses CLI args
  * (`ParameterTool.fromArgs` semantics), a managed run reads a
  * properties bag; keys are the reference's (`DataStreamJob.java:75-78`),
  * and every default comes from [[EcommerceStreamJob.JobConfig]].
  *
  * One deliberate difference, documented rather than reproduced: the
  * reference swaps the user/password KEYS when building its JDBC options
  * (`withPassword(get(DATABASE_USER_KEY))`, `DataStreamJob.java:108-109`)
  * — latent bug masked by both defaulting to "postgres". We bind
  * `databaseUser` → user and `databasePassword` → password.
  */
object JobParameters {

  // reference keys (DataStreamJob.java:75-78)
  val KafkaServersKey = "kafkaServers"
  val DatabaseUrlKey = "databaseUrl"
  val DatabaseUserKey = "databaseUser"
  val DatabasePasswordKey = "databasePassword"
  // engine-specific: required, no safe default (see JobConfig scaladoc)
  val CheckpointRootKey = "checkpointRoot"
  // optional overrides of JobConfig defaults
  val TopicKey = "topic"
  val GroupIdKey = "groupId"
  val StartingOffsetsKey = "startingOffsets"
  val TriggerMsKey = "triggerMs"

  /** `ParameterTool.fromArgs`-style CLI parsing: `--key value` or
    * `-key value` pairs; a key followed by another `-`/`--` token (or
    * nothing) is a valueless flag mapped to ""; repeated keys — last one
    * wins; a bare value with no preceding key is an error.
    *
    * A `-`-prefixed token that is a NUMBER (`-5`, `-0.25`, `-1e3`,
    * `-5L`, `-1.5f`, `-0x1A`) is a value, not a key — Flink's
    * `ParameterTool` special-cases negative numbers the same way
    * (`NumberUtils.isNumber` probe, which also accepts Java type
    * qualifiers and hex), so `--triggerMs -5` binds -5 rather than
    * parsing as two flags. */
  private val NegativeNumber =
    "-(0[xX][0-9a-fA-F]+|(\\.\\d+|\\d+(\\.\\d*)?)([eE][+-]?\\d+)?[lLfFdD]?)".r

  private def isNegativeNumber(s: String): Boolean =
    NegativeNumber.pattern.matcher(s).matches()

  def fromArgs(args: Seq[String]): Map[String, String] = {
    var m = Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      val key =
        if (a.startsWith("--")) a.drop(2)
        else if (a.startsWith("-") && !isNegativeNumber(a)) a.drop(1)
        else throw new IllegalArgumentException(
          s"Error parsing arguments: '$a' is not a --key (expected a key at position $i)")
      require(key.nonEmpty, s"empty argument key at position $i")
      if (i + 1 < args.length &&
          (!args(i + 1).startsWith("-") || isNegativeNumber(args(i + 1)))) {
        m += key -> args(i + 1); i += 2
      } else {
        m += key -> ""; i += 1 // valueless flag
      }
    }
    m
  }

  /** Properties-file bag — the managed-runtime path
    * (`ParameterToolUtils.fromApplicationProperties`). */
  def fromPropertiesFile(path: String): Map[String, String] = {
    val props = new Properties()
    val in = new FileInputStream(path)
    try props.load(in) finally in.close()
    props.asScala.toMap
  }

  /** CLI args first, falling back per-key to the properties file (when
    * given) — the Spark-shaped equivalent of the reference's
    * local-vs-managed branch, collapsed into one precedence order so a
    * job can carry env defaults in a file and override ad hoc. */
  def resolve(args: Seq[String], propertiesFile: Option[String] = None): Map[String, String] = {
    val base = propertiesFile.map(fromPropertiesFile).getOrElse(Map.empty)
    base ++ fromArgs(args)
  }

  /** Bind a resolved parameter map to the typed JobConfig. Unknown keys
    * are ignored (forward compatibility, matching ParameterTool's
    * get-by-key access pattern); `checkpointRoot` is required. */
  def toJobConfig(params: Map[String, String]): EcommerceStreamJob.JobConfig = {
    val checkpointRoot = params.getOrElse(CheckpointRootKey,
      throw new IllegalArgumentException(
        s"missing required parameter --$CheckpointRootKey (running totals " +
          "live in checkpointed state; a non-durable default would reset them)"))
    val defaults = EcommerceStreamJob.JobConfig(checkpointRoot = checkpointRoot)
    defaults.copy(
      kafkaServers = params.getOrElse(KafkaServersKey, defaults.kafkaServers),
      topic = params.getOrElse(TopicKey, defaults.topic),
      groupId = params.getOrElse(GroupIdKey, defaults.groupId),
      startingOffsets = params.getOrElse(StartingOffsetsKey, defaults.startingOffsets),
      triggerMs = params.get(TriggerMsKey).map(_.toLong).getOrElse(defaults.triggerMs),
      db = defaults.db.copy(
        url = params.getOrElse(DatabaseUrlKey, defaults.db.url),
        user = params.getOrElse(DatabaseUserKey, defaults.db.user),
        password = params.getOrElse(DatabasePasswordKey, defaults.db.password)))
  }

  /** One-call config loading: args + optional properties file → config. */
  def load(args: Seq[String], propertiesFile: Option[String] = None): EcommerceStreamJob.JobConfig =
    toJobConfig(resolve(args, propertiesFile))
}
