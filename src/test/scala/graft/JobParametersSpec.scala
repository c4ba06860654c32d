package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{EcommerceStreamJob, JobParameters => JP}

/** C1 parity: args/properties → JobConfig resolution mirroring
  * `DataStreamJob.loadParameter` + `ParameterToolUtils`, with the
  * reference's keys and defaults (`DataStreamJob.java:70-78`). */
class JobParametersSpec extends AnyFunSuite {

  test("fromArgs parses --key value and -key value pairs") {
    val m = JP.fromArgs(Seq("--databaseUrl", "jdbc:postgresql://h/db",
      "-databaseUser", "u"))
    assert(m === Map("databaseUrl" -> "jdbc:postgresql://h/db",
      "databaseUser" -> "u"))
  }

  test("fromArgs: repeated keys last-wins, valueless flags map to empty") {
    val m = JP.fromArgs(Seq("--topic", "a", "--topic", "b", "--verbose",
      "--groupId", "g"))
    assert(m("topic") === "b")
    assert(m("verbose") === "")
    assert(m("groupId") === "g")
  }

  test("fromArgs rejects a bare value with no key") {
    intercept[IllegalArgumentException] { JP.fromArgs(Seq("oops")) }
  }

  test("fromArgs: negative numbers are values, not keys (ParameterTool parity)") {
    val m = JP.fromArgs(Seq("--triggerMs", "-5", "--threshold", "-0.25",
      "--scale", "-1e3", "--flag"))
    assert(m === Map("triggerMs" -> "-5", "threshold" -> "-0.25",
      "scale" -> "-1e3", "flag" -> ""))
    // a negative number with no preceding key is still an error
    intercept[IllegalArgumentException] { JP.fromArgs(Seq("-5")) }
    // and a non-numeric dash token after a key stays a new key
    assert(JP.fromArgs(Seq("--a", "-b", "c")) === Map("a" -> "", "b" -> "c"))
    // Java type qualifiers and hex, accepted by NumberUtils.isNumber
    assert(JP.fromArgs(Seq("--x", "-5L", "--y", "-1.5f", "--z", "-0x1A"))
      === Map("x" -> "-5L", "y" -> "-1.5f", "z" -> "-0x1A"))
  }

  test("defaults match the reference when only checkpointRoot is given") {
    val cfg = JP.load(Seq("--checkpointRoot", "/ckpt"))
    assert(cfg.checkpointRoot === "/ckpt")
    assert(cfg.kafkaServers === "broker:29092")           // DataStreamJob.java:90
    assert(cfg.db.url === "jdbc:postgresql://postgres:5432/postgres") // :70
    assert(cfg.db.user === "postgres")                    // :71 (unswapped)
    assert(cfg.db.password === "postgres")                // :72
    assert(cfg.topic === "financial_transactions")
    // JobConfig is the one home of these defaults
    val plain = EcommerceStreamJob.JobConfig(checkpointRoot = "/c")
    assert(plain.db.url === cfg.db.url)
    assert(plain.kafkaServers === cfg.kafkaServers)
  }

  test("checkpointRoot is required — no silent non-durable default") {
    intercept[IllegalArgumentException] { JP.load(Seq("--topic", "t")) }
  }

  test("properties file is the fallback; CLI args win per key") {
    val f = Files.createTempFile("graft-params", ".properties")
    Files.writeString(f,
      "checkpointRoot=/from/file\ndatabaseUser=fileuser\ntriggerMs=999\n")
    val cfg = JP.load(Seq("--databaseUser", "cliuser"), Some(f.toString))
    assert(cfg.checkpointRoot === "/from/file") // only in file
    assert(cfg.db.user === "cliuser")           // CLI overrides file
    assert(cfg.triggerMs === 999L)              // typed binding from file
  }

  test("kafka source option wiring (contract test, no broker needed)") {
    val cfg = EcommerceStreamJob.JobConfig(checkpointRoot = "/ckpt",
      kafkaServers = "k1:9092,k2:9092", topic = "tx",
      startingOffsets = "earliest")
    val opts = EcommerceStreamJob.kafkaSourceOptions(cfg)
    assert(opts === Map(
      "kafka.bootstrap.servers" -> "k1:9092,k2:9092",
      "subscribe" -> "tx",
      "startingOffsets" -> "earliest"))
    // group id only when explicitly set: the four concurrent queries
    // must not share one consumer group (see JobConfig scaladoc)
    val withGroup = EcommerceStreamJob.kafkaSourceOptions(cfg.copy(groupId = "g1"))
    assert(withGroup("kafka.group.id") === "g1")
  }

  test("config loading composes with the reference defaults end to end") {
    // a managed-style properties bag, overridden ad hoc like the
    // reference's local fromArgs path
    val f = Files.createTempFile("graft-params2", ".properties")
    Files.writeString(f,
      "checkpointRoot=/durable/ckpt\nkafkaServers=prod:9092\n")
    val cfg = JP.load(Seq("--startingOffsets", "earliest"), Some(f.toString))
    val opts = EcommerceStreamJob.kafkaSourceOptions(cfg)
    assert(opts("kafka.bootstrap.servers") === "prod:9092")
    assert(opts("startingOffsets") === "earliest")
    assert(opts("subscribe") === "financial_transactions")
  }
}
