package graft

import graft.sinks.JdbcUpsert
import graft.sinks.JdbcUpsert.ConnConfig

/** W1–W8 (JDBC DDL + upsert sinks) against a REAL database — as far as
  * the environment allows, mirroring KafkaIntegrationSpec's posture:
  *
  *  - `GRAFT_DATABASE_URL` set AND a JDBC driver on the classpath
  *    (any deployment with a Postgres): the reference DDL runs, a
  *    frame upserts twice (the second pass overwrites via ON
  *    CONFLICT), and the read-back must show exactly the latest
  *    values — the end-to-end smoke the FakeJdbc harness cannot give.
  *  - env ABSENT (this offline sandbox): the failure mode is pinned —
  *    a loud driver/connection error, never a silent no-op — and the
  *    gap is documented here instead of hidden. The full writer body
  *    (batch flush, rollback/reconnect, retry exhaustion, idempotent
  *    replay) is executed by JdbcUpsertExecSpec against the recording
  *    FakeJdbc driver either way.
  *
  * Deployment: `GRAFT_DATABASE_URL=jdbc:postgresql://host/db`
  * `GRAFT_DATABASE_USER`/`GRAFT_DATABASE_PASSWORD` as needed, with
  * `postgresql.jar` on the test classpath.
  *
  * One-command CI recipe for any environment with Docker (closes the
  * "never hit a real Postgres" gap the moment it runs):
  * {{{
  * docker run -d --name graft-pg -e POSTGRES_PASSWORD=graft \
  *   -e POSTGRES_DB=graft -p 5432:5432 postgres:16
  * curl -fLo lib/postgresql.jar https://jdbc.postgresql.org/download/postgresql-42.7.4.jar
  * GRAFT_DATABASE_URL=jdbc:postgresql://localhost:5432/graft \
  *   GRAFT_DATABASE_USER=postgres GRAFT_DATABASE_PASSWORD=graft \
  *   sbt "testOnly graft.DbIntegrationSpec"
  * docker rm -f graft-pg
  * }}}
  * (`lib/` is sbt's default unmanaged classpath, so the driver jar is
  * picked up without a build change; this sandbox has neither Docker
  * nor network egress, hence the guard below.) */
class DbIntegrationSpec extends SparkSpec {

  private def driverPresent: Boolean =
    try { Class.forName("org.postgresql.Driver"); true }
    catch { case _: ClassNotFoundException => false }

  private val dbUrl = sys.env.get("GRAFT_DATABASE_URL")

  private def cfg = ConnConfig(
    url = dbUrl.getOrElse("jdbc:postgresql://localhost:5432/none"),
    user = sys.env.getOrElse("GRAFT_DATABASE_USER", "postgres"),
    password = sys.env.getOrElse("GRAFT_DATABASE_PASSWORD", ""))

  test("real-DB smoke: DDL + double upsert reads back the latest values (env-guarded)") {
    if (dbUrl.isEmpty || !driverPresent) {
      // the documented gap: no DB/driver in this environment. Pin that
      // the failure is LOUD (driver resolution or connection refusal),
      // not a silent success
      val e = intercept[Exception](JdbcUpsert.runDdl(cfg))
      assert(e.isInstanceOf[ClassNotFoundException] ||
        e.isInstanceOf[java.sql.SQLException],
        s"expected a loud driver/connection failure, got $e")
      info("GRAFT_DATABASE_URL unset or no JDBC driver on classpath — " +
        "real-DB smoke pending a database; FakeJdbc specs cover the " +
        "writer body. This arm pins the loud failure mode.")
    } else {
      import spark.implicits._
      JdbcUpsert.runDdl(cfg)
      val t = "sales_per_day"
      def frame(v: Double) =
        Seq((java.sql.Date.valueOf("2026-08-16"), v))
          .toDF("transaction_date", "total_sales")
      JdbcUpsert.upsert(frame(10.0), t, Seq("transaction_date"), cfg)
      JdbcUpsert.upsert(frame(25.5), t, Seq("transaction_date"), cfg)
      val conn = java.sql.DriverManager.getConnection(cfg.url, cfg.user,
        cfg.password)
      try {
        val rs = conn.createStatement().executeQuery(
          s"SELECT total_sales FROM $t WHERE transaction_date = DATE '2026-08-16'")
        assert(rs.next())
        assert(rs.getDouble(1) === 25.5) // the second upsert won
        assert(!rs.next())
      } finally conn.close()
    }
  }
}
