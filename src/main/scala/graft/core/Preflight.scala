package graft.core

import java.sql.Connection

import graft.core.Identifiers.quoteLiteral

/** Preflight checks (R4) — reference `src/preflight.rs:163-180` and the
  * privilege probes in `src/postgres/privileges.rs:63-167`: validate the
  * job can actually run BEFORE moving data — connectivity, server
  * version, per-table SELECT privilege on the source, CREATEDB on the
  * target, replication capability — and report every failure at once
  * instead of dying mid-copy.
  */
object Preflight {

  final case class CheckResult(name: String, ok: Boolean, detail: String)

  val connectivitySql = "SELECT 1"
  val versionSql = "SELECT current_setting('server_version')"
  val walLevelSql = "SELECT current_setting('wal_level')"
  val replicationPrivSql =
    "SELECT rolreplication FROM pg_roles WHERE rolname = current_user"
  val createDbPrivSql =
    "SELECT rolcreatedb OR rolsuper FROM pg_roles WHERE rolname = current_user"

  def tableSelectPrivSql(schema: String, table: String): String =
    s"SELECT has_table_privilege(current_user, " +
      s"${quoteLiteral(schema + "." + table)}, 'SELECT')"

  private def queryOne(conn: Connection, sql: String): Option[String] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(sql)
      if (rs.next()) Option(rs.getString(1)) else None
    } finally st.close()
  }

  private def boolCheck(conn: Connection, name: String, sql: String,
                        failDetail: String): CheckResult =
    try {
      val v = queryOne(conn, sql)
      val ok = v.exists(s => s == "t" || s.equalsIgnoreCase("true") || s == "1")
      CheckResult(name, ok, if (ok) "ok" else failDetail)
    } catch {
      case e: Exception => CheckResult(name, ok = false, e.getMessage)
    }

  def checkConnectivity(conn: Connection): CheckResult =
    try {
      queryOne(conn, connectivitySql)
      CheckResult("connectivity", ok = true, "ok")
    } catch {
      case e: Exception => CheckResult("connectivity", ok = false, e.getMessage)
    }

  def checkVersion(conn: Connection, minMajor: Int = 10): CheckResult =
    try {
      val v = queryOne(conn, versionSql).getOrElse("0")
      val major = v.takeWhile(_.isDigit) match { case "" => 0; case d => d.toInt }
      CheckResult("server_version", major >= minMajor,
        if (major >= minMajor) s"ok ($v)" else s"server $v < required $minMajor")
    } catch {
      case e: Exception => CheckResult("server_version", ok = false, e.getMessage)
    }

  def checkTableSelect(conn: Connection, schema: String, table: String): CheckResult =
    boolCheck(conn, s"select:$schema.$table", tableSelectPrivSql(schema, table),
      s"no SELECT privilege on $schema.$table")

  def checkCreateDb(conn: Connection): CheckResult =
    boolCheck(conn, "createdb", createDbPrivSql, "role lacks CREATEDB")

  def checkReplicationPriv(conn: Connection): CheckResult =
    boolCheck(conn, "replication", replicationPrivSql, "role lacks REPLICATION")

  /** Source-side preflight: connectivity + version + SELECT on every
    * scoped table. Target-side adds CREATEDB. All failures collected. */
  def runSourceChecks(conn: Connection,
                      tables: Seq[(String, String)]): Seq[CheckResult] =
    Seq(checkConnectivity(conn), checkVersion(conn)) ++
      tables.map { case (s, t) => checkTableSelect(conn, s, t) }

  def allOk(results: Seq[CheckResult]): Boolean = results.forall(_.ok)
}
