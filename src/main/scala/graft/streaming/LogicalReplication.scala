package graft.streaming

import graft.core.Identifiers.{quoteIdent, quoteLiteral, validateIdentifier}
import graft.core.{ReplicationFilter, TableRules}

/** PostgreSQL logical-replication management (T6) — the reference
  * delegates the data plane to the database (publication → WAL →
  * subscription) and only builds/monitors it; so does this module:
  *
  *   - publication DDL with include/exclude + schema-only + predicate row
  *     filters and the PG15 gate (`src/replication/publication.rs:25-133`);
  *   - subscription DDL (`src/replication/subscription.rs:84-89`);
  *   - `srsubstate` interpretation (`subscription.rs:223-251`);
  *   - lag query + caught-up rule: every slot's replay lag < 1000 ms
  *     (`src/replication/monitor.rs:33-95, 153-177`).
  */
object LogicalReplication {

  val Pg15Version = 150000

  /** Publication statement for a discovered table list under a filter.
    * Tables are (schema, name); rules may mark schema-only (excluded) or
    * attach a row predicate (PG15+ WHERE clause). */
  def createPublicationSql(dbName: String, publicationName: String,
                           filter: ReplicationFilter, rules: TableRules,
                           tables: Seq[(String, String)],
                           serverVersion: Int): Either[String, String] = {
    validateIdentifier(publicationName) match {
      case Left(e) => return Left(e)
      case Right(_) => ()
    }
    if (filter == ReplicationFilter() && rules == TableRules())
      return Right(s"CREATE PUBLICATION ${quoteIdent(publicationName)} FOR ALL TABLES")

    val scoped = tables.filter { case (schema, name) =>
      val ident = if (schema == "public") name else s"$schema.$name"
      filter.shouldReplicateTable(dbName, ident)
    }
    val clauses = scoped.flatMap { case (schema, name) =>
      val qualified = s"$dbName.$schema.$name"
      val fq = s"${quoteIdent(schema)}.${quoteIdent(name)}"
      if (rules.isSchemaOnly(qualified)) None // excluded from publication
      else rules.predicateTables.get(qualified) match {
        case Some(pred) => Some(s"$fq WHERE ($pred)")
        case None       => Some(fq)
      }
    }
    if (clauses.isEmpty)
      Left(s"no tables available for publication '$publicationName' after filters")
    else if (clauses.exists(_.contains(" WHERE (")) && serverVersion < Pg15Version)
      Left(s"table-level predicates require PostgreSQL 15+ (server $serverVersion)")
    else
      Right(s"CREATE PUBLICATION ${quoteIdent(publicationName)} FOR TABLE " +
        clauses.mkString(", "))
  }

  /** Subscription DDL (`subscription.rs:84-89`) — the connection string
    * is quoted as a literal; PG stores it in pg_subscription. */
  def createSubscriptionSql(subscriptionName: String, sourceConnection: String,
                            publicationName: String): Either[String, String] =
    for {
      _ <- validateIdentifier(subscriptionName)
      _ <- validateIdentifier(publicationName)
    } yield s"CREATE SUBSCRIPTION ${quoteIdent(subscriptionName)} " +
      s"CONNECTION ${quoteLiteral(sourceConnection)} " +
      s"PUBLICATION ${quoteIdent(publicationName)}"

  /** `srsubstate` → human state (`subscription.rs:245-251`). */
  sealed trait SubState
  object SubState {
    case object Initializing extends SubState // 'i'
    case object CopyingData extends SubState // 'd'
    case object Synchronized extends SubState // 's'
    case object Ready extends SubState // 'r'
    case class Unknown(code: String) extends SubState
  }

  def interpretSubState(code: String): SubState = code match {
    case "i" => SubState.Initializing
    case "d" => SubState.CopyingData
    case "s" => SubState.Synchronized
    case "r" => SubState.Ready
    case c   => SubState.Unknown(c)
  }

  val subscriptionStateSql: String =
    "SELECT srsubstate FROM pg_subscription_rel sr " +
      "JOIN pg_subscription s ON sr.srsubid = s.oid WHERE s.subname = ?"

  /** Lag stats query (`monitor.rs:42-60`). */
  val replicationLagSql: String =
    """SELECT application_name, state,
      | sent_lsn::text, write_lsn::text, flush_lsn::text, replay_lsn::text,
      | EXTRACT(EPOCH FROM write_lag) * 1000 AS write_lag_ms,
      | EXTRACT(EPOCH FROM flush_lag) * 1000 AS flush_lag_ms,
      | EXTRACT(EPOCH FROM replay_lag) * 1000 AS replay_lag_ms
      |FROM pg_stat_replication""".stripMargin

  final case class SlotLag(applicationName: String, state: String,
                           replayLagMs: Option[Double])

  /** Caught-up rule (`monitor.rs:153-177`): at least one active slot, and
    * every slot's replay lag is known and under 1000 ms. */
  def isCaughtUp(slots: Seq[SlotLag]): Boolean =
    slots.nonEmpty && slots.forall(_.replayLagMs.exists(_ <= 1000))
}
