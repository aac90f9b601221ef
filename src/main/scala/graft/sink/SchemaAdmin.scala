package graft.sink

/** Schema lifecycle + privilege re-application (SURVEY §2 P7) — the
  * serving-database admin half of the atomic snapshot swap.
  *
  * The reference rebuilds a shadow schema, then atomically promotes it
  * (reference src/handlers/schema.ts:4-49): rename `current` ->
  * `old_current`, rename the freshly-built schema to `current`, discover
  * every role that could SELECT from the old schema, re-grant the same
  * minimal read-only surface on the promoted one (USAGE + SELECT on all
  * tables/sequences + matching default privileges for tables created
  * later), and drop the old schema — all inside one transaction so
  * readers never observe a half-swapped catalog.
  *
  * This is deliberately driver-side, single-connection work: it touches
  * catalog metadata, not data, so there is nothing to distribute. The
  * data-plane counterpart (bucketed parquet commit log / JDBC upsert)
  * lives in [[UpsertSink]]/[[JdbcUpsertSink]]; both share the
  * [[SqlConnectionFactory]] seam so the whole admin path unit-tests
  * offline, the same way the reference mock-patches knex.
  */
final class SchemaAdmin(factory: SqlConnectionFactory) {

  import SchemaAdmin.q

  /** reference schema.ts:4-8 */
  def createSchema(schema: String): Unit = withConnection { conn =>
    conn.executeUpdate(s"CREATE SCHEMA IF NOT EXISTS ${q(schema)}", Nil)
  }

  /** Atomically promote `newSchema` to `currentSchema`, carrying reader
    * grants over (reference schema.ts:10-49). Returns the roles whose
    * grants were re-applied.
    */
  def switchSchema(newSchema: String, currentSchema: String): Seq[String] =
    withConnection { conn =>
      val oldSchema = s"old_$currentSchema"
      conn.executeUpdate("BEGIN", Nil)
      try {
        conn.executeUpdate(
          s"ALTER SCHEMA ${q(currentSchema)} RENAME TO ${q(oldSchema)}", Nil)
        conn.executeUpdate(
          s"ALTER SCHEMA ${q(newSchema)} RENAME TO ${q(currentSchema)}", Nil)
        // two discovery sources: SELECT table grants (the reference's
        // query) UNION roles holding schema USAGE — a reader set up
        // while the schema was still empty has no role_table_grants
        // rows and would otherwise silently lose access on promote
        val tableGrantees = conn.executeQuery(
          "SELECT DISTINCT grantee FROM information_schema.role_table_grants" +
            " WHERE table_schema = ? AND privilege_type = ?",
          Seq(oldSchema, "SELECT")).map(_.head.toString)
        val usageGrantees = conn.executeQuery(
          "SELECT rolname FROM pg_catalog.pg_roles" +
            " WHERE NOT rolsuper AND has_schema_privilege(rolname, ?, 'USAGE')",
          Seq(oldSchema)).map(_.head.toString)
        val grantees = (tableGrantees ++ usageGrantees).distinct
        grantees.foreach { user =>
          readOnlyGrants(currentSchema, user)
            .foreach(sql => conn.executeUpdate(sql, Nil))
        }
        conn.executeUpdate(s"DROP SCHEMA IF EXISTS ${q(oldSchema)} CASCADE", Nil)
        conn.executeUpdate("COMMIT", Nil)
        grantees
      } catch {
        case e: Throwable =>
          conn.executeUpdate("ROLLBACK", Nil)
          throw e
      }
    }

  /** The minimal read-only grant set the reference re-applies per role
    * (schema.ts:31-44): usage, select on everything that exists, and
    * default privileges so tables created by later syncs stay readable.
    */
  def readOnlyGrants(schema: String, user: String): Seq[String] = {
    // PUBLIC is a keyword pseudo-role: quoting it ("PUBLIC") makes
    // Postgres look for an ordinary role of that name and fail, rolling
    // back the whole schema swap — emit it unquoted
    val u = if (user.equalsIgnoreCase("PUBLIC")) "PUBLIC" else q(user)
    Seq(
      s"GRANT USAGE ON SCHEMA ${q(schema)} TO $u",
      s"GRANT SELECT ON ALL TABLES IN SCHEMA ${q(schema)} TO $u",
      s"GRANT SELECT ON ALL SEQUENCES IN SCHEMA ${q(schema)} TO $u",
      s"ALTER DEFAULT PRIVILEGES IN SCHEMA ${q(schema)} GRANT SELECT ON TABLES TO $u",
      s"ALTER DEFAULT PRIVILEGES IN SCHEMA ${q(schema)} GRANT SELECT ON SEQUENCES TO $u")
  }

  private def withConnection[A](f: SqlConnection => A): A = {
    val conn = factory.connect()
    try f(conn) finally conn.close()
  }
}

object SchemaAdmin {
  /** Double-quote identifier escaping, knex's `??` binding. */
  private[sink] def q(ident: String): String = SqlIdent.quote(ident)
}
