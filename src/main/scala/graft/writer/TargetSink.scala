package graft.writer

import graft.config.PipelineConfig.Target

/** A configured warehouse target resolved to its writer stack — the
  * one place the target kind is decided: the writer for a table, the
  * incremental-sync state backend, and whether `replace` is atomic.
  * Credentials resolve once, on first use, so a target no module
  * touches never needs its environment variables set.
  */
sealed abstract class TargetSink(t: Target, getenv: String => Option[String]) {
  protected lazy val user: String = t.auth.resolvedUsername(getenv)
  protected lazy val password: String = t.auth.resolvedPassword(getenv)

  /** Whether [[DataWriter.replace]] has no empty-destination window on
    * failure (a staged swap); only such sinks get replace by default.
    */
  def atomicReplace: Boolean

  /** `pgCopy` selects Postgres's COPY append path; other kinds ignore it. */
  def writer(table: String, primaryKey: Seq[String], schemaEvolution: Boolean,
      pgCopy: Boolean): DataWriter

  /** The watermark lives IN the warehouse the pipeline writes to, so
    * state and data share fate — a restored warehouse backup restores
    * a consistent watermark with it.
    */
  def syncState(): SyncState
}

object TargetSink {

  /** `PipelineConfig` admits exactly these three target kinds. */
  def apply(t: Target, getenv: String => Option[String]): TargetSink = t.kind match {
    case "postgres" => new Postgres(t, getenv)
    case "clickhouse" => new ClickHouse(t, getenv)
    case "bigquery" => new BigQuery(t, getenv)
  }

  /** Staged swap: load staging, swap in one transaction. */
  private final class Postgres(t: Target, getenv: String => Option[String])
      extends TargetSink(t, getenv) {
    val atomicReplace = true
    def writer(table: String, primaryKey: Seq[String], schemaEvolution: Boolean,
        pgCopy: Boolean): DataWriter =
      new PostgresWriter(t.jdbcUrl, user, password, table, primaryKey,
        useCopy = pgCopy, schemaEvolution = schemaEvolution)
    def syncState(): SyncState = new PgSyncState(t.jdbcUrl, user, password)
  }

  /** Staged swap: load staging, one atomic `EXCHANGE TABLES`. */
  private final class ClickHouse(t: Target, getenv: String => Option[String])
      extends TargetSink(t, getenv) {
    val atomicReplace = true
    def writer(table: String, primaryKey: Seq[String], schemaEvolution: Boolean,
        pgCopy: Boolean): DataWriter =
      new ClickHouseWriter(t.chUrl, user, password, table, primaryKey,
        schemaEvolution = schemaEvolution)
    def syncState(): SyncState = new ChSyncState(t.chUrl, user, password)
  }

  /** Replace is truncate-then-load; the password carries the bearer
    * token and the username is never read.
    */
  private final class BigQuery(t: Target, getenv: String => Option[String])
      extends TargetSink(t, getenv) {
    val atomicReplace = false
    private def token = BigQueryWriter.StaticToken(password)
    def writer(table: String, primaryKey: Seq[String], schemaEvolution: Boolean,
        pgCopy: Boolean): DataWriter = {
      // loud, not silent: this writer has no evolution support, so
      // accepting the flag would drop columns without a trace
      if (schemaEvolution) throw new IllegalArgumentException(
        "schema_evolution is not supported for bigquery targets " +
          "(supported: postgres, clickhouse)")
      new BigQueryWriter(t.bqEndpoint, t.project.get, t.database, table, token,
        primaryKey)
    }
    def syncState(): SyncState =
      new BqSyncState(t.bqEndpoint, t.project.get, t.database, token)
  }
}
