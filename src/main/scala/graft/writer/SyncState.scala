package graft.writer

import java.sql.DriverManager

import com.fasterxml.jackson.databind.ObjectMapper

/** Per-source high-water-mark persistence — the state half of
  * incremental sync (the reference lists "incremental sync state
  * management" as planned and unimplemented,
  * /root/reference/README.md:122). One watermark string per source
  * name: a re-run reads it, threads it into the source's pagination
  * as the `since` query parameter, and stores the new maximum after
  * a successful load — so steady-state runs fetch deltas, not the
  * whole upstream table. Watermarks are stored as STRINGS of the
  * cursor column's value; comparison happens in the column's own
  * type on the Spark side ([[graft.cli.Main]] merges old and new
  * maxima through a typed `greatest`), so numeric cursors never get
  * lexicographic comparison bugs.
  */
trait SyncState {
  /** The stored watermark for `sourceName`, if any. */
  def get(sourceName: String): Option[String]

  /** Persist `watermark` for `sourceName` (upsert, idempotent). */
  def put(sourceName: String, watermark: String): Unit
}

/** JSON-file state for the `--warehouse` (driverless/local) path:
  * `{source: watermark}` in one file, written atomically via a temp
  * file + move so a crash mid-write never truncates existing state.
  */
final class FileSyncState(path: String) extends SyncState {
  private val mapper = new ObjectMapper()

  private def load(): Map[String, String] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val node = mapper.readTree(java.nio.file.Files.readAllBytes(p))
      val it = node.fieldNames()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) {
        val k = it.next(); b += k -> node.get(k).asText()
      }
      b.result()
    }
  }

  override def get(sourceName: String): Option[String] =
    load().get(sourceName)

  override def put(sourceName: String, watermark: String): Unit = {
    val obj = mapper.createObjectNode()
    (load() + (sourceName -> watermark)).toSeq.sortBy(_._1)
      .foreach { case (k, v) => obj.put(k, v) }
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp, mapper.writeValueAsBytes(obj))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }
}

/** Postgres-backed state — the warehouse path: one tiny keyed table
  * (`source_name TEXT PRIMARY KEY, watermark TEXT, updated_at`) in
  * the same database the pipeline writes to, auto-created on first
  * use like the data tables (A18's convention). Writes upsert via
  * `INSERT .. ON CONFLICT` (9.5+, the writer's own version floor for
  * keyed writes); everything runs on the driver — state is one row
  * per source, never data-sized.
  */
final class PgSyncState(url: String, user: String, password: String,
    table: String = "graft_sync_state") extends SyncState {
  require(table.matches("[A-Za-z_][A-Za-z0-9_]*"),
    s"state table must be a plain identifier, got '$table'")

  private def withConn[T](f: java.sql.Connection => T): T = {
    val c = DriverManager.getConnection(url, user, password)
    try f(c) finally c.close()
  }

  private def ensure(c: java.sql.Connection): Unit = {
    val st = c.createStatement()
    try st.execute(PgSyncState.createSql(table))
    finally st.close()
  }

  override def get(sourceName: String): Option[String] = withConn { c =>
    ensure(c)
    val st = c.prepareStatement(PgSyncState.selectSql(table))
    try {
      st.setString(1, sourceName)
      val rs = st.executeQuery()
      try if (rs.next()) Option(rs.getString(1)) else None
      finally rs.close()
    } finally st.close()
  }

  override def put(sourceName: String, watermark: String): Unit = withConn { c =>
    ensure(c)
    val st = c.prepareStatement(PgSyncState.upsertSql(table))
    try {
      st.setString(1, sourceName)
      st.setString(2, watermark)
      st.executeUpdate()
      ()
    } finally st.close()
  }
}

/** BigQuery-backed state — the watermark table lives in the same
  * dataset the pipeline writes to, through the same `jobs.query` REST
  * stack as [[BigQueryWriter]] (retry/backoff, requestId dedup,
  * jobComplete polling all inherited). State is one row per source;
  * everything runs on the driver.
  */
final class BqSyncState(endpoint: String, project: String, dataset: String,
    auth: BigQueryWriter.Auth,
    table: String = "graft_sync_state") extends SyncState {
  require(table.matches("[A-Za-z_][A-Za-z0-9_]*"),
    s"state table must be a plain identifier, got '$table'")

  private def path = s"$dataset.$table"

  private def ensure(): Unit = {
    BigQueryWriter.post(endpoint, project, auth, BqSyncState.createSql(path), 60)
    ()
  }

  override def get(sourceName: String): Option[String] = {
    ensure()
    val node = BigQueryWriter.post(endpoint, project, auth,
      BqSyncState.selectSql(path, sourceName), 60)
    val rows = node.get("rows")
    if (rows == null || rows.size() == 0) None
    else {
      // jobs.query row shape: rows[].f[].v
      val v = rows.get(0).get("f").get(0).get("v")
      if (v == null || v.isNull) None else Some(v.asText())
    }
  }

  override def put(sourceName: String, watermark: String): Unit = {
    ensure()
    BigQueryWriter.post(endpoint, project, auth,
      BqSyncState.upsertSql(path, sourceName, watermark), 60)
    ()
  }
}

/** The generated GoogleSQL, exposed for spec pinning like
  * [[PgSyncState]]'s statement text.
  */
object BqSyncState {
  def createSql(path: String): String =
    s"CREATE TABLE IF NOT EXISTS `$path` (`source_name` STRING, " +
      "`watermark` STRING, `updated_at` TIMESTAMP)"

  def selectSql(path: String, sourceName: String): String =
    s"SELECT `watermark` FROM `$path` " +
      s"WHERE `source_name` = '${BqSql.escapeString(sourceName)}'"

  def upsertSql(path: String, sourceName: String, watermark: String): String = {
    val src = BqSql.escapeString(sourceName)
    val w = BqSql.escapeString(watermark)
    s"MERGE `$path` AS t USING (SELECT '$src' AS `source_name`, " +
      s"'$w' AS `watermark`) AS s ON t.`source_name` = s.`source_name` " +
      "WHEN MATCHED THEN UPDATE SET `watermark` = s.`watermark`, " +
      "`updated_at` = CURRENT_TIMESTAMP() " +
      "WHEN NOT MATCHED THEN INSERT (`source_name`, `watermark`, `updated_at`) " +
      "VALUES (s.`source_name`, s.`watermark`, CURRENT_TIMESTAMP())"
  }
}

/** ClickHouse-backed state over the writer's HTTP transport: a tiny
  * `ReplacingMergeTree(ver)` keyed by source name, `ver` from the
  * writer's strictly-increasing ingest epoch so the latest put always
  * wins, and reads go through `FINAL` so an un-compacted state table
  * still returns the newest watermark.
  */
final class ChSyncState(url: String, user: String, password: String,
    table: String = "graft_sync_state") extends SyncState {
  require(table.matches("[A-Za-z_][A-Za-z0-9_]*"),
    s"state table must be a plain identifier, got '$table'")

  private val schema = scala.collection.immutable.ListMap(
    "source_name" -> (ChSql.ChString: ChSql.ChType),
    "watermark" -> ChSql.ChString, "ver" -> ChSql.ChInt64)

  private val transport = new ClickHouseWriter.HttpTransport(url, user, password)

  override def get(sourceName: String): Option[String] = {
    transport.execute(ChSyncState.createSql(table))
    transport.queryPairs(ChSyncState.selectSql(table, sourceName))
      .headOption.map(_._2)
  }

  override def put(sourceName: String, watermark: String): Unit = {
    transport.execute(ChSyncState.createSql(table))
    transport.insert(table, schema, Seq(Seq(sourceName, watermark,
      ClickHouseWriter.nextIngestEpoch() << 31)))
  }
}

object ChSyncState {
  def createSql(table: String): String =
    s"CREATE TABLE IF NOT EXISTS ${ChSql.quoteIdent(table)} " +
      "(`source_name` String, `watermark` String, `ver` UInt64) " +
      "ENGINE = ReplacingMergeTree(`ver`) ORDER BY (`source_name`)"

  /** Two-column form so the transport's generic (name, value) TSV
    * reader applies; FINAL resolves replaced versions at read time
    * without requiring a prior OPTIMIZE.
    */
  def selectSql(table: String, sourceName: String): String =
    s"SELECT `source_name`, `watermark` FROM ${ChSql.quoteIdent(table)} FINAL " +
      s"WHERE `source_name` = ${ChSql.stringLiteral(sourceName)}"
}

/** The state table's SQL text, exposed like [[PgSql]]'s statement
  * generators so the live suite can pin the exact DDL/upsert against
  * a real server via psql (pgjdbc is absent from this classpath —
  * the writer convention throughout).
  */
object PgSyncState {
  def createSql(table: String): String =
    s"""CREATE TABLE IF NOT EXISTS "$table" (
       |  source_name TEXT PRIMARY KEY,
       |  watermark TEXT NOT NULL,
       |  updated_at TIMESTAMP NOT NULL DEFAULT now()
       |)""".stripMargin

  def selectSql(table: String): String =
    s"""SELECT watermark FROM "$table" WHERE source_name = ?"""

  def upsertSql(table: String): String =
    s"""INSERT INTO "$table" (source_name, watermark, updated_at)
       |VALUES (?, ?, now())
       |ON CONFLICT (source_name)
       |DO UPDATE SET watermark = EXCLUDED.watermark,
       |  updated_at = EXCLUDED.updated_at""".stripMargin
}
