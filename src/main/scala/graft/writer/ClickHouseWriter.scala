package graft.writer

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Row}

/** ClickHouse sink — the writer the reference plans
  * (/root/reference/README.md:121) built on this engine's
  * [[DataWriter]] factory seam, with the same distributed shape as
  * [[PostgresWriter]]: DDL once on the driver, then every executor
  * partition lands its rows in bounded batches.
  *
  * One transport: ClickHouse's native SQL-over-HTTP interface (port
  * 8123, every server has it) — DDL as POSTed statements, inserts as
  * `INSERT … FORMAT JSONEachRow` with NDJSON bodies, auth via the
  * X-ClickHouse-User/-Key headers. No driver jar is needed, and the
  * whole partition write path runs end to end against a stub server
  * in tests — the BigQueryWriter pattern.
  *
  * Mode semantics follow ClickHouse's own model rather than
  * pretending it is Postgres: Append inserts into a `MergeTree`;
  * Merge inserts into a `ReplacingMergeTree(__graft_ver)` keyed by
  * the primary key and then issues one driver-side
  * `OPTIMIZE TABLE .. FINAL` so replaced keys compact away
  * immediately (ClickHouse has no upsert statement —
  * replace-on-merge is its idiomatic equivalent). The writer-managed
  * version column makes the replace DETERMINISTIC — see
  * [[ChSql.VerCol]]: later write() calls beat earlier ones, a
  * partition's later row beats its earlier ones; without it
  * ReplacingMergeTree keeps an arbitrary duplicate, silently
  * diverging from the Postgres ON CONFLICT semantics this writer
  * mirrors.
  */
final class ClickHouseWriter(
    url: String, // http(s)://host:8123/?database=db
    user: String,
    password: String,
    table: String,
    primaryKey: Seq[String] = Seq.empty,
    batchSize: Int = 5000,
    autoCreate: Boolean = true,
    schemaEvolution: Boolean = false) extends DataWriter with Serializable {

  private def transport = new ClickHouseWriter.HttpTransport(url, user, password)

  override def truncate(): Unit = transport.execute(ChSql.truncateSql(table))

  /** Staged-swap replace, ClickHouse dialect: load the staging table
    * (distributed, the standard partition-batch path), then ONE
    * atomic `EXCHANGE TABLES` — the destination flips from the old
    * generation to the new in a single statement, with no
    * empty-table window and no long-held copy transaction (the
    * Postgres swap's INSERT..SELECT is the weaker primitive). A crash
    * before the exchange leaves the destination untouched; a crash
    * between the exchange and the staging drop leaves the NEW
    * generation live and the OLD rows parked in staging, where the
    * next replace's reset drop clears them — every crash point
    * recovers by rerunning the replace.
    */
  override def replace(df: DataFrame): WriteStats = {
    val chSchema = ChSql.schemaOfSpark(
      DataWriter.normalized(df, base64Binary = true).schema)
    val t = transport
    t.execute(ChSql.dropStagingSql(table))
    // the destination must exist before the staging can clone its
    // structure (and before the exchange, on the very first run)
    t.execute(ChSql.createTableSql(table, chSchema, primaryKey))
    // staging = empty structural clone of the destination: columns
    // this writer never created (user-managed DateTimes, an earlier
    // wider relation's fields), the engine, TTLs and settings all
    // survive the swap — the batch's own drift is then evolved onto
    // the STAGING exactly as write() would evolve the destination
    t.execute(ChSql.createStagingSql(table))
    if (schemaEvolution) {
      val staging = ChSql.stagingName(table)
      val existing = ClickHouseWriter.readSchema(t, staging)
        .filterNot { case (n, _) => primaryKey.contains(n) }
      val incoming = chSchema
        .filterNot { case (n, _) => primaryKey.contains(n) }
      ChSql.evolveSql(staging, existing, incoming).foreach(t.execute)
    }
    // Append, not Merge: replace lands the relation AS-IS, and the
    // swap makes it the destination wholesale — no OPTIMIZE needed
    val stagingWriter = new ClickHouseWriter(url, user, password,
      ChSql.stagingName(table), primaryKey, batchSize,
      autoCreate = false)
    val stats = stagingWriter.write(df, WriteMode.Append)
    t.execute(ChSql.exchangeSql(table))
    t.execute(ChSql.dropStagingSql(table)) // now holds the OLD rows
    stats
  }

  override def write(df: DataFrame, mode: WriteMode): WriteStats = {
    if (mode == WriteMode.Merge && primaryKey.isEmpty)
      throw new IllegalArgumentException("merge mode requires a primary key")
    val prepared = DataWriter.normalized(df, base64Binary = true)
    val chSchema = ChSql.schemaOfSpark(prepared.schema)
    // keyed tables carry the writer-managed version column; its value
    // is stamped per row at render time, never read from data
    val keyed = primaryKey.nonEmpty
    val insertSchema =
      if (keyed) chSchema.updated(ChSql.VerCol, ChSql.ChInt64) else chSchema

    if (autoCreate) {
      val t = transport
      t.execute(ChSql.createTableSql(table, chSchema, primaryKey))
      // schema evolution, the PostgresWriter contract in ClickHouse
      // dialect. ORDER BY (key) columns are excluded from the diff:
      // ClickHouse rejects Nullable key columns, and a key whose
      // TYPE drifts is a config error, not evolvable drift. The
      // version column reads back as UInt64, which the type map
      // deliberately drops, so the diff leaves it alone.
      if (schemaEvolution) {
        val existing = ClickHouseWriter.readSchema(t, table)
          .filterNot { case (n, _) => primaryKey.contains(n) }
        val incoming = chSchema
          .filterNot { case (n, _) => primaryKey.contains(n) }
        ChSql.evolveSql(table, existing, incoming).foreach(t.execute)
      }
    }

    // strictly-increasing ingest epoch per write() call: later loads
    // always out-version earlier ones even within one wall-clock
    // second (see ChSql.VerCol for the full determinism contract)
    val verBase = if (keyed) ClickHouseWriter.nextIngestEpoch() else 0L
    val (tbl, u, usr, pw, bs) = (table, url, user, password, batchSize)
    val isKeyed = keyed
    val counter = df.sparkSession.sparkContext.longAccumulator("rowsWritten")

    prepared.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val t = new ClickHouseWriter.HttpTransport(u, usr, pw)
        val buf = new scala.collection.mutable.ArrayBuffer[Seq[Any]](bs)
        var seq = 0L
        def flush(): Unit = if (buf.nonEmpty) {
          t.insert(tbl, insertSchema, buf)
          counter.add(buf.size.toLong)
          buf.clear()
        }
        rows.foreach { r =>
          val vals = if (isKeyed) {
            // (epoch << 31) | seq: within-partition arrival order,
            // saturating at 2^31-1 rows (ties beyond that resolve
            // arbitrarily — documented bound)
            val ver = (verBase << 31) | math.min(seq, (1L << 31) - 1)
            seq += 1
            r.toSeq :+ (ver: Any)
          } else r.toSeq
          buf += vals
          if (buf.size >= bs) flush()
        }
        flush()
      }
    }

    // one driver-side compaction lands the replace semantics; runs
    // after every partition committed its inserts
    if (mode == WriteMode.Merge)
      transport.execute(ChSql.optimizeSql(table))
    WriteStats(counter.value)
  }
}

object ClickHouseWriter {

  /** Strictly-increasing per-JVM ingest epoch (seconds, bumped past
    * collisions): two write() calls in the same second still get
    * distinct, ordered version bases.
    */
  private val lastEpoch = new java.util.concurrent.atomic.AtomicLong(0L)
  private[writer] def nextIngestEpoch(): Long =
    lastEpoch.updateAndGet(last =>
      math.max(System.currentTimeMillis() / 1000L, last + 1))

  /** SQL-over-HTTP: ClickHouse's native interface. One pooled
    * `java.net.http.HttpClient` per JVM (the BigQueryWriter pattern).
    */
  private[writer] final class HttpTransport(endpoint: String,
      user: String, password: String) {
    import java.net.URI
    import java.net.http.{HttpRequest, HttpResponse}
    import java.nio.charset.StandardCharsets

    private def post(body: String): String = {
      val req = HttpRequest.newBuilder()
        .uri(URI.create(endpoint))
        .timeout(java.time.Duration.ofSeconds(60))
        .header("X-ClickHouse-User", user)
        .header("X-ClickHouse-Key", password)
        .header("Content-Type", "text/plain; charset=UTF-8")
        .POST(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
        .build()
      val resp = httpClient.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() / 100 != 2)
        throw new graft.errors.GraftError.WriterError(
          s"clickhouse HTTP ${resp.statusCode()}: ${resp.body().take(500)}")
      resp.body()
    }

    def execute(sql: String): Unit = { post(sql); () }

    // TabSeparated values arrive ESCAPED (\t \n \r \\ \0 \b \f \'):
    // split on the raw separators first (escaped ones can't collide —
    // they're backslash sequences), then unescape each field, or a
    // watermark containing a backslash round-trips corrupted through
    // ChSyncState (stored raw via JSONEachRow, read back escaped) and
    // ChSyncState reads back a different mark than it stored
    def queryPairs(sql: String): Seq[(String, String)] =
      post(sql + " FORMAT TabSeparated").split('\n').toSeq
        .filter(_.nonEmpty)
        .map { line =>
          val tab = line.indexOf('\t')
          require(tab >= 0, s"clickhouse TSV row without a tab: $line")
          (ClickHouseWriter.unescapeTsv(line.substring(0, tab)),
            ClickHouseWriter.unescapeTsv(line.substring(tab + 1)))
        }

    def insert(table: String, schema: ListMap[String, ChSql.ChType],
        rows: Iterable[Seq[Any]]): Unit = {
      post(ChSql.insertHttpSql(table, schema) + "\n" +
        ChSql.jsonEachRow(schema, rows))
      ()
    }
  }

  /** Decode ClickHouse TabSeparated escaping — the inverse of the
    * server's output escapes. An unrecognized backslash sequence (or
    * a trailing backslash) passes through verbatim rather than
    * erroring: read-side leniency, the server never emits one.
    */
  private[writer] def unescapeTsv(s: String): String = {
    if (s.indexOf('\\') < 0) return s
    val b = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        i += 1
        b.append(s.charAt(i) match {
          case 't' => '\t'; case 'n' => '\n'; case 'r' => '\r'
          case 'b' => '\b'; case 'f' => '\f'; case '0' => '\u0000'
          case '\'' => '\''; case '\\' => '\\'
          case other => b.append('\\'); other
        })
      } else b.append(c)
      i += 1
    }
    b.toString
  }

  /** One pooled HTTP client per JVM — thread-safe, keep-alive. */
  private lazy val httpClient: java.net.http.HttpClient =
    java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(30)).build()

  /** Live column→type read-back for the evolution diff (types this
    * writer never creates — including the UInt64 version column — are
    * dropped so the diff leaves them alone).
    */
  private[writer] def readSchema(t: HttpTransport,
      table: String): ListMap[String, ChSql.ChType] = {
    var out = ListMap.empty[String, ChSql.ChType]
    t.queryPairs(ChSql.existingSchemaSql(table)).foreach { case (name, typ) =>
      ChSql.ofChTypeName(typ).foreach(ct => out = out.updated(name, ct))
    }
    out
  }
}
