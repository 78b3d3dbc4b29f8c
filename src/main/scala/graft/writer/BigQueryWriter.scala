package graft.writer

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Row}

import graft.http.OAuth2

/** BigQuery sink over the REST `jobs.query` endpoint — the writer the
  * reference plans (/root/reference/README.md:120) built on this
  * engine's [[DataWriter]] seam. BigQuery has no JDBC surface of its
  * own; its public API is HTTPS + OAuth2 bearer, which is exactly the
  * client stack this engine already ships ([[graft.http.OAuth2]],
  * `java.net.http`), so unlike a driver-jar writer this one is fully
  * exercisable end-to-end against a stub server in tests.
  *
  * Distributed shape mirrors [[PostgresWriter]]: DDL once on the
  * driver, then each executor partition posts its own literal-SQL
  * INSERT batches. Batches are bounded BOTH by row count and by
  * rendered query size, because `jobs.query` caps un-parameterized
  * query text at 1 MB ([[BigQueryWriter.MaxQueryBytes]] keeps
  * headroom under it). A keyed (merge) write lands those batches in
  * a per-write stage table and the driver then issues ONE
  * key-deduplicated MERGE (BigQuery's native upsert) into the
  * destination — BigQuery serializes mutating DML per table, so
  * per-partition MERGEs would only queue behind each other and
  * abort.
  *
  * Auth is either a static bearer token or an [[OAuth2.TokenSpec]];
  * with a spec, each JVM (driver, every executor) resolves and
  * caches its own token through the shared OAuth2 cache and retries
  * once on a 401 after invalidating — the same lifecycle as the HTTP
  * source path.
  */
final class BigQueryWriter(
    endpoint: String, // e.g. https://bigquery.googleapis.com (stub in tests)
    project: String,
    dataset: String,
    table: String,
    auth: BigQueryWriter.Auth,
    primaryKey: Seq[String] = Seq.empty,
    batchSize: Int = 500,
    autoCreate: Boolean = true,
    requestTimeoutSecs: Long = 60,
    maxAttempts: Int = 5) extends DataWriter with Serializable {

  private def tablePath = s"$dataset.$table"

  // idempotent like the Postgres 42P01 swallow — but on the PARSED
  // error reason only (job errors in a 2xx body, or the real
  // service's HTTP 404 + reason "notFound"): a 404 from a
  // misconfigured endpoint or wrong project path has no parseable
  // reason array and still propagates — the swallow never matches
  // message text
  override def truncate(): Unit =
    BigQueryWriter.post(endpoint, project, auth,
      BqSql.truncateSql(tablePath), requestTimeoutSecs,
      maxAttempts = maxAttempts, swallowReasons = Set("notFound"))

  override def write(df: DataFrame, mode: WriteMode): WriteStats = {
    if (mode == WriteMode.Merge && primaryKey.isEmpty)
      throw new IllegalArgumentException("merge mode requires a primary key")
    val prepared = DataWriter.normalized(df)
    // typed off the ORIGINAL schema so normalized nested columns keep
    // their JSON destination (their frame type is now string)
    val schema = BqSql.schemaOfSpark(df.schema)

    if (autoCreate)
      BigQueryWriter.post(endpoint, project, auth,
        BqSql.createTableSql(tablePath, schema, primaryKey), requestTimeoutSecs,
        maxAttempts = maxAttempts)

    if (mode == WriteMode.Append) writeBatches(prepared, schema, tablePath)
    else {
      // keyed: partitions APPEND into a per-write stage (appends don't
      // compete for the table's DML lock), the driver issues ONE
      // key-deduplicated MERGE, then drops the stage
      val stage = s"$dataset.${table}__stage_${java.util.UUID.randomUUID.toString.take(8)}"
      BigQueryWriter.post(endpoint, project, auth,
        BqSql.createTableSql(stage, schema), requestTimeoutSecs,
        maxAttempts = maxAttempts)
      try {
        val stats = writeBatches(prepared, schema, stage)
        BigQueryWriter.post(endpoint, project, auth,
          BqSql.mergeFromTableSql(tablePath, stage, schema, primaryKey),
          requestTimeoutSecs, maxAttempts = maxAttempts)
        stats
      } finally BigQueryWriter.post(endpoint, project, auth,
        BqSql.dropTableSql(stage), requestTimeoutSecs, maxAttempts = maxAttempts)
    }
  }

  private def writeBatches(prepared: DataFrame,
      schema: ListMap[String, BqSql.BqType], destTable: String): WriteStats = {
    val (ep, proj, a, bs, timeout, attempts) =
      (endpoint, project, auth, batchSize, requestTimeoutSecs, maxAttempts)
    val counter = prepared.sparkSession.sparkContext.longAccumulator("rowsWritten")

    prepared.foreachPartition { (rows: Iterator[Row]) =>
      val buf = new scala.collection.mutable.ArrayBuffer[Seq[Any]](bs)
      var bufBytes = 0
      def flush(): Unit = if (buf.nonEmpty) {
        BigQueryWriter.post(ep, proj, a, BqSql.insertSql(destTable, schema, buf.toSeq),
          timeout, maxAttempts = attempts)
        counter.add(buf.size.toLong)
        buf.clear()
        bufBytes = 0
      }
      rows.foreach { r =>
        val vals = r.toSeq
        val rowBytes = vals.iterator.map {
          case null => 4
          case s: String => BigQueryWriter.renderedStringBytes(s) + 8
          case b: Array[Byte] => (b.length * 4) / 3 + 16
          case other => other.toString.length + 4
        }.sum
        // flush BEFORE the cap would be breached, so no statement ever
        // renders past it (a single over-cap row still ships alone —
        // nothing smaller could carry it)
        if (buf.nonEmpty &&
            (buf.size >= bs || bufBytes + rowBytes >= BigQueryWriter.MaxQueryBytes))
          flush()
        buf += vals
        bufBytes += rowBytes
      }
      flush()
    }
    WriteStats(counter.value)
  }
}

object BigQueryWriter {

  /** Flush threshold for rendered literal bytes — half of BigQuery's
    * documented 1 MB un-parameterized query cap, leaving headroom for
    * escaping growth and statement scaffolding.
    */
  val MaxQueryBytes: Int = 512 * 1024

  sealed trait Auth extends Serializable
  final case class StaticToken(token: String) extends Auth
  final case class OAuth(spec: OAuth2.TokenSpec) extends Auth

  private def bearer(a: Auth): String = a match {
    case StaticToken(t) => t
    case OAuth(spec) => OAuth2.token(spec)
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  /** One client per JVM — `java.net.http.HttpClient` is thread-safe
    * and pools connections, so every partition's batch POSTs reuse
    * keep-alive connections instead of paying a TLS handshake per
    * statement.
    */
  private lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(30)).build()

  /** Exact rendered UTF-8 size of a string literal under
    * [[BqSql.escapeString]]: control characters expand to `\\uXXXX`
    * (6 ASCII bytes — the old 2·len estimate let a control-char-heavy
    * batch render past the cap's headroom), backslash/quote/\n\r\t to
    * two, and — the part a char count misses — non-ASCII text costs
    * 2–3 UTF-8 bytes per UTF-16 char (a CJK corpus renders 3× its
    * char count; counting chars let such a batch blow the 1 MB query
    * cap). Surrogate halves count 3 each (6/pair vs the true 4 —
    * conservative is correct for a flush threshold). One scan, no
    * allocation.
    */
  private[writer] def renderedStringBytes(s: String): Int = {
    var bytes = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      bytes +=
        (if (c == '\\' || c == '\'' || c == '\n' || c == '\r' || c == '\t') 2
         else if (c < ' ') 6
         else if (c < 0x80) 1
         else if (c < 0x800) 2
         else 3)
      i += 1
    }
    bytes
  }

  /** Job-error reasons worth a backoff-retry: transient backend
    * faults, rate limits, and the serializable-DML abort BigQuery
    * raises when MERGEs on one table compete.
    */
  private val RetryableReasons =
    Set("backendError", "internalError", "rateLimitExceeded", "jobRateLimitExceeded")

  private def isRetryableJobError(errors: com.fasterxml.jackson.databind.JsonNode): Boolean = {
    val it = errors.elements()
    var retryable = false
    while (it.hasNext) {
      val e = it.next()
      val reason = if (e.has("reason")) e.get("reason").asText() else ""
      val msg = if (e.has("message")) e.get("message").asText() else ""
      if (RetryableReasons.contains(reason) || msg.contains("concurrent update"))
        retryable = true
    }
    retryable
  }

  private def reasonsOf(errors: com.fasterxml.jackson.databind.JsonNode): Set[String] = {
    val it = errors.elements()
    val b = Set.newBuilder[String]
    while (it.hasNext) {
      val e = it.next()
      if (e.has("reason")) b += e.get("reason").asText()
    }
    b.result()
  }

  /** Test seam: deterministic exponential backoff (200 ms · 2^k,
    * capped 5 s); specs stub it out so injected-429 runs don't sleep.
    */
  @volatile private[writer] var sleeper: Long => Unit = Thread.sleep

  private def backoffMs(attempt: Int): Long =
    math.min(200L << math.min(attempt, 4), 5000L)

  private def backoff(attempt: Int): Unit = sleeper(backoffMs(attempt))

  /** POST one statement to `jobs.query`. Robustness contract:
    *   - 401 → one token refresh (OAuth only), the HTTP-source
    *     recovery shape;
    *   - 429 / 5xx / transport IOExceptions / retryable job errors
    *     (backendError, rateLimitExceeded, the concurrent-DML
    *     "concurrent update" abort) → exponential backoff, up to
    *     `maxAttempts` total, a 429/5xx waiting at least its
    *     `Retry-After` ([[graft.http.HttpJsonSource.retryWaitMs]]);
    *     ambiguous faults (5xx, I/O) reuse the
    *     requestId so the DML can't double-apply, definitive job
    *     errors mint a fresh one so the retry re-RUNS instead of
    *     replaying the dedup cache's stored failure;
    *   - the request carries `timeoutMs`, and a 200 with
    *     `jobComplete: false` (the server-side wait expired before
    *     the job finished) POLLS `jobs.getQueryResults` until the job
    *     completes or attempts run out — a slow DML that later fails
    *     is never silently counted as written;
    *   - `swallowReasons`: PARSED error reasons that all fall in the
    *     set return silently (truncate's notFound) — whether they
    *     arrive as 2xx job errors or as the real service's HTTP 404 +
    *     `error.errors[].reason` body; never matched against message
    *     text, so a reason-less 404 (misconfigured endpoint) throws.
    * Returns the FINAL parsed response (post-poll when polling
    * happened) so SELECT callers ([[BqSyncState]]) can read
    * `rows[].f[].v`; DML callers ignore it. Package scope so the
    * spec can drive single statements.
    */
  private[writer] def post(endpoint: String, project: String, auth: Auth,
      sql: String, timeoutSecs: Long, maxAttempts: Int = 5,
      swallowReasons: Set[String] = Set.empty): com.fasterxml.jackson.databind.JsonNode = {
    // requestId lifecycle: jobs.query deduplicates repeated
    // requestIds — a retry after an AMBIGUOUS fault (5xx, IOException:
    // the job may have run) must reuse the id so the DML cannot
    // double-apply. But the dedup also replays "the error result of
    // the original request if it has already failed", so a retry
    // after a DEFINITIVE job error (rateLimitExceeded, the
    // concurrent-update abort — the job ran and failed) must mint a
    // FRESH id or every retry just reads back the cached failure.
    var requestId = java.util.UUID.randomUUID.toString
    def payload: String = {
      val body = mapper.createObjectNode()
      body.put("query", sql)
      body.put("useLegacySql", false)
      // server-side wait: jobs.query defaults to ~10 s and then returns
      // jobComplete=false; ask for the full request budget
      body.put("timeoutMs", math.max(1000L, timeoutSecs * 1000L))
      body.put("requestId", requestId)
      mapper.writeValueAsString(body)
    }

    def send(token: String): HttpResponse[String] = {
      val req = HttpRequest.newBuilder()
        .uri(URI.create(s"$endpoint/bigquery/v2/projects/$project/queries"))
        // the client deadline must OUTLIVE the requested server-side
        // wait: at equal budgets a slow DML races HttpTimeoutException
        // against the server's jobComplete=false long-poll return and
        // the client loses — the intended poll path never runs
        .timeout(Duration.ofSeconds(timeoutSecs + 15))
        .header("Authorization", s"Bearer $token")
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(payload, StandardCharsets.UTF_8))
        .build()
      client.send(req, HttpResponse.BodyHandlers.ofString())
    }

    def pollIncomplete(token: String, node: com.fasterxml.jackson.databind.JsonNode,
        attemptsLeft: Int): com.fasterxml.jackson.databind.JsonNode = {
      // jobComplete=false carries a jobReference; poll getQueryResults
      // until the job lands (completion may still report job errors —
      // re-checked by the shared tail below)
      val ref = node.get("jobReference")
      require(ref != null && ref.has("jobId"),
        "bigquery: jobComplete=false without a jobReference")
      val jobId = ref.get("jobId").asText()
      val loc = if (ref.has("location")) s"&location=${ref.get("location").asText()}" else ""
      var left = attemptsLeft
      var cur = node
      while (!cur.get("jobComplete").asBoolean(false)) {
        if (left <= 0) throw new graft.errors.GraftError.WriterError(
          s"bigquery job $jobId did not complete within the poll budget")
        backoff(maxAttempts - left)
        val req = HttpRequest.newBuilder()
          .uri(URI.create(s"$endpoint/bigquery/v2/projects/$project/queries/$jobId" +
            s"?timeoutMs=${math.max(1000L, timeoutSecs * 1000L)}$loc"))
          .timeout(Duration.ofSeconds(timeoutSecs + 15))
          .header("Authorization", s"Bearer $token")
          .GET().build()
        val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
        if (resp.statusCode() / 100 != 2)
          throw new graft.errors.GraftError.WriterError(
            s"bigquery getQueryResults HTTP ${resp.statusCode()}: ${resp.body().take(500)}")
        cur = mapper.readTree(resp.body())
        checkJobErrors(cur)
        left -= 1
      }
      cur
    }

    def checkJobErrors(node: com.fasterxml.jackson.databind.JsonNode): Unit =
      if (node.has("errors") && node.get("errors").size() > 0) {
        val errors = node.get("errors")
        val reasons = reasonsOf(errors)
        if (reasons.nonEmpty && reasons.subsetOf(swallowReasons)) ()
        else throw new graft.errors.GraftError.WriterError(
          s"bigquery job errors: ${errors.toString.take(500)}")
      }

    // HTTP-level error bodies carry their own structured reasons
    // (`error.errors[].reason`) — the REAL service reports a missing
    // table as HTTP 404 + reason "notFound", not as a 2xx job error,
    // so truncate's idempotence must consult swallowReasons here too.
    // Still never matched against message text: a 404 from a
    // misconfigured endpoint has no parseable reason and propagates.
    def httpErrorReasons(body: String): Set[String] =
      try {
        val n = mapper.readTree(body)
        if (n != null && n.has("error") && n.get("error").has("errors"))
          reasonsOf(n.get("error").get("errors"))
        else Set.empty
      } catch { case _: java.io.IOException => Set.empty }

    var attempt = 0
    var refreshed401 = false
    var result: com.fasterxml.jackson.databind.JsonNode = null
    while (result == null) {
      attempt += 1
      val token = bearer(auth)
      // transport faults (connection reset, client timeout) are as
      // ambiguous as a 5xx — same backoff, same reused requestId
      val respOpt =
        try Some(send(token))
        catch {
          case e: java.io.IOException =>
            if (attempt >= maxAttempts)
              throw new graft.errors.GraftError.WriterError(
                s"bigquery jobs.query I/O failure after $attempt attempts: ${e.getMessage}")
            backoff(attempt - 1)
            None
        }
      respOpt.foreach { resp =>
        val code = resp.statusCode()
        if (code == 401 && !refreshed401 && auth.isInstanceOf[OAuth]) {
          // expired/revoked grant: evict and retry once with a fresh
          // token, the HTTP-source 401 recovery contract (doesn't spend
          // a backoff attempt — it's a credential refresh, not a fault)
          OAuth2.invalidate(auth.asInstanceOf[OAuth].spec)
          refreshed401 = true
          attempt -= 1
        } else if (code == 429 || code / 100 == 5) {
          if (attempt >= maxAttempts)
            throw new graft.errors.GraftError.WriterError(
              s"bigquery jobs.query HTTP $code after $attempt attempts: ${resp.body().take(500)}")
          sleeper(graft.http.HttpJsonSource.retryWaitMs(
            backoffMs(attempt - 1), resp))
        } else if (code / 100 != 2) {
          val reasons = httpErrorReasons(resp.body())
          if (reasons.nonEmpty && reasons.subsetOf(swallowReasons))
            result = mapper.createObjectNode()
          else throw new graft.errors.GraftError.WriterError(
            s"bigquery jobs.query HTTP $code: ${resp.body().take(500)}")
        } else {
          val node = mapper.readTree(resp.body())
          val errors = if (node.has("errors")) node.get("errors") else null
          if (errors != null && errors.size() > 0 && isRetryableJobError(errors)
              && attempt < maxAttempts) {
            // the job RAN and failed — a reused requestId would replay
            // this cached failure forever (see requestId lifecycle)
            requestId = java.util.UUID.randomUUID.toString
            backoff(attempt - 1)
          } else {
            checkJobErrors(node)
            result =
              if (node.has("jobComplete") && !node.get("jobComplete").asBoolean(false))
                pollIncomplete(token, node, maxAttempts - attempt)
              else node
          }
        }
      }
    }
    result
  }
}
