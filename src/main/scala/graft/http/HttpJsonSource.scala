package graft.http

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.config.PipelineConfig.{Pagination, Retry, Source}

/** HTTP → rows source (SURVEY A1-A7).
  *
  * The reference drives paginated REST APIs with a pooled client,
  * retries with exponential backoff, extracts rows via an RFC-6901
  * `data_path` pointer, and understands both whole-JSON and NDJSON
  * bodies (/root/reference/src/http/fetcher.rs:34-134,250-533).
  *
  * Spark-first design: page fetching with a KNOWN page count fans out
  * across executors (`spark.range(...).mapPartitions`) in one task per
  * core (`defaultParallelism`), each walking a contiguous page range
  * over its own keep-alive client — so a cluster with 1000 cores pulls
  * 1000 pages concurrently, and the load downstream writes one file per
  * task rather than per page. Unknown-total pagination is inherently
  * sequential (stop condition = first empty page, fetcher.rs:302-304)
  * and runs on the driver, like the reference.
  */
object HttpJsonSource {

  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Serializable spec for one endpoint — safe to ship to executors. */
  final case class FetchSpec(
      url: String,
      headers: Seq[(String, String)],
      queryParams: Seq[(String, String)],
      dataPath: Option[String],
      retry: Retry,
      requestTimeoutSecs: Long = 30,
      connectTimeoutSecs: Long = 10,
      bearerToken: Option[String] = None,
      /** When set, the bearer is RE-RESOLVED per request through
        * [[OAuth2.token]]'s cache (a fresh POST only past the expiry
        * horizon), overriding `bearerToken` — so a run longer than
        * `expires_in` refreshes mid-pagination, and a 401 from the
        * data API retries once on a force-refreshed token. Plain
        * data in a case class: ships to executors with the spec
        * (each executor JVM then holds its own token cache).
        */
      oauth: Option[OAuth2.TokenSpec] = None)

  // tokens already warned about, so an invalid token logs once per
  // JVM (the reference warns once at client build; requests here are
  // built per page/retry and would otherwise spam the log)
  private val warnedTokens =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The headers actually sent: the custom headers plus, when a bearer
    * token is configured, `Authorization: Bearer <token>` — REPLACING
    * any custom Authorization header (the reference inserts the bearer
    * into the header map after the custom headers, and reqwest's
    * HeaderMap::insert replaces; two Authorization lines would get the
    * request rejected). A token carrying characters a header value
    * cannot is skipped with a warning, mirroring the reference
    * builder's invalid-header-char path
    * (/root/reference/src/http/mod.rs:50-59), and the custom headers —
    * including a custom Authorization — survive the skip.
    */
  private[http] def effectiveHeaders(spec: FetchSpec): Seq[(String, String)] =
    spec.oauth.map(OAuth2.token(_)).orElse(spec.bearerToken) match {
      case Some(token) =>
        val v = s"Bearer $token"
        // RFC 9110 field-value chars: tab, space–0xFF minus DEL
        val valid = v.forall(c => c == '\t' ||
          (c >= ' ' && c != 0x7f.toChar && c <= 0xff.toChar))
        if (valid)
          spec.headers.filterNot(_._1.equalsIgnoreCase("Authorization")) :+
            ("Authorization" -> v)
        else {
          if (warnedTokens.add(token))
            log.warn("invalid characters in bearer token, skipping authorization header")
          spec.headers
        }
      case None => spec.headers
    }

  /** Rows of one page as raw JSON object text. */
  type Page = Seq[String]

  def buildClient(spec: FetchSpec): HttpClient =
    HttpClient.newBuilder()
      .connectTimeout(Duration.ofSeconds(spec.connectTimeoutSecs))
      .followRedirects(HttpClient.Redirect.NORMAL)
      .build()

  private def mapper = MapperHolder.mapper

  private object MapperHolder extends Serializable {
    @transient lazy val mapper = new ObjectMapper()
  }

  private def encode(s: String): String =
    URLEncoder.encode(s, StandardCharsets.UTF_8)

  private[http] def buildUri(spec: FetchSpec, extra: Seq[(String, String)]): URI = {
    val all = spec.queryParams ++ extra
    if (all.isEmpty) URI.create(spec.url)
    else {
      val qs = all.map { case (k, v) => s"${encode(k)}=${encode(v)}" }.mkString("&")
      val sep = if (spec.url.contains("?")) "&" else "?"
      URI.create(spec.url + sep + qs)
    }
  }

  /** GET with retry/backoff (A7) under an arbitrary body handler:
    * attempts up to maxAttempts, delay doubling from minDelaySecs,
    * capped at maxDelaySecs; 5xx and IO errors retry, other statuses
    * fail fast. `errorPeek` renders the first part of an error body
    * for the 4xx message; `discard` releases a body that will be
    * retried or abandoned (a streaming handler must close its stream).
    */
  private def sendWithRetry[T](client: HttpClient, spec: FetchSpec,
      extra: Seq[(String, String)], handler: HttpResponse.BodyHandler[T],
      errorPeek: T => String, discard: T => Unit): HttpResponse[T] = {
    // the request is built PER attempt: with an oauth spec the bearer
    // header re-resolves through the token cache, so an attempt after
    // a refresh (expiry horizon passed, or the 401 eviction below)
    // carries the new token instead of the one from attempt 1
    def buildReq(): HttpRequest = {
      val builder = HttpRequest.newBuilder(buildUri(spec, extra))
        .timeout(Duration.ofSeconds(spec.requestTimeoutSecs)).GET()
      effectiveHeaders(spec).foreach { case (k, v) => builder.header(k, v) }
      builder.build()
    }
    var attempt = 0
    var refreshed = false
    var delayMs = spec.retry.minDelaySecs * 1000
    while (true) {
      attempt += 1
      val req = buildReq()
      val resp: Either[Throwable, HttpResponse[T]] =
        try Right(client.send(req, handler))
        catch { case e: java.io.IOException => Left(e) }
      resp match {
        // one free replay on 401 under oauth: the cached token may be
        // revoked or expired past our margin (server clock skew) —
        // evict it and retry immediately on a fresh one; a second 401
        // is a real authorization error and fails fast below
        case Right(r) if r.statusCode() == 401 && spec.oauth.isDefined
            && !refreshed =>
          discard(r.body())
          refreshed = true
          attempt -= 1
          spec.oauth.foreach(OAuth2.invalidate)
        case Right(r) if r.statusCode() < 500 && r.statusCode() != 429 =>
          if (r.statusCode() >= 400) {
            val peek = errorPeek(r.body())
            throw new RuntimeException(
              s"HTTP ${r.statusCode()} from ${req.uri()}: $peek")
          }
          // span-named event mirroring fetcher.rs:48 debug_span!("http.request")
          log.debug("http.request method=GET source={} status={} attempt={}",
            spec.url, r.statusCode().toString, attempt.toString)
          return r
        case other =>
          // retryable: 5xx, transport I/O, and 429 — rate limiting is
          // the one 4xx a 32-thread executor fan-out RELIABLY
          // produces against a real API, and failing the whole
          // partition on it turns a polite server into a hard error
          other.foreach(r => discard(r.body()))
          if (attempt >= spec.retry.maxAttempts) other match {
            case Right(r) => throw new RuntimeException(
              s"HTTP ${r.statusCode()} from ${req.uri()} after $attempt attempts")
            case Left(e) => throw new RuntimeException(
              s"request to ${req.uri()} failed after $attempt attempts", e)
          }
          // a 429/503 Retry-After (delta-seconds form) OVERRIDES the
          // computed backoff when longer — the server told us when it
          // will take the request, sleeping less just burns attempts;
          // capped at 300 s so a hostile header can't hang a task
          val retryAfterMs = other.toOption
            .flatMap(r => Option(r.headers()
              .firstValue("Retry-After").orElse(null)))
            .flatMap(_.trim.toLongOption)
            .map(s => math.min(s, 300L) * 1000)
            .getOrElse(0L)
          Thread.sleep(math.max(delayMs, retryAfterMs))
          delayMs = math.min(delayMs * 2, spec.retry.maxDelaySecs * 1000)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** GET with retry/backoff, whole body as a String — the metadata
    * path (first page for schema/total hints, cursor threading).
    */
  def getWithRetry(client: HttpClient, spec: FetchSpec,
      extra: Seq[(String, String)]): HttpResponse[String] =
    sendWithRetry(client, spec, extra, HttpResponse.BodyHandlers.ofString(),
      (b: String) => b.take(200), (_: String) => ())

  /** GET with retry/backoff, body as a stream — the row path: an
    * NDJSON page frames line-by-line off the wire without ever
    * materializing as one String (the reference's LinesCodec property,
    * fetcher.rs:115-124). Error peeks read at most 200 bytes; retried
    * bodies are closed before the next attempt.
    */
  def getWithRetryStream(client: HttpClient, spec: FetchSpec,
      extra: Seq[(String, String)]): HttpResponse[java.io.InputStream] =
    sendWithRetry(client, spec, extra,
      HttpResponse.BodyHandlers.ofInputStream(),
      (in: java.io.InputStream) =>
        try new String(in.readNBytes(200), StandardCharsets.UTF_8)
        finally in.close(),
      (in: java.io.InputStream) => in.close())

  /** Parse a response body into rows (A2-A3): NDJSON content types are
    * framed line-by-line; plain JSON is drilled with the RFC-6901
    * data_path (array → rows, null/missing → none, scalar/object → one
    * row) — fetcher.rs:61-93,115-124.
    */
  def parseBody(body: String, contentType: Option[String],
      dataPath: Option[String]): Page = {
    if (isNdjson(contentType))
      parseNdjsonLines(body.split('\n').iterator, dataPath).toSeq
    else if (body.trim.isEmpty) Seq.empty
    else extractRows(mapper.readTree(body), dataPath)
  }

  private def isNdjson(contentType: Option[String]): Boolean =
    contentType.exists(ct => ct.contains("ndjson") || ct.contains("x-ndjson"))

  /** NDJSON line framing as an incremental pass: each line parses and
    * extracts independently, so peak memory is one line + the
    * extracted rows — never the whole body.
    */
  private[http] def parseNdjsonLines(lines: Iterator[String],
      dataPath: Option[String]): Iterator[String] =
    lines.map(_.trim).filter(_.nonEmpty)
      .flatMap(line => extractRows(mapper.readTree(line), dataPath))

  private def extractRows(node: JsonNode, dataPath: Option[String]): Page = {
    val target = dataPath.filter(_.nonEmpty) match {
      case Some(p) => node.at(p) // Jackson's at() is RFC-6901
      case None => node
    }
    if (target == null || target.isMissingNode || target.isNull) Seq.empty
    else if (target.isArray) target.elements().asScala
      .map(mapper.writeValueAsString).toSeq
    else Seq(mapper.writeValueAsString(target))
  }

  /** Fetch one page of rows. The body arrives as a stream: NDJSON
    * frames line-by-line (a multi-GB page never exists as one heap
    * String — only the extracted row strings accumulate, which is the
    * data itself); whole-JSON bodies must materialize to parse (same
    * as the reference's serde_json path) and are read from the stream
    * in one pass.
    */
  def fetchPage(client: HttpClient, spec: FetchSpec,
      params: Seq[(String, String)]): Page = {
    val resp = getWithRetryStream(client, spec, params)
    val ct = resp.headers().firstValue("content-type")
    val ctOpt = if (ct.isPresent) Some(ct.get()) else None
    val in = resp.body()
    try {
      if (isNdjson(ctOpt)) {
        val reader = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
        parseNdjsonLines(
          Iterator.continually(reader.readLine()).takeWhile(_ != null),
          spec.dataPath).toVector
      } else {
        val body = new String(in.readAllBytes(), StandardCharsets.UTF_8)
        if (body.trim.isEmpty) Seq.empty
        else extractRows(mapper.readTree(body), spec.dataPath)
      }
    } finally in.close()
  }

  /** Hint to compute the total page count (fetcher.rs:194-198):
    * Items → ceil(items / perPage); Pages → the count itself.
    */
  sealed trait TotalHint { def pointer: String }
  object TotalHint {
    final case class Items(pointer: String) extends TotalHint
    final case class Pages(pointer: String) extends TotalHint
  }

  // ---- pagination drivers ---------------------------------------------------

  /** limit_offset (A4): sequential driver loop, stop on first empty
    * page (fetcher.rs:302-304).
    */
  def fetchLimitOffset(spec: FetchSpec, limitParam: String,
      offsetParam: String, limit: Long): Iterator[Page] = {
    val client = buildClient(spec)
    Iterator.iterate(0L)(_ + limit)
      .map(off => fetchPage(client, spec,
        Seq(limitParam -> limit.toString, offsetParam -> off.toString)))
      .takeWhile(_.nonEmpty)
  }

  /** A page_number fetch: the driver-held first page (the schema
    * sample) plus the full row Dataset (which may fetch pages 2..N on
    * executors when consumed).
    */
  final case class PagedFetch(firstPage: Page, rows: Dataset[String])

  /** page_number (A5). Page 1 is fetched eagerly; when a TotalHint
    * resolves the page count, pages 2..N are fetched in PARALLEL ON
    * EXECUTORS — the Spark-native upgrade of the reference's
    * buffer_unordered(5) — otherwise sequentially until an empty page.
    * The fan-out cuts pages 2..N into `min(N - 1, defaultParallelism)`
    * contiguous ranges, read when this plan is built; a failed task
    * re-fetches its whole range. Rows come back in page order, page 1
    * as one partition. The first page is also returned driver-side so
    * schema inference can run on it WITHOUT consuming (= re-fetching)
    * the distributed rows.
    */
  def fetchPageNumber(spark: SparkSession, spec: FetchSpec,
      pageParam: String, perPageParam: String, perPage: Long,
      totalHint: Option[TotalHint]): PagedFetch = {
    import spark.implicits._
    val client = buildClient(spec)
    val first = getWithRetry(client, spec,
      Seq(pageParam -> "1", perPageParam -> perPage.toString))
    val ct = first.headers().firstValue("content-type")
    val ctOpt = if (ct.isPresent) Some(ct.get()) else None
    // parse the first-page body ONCE: both the row extraction and the
    // TotalHint pointer read the same tree (a large first page would
    // otherwise be fully re-parsed on the driver just to read one
    // numeric field); NDJSON bodies have no hint to read and keep the
    // line-framed path
    val bodyTree =
      if (isNdjson(ctOpt) || first.body().trim.isEmpty) None
      else Some(mapper.readTree(first.body()))
    val firstRows = bodyTree match {
      case Some(tree) => extractRows(tree, spec.dataPath)
      case None => parseBody(first.body(), ctOpt, spec.dataPath)
    }

    val totalPages: Option[Long] = totalHint.flatMap { hint =>
      bodyTree.flatMap { tree =>
        val n = tree.at(hint.pointer)
        if (n == null || !n.isNumber) None
        else hint match {
          case TotalHint.Items(_) =>
            Some((n.asLong() + perPage - 1) / perPage)
          case TotalHint.Pages(_) => Some(n.asLong())
        }
      }
    }

    // page 1 as ONE partition: a local relation otherwise spreads over
    // up to defaultParallelism partitions, and each becomes a write
    // task and a file downstream (coalesce(1) adds no shuffle)
    val firstDs = spark.createDataset(firstRows).coalesce(1)
    val rows = totalPages match {
      case Some(n) if n > 1 =>
        // Executor-parallel fan-out: one task per core, each walking a
        // contiguous page range over one keep-alive client
        // (HttpClient is not serializable, so the task builds it).
        // range() takes the slice count directly — no shuffle — and
        // min(n - 1, ·) leaves no slice empty, so every client built
        // serves at least one page.
        val slices = math.min(n - 1, spark.sparkContext.defaultParallelism.toLong)
        val rest = spark.range(2, n + 1, 1, slices.toInt)
          .mapPartitions { pages =>
            val c = buildClient(spec)
            pages.flatMap(p => fetchPage(c, spec,
              Seq(pageParam -> p.toString, perPageParam -> perPage.toString)))
          }
        firstDs.union(rest)
      case Some(_) => firstDs
      case None =>
        if (firstRows.isEmpty) firstDs
        else {
          val rest = Iterator.from(2)
            .map(p => fetchPage(client, spec,
              Seq(pageParam -> p.toString, perPageParam -> perPage.toString)))
            .takeWhile(_.nonEmpty)
            .flatten
          spark.createDataset(firstRows ++ rest)
        }
    }
    PagedFetch(firstRows, rows)
  }

  /** page_only (A6 — a stub in the reference, implemented for real
    * here): page counter only, sequential until empty.
    */
  def fetchPageOnly(spec: FetchSpec, pageParam: String): Iterator[Page] = {
    val client = buildClient(spec)
    Iterator.from(1)
      .map(p => fetchPage(client, spec, Seq(pageParam -> p.toString)))
      .takeWhile(_.nonEmpty)
  }

  /** cursor (A6 — a stub in the reference, implemented for real here):
    * threads `next_cursor` from each response until absent.
    */
  def fetchCursor(spec: FetchSpec, cursorParam: String,
      pageSizeParam: Option[String], pageSize: Long = 100,
      nextCursorPointer: String = "/next_cursor"): Iterator[Page] = {
    val client = buildClient(spec)
    val sizeParams = pageSizeParam.map(_ -> pageSize.toString).toSeq
    var cursor: Option[String] = None
    var done = false
    new Iterator[Page] {
      def hasNext: Boolean = !done
      def next(): Page = {
        val params = sizeParams ++ cursor.map(cursorParam -> _).toSeq
        val resp = getWithRetry(client, spec, params)
        val ct = resp.headers().firstValue("content-type")
        val rows = parseBody(resp.body(),
          if (ct.isPresent) Some(ct.get()) else None, spec.dataPath)
        val nxt = mapper.readTree(resp.body()).at(nextCursorPointer)
        cursor = if (nxt == null || nxt.isMissingNode || nxt.isNull) None
          else Some(nxt.asText())
        done = cursor.isEmpty || rows.isEmpty
        rows
      }
    }.takeWhile(_.nonEmpty)
  }

  // ---- top-level entry ------------------------------------------------------

  /** Fetch a configured source into a DataFrame: pagination driver →
    * JSON rows → nested schema inference (`spark.read.json`, the A9
    * batch path). The result is cached by callers that run multiple
    * actions — HTTP happens once, like the reference's replay channel.
    *
    * `pageSize` is the FALLBACK for sources whose config carries no
    * `page_size` (it is the CLI's --page-size default, so per-source
    * config wins); an explicit `totalHint` argument conversely
    * OVERRIDES the config's `total_items_pointer`/
    * `total_pages_pointer` — it is a per-call instruction, not a
    * default.
    */
  def load(spark: SparkSession, source: Source, pageSize: Long = 100,
      totalHint: Option[TotalHint] = None): DataFrame = {
    import spark.implicits._
    // an oauth2 block whose credentials are already inline (the shape
    // OAuth2.applyAuth returns) rides along as a TokenSpec so every
    // page fetch re-resolves the bearer through the token cache;
    // unresolved env-indirected blocks stay None (resolution is
    // applyAuth's job — it holds the getenv seam)
    val oauthSpec = source.oauth2.flatMap(o =>
      for (id <- o.clientId; secret <- o.clientSecret)
        yield OAuth2.TokenSpec(o.tokenUrl, id, secret, o.scope, source.retry))
    val spec = FetchSpec(source.url, source.headers, source.queryParams,
      source.dataPath, source.retry, bearerToken = source.bearerToken,
      oauth = oauthSpec)
    val effectivePageSize = source.pageSize.getOrElse(pageSize)
    source.pagination match {
      case Some(Pagination.PageNumber(pp, ppp, itemsPtr, pagesPtr)) =>
        val hint = totalHint
          .orElse(itemsPtr.map(TotalHint.Items))
          .orElse(pagesPtr.map(TotalHint.Pages))
        val fetched = fetchPageNumber(spark, spec, pp, ppp, effectivePageSize, hint)
        // schema from the driver-held first page (the reference's
        // first-100-rows inference contract) — parsing the distributed
        // rows with a fixed schema avoids a second pass, which would
        // re-fetch every executor-side page over HTTP
        graft.infer.SchemaInfer.readNestedSampled(spark, fetched.rows,
          fetched.firstPage)
      case other =>
        val rows: Dataset[String] = other match {
          case Some(Pagination.LimitOffset(lp, op)) =>
            spark.createDataset(
              fetchLimitOffset(spec, lp, op, effectivePageSize).flatten.toSeq)
          case Some(Pagination.PageOnly(pp)) =>
            spark.createDataset(fetchPageOnly(spec, pp).flatten.toSeq)
          case Some(Pagination.Cursor(cp, psp)) =>
            spark.createDataset(
              fetchCursor(spec, cp, psp, effectivePageSize).flatten.toSeq)
          case _ =>
            val client = buildClient(spec)
            spark.createDataset(fetchPage(client, spec, Seq.empty))
        }
        graft.infer.SchemaInfer.readNested(spark, rows)
    }
  }
}
