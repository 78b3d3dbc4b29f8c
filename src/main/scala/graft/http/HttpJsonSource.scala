package graft.http

import java.io.InputStream
import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import scala.jdk.CollectionConverters._
import scala.jdk.OptionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.MissingNode
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.config.PipelineConfig.{Pagination, Retry, Source}

/** HTTP → rows source (SURVEY A1-A7).
  *
  * The reference drives paginated REST APIs with a pooled client,
  * retries with exponential backoff, extracts rows via an RFC-6901
  * `data_path` pointer, and understands both whole-JSON and NDJSON
  * bodies (/root/reference/src/http/fetcher.rs:34-134,250-533).
  *
  * Every request goes through one retrying [[exchange]] (the token
  * POST in [[OAuth2]] included) and every body through one parser,
  * [[readPage]].
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

  private[http] val connectTimeout = Duration.ofSeconds(10)
  private[http] val requestTimeout = Duration.ofSeconds(30)

  /** A keep-alive client; every source shares the same timeouts. */
  def buildClient(): HttpClient =
    HttpClient.newBuilder()
      .connectTimeout(connectTimeout)
      .followRedirects(HttpClient.Redirect.NORMAL)
      .build()

  private def mapper = MapperHolder.mapper

  private object MapperHolder extends Serializable {
    @transient lazy val mapper = new ObjectMapper()
  }

  private[http] def encode(s: String): String =
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

  /** The one retrying exchange (A7): page GETs and the [[OAuth2]]
    * token POST both go through it. Up to `retry.maxAttempts`
    * attempts, the delay doubling from minDelaySecs, capped at
    * maxDelaySecs; 5xx, 429 and IO errors retry, other statuses
    * >= 400 fail fast with a 200-byte body peek. `request` is rebuilt
    * per attempt, so an OAuth2 bearer re-resolves through the token
    * cache after a refresh. `on401` buys one free replay on a 401:
    * the hook runs (a page GET's evicts its cached OAuth2 token,
    * revoked or expired past the margin by server clock skew) and the
    * next attempt runs at once; a second 401 is a real authorization
    * error and fails fast. The body
    * arrives as a stream the caller closes; retried and error bodies
    * are closed here.
    */
  private[http] def exchange(client: HttpClient, retry: Retry,
      request: () => HttpRequest,
      on401: Option[() => Unit]): HttpResponse[InputStream] = {
    var attempt = 0
    var refresh = on401
    var delayMs = retry.minDelaySecs * 1000
    while (true) {
      attempt += 1
      val req = request()
      val resp: Either[Throwable, HttpResponse[InputStream]] =
        try Right(client.send(req, HttpResponse.BodyHandlers.ofInputStream()))
        catch { case e: java.io.IOException => Left(e) }
      resp match {
        case Right(r) if r.statusCode() == 401 && refresh.isDefined =>
          r.body().close()
          refresh.foreach(_.apply())
          refresh = None
          attempt -= 1
        case Right(r) if r.statusCode() < 500 && r.statusCode() != 429 =>
          if (r.statusCode() >= 400) {
            val in = r.body()
            val peek = try new String(in.readNBytes(200), StandardCharsets.UTF_8)
              finally in.close()
            throw new RuntimeException(
              s"HTTP ${r.statusCode()} from ${req.uri()}: $peek")
          }
          // span-named event mirroring fetcher.rs:48 debug_span!("http.request")
          log.debug("http.request method={} uri={} status={} attempt={}",
            req.method(), req.uri(), r.statusCode().toString, attempt.toString)
          return r
        case other =>
          // retryable: 5xx, transport I/O, and 429 — rate limiting is
          // the one 4xx a 32-thread executor fan-out RELIABLY
          // produces against a real API, and failing the whole
          // partition on it turns a polite server into a hard error
          other.foreach(_.body().close())
          if (attempt >= retry.maxAttempts) other match {
            case Right(r) => throw new RuntimeException(
              s"HTTP ${r.statusCode()} from ${req.uri()} after $attempt attempts")
            case Left(e) => throw new RuntimeException(
              s"request to ${req.uri()} failed after $attempt attempts", e)
          }
          Thread.sleep(other.toOption.fold(delayMs)(retryWaitMs(delayMs, _)))
          delayMs = math.min(delayMs * 2, retry.maxDelaySecs * 1000)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The wait before retrying a 429/5xx response: the longer of the
    * computed `backoffMs` and the response's `Retry-After`
    * (delta-seconds form) — the server told us when it will take the
    * request, sleeping less just burns attempts — the header capped
    * at 300 s so a hostile value can't hang a task. The HTTP source
    * and the BigQuery writer both retry by this rule.
    */
  private[graft] def retryWaitMs(backoffMs: Long,
      resp: HttpResponse[_]): Long =
    resp.headers().firstValue("Retry-After").toScala
      .flatMap(_.trim.toLongOption)
      .fold(backoffMs)(s => math.max(backoffMs, math.min(s, 300L) * 1000))

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

  /** Parse one response body into rows (A2-A3), plus the whole-JSON
    * body tree that pagination metadata (total hints, next cursor) is
    * read from — a MissingNode for NDJSON and empty bodies. NDJSON
    * content types frame line-by-line off the stream, so a multi-GB
    * page never exists as one heap String, only the extracted rows
    * (fetcher.rs:115-124); a whole-JSON body is read to its end (the
    * connection stays reusable), parsed once and drilled with the
    * RFC-6901 data_path: array → rows, null/missing → none,
    * scalar/object → one row (fetcher.rs:61-93).
    */
  private[http] def readPage(in: InputStream, contentType: Option[String],
      dataPath: Option[String]): (Page, JsonNode) =
    if (contentType.exists(_.contains("ndjson"))) {
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
      (parseNdjsonLines(Iterator.continually(reader.readLine())
        .takeWhile(_ != null), dataPath).toVector, MissingNode.getInstance)
    } else {
      val body = mapper.readTree(in.readAllBytes())
      (extractRows(body, dataPath), body)
    }

  /** GET one page through [[exchange]] and [[readPage]] its body. */
  private def fetchWithBody(client: HttpClient, spec: FetchSpec,
      params: Seq[(String, String)]): (Page, JsonNode) = {
    val resp = exchange(client, spec.retry, () => {
      val builder = HttpRequest.newBuilder(buildUri(spec, params))
        .timeout(requestTimeout).GET()
      effectiveHeaders(spec).foreach { case (k, v) => builder.header(k, v) }
      builder.build()
    }, spec.oauth.map(o => () => OAuth2.invalidate(o)))
    val in = resp.body()
    try readPage(in, resp.headers().firstValue("content-type").toScala,
      spec.dataPath)
    finally in.close()
  }

  /** Fetch one page of rows. */
  def fetchPage(client: HttpClient, spec: FetchSpec,
      params: Seq[(String, String)]): Page =
    fetchWithBody(client, spec, params)._1

  /** Hint to compute the total page count (fetcher.rs:194-198):
    * Items → ceil(items / perPage); Pages → the count itself.
    */
  sealed trait TotalHint { def pointer: String }
  object TotalHint {
    final case class Items(pointer: String) extends TotalHint
    final case class Pages(pointer: String) extends TotalHint
  }

  // ---- pagination drivers ---------------------------------------------------

  /** Pages `n`, `n + 1`, … one GET each, until the first empty page
    * (fetcher.rs:302-304): the sequential driver for every source
    * whose page count is unknown.
    */
  private def pagesFrom(client: HttpClient, spec: FetchSpec, n: Long)(
      params: Long => Seq[(String, String)]): Iterator[Page] =
    Iterator.iterate(n)(_ + 1).map(p => fetchPage(client, spec, params(p)))
      .takeWhile(_.nonEmpty)

  /** limit_offset (A4): sequential on the driver. */
  def fetchLimitOffset(spec: FetchSpec, limitParam: String,
      offsetParam: String, limit: Long): Iterator[Page] =
    pagesFrom(buildClient(), spec, 0)(i =>
      Seq(limitParam -> limit.toString, offsetParam -> (i * limit).toString))

  /** A fetch: the rows the driver holds, page 1 onward (the schema
    * sample; every row for a sequential source), plus the full row
    * Dataset (which may fetch the remaining page_number pages on
    * executors when consumed).
    */
  final case class PagedFetch(firstPage: Page, rows: Dataset[String])

  /** page_number (A5). The schema sample is pages 1..⌈100 / perPage⌉
    * (capped at the total): the first
    * [[graft.infer.SchemaInfer.SampleCap]] rows, like every other
    * kind's. When a TotalHint resolves the page count, every page
    * after page 1 is fetched in PARALLEL ON EXECUTORS — the
    * Spark-native upgrade of the reference's buffer_unordered(5) — the
    * sample pages by one collected job, the rest when the rows are
    * consumed; otherwise every page is fetched sequentially on the
    * driver until an empty one. A fan-out cuts its pages into
    * `min(pages, defaultParallelism)` contiguous ranges; a failed task
    * re-fetches its whole range. Rows come back in page order, the
    * sample pages as one partition. The sample is returned driver-side
    * as `firstPage`, so schema inference runs on it WITHOUT consuming
    * (= re-fetching) the distributed rows.
    */
  def fetchPageNumber(spark: SparkSession, spec: FetchSpec,
      pageParam: String, perPageParam: String, perPage: Long,
      totalHint: Option[TotalHint]): PagedFetch = {
    import spark.implicits._
    def pageParams(p: Long) =
      Seq(pageParam -> p.toString, perPageParam -> perPage.toString)
    val client = buildClient()
    // page 1's body is parsed once: the rows and the TotalHint pointer
    // read the same tree
    val (firstRows, body) = fetchWithBody(client, spec, pageParams(1))
    val totalPages: Option[Long] = totalHint.flatMap { hint =>
      val n = body.at(hint.pointer)
      if (!n.isNumber) None
      else hint match {
        case TotalHint.Items(_) => Some((n.asLong() + perPage - 1) / perPage)
        case TotalHint.Pages(_) => Some(n.asLong())
      }
    }
    // pages from..to on executors: one task per core, each walking a
    // contiguous page range over one keep-alive client (HttpClient is
    // not serializable, so the task builds it). range() takes the
    // slice count directly — no shuffle — and min(pages, ·) leaves no
    // slice empty, so every client built serves at least one page.
    def fanOut(from: Long, to: Long): Dataset[String] = {
      val slices = math.min(to - from + 1, spark.sparkContext.defaultParallelism.toLong)
      spark.range(from, to + 1, 1, slices.toInt).mapPartitions { pages =>
        val c = buildClient()
        pages.flatMap(p => fetchPage(c, spec, pageParams(p)))
      }
    }

    totalPages match {
      case Some(n) =>
        val lead = math.min(n,
          (graft.infer.SchemaInfer.SampleCap + perPage - 1) / perPage)
        val head = if (lead < 2) firstRows else firstRows ++ fanOut(2, lead).collect()
        // the sample pages as ONE partition: a local relation otherwise
        // spreads over up to defaultParallelism partitions, and each
        // becomes a write task and a file downstream (coalesce(1) adds
        // no shuffle)
        val headDs = spark.createDataset(head).coalesce(1)
        PagedFetch(head, if (n <= lead) headDs else headDs.union(fanOut(lead + 1, n)))
      case None =>
        val all =
          if (firstRows.isEmpty) firstRows
          else firstRows ++ pagesFrom(client, spec, 2)(pageParams).flatten
        PagedFetch(all, driverRows(spark, all))
    }
  }

  /** Rows the driver fetched, as a Dataset over an RDD rather than a
    * local relation: a `LocalRelation` holding every row is copied by
    * each Catalyst rule that maps a node's arguments, so its planning
    * cost grows with the row count. Sliced as a local table scan would
    * be — at most one slice per core, none empty.
    */
  private def driverRows(spark: SparkSession, rows: Seq[String]): Dataset[String] = {
    import spark.implicits._
    val slices = math.max(1, math.min(rows.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(spark.sparkContext.parallelize(rows, slices))
  }

  /** page_only (A6 — a stub in the reference, implemented for real
    * here): page counter only, sequential until empty.
    */
  def fetchPageOnly(spec: FetchSpec, pageParam: String): Iterator[Page] =
    pagesFrom(buildClient(), spec, 1)(p => Seq(pageParam -> p.toString))

  /** cursor (A6 — a stub in the reference, implemented for real here):
    * threads the whole-JSON body's `/next_cursor` from each response
    * until absent.
    */
  def fetchCursor(spec: FetchSpec, cursorParam: String,
      pageSizeParam: Option[String], pageSize: Long = 100): Iterator[Page] = {
    val client = buildClient()
    val sizeParams = pageSizeParam.map(_ -> pageSize.toString).toSeq
    var cursor: Option[String] = None
    var done = false
    new Iterator[Page] {
      def hasNext: Boolean = !done
      def next(): Page = {
        val (rows, body) = fetchWithBody(client, spec,
          sizeParams ++ cursor.map(cursorParam -> _))
        val nxt = body.at("/next_cursor")
        cursor = if (nxt.isMissingNode || nxt.isNull) None else Some(nxt.asText())
        done = cursor.isEmpty || rows.isEmpty
        rows
      }
    }.takeWhile(_.nonEmpty)
  }

  // ---- top-level entry ------------------------------------------------------

  /** Fetch a configured source into a DataFrame: pagination driver →
    * JSON rows → [[graft.infer.SchemaInfer.readNestedSampled]], the one
    * JSON contract of every kind — the schema from the first 100 rows
    * the driver holds, every row parsed strictly against it (a row
    * that does not fit fails the load's first action; a field first
    * seen after the sample is dropped). The result is cached by
    * callers that run multiple actions — HTTP happens once, like the
    * reference's replay channel.
    *
    * `pageSize` is the FALLBACK for sources whose config carries no
    * `page_size` (it is the CLI's --page-size default, so per-source
    * config wins); a page_number source's total hint comes from its
    * `total_items_pointer`/`total_pages_pointer`.
    */
  def load(spark: SparkSession, source: Source, pageSize: Long = 100): DataFrame = {
    val fetched = fetch(spark, source, pageSize)
    graft.infer.SchemaInfer.readNestedSampled(spark, fetched.rows, fetched.firstPage)
  }

  /** The pagination driver [[load]] runs for `source`. */
  private[http] def fetch(spark: SparkSession, source: Source,
      pageSize: Long): PagedFetch = {
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
    def sequential(pages: Iterator[Page]): PagedFetch = {
      val rows = pages.flatten.toVector
      PagedFetch(rows, driverRows(spark, rows))
    }
    source.pagination match {
      case Some(Pagination.PageNumber(pp, ppp, itemsPtr, pagesPtr)) =>
        val hint = itemsPtr.map(TotalHint.Items).orElse(pagesPtr.map(TotalHint.Pages))
        fetchPageNumber(spark, spec, pp, ppp, effectivePageSize, hint)
      case Some(Pagination.LimitOffset(lp, op)) =>
        sequential(fetchLimitOffset(spec, lp, op, effectivePageSize))
      case Some(Pagination.PageOnly(pp)) => sequential(fetchPageOnly(spec, pp))
      case Some(Pagination.Cursor(cp, psp)) =>
        sequential(fetchCursor(spec, cp, psp, effectivePageSize))
      case _ => sequential(Iterator(fetchPage(buildClient(), spec, Seq.empty)))
    }
  }
}
