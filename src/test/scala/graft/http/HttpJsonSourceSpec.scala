package graft.http

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.config.PipelineConfig.{Pagination, Retry, Source}
import HttpJsonSource._

/** Pagination/fetch tests against an in-process stub server (the
  * environment has no egress), mirroring the payload shapes of
  * /root/reference/examples/config/pipelines.yaml and FIXTURES.md §1.5.
  */
class HttpJsonSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var server: HttpServer = _
  private var base: String = _
  private val flakyHits = new AtomicInteger(0)
  private val rateHits = new java.util.concurrent.atomic.AtomicInteger(0)
  // /paged requests per page number, and the client port that asked
  private val pagedHits =
    new java.util.concurrent.ConcurrentHashMap[Int, java.util.List[Int]]()

  private val pageOnlyHits = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
  private val defaultQueries = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private val retry = Retry(maxAttempts = 3, maxDelaySecs = 1, minDelaySecs = 0)

  private def qparams(ex: HttpExchange): Map[String, String] =
    graft.HttpStub.qparams(ex)

  private def respond(ex: HttpExchange, body: String,
      contentType: String = "application/json", status: Int = 200): Unit =
    graft.HttpStub.respond(ex, body, contentType, status)

  // /paged serves ids 1..700: more than the 100-row schema sample, so
  // pages past the sample fan out
  private val pagedTotal = 700

  private def items(from: Int, to: Int): String =
    (from to to).map(i => s"""{"id": $i, "name": "u$i"}""").mkString("[", ",", "]")

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/offset", (ex: HttpExchange) => {
      val p = qparams(ex)
      val limit = p("limit").toInt
      val start = p("start").toInt
      val end = math.min(start + limit, 7)
      val page = if (start >= 7) "[]" else items(start + 1, end)
      respond(ex, s"""{"data": $page}""")
    })
    server.createContext("/paged", (ex: HttpExchange) => {
      val p = qparams(ex)
      val page = p("page").toInt
      val per = p("per_page").toInt
      pagedHits.computeIfAbsent(page,
        _ => java.util.Collections.synchronizedList(new java.util.ArrayList[Int]()))
        .add(ex.getRemoteAddress.getPort)
      val startIx = (page - 1) * per
      val end = math.min(startIx + per, pagedTotal)
      val data = if (startIx >= pagedTotal) "[]" else items(startIx + 1, end)
      val pages = (pagedTotal + per - 1) / per
      respond(ex,
        s"""{"data": $data, "metadata": {"total_items": $pagedTotal, "total_pages": $pages}}""")
    })
    server.createContext("/ndjson", (ex: HttpExchange) =>
      respond(ex, "{\"id\": 1}\n{\"id\": 2}\n\n{\"id\": 3}\n",
        contentType = "application/x-ndjson"))
    // a large NDJSON page, written to the socket in chunks (length 0 =
    // chunked transfer) — the shape that must never materialize as one
    // body String on the client
    server.createContext("/ndjson-big", (ex: HttpExchange) => {
      ex.getResponseHeaders.set("Content-Type", "application/x-ndjson")
      ex.sendResponseHeaders(200, 0L)
      val out = new java.io.BufferedOutputStream(ex.getResponseBody, 1 << 16)
      (1 to 50000).foreach { i =>
        out.write(s"""{"id": $i, "body": "${"x" * 64}"}\n"""
          .getBytes(StandardCharsets.UTF_8))
      }
      out.close()
      ex.close()
    })
    server.createContext("/ratelimited", (ex: HttpExchange) => {
      if (rateHits.incrementAndGet() < 2) {
        ex.getResponseHeaders.set("Retry-After", "1")
        respond(ex, """{"error":"slow down"}""", status = 429)
      } else respond(ex, """{"id":7}""")
    })
    server.createContext("/flaky", (ex: HttpExchange) => {
      if (flakyHits.incrementAndGet() < 3) respond(ex, "boom", status = 500)
      else respond(ex, """[{"id": 42}]""")
    })
    server.createContext("/cursor", (ex: HttpExchange) => {
      val p = qparams(ex)
      p.get("cursor") match {
        case None => respond(ex, """{"data": [{"id": 1}], "next_cursor": "c2"}""")
        case Some("c2") => respond(ex, """{"data": [{"id": 2}], "next_cursor": null}""")
        case Some(other) => respond(ex, s"""{"data": [], "err": "$other"}""")
      }
    })
    server.createContext("/pageonly", (ex: HttpExchange) => {
      val page = qparams(ex)("page").toInt
      pageOnlyHits.add(page)
      respond(ex, if (page > 3) "[]" else items(2 * page - 1, 2 * page))
    })
    server.createContext("/default", (ex: HttpExchange) => {
      defaultQueries.add(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
      respond(ex, s"""{"data": ${items(1, 3)}}""")
    })
    server.createContext("/auth", (ex: HttpExchange) => {
      val h = ex.getRequestHeaders.getFirst("X-API-KEY")
      if (h == "secret") respond(ex, """[{"ok": true}]""")
      else respond(ex, "[]", status = 403)
    })
    server.createContext("/bearer", (ex: HttpExchange) => {
      val h = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      respond(ex, s"""[{"auth": "$h"}]""")
    })
    // the same 150 rows (`set` picks them, see rowsOf) in every
    // pagination shape: page_only and cursor serve 50 rows a page
    server.createContext("/rows", (ex: HttpExchange) => {
      val p = qparams(ex)
      val rows = rowsOf(p("set"))
      def slice(from: Int, n: Int) = rows.slice(from, from + n).mkString("[", ",", "]")
      val body = ex.getRequestURI.getPath.stripPrefix("/rows/") match {
        case "offset" => s"""{"data": ${slice(p("start").toInt, p("limit").toInt)}}"""
        case "paged" =>
          val per = p("per_page").toInt
          s"""{"data": ${slice((p("page").toInt - 1) * per, per)}, "total": ${rows.size}}"""
        case "pageonly" => s"""{"data": ${slice((p("page").toInt - 1) * 50, 50)}}"""
        case "cursor" =>
          val at = p.get("cursor").fold(0)(_.toInt)
          val next = if (at + 50 < rows.size) s""""${at + 50}"""" else "null"
          s"""{"data": ${slice(at, 50)}, "next_cursor": $next}"""
        case "default" => s"""{"data": ${slice(0, rows.size)}}"""
      }
      respond(ex, body)
    })
    server.start()
    base = s"http://127.0.0.1:${server.getAddress.getPort}"
  }

  override def afterAll(): Unit = server.stop(0)

  private def spec(path: String, dataPath: Option[String] = Some("/data")) =
    FetchSpec(s"$base$path", Seq.empty, Seq.empty, dataPath, retry)

  test("limit_offset pages until the first empty page (fetcher.rs:302-304)") {
    val pages = fetchLimitOffset(spec("/offset"), "limit", "start", limit = 3).toSeq
    assert(pages.map(_.size) == Seq(3, 3, 1))
    assert(pages.flatten.size == 7)
  }

  test("page_number with Items total hint fans out on executors (fetcher.rs:412-497)") {
    val spark = graft.SparkTestSession.spark
    val fetched = fetchPageNumber(spark, spec("/paged"), "page", "per_page",
      perPage = 300, totalHint = Some(TotalHint.Items("/metadata/total_items")))
    assert(fetched.firstPage.size == 300)
    assert(fetched.rows.count() == pagedTotal)
  }

  test("page_number with Pages hint and without hint agree") {
    val spark = graft.SparkTestSession.spark
    val withPages = fetchPageNumber(spark, spec("/paged"), "page", "per_page",
      perPage = 200, totalHint = Some(TotalHint.Pages("/metadata/total_pages")))
    val without = fetchPageNumber(spark, spec("/paged"), "page", "per_page",
      perPage = 200, totalHint = None)
    assert(withPages.rows.count() == pagedTotal)
    assert(without.rows.count() == pagedTotal)
  }

  test("page_number fan-out: one contiguous page range per core, page 1 " +
      "as one partition, each page requested once, rows in page order") {
    val spark = graft.SparkTestSession.spark
    val cores = spark.sparkContext.defaultParallelism
    // 700 items: perPage 100 is 7 pages (6 to fan out, more than the
    // test session's 4 cores); perPage 300 is 3 pages (2 to fan out,
    // fewer). Page 1 holds the whole 100-row sample either way.
    for (perPage <- Seq(100, 300)) {
      val pages = (pagedTotal + perPage - 1) / perPage
      pagedHits.clear()
      val fetched = fetchPageNumber(spark, spec("/paged"), "page", "per_page",
        perPage, totalHint = Some(TotalHint.Items("/metadata/total_items")))
      val slices = math.min(pages - 1, cores)
      assert(fetched.rows.rdd.getNumPartitions == 1 + slices,
        s"perPage $perPage: expected page 1 + $slices slices")
      // one job reads every partition once
      val parts = fetched.rows.rdd.mapPartitions(it => Iterator(it.toVector))
        .collect().toSeq.map(_.map(idOf))
      assert(parts.head == (1 to perPage).toVector, "page 1 alone in partition 0")
      assert(parts.forall(_.nonEmpty), s"an empty slice: $parts")
      assert(parts.flatten == (1 to pagedTotal), s"rows out of page order: $parts")
      val hits = pagedHits.asScala.map { case (p, ports) => p -> ports.size }.toMap
      assert(hits == (1 to pages).map(_ -> 1).toMap,
        s"each page requested once: $hits")
      // each slice walks its range over one client: no more client
      // connections than slices serve pages 2..N
      val ports = (2 to pages).map(p => pagedHits.get(p).get(0)).toSet
      assert(ports.size <= slices, s"$slices slices used ${ports.size} connections")
    }
  }

  test("page_number pages under 100 rows: the sample is pages 1..⌈100 / " +
      "per_page⌉, held as one partition, and every page is requested once") {
    val spark = graft.SparkTestSession.spark
    val cores = spark.sparkContext.defaultParallelism
    // perPage 30: 24 pages, the sample pages 1..4 (rows 1..120)
    val (perPage, pages, lead) = (30, 24, 4)
    pagedHits.clear()
    val fetched = fetchPageNumber(spark, spec("/paged"), "page", "per_page",
      perPage, totalHint = Some(TotalHint.Items("/metadata/total_items")))
    assert(fetched.firstPage.map(idOf) == (1 to lead * perPage))
    // the sample pages are fetched before the rows are consumed
    assert(pagedHits.keySet.asScala.toSet == (1 to lead).toSet)
    assert(fetched.rows.rdd.getNumPartitions == 1 + math.min(pages - lead, cores))
    val parts = fetched.rows.rdd.mapPartitions(it => Iterator(it.toVector))
      .collect().toSeq.map(_.map(idOf))
    assert(parts.head == (1 to lead * perPage).toVector, "the sample alone in partition 0")
    assert(parts.flatten == (1 to pagedTotal), s"rows out of page order: $parts")
    val hits = pagedHits.asScala.map { case (p, ports) => p -> ports.size }.toMap
    assert(hits == (1 to pages).map(_ -> 1).toMap, s"each page requested once: $hits")
  }

  private def idOf(row: String): Int =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(row).get("id").asInt()

  test("HTTP/2 parity (reference README.md:128): the client negotiates h2 " +
      "by default and degrades cleanly to a 1.1-only server") {
    // the JDK client's default version IS HTTP_2 — the reference's
    // last roadmap item costs nothing here, but pin it so a future
    // builder edit (e.g. .version(HTTP_1_1) while debugging a proxy)
    // can't silently drop the capability
    val client = graft.http.HttpJsonSource.buildClient()
    assert(client.version() == java.net.http.HttpClient.Version.HTTP_2,
      "buildClient must prefer HTTP/2 (negotiation falls back per server)")
    // the stub (com.sun HttpServer) speaks only 1.1 and ignores the
    // h2c upgrade — the exchange must complete on the downgraded
    // protocol, which is exactly the mixed-fleet production story
    val req = java.net.http.HttpRequest.newBuilder(
      java.net.URI.create(s"$base/ndjson")).GET().build()
    val resp = client.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200 &&
      resp.version() == java.net.http.HttpClient.Version.HTTP_1_1,
      s"downgrade to the server's protocol must be clean, got ${resp.version()}")
  }

  test("NDJSON bodies framed line-by-line (fetcher.rs:61-66,95-133)") {
    val rows = fetchPage(buildClient(),
      spec("/ndjson", dataPath = None), Seq.empty)
    assert(rows == Seq("""{"id":1}""", """{"id":2}""", """{"id":3}"""))
  }

  test("large chunked NDJSON body streams through the line path (fetcher.rs:115-124)") {
    val s = spec("/ndjson-big", dataPath = None)
    val rows = fetchPage(buildClient(), s, Seq.empty)
    assert(rows.size == 50000)
    assert(rows.head.contains("\"id\":1"))
    assert(rows.last.contains("\"id\":50000"))
  }

  test("NDJSON line framing is incremental — one line in flight, not the whole body") {
    var pulled = 0
    val lines = Iterator.tabulate(1000000) { i => pulled += 1; s"""{"n": $i}""" }
    val rows = parseNdjsonLines(lines, None)
    // consuming 10 extracted rows must not have drained the million-line
    // source: the framing reads a line at a time off the stream
    assert(rows.take(10).toSeq.size == 10)
    assert(pulled < 100, s"framing materialized the body ($pulled lines pulled)")
  }

  test("data_path pointer: array flattens, null/missing yields none (fetcher.rs:74-93)") {
    def rowsOf(body: String, contentType: Option[String], dataPath: Option[String]) =
      readPage(new java.io.ByteArrayInputStream(body.getBytes(StandardCharsets.UTF_8)),
        contentType, dataPath)._1
    assert(rowsOf("""{"data": [{"a":1},{"a":2}]}""", None, Some("/data")).size == 2)
    assert(rowsOf("""{"data": null}""", None, Some("/data")).isEmpty)
    assert(rowsOf("""{"other": 1}""", None, Some("/data")).isEmpty)
    assert(rowsOf("""{"data": {"a": 1}}""", None, Some("/data")) == Seq("""{"a":1}"""))
    assert(rowsOf("""{"data": 5}""", None, Some("/data")) == Seq("5"))
  }

  test("retry with backoff recovers from 5xx (http_retry.rs:96-114)") {
    flakyHits.set(0)
    val rows = fetchPage(buildClient(),
      spec("/flaky", dataPath = None), Seq.empty)
    assert(rows == Seq("""{"id":42}"""))
    assert(flakyHits.get() == 3)
  }

  test("retry gives up after max_attempts") {
    flakyHits.set(-100) // needs 103 hits to succeed; only 3 attempts allowed
    val e = intercept[RuntimeException] {
      fetchPage(buildClient(), spec("/flaky", dataPath = None), Seq.empty)
    }
    assert(e.getMessage.contains("after 3 attempts"))
  }

  test("429 retries with backoff, honoring a Retry-After delta") {
    // rate limiting is the one 4xx a parallel page fan-out reliably
    // produces; failing the partition on it turns a polite server
    // into a hard error. The server's Retry-After (delta-seconds)
    // overrides a shorter computed backoff.
    rateHits.set(0)
    val t0 = System.nanoTime()
    val rows = fetchPage(buildClient(),
      spec("/ratelimited", dataPath = None), Seq.empty)
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(rows == Seq("""{"id":7}"""))
    assert(rateHits.get() == 2)
    // minDelaySecs = 0, so any wait >= ~1 s came from Retry-After: 1
    assert(elapsedMs >= 900L, s"Retry-After not honored: ${elapsedMs}ms")
  }

  test("4xx fails fast without retry") {
    flakyHits.set(0)
    val s = spec("/auth", dataPath = None)
    val e = intercept[RuntimeException] {
      fetchPage(buildClient(), s, Seq.empty)
    }
    assert(e.getMessage.contains("HTTP 403"))
  }

  test("custom headers are sent (mod.rs:13-94)") {
    val s = FetchSpec(s"$base/auth", Seq("X-API-KEY" -> "secret"),
      Seq.empty, None, retry)
    assert(fetchPage(buildClient(), s, Seq.empty) == Seq("""{"ok":true}"""))
  }

  test("bearer token arrives as Authorization: Bearer (mod.rs:32-59)") {
    val s = FetchSpec(s"$base/bearer", Seq.empty, Seq.empty, None, retry,
      bearerToken = Some("tok-123"))
    assert(fetchPage(buildClient(), s, Seq.empty) ==
      Seq("""{"auth":"Bearer tok-123"}"""))
  }

  test("a valid bearer token replaces a custom Authorization header, like the reference") {
    val s = FetchSpec(s"$base/bearer", Seq("Authorization" -> "ApiKey xyz"),
      Seq.empty, None, retry, bearerToken = Some("tok-9"))
    // reqwest's HeaderMap::insert replaces — one Authorization line out
    assert(effectiveHeaders(s) == Seq("Authorization" -> "Bearer tok-9"))
    assert(fetchPage(buildClient(), s, Seq.empty) ==
      Seq("""{"auth":"Bearer tok-9"}"""))
  }

  test("invalid bearer token chars skip the header with a warning, like the reference") {
    val s = FetchSpec(s"$base/bearer", Seq.empty, Seq.empty, None, retry,
      bearerToken = Some("bad\ntoken"))
    // the header is dropped (mod.rs:55-58) — the request still succeeds
    assert(fetchPage(buildClient(), s, Seq.empty) == Seq("""{"auth":""}"""))
    // custom headers survive the dropped bearer
    assert(effectiveHeaders(s.copy(headers = Seq("X-K" -> "v")))
      == Seq("X-K" -> "v"))
  }

  test("cursor pagination threads next_cursor (implemented beyond the reference's stub)") {
    val pages = fetchCursor(spec("/cursor"), "cursor", None).toSeq
    assert(pages.flatten == Seq("""{"id":1}""", """{"id":2}"""))
  }

  test("page_only requests pages 1..N once each and stops at the first empty page") {
    pageOnlyHits.clear()
    val pages = fetchPageOnly(spec("/pageonly", dataPath = None), "page").toSeq
    assert(pages.map(_.map(idOf)) == Seq(Seq(1, 2), Seq(3, 4), Seq(5, 6)))
    assert(pageOnlyHits.asScala.toSeq == Seq(1, 2, 3, 4),
      s"pages 1..3 and the empty page 4, once each: ${pageOnlyHits.asScala}")
  }

  test("kind: default loads one GET with no page parameters") {
    defaultQueries.clear()
    val cfg = graft.config.PipelineConfig.parse(
      s"""sources:
         |  - name: plain
         |    url: $base/default
         |    data_path: /data
         |    pagination:
         |      kind: default
         |""".stripMargin)
    val df = HttpJsonSource.load(graft.SparkTestSession.spark, cfg.source("plain"))
    assert(df.count() == 3)
    assert(defaultQueries.asScala.toSeq == Seq(""),
      s"exactly one GET, no query string: ${defaultQueries.asScala}")
  }

  test("end-to-end load: source config → DataFrame with inferred schema") {
    val spark = graft.SparkTestSession.spark
    val source = Source(
      name = "users", url = s"$base/offset",
      tableDestinationName = Some("users"),
      headers = Seq.empty, queryParams = Seq.empty,
      pagination = Some(Pagination.LimitOffset("limit", "start")),
      dataPath = Some("/data"), retry = retry, primaryKeyInDest = Some("id"))
    val df = HttpJsonSource.load(spark, source, pageSize = 4)
    assert(df.count() == 7)
    assert(df.schema.fieldNames.toSet == Set("id", "name"))
    assert(df.filter(df("id") > 5).count() == 2)
  }

  /** Rows 1..150 `{"id", "name", "amount"}` with one twist per `set`:
    * drift — a field `extra` from row 120 on; widen — `amount` 12.5 at
    * row 41; fraction — `amount` 125.5 at row 125; scalar, string,
    * null, array — row 125 is `5`, `"scalar"`, `null` or `[1,2]`, not
    * an object.
    */
  private def rowsOf(set: String): IndexedSeq[String] = (1 to 150).map { i =>
    val amount = (set, i) match {
      case ("widen", 41) => "12.5"
      case ("fraction", 125) => "125.5"
      case _ => i.toString
    }
    (set, i) match {
      case ("scalar", 125) => "5"
      case ("string", 125) => "\"scalar\""
      case ("null", 125) => "null"
      case ("array", 125) => "[1,2]"
      case _ =>
        val extra = if (set == "drift" && i >= 120) s""", "extra": "e$i"""" else ""
        s"""{"id": $i, "name": "u$i", "amount": $amount$extra}"""
    }
  }

  private def rowsSource(path: String, set: String, pagination: Pagination) =
    Source(name = "rows", url = s"$base/rows/$path",
      tableDestinationName = Some("rows"), headers = Seq.empty,
      queryParams = Seq("set" -> set), pagination = Some(pagination),
      dataPath = Some("/data"), retry = retry, primaryKeyInDest = None)

  // (kind, stub path, pagination); loaded with page size 10 — page_number
  // with a total holds pages 1..10 (the sample) on the driver and fans
  // out 11..15
  private val everyKind: Seq[(String, String, Pagination)] = Seq(
    ("limit_offset", "offset", Pagination.LimitOffset("limit", "start")),
    ("page_only", "pageonly", Pagination.PageOnly("page")),
    ("cursor", "cursor", Pagination.Cursor("cursor", None)),
    ("default", "default", Pagination.Default),
    ("page_number, total hint", "paged",
      Pagination.PageNumber("page", "per_page", totalItemsPointer = Some("/total"))),
    ("page_number, no hint", "paged", Pagination.PageNumber("page", "per_page")))

  test("every pagination kind loads one schema from its first 100 rows; " +
      "a field first seen after them is dropped") {
    val spark = graft.SparkTestSession.spark
    import org.apache.spark.sql.types._
    val want = StructType(Seq(StructField("amount", LongType),
      StructField("id", LongType), StructField("name", StringType)))
    for ((kind, path, pagination) <- everyKind) {
      val df = load(spark, rowsSource(path, "drift", pagination), pageSize = 10)
      assert(df.schema == want, s"$kind: ${df.schema.simpleString}")
      assert(df.count() == 150, kind)
    }
  }

  test("a page_number sample is 100 rows, not page 1: a double at row 41 " +
      "types the column and keeps its value") {
    val spark = graft.SparkTestSession.spark
    for ((kind, path, pagination) <- everyKind.filter(_._2 == "paged")) {
      val df = load(spark, rowsSource(path, "widen", pagination), pageSize = 10)
      assert(df.schema("amount").dataType == org.apache.spark.sql.types.DoubleType, kind)
      assert(df.filter("id = 41").head().getAs[Double]("amount") == 12.5, kind)
      assert(df.count() == 150, kind)
    }
  }

  test("a row that does not fit the sampled schema fails the load, on any " +
      "kind: a scalar, a string, a null, an array of scalars, a fraction in a bigint") {
    val spark = graft.SparkTestSession.spark
    // row 125 is past the sample — on page_number with a total it sits
    // on an executor-fetched page
    for ((kind, path, pagination) <- everyKind;
         set <- Seq("scalar", "string", "null", "array", "fraction")) {
      val df = load(spark, rowsSource(path, set, pagination), pageSize = 10)
      val e = intercept[org.apache.spark.SparkException](df.count())
      assert(graft.errors.GraftError.from(e).category == "datatype", s"$kind/$set: $e")
    }
  }
}
