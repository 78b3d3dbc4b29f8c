package graft.writer

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.HttpStub.respond
import graft.config.PipelineConfig.Retry
import graft.http.OAuth2

/** BigQuery writer e2e against a stub `jobs.query` endpoint — the
  * whole distributed write path runs for real (normalize, partition
  * batches, literal SQL, bearer auth, job-error surfacing); only the
  * Google service is stubbed. The reference plans this writer and
  * never built it (/root/reference/README.md:120).
  */
class BigQueryWriterSpec extends AnyFunSuite {

  private lazy val spark = graft.SparkTestSession.spark

  private def withServer(f: (HttpServer, String) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.start()
    try f(server, s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  private def queryOf(body: String): String =
    mapper.readTree(body).get("query").asText()

  test("append: CREATE once on the driver, INSERT batches per partition") {
    import spark.implicits._
    val df = Seq((1L, "it's a", Seq(1L, 2L)), (2L, "b", Seq(3L)))
      .toDF("id", "name", "tags")

    withServer { (server, base) =>
      val queries = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      @volatile var lastAuth = ""
      server.createContext("/bigquery/v2/projects/p1/queries", ex => {
        lastAuth = ex.getRequestHeaders.getFirst("Authorization")
        queries.add(queryOf(readBody(ex)))
        respond(ex, """{"jobComplete": true}""")
      })

      val w = new BigQueryWriter(base, "p1", "ds", "t",
        BigQueryWriter.StaticToken("tok-1"))
      val stats = w.write(df, WriteMode.Append)
      assert(stats.rowsWritten == 2)
      assert(lastAuth == "Bearer tok-1")

      import scala.jdk.CollectionConverters._
      val qs = queries.asScala.toList
      val creates = qs.filter(_.startsWith("CREATE TABLE"))
      assert(creates == List("CREATE TABLE IF NOT EXISTS `ds.t` " +
        "(`id` INT64, `name` STRING, `tags` JSON)"))
      val inserts = qs.filter(_.startsWith("INSERT"))
      // every row lands exactly once, nested column as a JSON literal,
      // quote escaped the GoogleSQL way
      assert(inserts.exists(_.contains("""(1, 'it\'s a', JSON '[1,2]')""")))
      assert(inserts.exists(_.contains("(2, 'b', JSON '[3]')")))
      assert(inserts.forall(_.startsWith(
        "INSERT INTO `ds.t` (`id`, `name`, `tags`) VALUES ")))
    }
  }

  test("merge mode posts MERGE and requires a key; job errors surface") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "v")

    withServer { (server, base) =>
      val queries = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      server.createContext("/bigquery/v2/projects/p1/queries", ex => {
        val q = queryOf(readBody(ex))
        queries.add(q)
        if (q.startsWith("MERGE") && q.contains("boom"))
          respond(ex, """{"errors": [{"reason": "invalidQuery"}]}""")
        else respond(ex, """{"jobComplete": true}""")
      })

      val w = new BigQueryWriter(base, "p1", "ds", "t",
        BigQueryWriter.StaticToken("tok"), primaryKey = Seq("id"))
      assert(w.write(df, WriteMode.Merge).rowsWritten == 1)
      import scala.jdk.CollectionConverters._
      // the row lands in the stage; the one MERGE reads it from there
      val insert = queries.asScala.find(_.startsWith("INSERT")).get
      assert(insert.matches("INSERT INTO `ds\\.t__stage_\\w+` \\(`id`, `v`\\) VALUES \\(1, 'a'\\)"),
        insert)
      val merge = queries.asScala.find(_.startsWith("MERGE")).get
      assert(merge.startsWith("MERGE `ds.t` AS t USING (SELECT * EXCEPT (__rn)"))
      assert(merge.contains("WHEN NOT MATCHED THEN INSERT (`id`, `v`)"))

      intercept[IllegalArgumentException] {
        new BigQueryWriter(base, "p1", "ds", "t",
          BigQueryWriter.StaticToken("tok")).write(df, WriteMode.Merge)
      }

      // a job-level error (HTTP 200 + errors array) on the MERGE fails
      // the write, and the WriterError must sit in the cause chain
      queries.clear()
      val err = intercept[Exception] {
        new BigQueryWriter(base, "p1", "ds", "boom",
          BigQueryWriter.StaticToken("tok"), primaryKey = Seq("id"))
          .write(Seq((9L, "boom")).toDF("id", "v"), WriteMode.Merge)
      }
      val chain = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).toList
      assert(chain.exists(_.isInstanceOf[graft.errors.GraftError.WriterError]),
        chain.map(_.getClass.getName))
      assert(chain.exists(t =>
        Option(t.getMessage).exists(_.contains("invalidQuery"))))
      // the failed write still drops its stage
      assert(queries.asScala.last.startsWith("DROP TABLE IF EXISTS `ds.boom__stage_"))
    }
  }

  test("oauth auth: fetches a token, retries once with fresh grant on 401") {
    import spark.implicits._
    OAuth2.clearCache()
    val df = Seq((1L, "a")).toDF("id", "v")

    withServer { (server, base) =>
      val tokenCalls = new AtomicInteger(0)
      server.createContext("/token", ex => {
        readBody(ex)
        val n = tokenCalls.incrementAndGet()
        respond(ex,
          s"""{"access_token":"t$n","token_type":"Bearer","expires_in":3600}""")
      })
      val rejected = new AtomicInteger(0)
      server.createContext("/bigquery/v2/projects/p1/queries", ex => {
        val auth = ex.getRequestHeaders.getFirst("Authorization")
        readBody(ex)
        // the first grant is always rejected: simulates a token the
        // API considers revoked even though it just minted
        if (auth == "Bearer t1") {
          rejected.incrementAndGet()
          respond(ex, """{"error": "expired"}""", status = 401)
        } else respond(ex, """{"jobComplete": true}""")
      })

      val spec = OAuth2.TokenSpec(s"$base/token", "cid", "secret", None,
        Retry(maxAttempts = 2, maxDelaySecs = 1, minDelaySecs = 0))
      val w = new BigQueryWriter(base, "p1", "ds", "t",
        BigQueryWriter.OAuth(spec))
      val stats = w.write(df, WriteMode.Append)
      assert(stats.rowsWritten == 1)
      assert(rejected.get() >= 1) // the 401 path actually exercised
      assert(tokenCalls.get() >= 2) // invalidate forced a re-grant
    }
  }

  test("429/503 and the concurrent-DML abort retry with backoff; requestId pins exactly-once") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "v").coalesce(1)
    val slept = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val prevSleeper = BigQueryWriter.sleeper
    BigQueryWriter.sleeper = ms => { slept.add(ms); () }
    try withServer { (server, base) =>
      val insertAttempts = new AtomicInteger(0)
      val requestIds = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      server.createContext("/bigquery/v2/projects/p1/queries", ex => {
        val body = readBody(ex)
        val node = mapper.readTree(body)
        val q = node.get("query").asText()
        if (q.startsWith("INSERT")) {
          requestIds.add(node.get("requestId").asText())
          insertAttempts.incrementAndGet() match {
            case 1 => respond(ex, """{"error":"slow down"}""", status = 429)
            case 2 => respond(ex, """{"error":"transient"}""", status = 503)
            case 3 => respond(ex,
              """{"errors":[{"reason":"invalidQuery","message":""" +
                """"Transaction aborted due to concurrent update of table ds.t"}]}""")
            case _ => respond(ex, """{"jobComplete": true}""")
          }
        } else respond(ex, """{"jobComplete": true}""")
      })
      val w = new BigQueryWriter(base, "p1", "ds", "t",
        BigQueryWriter.StaticToken("tok"))
      val stats = w.write(df, WriteMode.Append)
      // three injected faults, then success: the row is counted ONCE
      assert(stats.rowsWritten == 1)
      assert(insertAttempts.get() == 4)
      // requestId lifecycle: the AMBIGUOUS 429/503 retries reuse the
      // id (server-side dedup = exactly-once), but the concurrent-
      // update retry saw a DEFINITIVE job failure — BigQuery's dedup
      // would replay that cached failure for the same id, so the
      // final attempt must carry a FRESH one
      import scala.jdk.CollectionConverters._
      val ids = requestIds.asScala.toList
      assert(ids.take(3).toSet.size == 1,
        "5xx retries must reuse the requestId")
      assert(ids(3) != ids.head,
        "a job-error retry must mint a fresh requestId or it replays the dedup-cached failure")
      // backoff actually engaged, exponentially
      assert(slept.asScala.toList == List(200L, 400L, 800L))
    } finally BigQueryWriter.sleeper = prevSleeper
  }

  test("a 429's Retry-After stretches the backoff, capped at 300 s") {
    val slept = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val prevSleeper = BigQueryWriter.sleeper
    BigQueryWriter.sleeper = ms => { slept.add(ms); () }
    try withServer { (server, base) =>
      val calls = new AtomicInteger(0)
      server.createContext("/bigquery/v2/projects/p1/queries", ex => {
        readBody(ex)
        calls.incrementAndGet() match {
          case 1 =>
            ex.getResponseHeaders.set("Retry-After", "2")
            respond(ex, """{"error":"slow down"}""", status = 429)
          case 2 =>
            ex.getResponseHeaders.set("Retry-After", "86400")
            respond(ex, """{"error":"down"}""", status = 503)
          case 3 => respond(ex, """{"error":"slow down"}""", status = 429)
          case _ => respond(ex, """{"jobComplete": true}""")
        }
      })
      BigQueryWriter.post(base, "p1", BigQueryWriter.StaticToken("tok"),
        "INSERT INTO x VALUES (1)", 5, maxAttempts = 4)
      import scala.jdk.CollectionConverters._
      // the header wins over the 200 ms first backoff, a hostile one
      // is capped, and a header-less 429 keeps the computed backoff
      assert(slept.asScala.toList == List(2000L, 300000L, 800L))
    } finally BigQueryWriter.sleeper = prevSleeper
  }

  test("attempts exhaust: a persistent 503 fails instead of spinning") {
    val prevSleeper = BigQueryWriter.sleeper
    BigQueryWriter.sleeper = _ => ()
    try withServer { (server, base) =>
      val calls = new AtomicInteger(0)
      server.createContext("/bigquery/v2/projects/p1/queries", ex => {
        readBody(ex); calls.incrementAndGet()
        respond(ex, """{"error":"down"}""", status = 503)
      })
      val err = intercept[graft.errors.GraftError.WriterError] {
        BigQueryWriter.post(base, "p1", BigQueryWriter.StaticToken("tok"),
          "INSERT INTO x VALUES (1)", 5, maxAttempts = 3)
      }
      assert(calls.get() == 3)
      assert(err.getMessage.contains("503"))
    } finally BigQueryWriter.sleeper = prevSleeper
  }

  test("jobComplete=false polls getQueryResults; a job that then fails is not counted") {
    val prevSleeper = BigQueryWriter.sleeper
    BigQueryWriter.sleeper = _ => ()
    try withServer { (server, base) =>
      val polls = new AtomicInteger(0)
      server.createContext("/bigquery/v2/projects/p1/queries/job-slow", ex => {
        readBody(ex)
        // two pending polls, then complete
        if (polls.incrementAndGet() < 3)
          respond(ex, """{"jobComplete": false, "jobReference":{"jobId":"job-slow"}}""")
        else respond(ex, """{"jobComplete": true}""")
      })
      server.createContext("/bigquery/v2/projects/p1/queries/job-doom", ex => {
        readBody(ex)
        respond(ex, """{"jobComplete": true, """ +
          """"errors":[{"reason":"invalidQuery","message":"late failure"}]}""")
      })
      server.createContext("/bigquery/v2/projects/p1/queries", ex => {
        val node = mapper.readTree(readBody(ex))
        // the request asks for a server-side wait
        assert(node.has("timeoutMs") && node.get("timeoutMs").asLong() >= 1000L)
        val q = node.get("query").asText()
        val job = if (q.contains("doom")) "job-doom" else "job-slow"
        respond(ex,
          s"""{"jobComplete": false, "jobReference":{"jobId":"$job"}}""")
      })
      // slow-but-successful: polls until complete, then returns
      BigQueryWriter.post(base, "p1", BigQueryWriter.StaticToken("tok"),
        "INSERT INTO x VALUES (1)", 5)
      assert(polls.get() == 3)
      // slow-then-FAILED: the late job error surfaces — a slow DML
      // that later fails can never be silently counted as written
      val err = intercept[graft.errors.GraftError.WriterError] {
        BigQueryWriter.post(base, "p1", BigQueryWriter.StaticToken("tok"),
          "INSERT INTO doom VALUES (1)", 5)
      }
      assert(err.getMessage.contains("late failure"))
    } finally BigQueryWriter.sleeper = prevSleeper
  }

  test("staged merge: partitions append to a stage, ONE driver MERGE, stage dropped") {
    import spark.implicits._
    // several partitions must not race MERGEs on the target: they
    // append to a stage, and the driver issues one MERGE
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (1L, "a2"))
      .toDF("id", "v").repartition(4)
    withServer { (server, base) =>
      val queries = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      server.createContext("/bigquery/v2/projects/p1/queries", ex => {
        queries.add(queryOf(readBody(ex)))
        respond(ex, """{"jobComplete": true}""")
      })
      val w = new BigQueryWriter(base, "p1", "ds", "t",
        BigQueryWriter.StaticToken("tok"), primaryKey = Seq("id"))
      val stats = w.write(df, WriteMode.Merge)
      assert(stats.rowsWritten == 4)
      import scala.jdk.CollectionConverters._
      val qs = queries.asScala.toList
      val merges = qs.filter(_.startsWith("MERGE"))
      assert(merges.size == 1, "exactly ONE merge statement — no DML contention")
      val stage = qs.collectFirst {
        case q if q.startsWith("CREATE TABLE IF NOT EXISTS `ds.t__stage_") =>
          q.stripPrefix("CREATE TABLE IF NOT EXISTS `").takeWhile(_ != '`')
      }.get
      // all inserts hit the stage; the merge reads the stage,
      // key-deduplicated; the stage is dropped at the end
      val inserts = qs.filter(_.startsWith("INSERT"))
      assert(inserts.nonEmpty)
      assert(inserts.forall(_.startsWith(s"INSERT INTO `$stage`")))
      assert(merges.head.startsWith("MERGE `ds.t` AS t USING"))
      assert(merges.head.contains(s"FROM `$stage`"))
      assert(merges.head.contains("ROW_NUMBER() OVER (PARTITION BY `id`)"))
      assert(qs.last == s"DROP TABLE IF EXISTS `$stage`")
    }
  }

  test("replace: truncate-then-load; the first run's missing table is created") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    withServer { (server, base) =>
      val queries = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      server.createContext("/bigquery/v2/projects/p1/queries", ex => {
        val q = queryOf(readBody(ex))
        queries.add(q)
        if (q.startsWith("TRUNCATE"))
          respond(ex, """{"errors": [{"reason": "notFound"}]}""")
        else respond(ex, """{"jobComplete": true}""")
      })
      val w = new BigQueryWriter(base, "p1", "ds", "t",
        BigQueryWriter.StaticToken("tok"))
      assert(w.replace(df).rowsWritten == 2)
      import scala.jdk.CollectionConverters._
      val qs = queries.asScala.toList
      assert(qs.take(2) == List("TRUNCATE TABLE `ds.t`",
        "CREATE TABLE IF NOT EXISTS `ds.t` (`id` INT64, `v` STRING)"), qs)
      val ids = qs.drop(2).flatMap { q =>
        assert(q.startsWith("INSERT INTO `ds.t` (`id`, `v`) VALUES "), q)
        "\\((\\d+), '".r.findAllMatchIn(q).map(_.group(1).toLong)
      }
      assert(ids.sorted == List(1L, 2L))
    }
  }

  test("rendered-size estimate dominates the actual escaped literal UTF-8 length") {
    // two ways to undercount, both must stay closed: control-char
    // strings expand 6x under \\uXXXX escaping, and non-ASCII text
    // costs up to 3 UTF-8 bytes per UTF-16 CHAR (a CJK batch counted
    // by chars renders 3x past the 1 MB statement cap)
    val samples = Seq(
      "plain text", "it's \\ quoted", "tab\there\nand\rthere",
      "\u0001\u0002\u0003 bells", "\u0000" * 100, "mixed 'q' \u0007 \\ end",
      "\u6570\u636e\u7ba1\u9053\u4e2d\u6587\u8bed\u6599\u6b63\u6587" * 50,
      "d\u00e9j\u00e0 vu \u2014 na\u00efve caf\u00e9",
      "\u65e5\u672c\u8a9e '\u3068' \\ \u6539\u884c\n\u3067\u3059")
    samples.foreach { s =>
      val actualUtf8 = BqSql.escapeString(s)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      assert(BigQueryWriter.renderedStringBytes(s) >= actualUtf8,
        s"undercounted: ${s.take(20)}")
      assert(BigQueryWriter.renderedStringBytes(s) == actualUtf8,
        s"estimate should be exact for: ${s.take(20)}")
    }
    // astral plane (surrogate pairs): 4 true UTF-8 bytes, estimated
    // 6 -- conservative over, never under
    val emoji = "data \ud83d\ude00 rows"
    assert(BigQueryWriter.renderedStringBytes(emoji) >= BqSql.escapeString(emoji)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8).length)
  }

  test("an HTTP-level 404 (wrong endpoint/project) propagates through truncate") {
    withServer { (server, base) =>
      // no context for this project path → the JDK server's own 404,
      // whose body also says "Not Found" — the old message-text match
      // would have swallowed it
      val w = new BigQueryWriter(base, "wrong-project", "ds", "t",
        BigQueryWriter.StaticToken("tok"))
      intercept[graft.errors.GraftError.WriterError] { w.truncate() }
    }
  }

  test("truncate is idempotent on a missing table, like the Postgres 42P01 swallow") {
    withServer { (server, base) =>
      val calls = new AtomicInteger(0)
      server.createContext("/bigquery/v2/projects/p1/queries", ex => {
        val q = queryOf(readBody(ex))
        calls.incrementAndGet()
        if (q.startsWith("TRUNCATE"))
          respond(ex,
            """{"errors": [{"reason": "notFound", """ +
              """"message": "Not found: Table p1:ds.missing"}]}""")
        else if (q.contains("boom"))
          respond(ex, """{"errors": [{"reason": "invalidQuery"}]}""")
        else respond(ex, """{"jobComplete": true}""")
      })
      val w = new BigQueryWriter(base, "p1", "ds", "missing",
        BigQueryWriter.StaticToken("tok"))
      w.truncate() // must not throw
      assert(calls.get() == 1)
      // only notFound is swallowed — other failures still surface
      intercept[graft.errors.GraftError.WriterError] {
        BigQueryWriter.post(base, "p1",
          BigQueryWriter.StaticToken("tok"), "SELECT boom", 5)
      }
    }
  }

  test("truncate swallows the REAL service's missing-table shape: HTTP 404 + reason notFound") {
    // real BigQuery reports a missing table as an HTTP 404 whose body
    // carries error.errors[].reason == "notFound" — not as a 2xx job
    // error (the stub-only shape the old swallow handled). Idempotent
    // truncate must survive the real shape; a reason-LESS 404 (wrong
    // endpoint) must still throw.
    withServer { (server, base) =>
      server.createContext("/bigquery/v2/projects/p1/queries", ex => {
        val q = queryOf(readBody(ex))
        if (q.startsWith("TRUNCATE"))
          respond(ex,
            """{"error": {"code": 404, "message": "Not found: Table p1:ds.gone", """ +
              """"errors": [{"reason": "notFound", "message": "Not found: Table p1:ds.gone"}]}}""",
            status = 404)
        else respond(ex, """{"jobComplete": true}""")
      })
      val w = new BigQueryWriter(base, "p1", "ds", "gone",
        BigQueryWriter.StaticToken("tok"))
      w.truncate() // must not throw

      // same 404 status with an unparseable / reason-less body → throws
      server.createContext("/bigquery/v2/projects/p2/queries", ex => {
        readBody(ex)
        respond(ex, """<html>Not Found</html>""", status = 404)
      })
      intercept[graft.errors.GraftError.WriterError] {
        new BigQueryWriter(base, "p2", "ds", "gone",
          BigQueryWriter.StaticToken("tok")).truncate()
      }
    }
  }

  test("transport I/O faults retry with backoff, then surface as WriterError") {
    // connection refused is an IOException, not an HTTP status — it
    // must ride the same backoff loop as a 5xx (ambiguous fault), not
    // escape post() raw on the first send
    val prevSleeper = BigQueryWriter.sleeper
    val slept = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    BigQueryWriter.sleeper = ms => { slept.add(ms); () }
    try {
      // grab a port with no listener: bind, read the port, release
      val sock = new java.net.ServerSocket(0)
      val deadPort = sock.getLocalPort
      sock.close()
      val err = intercept[graft.errors.GraftError.WriterError] {
        BigQueryWriter.post(s"http://127.0.0.1:$deadPort", "p1",
          BigQueryWriter.StaticToken("tok"), "SELECT 1", 5, maxAttempts = 3)
      }
      assert(err.getMessage.contains("I/O failure"))
      import scala.jdk.CollectionConverters._
      assert(slept.asScala.size == 2) // 3 attempts, 2 backoffs between
    } finally BigQueryWriter.sleeper = prevSleeper
  }
}
