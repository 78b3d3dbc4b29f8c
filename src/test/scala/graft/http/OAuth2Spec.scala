package graft.http

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.HttpServer
import org.scalatest.funsuite.AnyFunSuite

import graft.HttpStub.respond
import graft.config.PipelineConfig
import graft.config.PipelineConfig.{OAuth2Conf, Retry}

/** OAuth2 client-credentials flow against a stub token endpoint +
  * protected API: grant encoding, token caching and expiry refresh,
  * 4xx fail-fast vs 5xx retry, env-indirected credentials, and the
  * end-to-end applyAuth → bearer → authorized page fetch path.
  */
class OAuth2Spec extends AnyFunSuite {

  private val retry = Retry(maxAttempts = 3, maxDelaySecs = 1, minDelaySecs = 0)

  private def withServer(f: (HttpServer, String) => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.start()
    try f(server, s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  private def readBody(ex: com.sun.net.httpserver.HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  test("token: client_credentials form POST, cached until expiry, refreshed after") {
    OAuth2.clearCache()
    withServer { (server, base) =>
      val calls = new AtomicInteger(0)
      @volatile var lastBody = ""
      server.createContext("/token", ex => {
        lastBody = readBody(ex)
        val n = calls.incrementAndGet()
        respond(ex, s"""{"access_token":"tok$n","token_type":"Bearer","expires_in":100}""")
      })
      val spec = OAuth2.TokenSpec(s"$base/token", "cid", "s e c+r&t",
        Some("read write"), retry)
      var now = 1000000L
      val clock = () => now
      assert(OAuth2.token(spec, clock) == "tok1")
      assert(lastBody == "grant_type=client_credentials&client_id=cid" +
        "&client_secret=s+e+c%2Br%26t&scope=read+write",
        s"form must URL-encode every field: $lastBody")
      // within the horizon: cache hit, no second POST
      now += 50000L
      assert(OAuth2.token(spec, clock) == "tok1" && calls.get() == 1)
      // inside the 30s refresh margin of the 100s expiry: re-fetch
      now += 25000L
      assert(OAuth2.token(spec, clock) == "tok2" && calls.get() == 2)
    }
  }

  test("token endpoint: 4xx fails fast with the body peek, 5xx retries") {
    OAuth2.clearCache()
    withServer { (server, base) =>
      server.createContext("/bad", ex =>
        respond(ex, """{"error":"invalid_client"}""", status = 401))
      val e = intercept[RuntimeException](OAuth2.token(
        OAuth2.TokenSpec(s"$base/bad", "c", "s", None, retry)))
      assert(e.getMessage.contains("401") &&
        e.getMessage.contains("invalid_client"))
      val calls = new AtomicInteger(0)
      server.createContext("/flaky", ex => {
        if (calls.incrementAndGet() < 3) respond(ex, "boom", status = 503)
        else respond(ex, """{"access_token":"ok","expires_in":60}""")
      })
      assert(OAuth2.token(
        OAuth2.TokenSpec(s"$base/flaky", "c", "s", None, retry)) == "ok")
      assert(calls.get() == 3, "5xx must retry with backoff")
    }
  }

  test("token endpoint: 429 retries after its Retry-After; errors name code and url") {
    OAuth2.clearCache()
    withServer { (server, base) =>
      val calls = new AtomicInteger(0)
      server.createContext("/token", ex => {
        if (calls.incrementAndGet() < 2) {
          ex.getResponseHeaders.set("Retry-After", "1")
          respond(ex, """{"error":"slow_down"}""", status = 429)
        } else respond(ex, """{"access_token":"ok","expires_in":60}""")
      })
      val t0 = System.nanoTime()
      assert(OAuth2.token(
        OAuth2.TokenSpec(s"$base/token", "c", "s", None, retry)) == "ok")
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      assert(calls.get() == 2, "429 must retry")
      // minDelaySecs = 0, so any wait >= ~1 s came from Retry-After: 1
      assert(elapsedMs >= 900L, s"Retry-After not honored: ${elapsedMs}ms")
      server.createContext("/deny", ex =>
        respond(ex, """{"error":"invalid_request"}""", status = 400))
      val e = intercept[RuntimeException](OAuth2.token(
        OAuth2.TokenSpec(s"$base/deny", "c", "s", None, retry)))
      assert(e.getMessage == s"""HTTP 400 from $base/deny: {"error":"invalid_request"}""")
    }
  }

  test("applyAuth: oauth2 block resolves env credentials and authorizes the page fetch") {
    OAuth2.clearCache()
    withServer { (server, base) =>
      server.createContext("/token", ex => {
        val body = readBody(ex)
        assert(body.contains("client_id=envid") &&
          body.contains("client_secret=envsecret"), body)
        respond(ex, """{"access_token":"T123","expires_in":60}""")
      })
      server.createContext("/rows", ex => {
        val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
        if (!auth.contains("Bearer T123")) respond(ex, "denied", status = 401)
        else respond(ex, """[{"id":1},{"id":2}]""")
      })
      val cfg = PipelineConfig.parse(
        s"""sources:
           |  - name: api
           |    url: $base/rows
           |    oauth2:
           |      token_url: $base/token
           |      client_id_env: OID
           |      client_secret_env: OSEC
           |""".stripMargin)
      val env = Map("OID" -> "envid", "OSEC" -> "envsecret")
      val resolved = OAuth2.applyAuth(cfg.source("api"), env.get)
      assert(resolved.bearerToken.contains("T123"))
      val spark = graft.SparkTestSession.spark
      val df = HttpJsonSource.load(spark, resolved)
      assert(df.count() == 2)
      // missing secret env is a config error naming the variable
      val miss = intercept[IllegalArgumentException](
        OAuth2.applyAuth(cfg.source("api"), Map("OID" -> "x").get))
      assert(miss.getMessage.contains("OSEC"))
    }
  }

  test("token cache is scoped: same client with different scopes holds distinct grants") {
    OAuth2.clearCache()
    withServer { (server, base) =>
      val calls = new AtomicInteger(0)
      server.createContext("/token", ex => {
        val body = readBody(ex)
        val n = calls.incrementAndGet()
        val scope = body.split("&").collectFirst {
          case kv if kv.startsWith("scope=") => kv.drop(6)
        }.getOrElse("none")
        respond(ex, s"""{"access_token":"$scope-$n","expires_in":100}""")
      })
      def spec(scope: Option[String]) =
        OAuth2.TokenSpec(s"$base/token", "cid", "sec", scope, retry)
      assert(OAuth2.token(spec(Some("read"))) == "read-1")
      assert(OAuth2.token(spec(Some("write"))) == "write-2",
        "a different scope must fetch its own token, not reuse read's")
      assert(OAuth2.token(spec(None)) == "none-3")
      // each scope now cache-hits its own entry
      assert(OAuth2.token(spec(Some("read"))) == "read-1")
      assert(OAuth2.token(spec(Some("write"))) == "write-2")
      assert(calls.get() == 3)
    }
  }

  test("data-API 401 under oauth evicts the cached token and retries once on a fresh one") {
    OAuth2.clearCache()
    withServer { (server, base) =>
      val tokenCalls = new AtomicInteger(0)
      server.createContext("/token", ex => {
        val n = tokenCalls.incrementAndGet()
        respond(ex, s"""{"access_token":"tok$n","expires_in":3600}""")
      })
      val rowCalls = new AtomicInteger(0)
      server.createContext("/rows", ex => {
        rowCalls.incrementAndGet()
        // tok1 is "revoked": only the refreshed token is accepted
        val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
        if (auth.contains("Bearer tok2")) respond(ex, """[{"id":1}]""")
        else respond(ex, "revoked", status = 401)
      })
      val spec = HttpJsonSource.FetchSpec(s"$base/rows", Nil, Nil, None, retry,
        oauth = Some(OAuth2.TokenSpec(s"$base/token", "cid", "sec", None, retry)))
      val rows = HttpJsonSource.fetchPage(
        HttpJsonSource.buildClient(), spec, Seq.empty)
      assert(rows == Seq("""{"id":1}"""))
      assert(tokenCalls.get() == 2, "the 401 must force exactly one re-fetch")
      assert(rowCalls.get() == 2, "one rejected page + one refreshed retry")
      // a SECOND 401 (token still rejected) fails fast, no refresh loop
      OAuth2.clearCache()
      tokenCalls.set(10) // server now issues tok11, tok12... none == tok2
      val e = intercept[RuntimeException](HttpJsonSource.fetchPage(
        HttpJsonSource.buildClient(), spec, Seq.empty))
      assert(e.getMessage.contains("401"))
      assert(tokenCalls.get() == 12, "refresh happens once, then fail fast")
    }
  }

  test("config: oauth2 is mutually exclusive with static bearer tokens") {
    val e = intercept[IllegalArgumentException](PipelineConfig.parse(
      """sources:
        |  - name: api
        |    url: http://x/
        |    bearer_token: abc
        |    oauth2:
        |      token_url: http://x/token
        |      client_id: c
        |      client_secret: s
        |""".stripMargin))
    assert(e.getMessage.contains("mutually exclusive"))
    // a plain oauth2 block parses, with scope optional
    val cfg = PipelineConfig.parse(
      """sources:
        |  - name: api
        |    url: http://x/
        |    oauth2:
        |      token_url: http://x/token
        |      client_id: c
        |      client_secret: s
        |      scope: read
        |""".stripMargin)
    val o = cfg.source("api").oauth2.get
    assert(o == OAuth2Conf("http://x/token", Some("c"), None, Some("s"),
      None, Some("read")))
    assert(o.resolvedClientId() == "c" && o.resolvedClientSecret() == "s")
  }
}
