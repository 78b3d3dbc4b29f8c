package graft.http

import java.net.URI
import java.net.http.{HttpClient, HttpRequest}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper

import graft.config.PipelineConfig.{Retry, Source}

/** OAuth2 client-credentials token acquisition for the HTTP source —
  * the reference lists OAuth2 as planned and unimplemented
  * (/root/reference/README.md:121-124); this wires the standard
  * RFC-6749 §4.4 flow into the existing bearer plumbing: the fetched
  * access token simply BECOMES the source's bearer token, so every
  * downstream path (header build, invalid-char guard, executor
  * fan-out) is the one already tested.
  *
  * Tokens cache per (token_url, client_id) with their `expires_in`
  * horizon (default 3600 s when the server omits it) minus a 30 s
  * refresh margin — a pipeline run touching one API N times fetches
  * one token, and a token expiring mid-session refreshes on the next
  * source resolution rather than failing a page fetch. The token
  * POST goes through the page fetch's retrying
  * [[HttpJsonSource.exchange]]: 5xx, 429 and IO errors back off and
  * retry (honouring `Retry-After`), any other 4xx fails fast as
  * `HTTP <code> from <token_url>: <body peek>` (a wrong secret should
  * read as a config error, not a transient).
  */
object OAuth2 {

  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass)

  final case class TokenSpec(
      tokenUrl: String, clientId: String, clientSecret: String,
      scope: Option[String], retry: Retry)

  private final case class Cached(token: String, expiresAtMs: Long)

  // keyed on (token_url, client_id, scope): the SAME client asking for
  // different scopes holds DIFFERENT grants — sharing one entry would
  // silently run requests under whichever scope fetched first
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Option[String]), Cached]()

  private[http] val refreshMarginMs = 30000L

  private def keyOf(spec: TokenSpec) =
    (spec.tokenUrl, spec.clientId, spec.scope)

  /** Drop every cached token (tests; credential rotation). */
  def clearCache(): Unit = cache.clear()

  /** Drop one cached token — the 401 recovery hook: a token the data
    * API rejects (revoked server-side, clock skew past the refresh
    * margin) is evicted so the next [[token]] call fetches fresh.
    */
  private[graft] def invalidate(spec: TokenSpec): Unit =
    cache.remove(keyOf(spec))

  /** A valid access token for `spec` — cached until its expiry
    * horizon minus the refresh margin, then re-fetched. The
    * fetch-or-reuse is atomic per key (`compute` holds the entry):
    * concurrent resolvers of one spec block on a single POST instead
    * of double-fetching through a get/put race.
    */
  def token(spec: TokenSpec,
      nowMs: () => Long = () => System.currentTimeMillis()): String =
    cache.compute(keyOf(spec), (_, v) =>
      if (v != null && v.expiresAtMs - refreshMarginMs > nowMs()) v
      else fetchToken(spec, nowMs)).token

  private def fetchToken(spec: TokenSpec, nowMs: () => Long): Cached = {
    val form = Seq(
      "grant_type" -> "client_credentials",
      "client_id" -> spec.clientId,
      "client_secret" -> spec.clientSecret) ++ spec.scope.map("scope" -> _)
    val body = form.map { case (k, v) =>
      s"${HttpJsonSource.encode(k)}=${HttpJsonSource.encode(v)}" }.mkString("&")
    val client = HttpClient.newBuilder()
      .connectTimeout(HttpJsonSource.connectTimeout).build()
    val req = HttpRequest.newBuilder(URI.create(spec.tokenUrl))
      .timeout(HttpJsonSource.requestTimeout)
      .header("Content-Type", "application/x-www-form-urlencoded")
      .header("Accept", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .build()
    val in = HttpJsonSource.exchange(client, spec.retry, () => req, None).body()
    try parseToken(new String(in.readAllBytes(), StandardCharsets.UTF_8), spec, nowMs)
    finally in.close()
  }

  private def parseToken(body: String, spec: TokenSpec,
      nowMs: () => Long): Cached = {
    val node = new ObjectMapper().readTree(body)
    val tok = Option(node.get("access_token")).map(_.asText())
      .filter(_.nonEmpty).getOrElse(throw new RuntimeException(
        s"oauth2 token endpoint ${spec.tokenUrl} returned no " +
          s"access_token: ${body.take(200)}"))
    val expiresIn = Option(node.get("expires_in")).map(_.asLong(3600L))
      .getOrElse(3600L)
    log.debug("oauth2.token url={} expires_in={}s", spec.tokenUrl,
      expiresIn.toString)
    Cached(tok, nowMs() + expiresIn * 1000)
  }

  /** Resolve a source's auth: an `oauth2:` block fetches (or reuses)
    * a token — validating the credentials up front, so a wrong secret
    * reads as a config error at resolution, not a mid-run page
    * failure — and installs it as the bearer; otherwise the static
    * bearer env-indirection applies. The CLI's one auth entry point.
    *
    * The returned source ALSO carries its oauth2 block with the env
    * indirection resolved to inline credentials: the fetch layer
    * rebuilds a [[TokenSpec]] from it and re-resolves the token
    * per-request through the cache ([[HttpJsonSource.effectiveHeaders]]),
    * so a pipeline outliving `expires_in` refreshes mid-run instead
    * of sending the expired bearer until the next source resolution.
    */
  def applyAuth(source: Source,
      getenv: String => Option[String] = sys.env.get,
      nowMs: () => Long = () => System.currentTimeMillis()): Source =
    source.oauth2 match {
      case Some(o) =>
        val id = o.resolvedClientId(getenv)
        val secret = o.resolvedClientSecret(getenv)
        val tok = token(TokenSpec(o.tokenUrl, id, secret, o.scope,
          source.retry), nowMs)
        source.copy(bearerToken = Some(tok),
          oauth2 = Some(o.copy(clientId = Some(id), clientIdEnv = None,
            clientSecret = Some(secret), clientSecretEnv = None)))
      case None => source.withBearerResolved(getenv)
    }
}
