package graft.sources.http

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.SparkSession
import graft.sources.odata.ODataJson

/** Secret registry + OAuth2 — the port of the reference's secret surface
  * (SURVEY.md §2.7; `src/secret_functions.cpp`, `src/oauth2_flow_v2.cpp`).
  *
  * Secrets live in Spark conf under `spark.graft.secret.<name>.<key>`:
  * {{{
  * spark.conf.set("spark.graft.secret.bc.type", "http_bearer")
  * spark.conf.set("spark.graft.secret.bc.token", "...")
  * spark.conf.set("spark.graft.secret.bc.scope", "https://api.businesscentral...")
  * }}}
  * Lookup by URL picks the secret with the LONGEST matching `scope` prefix
  * (reference `HttpAuthParams::FromDuckDbSecrets`,
  * `odata_read_functions.cpp:1802-1808`); an explicitly named secret wins
  * (`web_functions.cpp:194-246`).
  */
object SecretRegistry {

  final case class Secret(name: String, kind: String, props: Map[String, String]) {
    def auth: HttpAuth = kind match {
      case "http_basic" =>
        HttpAuth(basicUser = props.get("user"), basicPassword = props.get("password"))
      case "oauth2" => // client-credentials, token fetched lazily + cached;
        // `token_dir` opts into cross-session persistence (see OAuth2)
        HttpAuth(bearer = Some(OAuth2.clientCredentialsToken(
          props("token_endpoint"), props("client_id"),
          props.getOrElse("client_secret", ""), props.get("oauth_scope"),
          persistDir = props.get("token_dir"))))
      case _ => HttpAuth(bearer = props.get("token"))
    }
  }

  private def all(spark: SparkSession): Seq[Secret] = {
    val prefix = "spark.graft.secret."
    val kvs = spark.conf.getAll.filter(_._1.startsWith(prefix))
    kvs.groupBy { case (k, _) => k.stripPrefix(prefix).split('.').head }
      .map { case (name, entries) =>
        val props = entries.map { case (k, v) =>
          k.stripPrefix(prefix + name + ".") -> v
        }
        Secret(name, props.getOrElse("type", "http_bearer"), props)
      }.toSeq
  }

  def byName(spark: SparkSession, name: String): Option[Secret] =
    all(spark).find(_.name == name)

  /** Longest-scope-prefix match. */
  def forUrl(spark: SparkSession, url: String): Option[Secret] =
    all(spark)
      .filter(s => s.props.get("scope").exists(url.startsWith))
      .sortBy(-_.props("scope").length)
      .headOption

  def authFor(spark: SparkSession, url: String, named: Option[String] = None): HttpAuth =
    named.flatMap(byName(spark, _)).orElse(forUrl(spark, url))
      .map(_.auth).getOrElse(HttpAuth())

  /** A catalog's or sink's credentials for `url` from its lower-cased
    * options: explicit `bearertoken` or `user`/`password` win; otherwise the
    * `secret` option or the registry scope-matches (reference secret
    * resolution order). */
  def authFrom(opts: Map[String, String], url: String): HttpAuth = {
    val explicit = HttpAuth(opts.get("bearertoken"), opts.get("user"), opts.get("password"))
    if (explicit.bearer.isDefined || explicit.basicUser.isDefined) explicit
    else authFor(SparkSession.active, url, opts.get("secret"))
  }
}

/** OAuth2: client-credentials (machine auth) and the full PKCE
  * authorization-code flow (reference `src/oauth2_flow_v2.cpp:46,78-116` +
  * `oauth2_server.cpp`): verifier/challenge math, a loopback callback server
  * for the redirect, and the code→token exchange. Tokens are cached per
  * endpoint+client until expiry, like the reference persists refreshed
  * tokens. */
object OAuth2 {

  private case class Tok(value: String, expiresAt: Long)
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Tok]()

  /** Test hook: forget in-memory tokens (simulates a fresh JVM). */
  private[graft] def clearMemoryCache(): Unit = cache.clear()

  /** Cross-session token persistence (reference: refreshed tokens are
    * written back into the secret, `src/oauth2_flow_v2.cpp` — DuckDB secrets
    * are files; graft's conf-backed secrets are not, so persistence is an
    * explicit `token_dir`). Files live under a Hadoop-FS path (local, hdfs,
    * s3a all work — same pattern as the ODP state store), named by the
    * SHA-256 of the cache key so neither endpoint nor client id leak into
    * file names. Securing the directory is the operator's responsibility,
    * exactly like the reference's secret files. A persisted live token is
    * reused by executors and across JVM restarts — the token endpoint is
    * hit once per expiry window, not once per session. */
  private def tokenFile(dir: String, key: String): org.apache.hadoop.fs.Path = {
    val h = MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(32)
    new org.apache.hadoop.fs.Path(dir, s"tok-$h.json")
  }

  private def fsFor(p: org.apache.hadoop.fs.Path) = {
    val conf = SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    p.getFileSystem(conf)
  }

  private def loadPersisted(dir: String, key: String): Option[Tok] =
    try {
      val p = tokenFile(dir, key)
      val fs = fsFor(p)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val n = try ODataJson.parse(new String(in.readAllBytes(), StandardCharsets.UTF_8))
        finally in.close()
        Some(Tok(n.get("access_token").asText, n.get("expires_at").asLong))
      }
    } catch { case _: Exception => None } // unreadable/corrupt -> refetch

  private def persist(dir: String, key: String, t: Tok): Unit =
    try {
      val p = tokenFile(dir, key)
      val fs = fsFor(p)
      fs.mkdirs(p.getParent)
      val out = fs.create(p, true)
      try out.write(
        s"""{"access_token":${graft.writes.JsonEncode.str(t.value)},"expires_at":${t.expiresAt}}"""
          .getBytes(StandardCharsets.UTF_8))
      finally out.close()
    } catch { case _: Exception => () } // persistence is best-effort

  def clientCredentialsToken(tokenEndpoint: String, clientId: String,
                             clientSecret: String, scope: Option[String],
                             http: HttpCore = HttpCore.shared,
                             persistDir: Option[String] = None): String = {
    val key = s"$tokenEndpoint|$clientId|${scope.getOrElse("")}"
    val now = System.currentTimeMillis()
    val hit = cache.get(key)
    if (hit != null && hit.expiresAt > now + 30000) return hit.value
    // fresh JVM / executor: a persisted live token skips the endpoint
    val persisted = persistDir.flatMap(loadPersisted(_, key))
      .filter(_.expiresAt > now + 30000)
    persisted match {
      case Some(t) =>
        cache.put(key, t)
        return t.value
      case None => ()
    }
    val form = Seq(
      "grant_type" -> "client_credentials",
      "client_id" -> clientId,
      "client_secret" -> clientSecret) ++ scope.map("scope" -> _)
    val body = form.map { case (k, v) =>
      k + "=" + java.net.URLEncoder.encode(v, StandardCharsets.UTF_8)
    }.mkString("&")
    val resp = http.call("POST", tokenEndpoint, Some((body, "application/x-www-form-urlencoded")))
    val n = ODataJson.parse(resp.text)
    val token = n.get("access_token").asText
    val expiresIn = Option(n.get("expires_in")).map(_.asLong).getOrElse(3600L)
    val tok = Tok(token, now + expiresIn * 1000)
    cache.put(key, tok)
    persistDir.foreach(persist(_, key, tok))
    token
  }

  /** PKCE S256: verifier (43-128 chars of unreserved alphabet) → challenge =
    * base64url(sha256(verifier)) without padding. */
  def pkceChallenge(verifier: String): String = {
    val digest = MessageDigest.getInstance("SHA-256")
      .digest(verifier.getBytes(StandardCharsets.US_ASCII))
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(digest)
  }

  /** Cryptographically random verifier — PKCE's interception protection (and
    * the CSRF `state` built from the same generator) is void if the value is
    * predictable, so this is SecureRandom, never a seeded PRNG. */
  def newPkceVerifier(): String = {
    val alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
    val rnd = new java.security.SecureRandom()
    (1 to 64).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
  }

  /** Authorization URL for the PKCE auth-code flow; the reference listens on
    * a localhost callback (default port 65000) for the code. */
  def authorizationUrl(authEndpoint: String, clientId: String, redirectUri: String,
                       challenge: String, scope: Option[String],
                       state: Option[String] = None): String = {
    val params = Seq(
      "response_type" -> "code", "client_id" -> clientId,
      "redirect_uri" -> redirectUri, "code_challenge" -> challenge,
      "code_challenge_method" -> "S256") ++
      scope.map("scope" -> _) ++ state.map("state" -> _)
    authEndpoint + "?" + params.map { case (k, v) =>
      k + "=" + java.net.URLEncoder.encode(v, StandardCharsets.UTF_8)
    }.mkString("&")
  }

  /** Complete interactive PKCE authorization-code flow (reference
    * `oauth2_flow_v2.cpp:46-116` + `oauth2_server.cpp`): start a loopback
    * callback server (default port 65000, from the redirect URI like the
    * reference), hand the authorization URL to `openBrowser`, wait for the
    * redirect carrying `?code=` (state-checked), then exchange the code +
    * verifier at the token endpoint. Returns the access token (refresh token
    * cached alongside when present). `openBrowser` defaults to printing the
    * URL — in a headless environment the user pastes it; tests drive it
    * programmatically. */
  def authorizationCodeToken(authEndpoint: String, tokenEndpoint: String,
                             clientId: String, scope: Option[String] = None,
                             port: Int = 65000,
                             openBrowser: String => Unit = url =>
                               println(s"Open in a browser: $url"),
                             timeoutMs: Long = 120000,
                             http: HttpCore = HttpCore.shared): String = {
    val verifier = newPkceVerifier()
    val state = newPkceVerifier().take(16)
    val server = new OAuth2CallbackServer(port, Some(state)).start()
    try {
      val url = authorizationUrl(authEndpoint, clientId, server.redirectUri,
        pkceChallenge(verifier), scope, Some(state))
      openBrowser(url)
      val code = server.awaitCode(timeoutMs)
      val form = Seq(
        "grant_type" -> "authorization_code",
        "code" -> code,
        "redirect_uri" -> server.redirectUri,
        "client_id" -> clientId,
        "code_verifier" -> verifier)
      val body = form.map { case (k, v) =>
        k + "=" + java.net.URLEncoder.encode(v, StandardCharsets.UTF_8)
      }.mkString("&")
      val resp = http.call("POST", tokenEndpoint, Some((body, "application/x-www-form-urlencoded")))
      ODataJson.parse(resp.text).get("access_token").asText
    } finally server.stop()
  }
}

/** Loopback HTTP server that captures the OAuth2 redirect (reference
  * `oauth2_server.cpp`, 278 LoC): accepts the first request carrying
  * `?code=...`, verifies `state` when configured, answers a small HTML page,
  * and completes. Binding port 0 picks an ephemeral port (tests); the
  * reference's fixed default 65000 comes from the caller. */
class OAuth2CallbackServer(port: Int = 65000, expectedState: Option[String] = None) {
  import com.sun.net.httpserver.{HttpExchange, HttpServer}
  import java.util.concurrent.{CountDownLatch, TimeUnit}

  private var server: HttpServer = _
  @volatile private var result: Either[String, String] = Left("no callback received")
  private val latch = new CountDownLatch(1)

  def start(): this.type = {
    server = HttpServer.create(new java.net.InetSocketAddress("localhost", port), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      val params = q.split('&').filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.toMap
      val (status, msg) = params.get("error") match {
        case Some(err) =>
          result = Left(s"authorization error: $err")
          (400, s"Authorization failed: $err")
        case None => params.get("code") match {
          case Some(code) if expectedState.forall(s => params.get("state").contains(s)) =>
            result = Right(code)
            (200, "Authorization complete. You can close this window.")
          case Some(_) =>
            result = Left("state mismatch")
            (400, "State mismatch — possible CSRF; flow aborted.")
          case None =>
            result = Left("no code in callback")
            (400, "Missing authorization code.")
        }
      }
      val bytes = s"<html><body><p>$msg</p></body></html>".getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "text/html")
      ex.sendResponseHeaders(status, bytes.length)
      val os = ex.getResponseBody; os.write(bytes); os.close()
      latch.countDown()
    })
    server.start()
    this
  }

  def actualPort: Int = server.getAddress.getPort
  def redirectUri: String = s"http://localhost:$actualPort/callback"

  def awaitCode(timeoutMs: Long): String = {
    if (!latch.await(timeoutMs, TimeUnit.MILLISECONDS))
      throw new RuntimeException(s"no OAuth2 callback within ${timeoutMs}ms")
    result match {
      case Right(code) => code
      case Left(err)   => throw new RuntimeException(err)
    }
  }

  def stop(): Unit = if (server != null) server.stop(0)
}
