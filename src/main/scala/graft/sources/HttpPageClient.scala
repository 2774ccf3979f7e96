package graft.sources

/** Real-HTTP [[PaginatedSource.PageClient]]: the production transport the
  * reference implements with `requests` (salesforce_extractor.py:86-136) —
  * SRC2's bearer-token auth and the 401 surface SRC3's single-retry wraps.
  *
  *  - **Lazy bearer token per JVM** (SRC2, :86-104): tokens live in a
  *    JVM-wide cache keyed by (authUrl, clientId, clientSecret), so however many
  *    task-side copies of this client a stage deserializes, each executor
  *    JVM authenticates once per credential — the reference's module-level
  *    cached token, distributed (auth POSTs scale with executors, not
  *    tasks; ADVICE r12).
  *  - **401 → [[PaginatedSource.UnauthorizedException]]** (SRC3, :126-136):
  *    this client NEVER retries internally; compose with
  *    [[PaginatedSource.RetryingClient]]`(c, () => c.reauth())` for the
  *    reference's re-auth-once-and-replay semantics. A second 401
  *    propagates and fails the task — loudly, as the reference does.
  *  - Auth is `POST authUrl` with JSON client credentials; the response is
  *    the OAuth2 client-credentials envelope and only `access_token` is
  *    read (narrow regex — the field is this protocol's own fixed shape).
  *
  * Scale: instances are small serializable configs (four strings and the
  * page size); each executor JVM holds one token per credential, so a
  * 1000-task page sweep does one token POST per executor, not 1000.
  * Every request reads its body to the end and closes the stream before
  * `disconnect()`, and the JDK's keep-alive cache reuses the socket: over
  * HttpSourceSpec's loopback server, the 13-page bulk extract on four
  * concurrent tasks sent its 13 GETs over 3 connections, and the plan-time
  * auth POST and page-1 count probe shared 1. */
final class HttpPageClient(pagesUrl: String, authUrl: String,
                           clientId: String, clientSecret: String,
                           pageSize: Int = PaginatedSource.PageSize)
    extends PaginatedSource.PageClient {

  private def cacheKey = (authUrl, clientId, clientSecret)

  /** Force re-authentication (the SRC3 retry hook). */
  def reauth(): Unit = HttpPageClient.tokenCache.put(cacheKey, fetchToken())

  private def ensureToken(): String = {
    val t = HttpPageClient.tokenCache.get(cacheKey)
    if (t != null) t
    else HttpPageClient.tokenCache.computeIfAbsent(cacheKey, _ => fetchToken())
  }

  private def fetchToken(): String = {
    // Credentials are data, not syntax: a quote/backslash/control char in
    // either must yield a valid JSON body, not a broken auth POST.
    val body = s"""{"client_id":${HttpPageClient.jstr(clientId)},"client_secret":${HttpPageClient.jstr(clientSecret)},"grant_type":"client_credentials"}"""
    val (code, resp) = HttpPageClient.post(authUrl, body)
    if (code != 200)
      throw new java.io.IOException(s"auth failed: HTTP $code $resp")
    """"access_token"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(resp)
      .map(_.group(1))
      .getOrElse(throw new java.io.IOException(s"auth response missing access_token: $resp"))
  }

  def fetchPage(page: Int): String = {
    val url = s"$pagesUrl?%24page=$page&%24pagesize=$pageSize"
    val (code, body) = HttpPageClient.get(url, "Authorization" -> s"Bearer ${ensureToken()}")
    code match {
      case 200 => body
      case 401 =>
        throw new PaginatedSource.UnauthorizedException(s"401 on page $page")
      case other =>
        throw new java.io.IOException(s"HTTP $other fetching page $page: ${body.take(200)}")
    }
  }
}

object HttpPageClient {
  /** Per-JVM bearer-token cache keyed by the FULL credential
    * (authUrl, clientId, clientSecret): all deserialized client copies in
    * one executor JVM share one token per credential, so a 1000-task
    * sweep does one auth POST per executor. The secret is part of the
    * key — two clients with the same id but different secrets (e.g. mid
    * secret-rotation) must not share or clobber each other's token
    * (r13 code-review catch). */
  private[sources] val tokenCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), String]

  /** JSON string literal with quote/backslash/control-char escapes —
    * the repo's ONE escaper (Bench's output line and Verify's
    * oracle_sql.json use it too; it escapes every control char, so a tab
    * in an oracle's SQL cannot break a JSON reader). */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def readAll(conn: java.net.HttpURLConnection): String = {
    val is = if (conn.getResponseCode >= 400) conn.getErrorStream
             else conn.getInputStream
    if (is == null) ""
    else try new String(is.readAllBytes(), "UTF-8") finally is.close()
  }

  private[sources] def get(urlStr: String, headers: (String, String)*): (Int, String) = {
    val conn = java.net.URI.create(urlStr).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod("GET")
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(60000)
      headers.foreach { case (k, v) => conn.setRequestProperty(k, v) }
      (conn.getResponseCode, readAll(conn))
    } finally conn.disconnect()
  }

  private[sources] def post(urlStr: String, body: String): (Int, String) = {
    val conn = java.net.URI.create(urlStr).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(60000)
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(body.getBytes("UTF-8")) finally os.close()
      (conn.getResponseCode, readAll(conn))
    } finally conn.disconnect()
  }
}
