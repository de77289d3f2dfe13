package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.Base64

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.cdc.ChangeEvent

/** The real CouchDB `_changes` HTTP client (S1 completion).
  *
  * The reference holds one long-lived socket via `follow.Feed({db,
  * include_docs: true, since, inactivity_ms: 30000})` with basic-auth
  * credentials in the db URL (reference lib/index.js:50-53, 243-290).
  * The micro-batch analog pages the same endpoint statelessly:
  *
  *   GET {base}/{db}/_changes?include_docs=true&since=N&limit=M
  *   GET {base}/{db}                      -> {"update_seq": ...}
  *
  * Every request carries `Authorization: Basic ...` when credentials
  * are configured and a per-request timeout standing in for the feed's
  * inactivity watchdog (a stalled server surfaces as
  * `HttpTimeoutException`, which the [[Supervisor]] classifies as
  * transient — restart with backoff, like the reference's ECONNREFUSED
  * path). A missing database (HTTP 404, CouchDB's `no_db_file`) throws
  * [[FeedGoneException]], the fatal class the reference stops the feed
  * for (lib/index.js:211-223).
  *
  * SCALE: the driver only ever asks for bounds ([[latestSeq]]) and the
  * admission-control cap ([[nthSeqAfter]], pages of bare seqs — no
  * docs); executors pull their own seq ranges with `include_docs=true`
  * ([[changes]]), so document payloads never pass through the driver.
  * State is O(1) per feed.
  *
  * Zero-egress note: exercised against a local
  * `com.sun.net.httpserver` stub (HttpChangesFeedSpec) — the wire
  * format is CouchDB's documented `_changes` JSON.
  */
final class HttpChangesFeed(
    val baseUrl: String,
    val db: String,
    user: Option[String] = None,
    password: Option[String] = None,
    pageSize: Int = 1000,
    timeoutMs: Long = 30000L,
    maxRetries: Int = 3,
    style: Option[String] = None) extends ChangesFeed {

  /** `&style=all_docs` etc. on every _changes request when configured
    * (conflict-branch visibility; parseNode picks the winning rev). */
  private def styleParam: String = style.map(s => s"&style=$s").getOrElse("")

  @transient private lazy val mapper = new ObjectMapper()
  @transient private lazy val client: HttpClient =
    HttpChangesFeed.clientFor(timeoutMs)

  /** Every request: the db-relative `pathAndQuery`, a per-request
    * timeout, and basic auth per reference lib/index.js:50 (credentials
    * in the db URL). */
  private def request(pathAndQuery: String, reqTimeoutMs: Long): HttpRequest = {
    val b = HttpRequest.newBuilder(URI.create(s"$baseUrl/$db$pathAndQuery"))
      .timeout(Duration.ofMillis(reqTimeoutMs))
      .GET()
    user.foreach { u =>
      val raw = s"$u:${password.getOrElse("")}"
      b.header("Authorization", "Basic " + Base64.getEncoder.encodeToString(
        raw.getBytes(StandardCharsets.UTF_8)))
    }
    b.build()
  }

  /** Every response: 404 is the fatal [[FeedGoneException]]; any other
    * status >= 400 is the transient IOException. */
  private def classify(code: Int, pathAndQuery: String): Unit =
    if (code == 404)
      throw new FeedGoneException(s"$baseUrl/$db not found (no_db_file)")
    else if (code >= 400)
      throw new java.io.IOException(s"GET /$db$pathAndQuery -> HTTP $code")

  /** GET with bounded in-client retry for the throttle classes a real
    * CouchDB (or its fronting proxy) emits: 429/503 honor `Retry-After`
    * (seconds, capped at 2 s so a hostile header can't stall a task)
    * up to `maxRetries` attempts, then surface as IOException — the
    * transient class the [[Supervisor]] restarts with backoff. Other
    * statuses go through [[classify]] at once (retrying a 400 can
    * never help). */
  private def get(pathAndQuery: String, reqTimeoutMs: Long = timeoutMs): String = {
    var attempt = 0
    var result: String = null
    while (result == null) {
      val resp = client.send(request(pathAndQuery, reqTimeoutMs),
        HttpResponse.BodyHandlers.ofString())
      val code = resp.statusCode()
      if (code == 429 || code == 503) {
        attempt += 1
        if (attempt > maxRetries)
          throw new java.io.IOException(
            s"GET /$db$pathAndQuery -> HTTP $code after $maxRetries retries")
        val ra = resp.headers().firstValue("Retry-After")
        val retryAfterMs =
          (if (ra.isPresent) ra.get.toLongOption.getOrElse(0L) else 0L) * 1000L
        Thread.sleep(math.min(math.max(retryAfterMs, 50L * attempt), 2000L))
      } else {
        classify(code, pathAndQuery)
        result = resp.body()
      }
    }
    result
  }

  /** The `results` array of one `_changes` page (empty when absent). */
  private def page(query: String): JsonNode = {
    val results = mapper.readTree(get(s"/_changes?$query")).path("results")
    if (results.isArray) results else mapper.createArrayNode()
  }

  /** A page that held rows but not one orderable seq is not the end of
    * the feed — treating it so would silently drop the rest of the
    * range (the batch offset still advances past it). Fail loudly as
    * the transient class so the Supervisor's watchdog/backoff sees it. */
  private def unorderable(cursor: SeqTok, rows: Int) = new java.io.IOException(
    s"/$db/_changes page after since=${cursor.sinceParam}: " +
      s"all $rows seqs unparseable")

  /** `update_seq` from the db info document — numeric on 1.x, an
    * opaque `"N-blob"` string on 2/3 (ordinal = prefix). */
  override def latestSeq(): SeqTok =
    SeqTok.ofNode(mapper.readTree(get("")).path("update_seq"))

  /** Long-poll wait: `feed=longpoll` holds the request until at least
    * one change lands after `since` (or the server-side `timeout`
    * elapses), then answers the normal results JSON — the low-latency
    * alternative to polling [[latestSeq]] between triggers, and the
    * closest micro-batch analog of the reference's continuous socket
    * (lib/index.js:243-290). Heartbeat newlines the server emits while
    * holding the connection arrive as leading whitespace on the body,
    * which the JSON parse tolerates by construction. Returns the feed's
    * new high-water (== `since` on timeout with no changes). */
  def longPoll(since: SeqTok, waitMs: Long): SeqTok = {
    val body = get(
      s"/_changes?feed=longpoll&since=${since.sinceParam}" +
        s"&timeout=$waitMs&heartbeat=5000",
      reqTimeoutMs = waitMs + timeoutMs)
    val n = mapper.readTree(body)
    // unparseable last_seq = no observable progress, keep waiting
    val last = SeqTok.ofNodeOpt(n.path("last_seq")).getOrElse(since)
    if (last.ord > since.ord) last else since
  }

  /** One `feed=continuous` session — the reference's actual socket
    * mode (follow.Feed with inactivity_ms, lib/index.js:243-290): the
    * server streams line-delimited change objects over a held-open
    * chunked response and closes with a `{"last_seq":...}` trailer
    * after `timeout` ms without changes. NO `heartbeat=` is sent: on a
    * real CouchDB, heartbeat overrides the timeout and holds the feed
    * open forever — a bounded session must rely on `timeout` alone.
    * Blank lines in the stream are still tolerated (proxies and the
    * stub emit them), and a client-side watchdog force-closes the
    * stream if the server holds it past `timeout + timeoutMs` anyway
    * (the inactivity_ms role). Returns (events, resume token) — the
    * trailer's last_seq, or the last consumed seq if the socket cut
    * (or was cut) before the trailer, so restart resumes exactly where
    * the reference's follower would (lib/index.js:247). A line whose
    * JSON doesn't parse, or whose seq is unorderable, is skipped like
    * everywhere else in this client. */
  def changesContinuous(
      since: SeqTok, serverTimeoutMs: Long = 500L,
      includeDocs: Boolean = true): (Vector[ChangeEvent], SeqTok) = {
    val q = s"/_changes?feed=continuous&include_docs=$includeDocs" +
      s"&since=${since.sinceParam}&timeout=$serverTimeoutMs$styleParam"
    val resp = client.send(request(q, serverTimeoutMs + timeoutMs),
      HttpResponse.BodyHandlers.ofInputStream())
    classify(resp.statusCode(), q)
    val out = Vector.newBuilder[ChangeEvent]
    var last = since
    val body = resp.body()
    // watchdog: the HttpRequest timeout covers headers only, not a
    // streaming body — a server that ignores timeout= (or heartbeats
    // forever) would otherwise block readLine() indefinitely
    val watchdog = new java.util.Timer("changes-continuous-watchdog", true)
    watchdog.schedule(new java.util.TimerTask {
      override def run(): Unit =
        try body.close() catch { case _: java.io.IOException => () }
    }, serverTimeoutMs + timeoutMs)
    val rdr = new java.io.BufferedReader(
      new java.io.InputStreamReader(body, StandardCharsets.UTF_8))
    try {
      var done = false
      var line = rdr.readLine()
      while (line != null && !done) {
        val t = line.trim // blank keep-alive lines are ignored
        if (t.nonEmpty) {
          // per-line guard: one malformed line must not end the
          // session (JsonProcessingException IS an IOException — the
          // outer socket-cut catch would silently wedge the follower
          // at that line forever)
          val parsed =
            try Some(mapper.readTree(t))
            catch {
              case _: com.fasterxml.jackson.core.JsonProcessingException =>
                None
            }
          parsed.foreach { n =>
            if (n.has("last_seq")) {
              SeqTok.ofNodeOpt(n.get("last_seq"))
                .foreach(lt => if (lt.ord > last.ord) last = lt)
              done = true
            } else {
              ChangesFeed.parseNode(mapper, n).foreach(out += _)
              SeqTok.ofNodeOpt(n.path("seq"))
                .foreach(tok => if (tok.ord > last.ord) last = tok)
            }
          }
        }
        if (!done) line = rdr.readLine()
      }
    } catch {
      // mid-stream socket cut (incl. the watchdog's forced close):
      // keep what was consumed; `last` is the exact resume point
      // (at-least-once, like the paged path)
      case _: java.io.IOException => ()
    } finally { watchdog.cancel(); rdr.close() }
    (out.result(), last)
  }

  /** `doc_count` from the db info document — exactly what the
    * reference's nagios check reads (nagios-check_couch_postgres_count:
    * 25). */
  override def liveDocCount(): Long =
    mapper.readTree(get("")).path("doc_count").asLong(0L)

  /** Changes strictly after `since` up to and including `until`, paged
    * with `include_docs=true`. Each page resumes from the previous
    * page's last row — by full token on a 2/3 feed, by ordinal on a 1.x
    * one — so a slow consumer never re-downloads (the stateless analog
    * of the reference's socket backpressure). Rows outside (since,
    * until] by ordinal are dropped; the iterator stops at the first
    * ordinal past `until`, or once it has emitted the change whose
    * token equals `until`'s. A row with an unorderable seq is skipped
    * like [[ChangesFeed.parseNode]] skips it, a page with no orderable
    * seq fails loudly, and a cursor the server does not advance ends
    * the read instead of looping. */
  def changes(since: SeqTok, until: SeqTok): Iterator[ChangeEvent] =
    new Iterator[ChangeEvent] {
      private var buf: Iterator[ChangeEvent] = Iterator.empty
      private var cursor = since
      private var exhausted = false

      private def fill(): Unit =
        while (!buf.hasNext && !exhausted) {
          val results = page(s"include_docs=true" +
            s"&since=${cursor.sinceParam}&limit=$pageSize$styleParam")
          if (results.size() == 0) exhausted = true
          else {
            val out = Vector.newBuilder[ChangeEvent]
            var last = cursor
            var sawTok = false
            var i = 0
            while (i < results.size() && !exhausted) {
              val node = results.get(i)
              SeqTok.ofNodeOpt(node.path("seq")).foreach { tok =>
                sawTok = true
                if (tok.ord > until.ord) exhausted = true
                else {
                  if (tok.ord > since.ord)
                    ChangesFeed.parseNode(mapper, node).foreach(out += _)
                  last = tok
                  if (until.token.isDefined && tok.token == until.token)
                    exhausted = true
                }
              }
              i += 1
            }
            if (!sawTok) throw unorderable(cursor, results.size())
            if (last == cursor) exhausted = true // server ignored since=
            cursor = last
            buf = out.result().iterator
          }
        }

      override def hasNext: Boolean = { fill(); buf.hasNext }
      override def next(): ChangeEvent = { fill(); buf.next() }
    }

  /** Ordinal view of [[changes]] for tokenless (1.x) bounds. */
  def changes(since: Long, until: Long): Iterator[ChangeEvent] =
    changes(SeqTok(since, None), SeqTok(until, None))

  /** Admission control from bare pages (no docs), cursoring by full
    * token so a 2/3 server accepts every resume. */
  override def nthSeqAfter(since: SeqTok, n: Long, capOrd: Long): SeqTok = {
    var last = since
    var remaining = n
    var cursor = since
    var done = false
    while (!done && remaining > 0) {
      val limit = math.min(remaining, pageSize.toLong)
      val results = page(s"since=${cursor.sinceParam}&limit=$limit")
      if (results.size() == 0) done = true
      else {
        val prevCursor = cursor
        var i = 0
        var sawTok = false
        while (i < results.size() && remaining > 0) {
          // unparseable seq: skip the row (see changes)
          SeqTok.ofNodeOpt(results.get(i).path("seq")).foreach { tok =>
            sawTok = true
            if (tok.ord > cursor.ord ||
                (tok.ord == cursor.ord && tok.sinceParam != cursor.sinceParam))
              cursor = tok
            if (tok.ord > since.ord && tok.ord <= capOrd) {
              last = tok; remaining -= 1
            } else if (tok.ord > capOrd) remaining = 0
          }
          i += 1
        }
        if (!sawTok && remaining > 0) throw unorderable(prevCursor, results.size())
        if (results.size() < limit || cursor == prevCursor) done = true
      }
    }
    last
  }
}

object HttpChangesFeed {
  // One HttpClient per timeout config per JVM: HttpClient is thread-safe
  // and owns a selector thread + connection pool — constructing one per
  // partition reader per micro-batch dominated ingest cost (measured:
  // ~3 s/batch fixed overhead at 32 readers).
  private val clients =
    new java.util.concurrent.ConcurrentHashMap[Long, HttpClient]()
  private[streaming] def clientFor(timeoutMs: Long): HttpClient =
    clients.computeIfAbsent(timeoutMs, t =>
      HttpClient.newBuilder()
        .connectTimeout(Duration.ofMillis(t))
        .build())
}

/** The fatal feed-error class: the database/feed is gone or
  * misconfigured — the reference STOPS the feed for these
  * (`no_db_file`, Postgres `42P01`; lib/index.js:211-223) instead of
  * retrying forever. */
final class FeedGoneException(msg: String) extends RuntimeException(msg)
