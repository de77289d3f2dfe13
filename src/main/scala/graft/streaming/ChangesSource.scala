package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.ChangeEvent

/** Structured Streaming source for a CouchDB `_changes` feed —
  * SURVEY.md §2.1 S1 re-expressed as a DataSource V2 `MicroBatchStream`.
  *
  * The reference holds one long-lived HTTP socket per feed and applies
  * changes one at a time (lib/index.js:40, 243-290). Here the feed is a
  * replayable offset range: the offset IS the CouchDB `seq` (monotonic
  * per feed, exactly the value the reference checkpoints into
  * `since_checkpoints`, lib/index.js:76). Spark's offset log gives
  * exactly-once batch tracking for free; together with the rev-guarded
  * merge sink ([[MergeSink]]) the pipeline is idempotent end-to-end.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("couch-changes")
  *     .option("path", feedDir)          // JSONL feed (FileChangesFeed)
  *     .option("since", "0")             // resume point (default 0)
  *     .option("maxChangesPerTrigger", "1000")  // admission control (T2)
  *     .load()
  * }}}
  *
  * Backpressure: the reference pauses the socket while its queue drains
  * (lib/index.js:256-265, T2). The micro-batch analog is admission
  * control — `maxChangesPerTrigger` caps each batch via
  * [[SupportsAdmissionControl]].
  *
  * SCALE: one feed is inherently a single ordered stream (CouchDB
  * assigns seqs serially), read through one [[SeqTok]] cursor. Over
  * HTTP, `planInputPartitions` either splits a tokenless seq RANGE into
  * up to `numPartitions` sub-ranges or, on an opaque-seq feed, makes
  * one token-exact pull; the per-key max(seq) dedup in the sink makes
  * intra-batch order irrelevant (T1). Many feeds = many independent
  * streams (§ control plane, [[Supervisor]]).
  */
class ChangesTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "couch-changes"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeEvent.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ChangesTable(properties.asScala.toMap)
}

final class ChangesTable(props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"couch-changes(${props.getOrElse("path", "?")})"
  override def schema(): StructType = ChangeEvent.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = ChangeEvent.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new ChangesMicroBatchStream(
          conn = FeedConn.fromOptions(k => Option(options.get(k))),
          // since accepts a bare ordinal ("42") or a full CouchDB 2/3
          // opaque token ("42-g1AAAA...")
          startSince = Option(options.get("since")).map(SeqTok.parse)
            .getOrElse(SeqTok.Zero),
          maxPerTrigger = Option(options.get("maxChangesPerTrigger")).map(_.toLong),
          numPartitions = Option(options.get("numPartitions")).map(_.toInt).getOrElse(4))
    }
}

/** Offset = the CouchDB seq high-water mark (SURVEY §1.1 #4).
  *
  * `seq` is the monotone ordinal; `token` is the full opaque seq string
  * a CouchDB 2/3 server requires as the `since=` resume cursor (absent
  * on 1.x / file feeds). Old checkpoints (`{"seq":N}`) deserialize with
  * no token — numeric resume, unchanged. */
final case class ChangesOffset(seq: Long, token: Option[String] = None)
    extends Offset {
  override def json(): String = token match {
    case Some(t) =>
      val quoted = new ObjectMapper().writeValueAsString(t)
      s"""{"seq":$seq,"token":$quoted}"""
    case None => s"""{"seq":$seq}"""
  }
  def tok: SeqTok = SeqTok(seq, token)
}

object ChangesOffset {
  def of(t: SeqTok): ChangesOffset = ChangesOffset(t.ord, t.token)
  def fromJson(json: String): ChangesOffset = {
    val n = new ObjectMapper().readTree(json)
    val tok = n.path("token")
    ChangesOffset(n.get("seq").asLong(),
      if (tok.isTextual) Some(tok.asText()) else None)
  }
}

/** Serializable feed coordinates — everything a driver or executor
  * needs to (re)open the feed. `path` = JSONL file feed; `url`+`db` =
  * HTTP feed (basic auth via `user`/`password`). */
final case class FeedConn(
    path: Option[String],
    url: Option[String],
    db: Option[String],
    user: Option[String],
    password: Option[String],
    pageSize: Int,
    timeoutMs: Long) {
  def open(): ChangesFeed = path match {
    case Some(p) => new FileChangesFeed(p)
    case None => http()
  }

  def http(): HttpChangesFeed = (url, db) match {
    case (Some(u), Some(d)) =>
      new HttpChangesFeed(u, d, user, password, pageSize, timeoutMs)
    case _ => throw new FeedGoneException(
      "couch-changes needs either option path=<jsonl> or url=+db=")
  }

  /** The source options that reopen these coordinates (paging and
    * timeout left at their defaults). */
  def options: Map[String, String] =
    Seq("path" -> path, "url" -> url, "db" -> db, "user" -> user,
      "password" -> password).collect { case (k, Some(v)) => k -> v }.toMap
}

object FeedConn {
  def fromOptions(opt: String => Option[String]): FeedConn = FeedConn(
    path = opt("path"),
    url = opt("url"),
    db = opt("db"),
    user = opt("user"),
    password = opt("password"),
    pageSize = opt("pageSize").map(_.toInt).getOrElse(1000),
    timeoutMs = opt("timeoutMs").map(_.toLong).getOrElse(30000L))

  /** Coordinates of a feed string: a JSONL path, or an
    * `http(s)://[user:password@]host:port/db` URL — the reference's
    * db-URL config (lib/index.js:50). The last path segment is the
    * database. The userinfo is lifted into basic-auth credentials and
    * stripped from the URL, so it never appears in query names,
    * offsets, or logs.
    *
    * ENCODING CONTRACT: a credentialed URL must be RFC-3986
    * percent-encoded (special characters in the password like `@`/`/`
    * as `%40`/`%2F`); the userinfo is percent-DECODED exactly once
    * here, so what reaches the server is the raw secret. A feed URL
    * that does not parse as a URI at all falls back to plain substring
    * splitting (tolerating unencoded spaces/pipes in the query) — but
    * then cannot carry credentials. */
  def of(feed: String): FeedConn =
    if (!feed.startsWith("http://") && !feed.startsWith("https://"))
      fromOptions(Map("path" -> feed).get)
    else {
      val uri = scala.util.Try(java.net.URI.create(feed)).toOption
        .filter(_.getUserInfo != null)
      val clean = uri.fold(feed)(u => new java.net.URI(u.getScheme, null,
        u.getHost, u.getPort, u.getPath, u.getQuery, null).toString)
      val creds = uri.map(_.getUserInfo.split(":", 2)).fold(
        Map.empty[String, String])(ui =>
        Map("user" -> ui(0), "password" -> ui.lift(1).getOrElse("")))
      val cut = clean.lastIndexOf('/')
      fromOptions((creds ++ Map("url" -> clean.substring(0, cut),
        "db" -> clean.substring(cut + 1))).get)
    }
}

final class ChangesMicroBatchStream(
    conn: FeedConn,
    startSince: SeqTok,
    maxPerTrigger: Option[Long],
    numPartitions: Int)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val feed: ChangesFeed = conn.open()

  /** Trigger.AvailableNow end bound: changes arriving after the query
    * starts are left for the next run (SupportsTriggerAvailableNow). */
  @volatile private var availableNowTarget: Option[SeqTok] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(feed.latestSeq())

  override def initialOffset(): Offset = ChangesOffset.of(startSince)

  override def deserializeOffset(json: String): Offset =
    ChangesOffset.fromJson(json)

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  /** Admission-controlled latest offset: cap the batch at maxRows changes
    * past `start` (the reference's pause/resume backpressure T2). */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val since = start.asInstanceOf[ChangesOffset].tok
    val capOrd = availableNowTarget.map(_.ord).getOrElse(Long.MaxValue)
    limit match {
      case mr: ReadMaxRows =>
        ChangesOffset.of(feed.nthSeqAfter(since, mr.maxRows(), capOrd))
      case _ =>
        val latest = feed.latestSeq()
        val end = availableNowTarget match {
          case Some(t) if t.ord < latest.ord => t
          case _ => latest
        }
        if (end.ord <= since.ord) ChangesOffset.of(since)
        else ChangesOffset.of(end)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def reportLatestOffset(): Offset =
    ChangesOffset.of(feed.latestSeq())

  /** File feed: one partition per byte-range slice — every reader
    * parses ONLY its slice (splittable-text convention) and filters to
    * the (start, end] seq range, so parse parallelism scales with file
    * size instead of each reader re-parsing the whole feed.
    *
    * HTTP feed: each reader pages its own (since, until] range from the
    * server with include_docs=true, so document payloads flow
    * server→executor, never through the driver. Tokenless bounds split
    * into contiguous sub-ranges of >=1000 seqs each (a small admitted
    * range is not fanned across every reader). Opaque-seq (CouchDB 2/3)
    * bounds make one token-exact pull: an executor cannot synthesize a
    * since= token for an interior ordinal, so parse/merge parallelism
    * comes downstream of the source, as for a single hot file slice. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val loOff = start.asInstanceOf[ChangesOffset]
    val hiOff = end.asInstanceOf[ChangesOffset]
    val lo = loOff.seq
    val hi = hiOff.seq
    if (hi <= lo) Array.empty
    else feed match {
      case f: FileChangesFeed =>
        f.slices(numPartitions).map { case (file, sb, eb) =>
          ChangesInputPartition(file, sb, eb, lo, hi): InputPartition
        }.toArray
      case _: HttpChangesFeed =>
        val n =
          if (loOff.token.isDefined || hiOff.token.isDefined) 1
          else math.max(1L, math.min(numPartitions.toLong,
            (hi - lo + 999) / 1000)).toInt
        def cut(i: Int): SeqTok =
          if (i == 0) loOff.tok
          else if (i == n) hiOff.tok
          else SeqTok(lo + (hi - lo) * i / n, None)
        (0 until n).map(i =>
          HttpChangesInputPartition(conn, cut(i), cut(i + 1)): InputPartition)
          .toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangesReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class ChangesInputPartition(
    file: String, startByte: Long, endByte: Long,
    fromSeq: Long, toSeq: Long) extends InputPartition

/** HTTP reader partition: a (since, until] range the executor pulls
  * itself (connection coordinates, never data). */
final case class HttpChangesInputPartition(
    conn: FeedConn, since: SeqTok, until: SeqTok) extends InputPartition

final class ChangesReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case p: ChangesInputPartition =>
        new ChangesPartitionReader(
          ChangesFeed.readSlice(p.file, p.startByte, p.endByte)
            .filter(e => e.seq > p.fromSeq && e.seq <= p.toSeq))
      case p: HttpChangesInputPartition =>
        new ChangesPartitionReader(p.conn.http().changes(p.since, p.until))
    }
}

final class ChangesPartitionReader(it: Iterator[ChangeEvent])
    extends PartitionReader[InternalRow] {
  private var current: ChangeEvent = _

  override def next(): Boolean =
    if (it.hasNext) { current = it.next(); true } else false

  override def get(): InternalRow = new GenericInternalRow(Array[Any](
    current.seq,
    UTF8String.fromString(current.id),
    if (current.rev == null) null else UTF8String.fromString(current.rev),
    current.deleted,
    if (current.doc == null) null else UTF8String.fromString(current.doc)))

  override def close(): Unit = ()
}
