package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, from_json, lit, to_json}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.CountCheck
import graft.streaming.{BulkDocsSink, CouchStubServer, HttpChangesFeed,
  JdkHttpPoster, MergeSink}

/** Everything a workload needs from the process. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val trace: Boolean, val work: Path, val tracer: Tracer,
    val progress: Progress, val profiler: Option[StageProfiler]) {
  private val failures = mutable.Buffer.empty[String]
  private var attempts = 0L
  def attempt(n: Long = 1L): Unit = synchronized { attempts += n }
  def fail(why: String): Unit = synchronized { failures += why }
  def attempted: Long = synchronized(attempts)
  def errors: Seq[String] = synchronized(failures.toSeq)
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.1fs $msg")
}

/** Seq bookkeeping over the stub's feed: which seq carries which rev and
  * id. Refreshed from the stub's own change list, so a write's seq is the
  * one the server assigned, whichever client wrote it. */
final class FeedIndex(stub: CouchStubServer) {
  private val seqOfRev = new java.util.HashMap[String, java.lang.Long]
  private val ids = mutable.ArrayBuffer.empty[String]
  private var bytes = 0L

  def refresh(): Long = synchronized {
    val ls = stub.feedSnapshot
    var i = ids.length
    while (i < ls.length) {
      val l = ls(i)
      ids += FeedIndex.field(l, "\"id\":\"")
      seqOfRev.put(FeedIndex.field(l, "\"changes\":[{\"rev\":\""), i + 1L)
      bytes += l.getBytes("UTF-8").length
      i += 1
    }
    ids.length.toLong
  }
  def seq(rev: String): Option[Long] = synchronized(Option(seqOfRev.get(rev)).map(_.longValue))
  def bytesPerLine: Double = synchronized(bytes.toDouble / math.max(1, ids.length))
  /** Distinct ids among the changes with seq in (lo, hi]. */
  def distinctIds(lo: Long, hi: Long): Int = synchronized {
    ids.slice(lo.toInt, hi.toInt).distinct.length
  }
}

object FeedIndex {
  def field(line: String, key: String): String = {
    val a = line.indexOf(key) + key.length
    line.substring(a, line.indexOf('"', a))
  }
}

/** One write-back round's figures. */
final case class WbRound(selected: Int, accepted: Int, conflicts: Int,
    callMs: Double, postMs: Double, echoMs: Double, roundTripMs: Double)

/** The two CDC workloads and what they share. */
object Cdc {
  val Db = "articles"
  val WbChunk = 50
  private val mapper = new ObjectMapper()
  private val docSchema = DataType.fromDDL(
    "_id STRING, _rev STRING, feedName STRING, title STRING, " +
      "tags ARRAY<STRING>, read BOOLEAN, body STRING")

  final case class Corpus(lines: IndexedSeq[String], gen: ChangeGen, model: Model)

  /** A change feed of `n` dense seqs: ~75% creates, 15% Zipf-skewed
    * updates, 10% deletes — what a couch that has lived a while holds. */
  def corpus(seed: Long, n: Int): Corpus = {
    val gen = new ChangeGen(seed)
    val model = new Model
    val lines = new Array[String](n)
    var i = 0
    while (i < n) {
      val op = gen.next(pCreate = 0.75, pDelete = 0.10)
      gen.applied(op)
      model.put(op.id, op.ord, op.payload)
      lines(i) = op.changeLine(i + 1L)
      i += 1
    }
    Corpus(scala.collection.immutable.ArraySeq.unsafeWrapArray(lines), gen, model)
  }

  /** A stateful stub seeded with the corpus. The stub folds its seed
    * into a doc store lazily, on first use; that happens here, in set-up,
    * not inside the first measured request. */
  def startStub(c: Corpus): (CouchStubServer, String) = {
    val stub = new CouchStubServer(Db, c.lines, stateful = true)
    val port = stub.start()
    stub.feedSnapshot
    (stub, s"http://127.0.0.1:$port/$Db")
  }

  /** Canonical doc: the JSON minus `_id`/`_rev`, as Jackson writes it. */
  def canonical(m: ObjectMapper, doc: String): String = {
    val n = m.readTree(doc).asInstanceOf[ObjectNode]
    n.remove("_id"); n.remove("_rev")
    m.writeValueAsString(n)
  }

  /** Order-independent (rows, hash) of the store's (id, rev, doc). */
  def storeDigest(spark: SparkSession, root: String): Stats.Digest =
    MergeSink.readState(spark, root).select("id", "rev", "doc").rdd
      .mapPartitions { it =>
        val m = new ObjectMapper()
        Iterator(Stats.Digest.of(it.map(r =>
          (r.getString(0), r.getString(1), canonical(m, r.getString(2))))))
      }.fold(Stats.Digest.empty)(_ + _)

  /** The stub's database folded from its own change list. */
  def stubDigest(stub: CouchStubServer): Stats.Digest = {
    val last = new java.util.HashMap[String, (String, String)]
    stub.feedSnapshot.foreach { l =>
      val n = mapper.readTree(l)
      val doc = if (n.path("deleted").asBoolean(false)) null
        else canonical(mapper, mapper.writeValueAsString(n.get("doc")))
      last.put(n.get("id").asText(), (n.get("changes").get(0).get("rev").asText(), doc))
    }
    var d = Stats.Digest.empty
    last.forEach((id, v) => if (v._2 != null) d = d + Stats.Digest(1L, Stats.rowHash(id, v._1, v._2)))
    d
  }

  /** Store == model (count and hash), the stub agrees when asked, and the
    * couch `doc_count` equals the store's row count (the reference's
    * nagios check, via [[CountCheck]]). */
  def verify(ctx: Ctx, what: String, store: String, model: Model,
      stub: CouchStubServer, url: String, withStub: Boolean): Long = {
    val s = storeDigest(ctx.spark, store)
    val m = model.liveDigest
    ctx.attempt(if (withStub) 2 else 1)
    Stats.compare(s"$what store vs model", s, m).foreach(ctx.fail)
    if (withStub)
      Stats.compare(s"$what stub vs model", stubDigest(stub), m).foreach(ctx.fail)
    countParity(ctx, what, store, url)
    s.rows
  }

  /** The couch `doc_count` equals the store's row count. */
  def countParity(ctx: Ctx, what: String, store: String, url: String): Unit = {
    ctx.attempt()
    val cc = CountCheck.check(ctx.spark, url, store)
    if (cc.difference != 0)
      ctx.fail(s"$what doc_count ${cc.feedCount} != store rows ${cc.storeCount}")
  }

  /** Parquet bytes and files of the store's current version. */
  def storeFiles(root: String): (Long, Int) =
    MergeSink.currentVersion(root) match {
      case None => (0L, 0)
      case Some((v, _)) =>
        val fs = Files.list(Paths.get(root, s"v=$v")).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
        (fs.map(Files.size).sum, fs.length)
    }

  /** Bulk-edit `ids` the way the reference's write-back recipe does:
    * read them from the store, set `read` to true (typed set-key: parse,
    * `withField`, re-serialize), post them in chunks of 50 through
    * [[BulkDocsSink]] + [[JdkHttpPoster]], then wait until the echoes the
    * stub assigns are visible in the store. `drive` runs after the post
    * (a closed-loop caller ingests the echoes there; a running tail needs
    * nothing). Conflicts with concurrent couch-side writes are counted,
    * not failed. */
  def writeBack(ctx: Ctx, round: Int, query: String, store: String,
      url: String, ids: Seq[String], model: Model, index: FeedIndex,
      drive: () => Unit): Option[WbRound] = {
    val spark = ctx.spark
    val trace = s"wb-$round"
    val t0 = System.nanoTime()
    val root = ctx.tracer.reserve()
    def read(): Seq[(String, String)] =
      MergeSink.readState(spark, store)
        .where(col("id").isin(ids: _*))
        .select(col("id"),
          to_json(from_json(col("doc"), docSchema).withField("read", lit(true)))
            .as("doc"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val (posted, ts, _) = ctx.tracer.time("writeback.read", "writeback", trace, root) {
      // MergeSink keeps one previous version; a tail that commits twice
      // while this read runs deletes the snapshot under it. Read again:
      // the next snapshot is as good a source for the edit.
      try read() catch {
        case e: Exception =>
          ctx.log(s"write-back round $round: store read retried after $e")
          read()
      }
    }
    val rows = spark.createDataFrame(posted.map { case (i, d) => Row(i, d) }.asJava,
      StructType.fromDDL("id STRING, doc STRING"))
    val (res, p0, p1) = ctx.tracer.time("writeback.post", "writeback", trace, root) {
      BulkDocsSink.postPerDoc(
        BulkDocsSink.chunkedByPartition(rows, "id", "doc", WbChunk),
        url, new JdkHttpPoster()).collect()
    }
    ctx.attempt(posted.length)
    val byId = posted.toMap
    var conflicts = 0
    val echoes = res.toSeq.flatMap { r =>
      val id = r.getString(1)
      if (r.getBoolean(2)) {
        val sent = mapper.readTree(byId(id))
        val ord = Rev.ord(sent.get("_rev").asText()) + 1
        model.put(id, ord, canonical(mapper, byId(id)))
        Some(Rev.of(id, ord))
      } else {
        if (r.getString(3) == "conflict") conflicts += 1
        else ctx.fail(s"write-back $id: ${r.getString(3)} ${r.getString(4)}")
        None
      }
    }
    index.refresh()
    val seqs = echoes.map(rev => index.seq(rev))
    if (seqs.exists(_.isEmpty))
      ctx.fail(s"write-back round $round: ${seqs.count(_.isEmpty)} accepted docs " +
        "have no echo carrying the stub-assigned rev")
    drive()
    val target = seqs.flatten.maxOption.getOrElse(0L)
    val visible = ctx.progress.awaitSeq(query, target, 60000L)
    val v = math.max(visible.getOrElse(System.nanoTime()), p1)
    ctx.tracer.add("writeback.echo", "writeback", trace, root, p1, v)
    ctx.tracer.put(root, "writeback.round", "writeback", trace, 0L, t0, v)
    if (visible.isEmpty) {
      ctx.fail(s"write-back round $round: echo seq $target never became visible")
      return None
    }
    ctx.log(f"wb round $round: ${posted.length} docs call ${(p1 - ts) / 1e6}%.0f ms " +
      f"(read ${(p0 - ts) / 1e6}%.0f, post ${(p1 - p0) / 1e6}%.0f) echo ${(v - p1) / 1e6}%.0f ms")
    Some(WbRound(posted.length, echoes.length, conflicts,
      (p1 - ts) / 1e6, (p1 - p0) / 1e6, (v - p1) / 1e6, (v - t0) / 1e6))
  }

  /** Single-threaded client-side probe of the fetch path: a drained
    * [[HttpChangesFeed]] over `n` seqs versus plain GETs of the same
    * pages with the bodies discarded (ms per 1000 docs each). */
  def feedProbe(url: String, n: Long): (Double, Double) = {
    val cut = url.lastIndexOf('/')
    val feed = new HttpChangesFeed(url.substring(0, cut), url.substring(cut + 1))
    val client = HttpClient.newHttpClient()
    def fetch(): Double = {
      val t = System.nanoTime()
      var k = 0L
      feed.changes(0L, n).foreach(_ => k += 1)
      require(k > 0, "feed probe read nothing")
      (System.nanoTime() - t) / 1e6 / (n / 1000.0)
    }
    def raw(): Double = {
      val t = System.nanoTime()
      var since = 0L
      while (since < n) {
        val r = client.send(HttpRequest.newBuilder(URI.create(
          s"$url/_changes?include_docs=true&since=$since&limit=1000")).GET().build(),
          HttpResponse.BodyHandlers.discarding())
        require(r.statusCode() == 200, s"raw GET -> ${r.statusCode()}")
        since += 1000
      }
      (System.nanoTime() - t) / 1e6 / (n / 1000.0)
    }
    fetch(); raw() // warm both paths
    val f = Seq.fill(3)(fetch())
    val g = Seq.fill(3)(raw())
    (Stats.median(f), Stats.median(g))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
}
