package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper

/** CouchDB revs as the embedded stub mints them: `<ord>-md5(<id>:<ord>)`.
  * The corpus uses the same rule so the stub's rev chain continues
  * exactly where the seeded feed leaves off. */
object Rev {
  def of(id: String, ord: Long): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$id:$ord".getBytes("UTF-8"))
    val sb = new java.lang.StringBuilder(40).append(ord).append('-')
    d.foreach(b => sb.append(Hex(b >> 4 & 15)).append(Hex(b & 15)))
    sb.toString
  }
  private val Hex = "0123456789abcdef".toCharArray
  def ord(rev: String): Long = rev.substring(0, rev.indexOf('-')).toLong
}

/** The database as the benchmark believes it to be: id -> (rev ordinal,
  * payload JSON without `_id`/`_rev`), a null payload being a tombstone.
  * Every write the stub accepts is folded in, by the generator thread
  * and by write-back, so the final store must equal it. */
final class Model {
  private val docs = new java.util.HashMap[String, (Long, String)]

  def get(id: String): Option[(Long, String)] =
    synchronized(Option(docs.get(id)))

  /** Record an accepted write; an older ordinal never overwrites a
    * newer one (write-back results can land after a later update). */
  def put(id: String, ord: Long, payload: String): Unit = synchronized {
    val cur = docs.get(id)
    if (cur == null || cur._1 < ord) docs.put(id, (ord, payload))
  }

  /** An independent copy (a fresh set-up over the same corpus). */
  def copy(): Model = synchronized {
    val m = new Model
    m.docs.putAll(docs)
    m
  }

  def liveIds: IndexedSeq[String] = synchronized {
    val b = IndexedSeq.newBuilder[String]
    docs.forEach((id, v) => if (v._2 != null) b += id)
    b.result().sorted
  }

  def liveDigest: Stats.Digest = synchronized {
    var d = Stats.Digest.empty
    docs.forEach((id, v) =>
      if (v._2 != null) d = d + Stats.Digest(1L, Stats.rowHash(id, Rev.of(id, v._1), v._2)))
    d
  }
}

/** One couch-side write. `payload` is the doc body without `_id`/`_rev`
  * (null for a delete); `ord` is the rev ordinal the write will get. */
final case class Op(id: String, ord: Long, payload: String) {
  def deleted: Boolean = payload == null
  lazy val rev: String = Rev.of(id, ord)

  /** The `_changes` line a couch would serve for this write at `seq`
    * (`include_docs=true`: `_id`/`_rev` lead the doc). */
  def changeLine(seq: Long): String =
    if (deleted)
      s"""{"seq":$seq,"id":"$id","changes":[{"rev":"$rev"}],"deleted":true}"""
    else
      s"""{"seq":$seq,"id":"$id","changes":[{"rev":"$rev"}],"doc":{"_id":"$id","_rev":"$rev",""" +
        payload.substring(1) + "}"

  /** The doc as posted in a `_bulk_docs` body. */
  def bulkDoc(prev: Option[String]): String = {
    val head = s"""{"_id":"$id"""" + prev.fold("")(r => s""","_rev":"$r"""")
    if (deleted) head + ""","_deleted":true}"""
    else head + "," + payload.substring(1)
  }
}

/** Article-shaped documents (the reference's `articles` fixture: feedName,
  * tags[], read, title, body) and the change stream over them.
  *
  * Properties and why they are there:
  *  - body sizes are log-normal around the reference's ~2.4 KB/doc
  *    (150 MB over 63.8k docs) with a tail to 40 KB, so fetch, parse and
  *    parquet costs scale like the reference corpus, outliers included;
  *  - about a tenth of the words are multi-byte UTF-8 (Latin accents,
  *    Greek, Cyrillic, CJK and 4-byte emoji), so byte and char counts
  *    differ on every path that encodes text;
  *  - ~10% of changes are deletes and updates pick ids Zipf-skewed, so
  *    one batch carries several changes of a hot id and the sink's
  *    latest-per-id dedup and delete path do real work;
  *  - a deleted id can be picked again and is recreated on top of its
  *    tombstone, continuing the rev chain as CouchDB does. */
final class ChangeGen(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val mapper = new ObjectMapper()
  private val ords = new java.util.HashMap[String, java.lang.Long]
  private val created = mutable.ArrayBuffer.empty[String]
  private val live = mutable.ArrayBuffer.empty[String]
  private val livePos = new java.util.HashMap[String, Integer]
  private var nextId = 0

  /** The next write, with create and delete shares `pCreate`/`pDelete`
    * and updates for the rest. The generator's own view advances only
    * through [[applied]]. */
  def next(pCreate: Double, pDelete: Double): Op = {
    val u = rnd.nextDouble()
    if (live.nonEmpty && u < pDelete) {
      val id = live(rnd.nextInt(live.length))
      Op(id, ords.get(id) + 1, null)
    } else if (created.isEmpty || u < pDelete + pCreate) {
      val id = f"art-$seed%x-$nextId%07d"
      nextId += 1
      Op(id, 1L, article())
    } else {
      // Zipf(s=1) rank over ids in creation order: P(rank <= k) ~ ln k / ln n
      val n = created.length
      val rank = math.min(n - 1,
        (math.exp(rnd.nextDouble() * math.log(n + 1.0)) - 1.0).toInt)
      val id = created(rank)
      Op(id, ords.getOrDefault(id, 0L) + 1, article())
    }
  }

  def applied(op: Op): Unit = {
    if (!ords.containsKey(op.id)) created += op.id
    ords.put(op.id, op.ord)
    val at = livePos.get(op.id)
    if (op.deleted && at != null) {
      val last = live.remove(live.length - 1)
      if (last != op.id) { live(at) = last; livePos.put(last, at) }
      livePos.remove(op.id)
    } else if (!op.deleted && at == null) {
      livePos.put(op.id, live.length); live += op.id
    }
  }

  /** Pick `k` distinct live ids (write-back targets). */
  def pickLive(k: Int): Seq[String] = {
    val chosen = mutable.LinkedHashSet.empty[String]
    val want = math.min(k, live.length)
    while (chosen.size < want) chosen += live(rnd.nextInt(live.length))
    chosen.toSeq
  }

  private def article(): String = {
    val n = mapper.createObjectNode()
    n.put("feedName", ChangeGen.feeds(zipfIndex(ChangeGen.feeds.length)))
    n.put("title", words(4 + rnd.nextInt(8)))
    val tags = n.putArray("tags")
    (0 until rnd.nextInt(6)).foreach(_ =>
      tags.add(ChangeGen.tags(zipfIndex(ChangeGen.tags.length))))
    n.put("read", false)
    // log-normal body: median ~1.9 KB, mean ~2.2 KB, capped at 40 KB,
    // assembled from the generator's own pool of random sentences
    val target = math.min(40000.0,
      math.exp(7.55 + 0.6 * gaussian())).toInt
    val sb = new java.lang.StringBuilder(target + 128)
    while (sb.length < target) sb.append(sentences(rnd.nextInt(sentences.length)))
    n.put("body", sb.toString)
    mapper.writeValueAsString(n)
  }

  /** 4096 sentences of 8-24 Zipf-drawn words. */
  private lazy val sentences: Array[String] = Array.fill(4096) {
    words(8 + rnd.nextInt(17)) + ". "
  }

  private def words(k: Int): String =
    (0 until k).map(_ => ChangeGen.vocab(zipfIndex(ChangeGen.vocab.length)))
      .mkString(" ")

  private def zipfIndex(n: Int): Int =
    math.min(n - 1, (math.exp(rnd.nextDouble() * math.log(n + 1.0)) - 1.0).toInt)

  private def gaussian(): Double = {
    val u1 = math.max(rnd.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }
}

object ChangeGen {
  val feeds: IndexedSeq[String] = IndexedSeq(
    "bbc-news", "hacker-news", "le-monde", "süddeutsche", "el-país",
    "ελληνικά-νέα", "новости-дня", "人民日报", "東京新聞", "the-guardian",
    "reuters", "ars-technica", "lwn", "der-standard", "aftonbladet",
    "helsingin-sanomat", "o-globo", "corriere", "nrc", "dagbladet")
  val tags: IndexedSeq[String] = IndexedSeq(
    "politics", "tech", "science", "sport", "culture", "économie", "santé",
    "κόσμος", "наука", "经济", "テクノロジー", "opinion", "local", "world",
    "climate", "markets", "📰", "🚀")
  val vocab: IndexedSeq[String] = IndexedSeq(
    "the", "of", "and", "to", "in", "a", "is", "that", "for", "on", "with",
    "as", "was", "by", "it", "at", "from", "be", "this", "have", "are",
    "not", "but", "or", "an", "they", "which", "one", "were", "all", "we",
    "when", "there", "can", "been", "has", "more", "if", "will", "would",
    "report", "government", "market", "data", "city", "people", "year",
    "week", "minister", "company", "research", "study", "court", "police",
    "election", "energy", "price", "bank", "school", "health", "water",
    "café", "naïve", "Zürich", "façade", "smörgåsbord", "crème", "São",
    "Paulo", "Kraków", "Ångström", "résumé", "coöperation", "piñata",
    "αλήθεια", "δημοκρατία", "κυβέρνηση", "данные", "правительство",
    "город", "исследование", "数据", "政府", "市场", "研究", "東京", "記事",
    "経済", "🚀", "📈", "🌍", "✓", "—", "€", "£", "naïveté", "déjà",
    "über", "straße", "ñandú", "İstanbul", "Łódź", "Øresund", "Þingvellir",
    "economy", "climate", "security", "technology", "software", "network",
    "database", "replication", "document", "changes", "sequence",
    "revision", "conflict", "server", "client", "stream", "batch",
    "window", "latency", "throughput", "storage", "index", "query")
}
