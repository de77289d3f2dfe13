package perfbench

/** Pure measurement helpers, checked by [[SelfCheck]] at the start of
  * every run so a broken helper can never report a number. */
object Stats {

  /** Nearest-rank percentile of `xs` (q in (0, 1]). */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A percentile is reportable only when at least ten independent
    * samples lie beyond it. Changes committed by one micro-batch turn
    * visible together, so for visibility latency the independent
    * samples are batches, not changes. */
  def supported(samples: Int, q: Double): Boolean =
    samples * (1.0 - q) >= 10.0 - 1e-9

  /** Open-loop latency: measured from when the change was DUE, not from
    * when a late generator got round to sending it, so a stall that
    * delays later sends is charged to the system's latency. */
  def dueLatencyMs(dueNs: Long, visibleNs: Long): Double =
    (visibleNs - dueNs) / 1e6

  /** How late the generator ran for one change. */
  def lateMs(dueNs: Long, sentNs: Long): Double =
    math.max(0L, sentNs - dueNs) / 1e6

  /** Backlog (head seq - committed seq) over one rate rung, as
    * (seconds since rung start, backlog). The backlog grows when a
    * least-squares line through the points rises faster than
    * `minSlopeFrac` of the offered rate and it ends above two triggers'
    * worth of changes; the sawtooth of a pipeline that keeps up has a
    * flat trend and drains back near zero. */
  def backlogGrows(points: Seq[(Double, Double)], ratePerS: Double,
      triggerS: Double = 1.0, minSlopeFrac: Double = 0.1): Boolean = {
    if (points.length < 3) return false
    val mx = points.map(_._1).sum / points.length
    val my = points.map(_._2).sum / points.length
    val sxx = points.map(p => (p._1 - mx) * (p._1 - mx)).sum
    val slope =
      if (sxx == 0) 0.0
      else points.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx
    slope > minSlopeFrac * ratePerS && points.last._2 > 2 * triggerS * ratePerS
  }

  /** 64-bit mix of one (id, rev, doc) row; summed, it gives an
    * order-independent hash of a whole table. */
  def rowHash(id: String, rev: String, doc: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(id, 0x5bd1e995)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(rev, h1)
    val h3 = scala.util.hashing.MurmurHash3.stringHash(doc, h2)
    (h3.toLong << 32) ^ (scala.util.hashing.MurmurHash3
      .stringHash(doc, h3 ^ 0x27d4eb2d).toLong & 0xffffffffL)
  }

  /** (rows, summed row hash) of a table. */
  final case class Digest(rows: Long, hash: Long) {
    def +(o: Digest): Digest = Digest(rows + o.rows, hash + o.hash)
  }
  object Digest {
    val empty: Digest = Digest(0L, 0L)
    def of(rows: Iterator[(String, String, String)]): Digest =
      rows.foldLeft(empty)((d, r) => d + Digest(1L, rowHash(r._1, r._2, r._3)))
  }

  /** Store-vs-model verdict: None when equal, else what differs. */
  def compare(what: String, store: Digest, model: Digest): Option[String] =
    if (store == model) None
    else Some(s"$what: store has ${store.rows} rows (hash ${store.hash}), " +
      s"model has ${model.rows} rows (hash ${model.hash})")
}

/** Checks of the helpers above. Returns the failures (empty = pass). */
object SelfCheck {
  def run(): Seq[String] = {
    val bad = Seq.newBuilder[String]
    def check(name: String)(ok: => Boolean): Unit =
      if (!(try ok catch { case _: Throwable => false })) bad += name

    // percentile with sample count and the >=10-beyond rule
    val xs = (1 to 100).map(_.toDouble)
    check("p50 of 1..100 is 50")(Stats.percentile(xs, 0.5) == 50.0)
    check("p90 of 1..100 is 90")(Stats.percentile(xs, 0.9) == 90.0)
    check("p100 is the max")(Stats.percentile(xs, 1.0) == 100.0)
    check("single sample")(Stats.percentile(Seq(7.0), 0.9) == 7.0)
    check("median of even count")(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    check("p50 needs 20 batches")(
      Stats.supported(20, 0.5) && !Stats.supported(19, 0.5))
    check("p90 needs 100 batches")(
      Stats.supported(100, 0.9) && !Stats.supported(99, 0.9))

    // due-time latency when the generator runs late: a change due at
    // 0 ms, sent at 500 ms, visible at 600 ms took 600 ms, not 100 ms
    val ms = 1000000L
    check("latency counts from due time")(
      Stats.dueLatencyMs(0L, 600 * ms) == 600.0)
    check("lateness is send minus due")(Stats.lateMs(0L, 500 * ms) == 500.0)
    check("early send is not late")(Stats.lateMs(10 * ms, 0L) == 0.0)

    // backlog-growth detection
    val growing = (0 until 20).map(i => (i.toDouble, 300.0 * i))
    val shortGrowing = (0 until 4).map(i => (i.toDouble, 900.0 * i))
    val flat = (0 until 20).map(i => (i.toDouble, if (i % 2 == 0) 50.0 else 250.0))
    val drained = (0 until 20).map(i => (i.toDouble, math.max(0.0, 2000.0 - 300 * i)))
    check("growing backlog flagged")(Stats.backlogGrows(growing, 400.0))
    check("short growing rung flagged")(Stats.backlogGrows(shortGrowing, 400.0))
    check("sawtooth backlog not flagged")(!Stats.backlogGrows(flat, 400.0))
    check("draining backlog not flagged")(!Stats.backlogGrows(drained, 400.0))

    // store-vs-model checker flags one corrupted row
    val model = (0 until 200).map(i => (s"doc$i", s"1-r$i", s"""{"n":$i}"""))
    val ok = Stats.Digest.of(model.iterator)
    val corrupt = model.updated(37, ("doc37", "1-r37", """{"n":38}"""))
    val staleRev = model.updated(5, ("doc5", "2-r5", """{"n":5}"""))
    check("equal tables pass")(
      Stats.compare("t", Stats.Digest.of(model.reverseIterator), ok).isEmpty)
    check("corrupted doc flagged")(
      Stats.compare("t", Stats.Digest.of(corrupt.iterator), ok).isDefined)
    check("stale rev flagged")(
      Stats.compare("t", Stats.Digest.of(staleRev.iterator), ok).isDefined)
    check("missing row flagged")(
      Stats.compare("t", Stats.Digest.of(model.tail.iterator), ok).isDefined)
    check("swapped docs flagged")(Stats.compare("t", Stats.Digest.of(
      model.updated(0, ("doc0", "1-r0", """{"n":1}"""))
        .updated(1, ("doc1", "1-r1", """{"n":0}""")).iterator), ok).isDefined)
    bad.result()
  }
}
