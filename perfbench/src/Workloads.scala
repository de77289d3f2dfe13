package perfbench

import java.net.URI
import java.nio.file.Paths
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame

import graft.streaming.{ChangesPipeline, CouchStubServer, FeedConfig,
  MergeSink, Supervisor}

/** What a workload hands back: its end-to-end figures, its per-layer
  * figures (from a traced run), and the wall of its repeated unit of work
  * (a drain, a micro-batch, a catalog pass), which a traced and an
  * untraced run of the same seed compare to give the tracing overhead. */
trait Outcome {
  def e2e: Map[String, Double]
  def layers(ctx: Ctx): Seq[(String, String, Double)]
  def wallMs: Double
}

/** Figures every CDC workload reports, gathered while it runs. */
final class Figures extends Outcome {
  val setupS = mutable.Buffer.empty[Double]
  val visibleMs = mutable.Buffer.empty[Double]
  val ingestRate = mutable.Buffer.empty[Double]
  val unitWallMs = mutable.Buffer.empty[Double]
  val wb = mutable.Buffer.empty[WbRound]
  var storeBytes = 0L
  var storeFiles = 0
  var storeRows = 0L
  /** The measured micro-batches. */
  val batches = mutable.Buffer.empty[BatchEvent]
  var pages = 0L
  var bytesPerLine = 0.0
  val dedup = mutable.Buffer.empty[Double]
  val lateMs = mutable.Buffer.empty[Double]
  var sent = 0L
  var wbRequests = 0L
  var wbBytes = 0L
  var restarts = 0
  var retries = 0L
  var probe = (0.0, 0.0)
  var sustainedRate = 0.0
  var visibleBatches = 0
  var jvm = (0L, 0L)

  def e2e: Map[String, Double] = Map(
    "setup_s" -> Stats.median(setupS.toSeq),
    "latency_p50_ms" -> Stats.median(visibleMs.toSeq),
    "throughput_per_s" -> Stats.median(ingestRate.toSeq))

  def wallMs: Double = Stats.median(unitWallMs.toSeq)

  def layers(ctx: Ctx): Seq[(String, String, Double)] = Workloads.layers(ctx, this)
}

object Workloads {
  private def med(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  /** Median over changes of (visible - start) for a closed-loop drain:
    * every change of a batch turns visible at that batch's commit. */
  def drainVisibleMs(events: Seq[BatchEvent], startNs: Long): Double = {
    var prev = 0L
    val weighted = events.sortBy(_.endSeq).map { e =>
      val n = e.endSeq - prev; prev = e.endSeq
      (n, (e.visibleNs - startNs) / 1e6)
    }
    val total = weighted.map(_._1).sum
    var acc = 0L
    weighted.find { case (n, _) => acc += n; acc * 2 >= total }.map(_._2).getOrElse(0.0)
  }

  /** Changes applied per second of micro-batch time. */
  def ingestRate(events: Seq[BatchEvent]): Double =
    events.map(_.rows).sum / math.max(1e-9,
      events.map(_.dur.getOrElse("triggerExecution", 0L)).sum / 1000.0)

  /** Start a stateful stub over `c`: the engine's part of a CDC set-up
    * (the corpus itself is the benchmark's input, made beforehand). */
  private def startStub(ctx: Ctx, f: Figures, c: Cdc.Corpus): (CouchStubServer, String) = {
    val s0 = System.nanoTime()
    val r = Cdc.startStub(c)
    f.setupS += (System.nanoTime() - s0) / 1e9
    r
  }

  // ------------------------------------------------------------------
  /** initial_sync: closed-loop drains of a reference-sized corpus (63,840
    * changes, README.md:426) over HTTP `_changes` into empty stores,
    * default admission (one batch each). The corpus is made once. A stub
    * over its first quarter serves one drain that warms the JIT; then
    * three stubs are seeded with all of it (the set-ups): the first two
    * are only timed, the third serves the measured drains, then one
    * write-back round of 500 docs whose echoes a further drain ingests,
    * then the checks. */
  object InitialSync {
    val Docs = 63840
    val WbDocs = 500
    val MinDrains = 3
    val WarmDocs = 16000

    private final class Stub(ctx: Ctx, f: Figures, base: Cdc.Corpus, val name: String,
        timed: Boolean = true) {
      val c = base.copy(model = base.model.copy())
      val (stub, url) = if (timed) startStub(ctx, f, c) else Cdc.startStub(c)
      val index = new FeedIndex(stub)
      index.refresh()
      ctx.progress.headSeq = () => stub.feedSnapshot.length.toLong
      ctx.log(s"$name: set up")
      def stop(): Unit = {
        stub.stop()
        Cdc.deleteTree(ctx.work.resolve(name))
      }
    }

    def run(ctx: Ctx, base: Cdc.Corpus): Figures = {
      val f = new Figures
      ctx.log("corpus made")
      // warm-up: one drain of the feed's first WarmDocs changes (a dense
      // prefix is a feed of its own); not a set-up, not measured
      val warm = new Stub(ctx, f, base.copy(lines = base.lines.take(WarmDocs)), "warm",
        timed = false)
      try drain(ctx, f, warm, "warm", measured = false)
      finally warm.stop()
      new Stub(ctx, f, base, "spare0").stop()
      new Stub(ctx, f, base, "spare1").stop()
      val s = new Stub(ctx, f, base, "sync")
      try {
        ctx.tracer.clear()
        ctx.profiler.foreach(_.clear())
        val g0 = (Jvm.gcMs, Jvm.jitMs)
        val w0 = System.nanoTime()
        // at least MinDrains; another only if it fits the window
        var d = 0
        var took = 0L
        var last = (null: String, null: String, null: (DataFrame, Long) => Unit)
        while (d < MinDrains || System.nanoTime() - w0 + took <= ctx.seconds * 1000000000L) {
          val t = System.nanoTime()
          if (last._1 != null) { Cdc.deleteTree(Paths.get(last._1)); Cdc.deleteTree(Paths.get(last._2)) }
          last = drain(ctx, f, s, s"sync-d$d", measured = true)
          took = System.nanoTime() - t
          d += 1
        }
        f.jvm = (Jvm.gcMs - g0._1, Jvm.jitMs - g0._2)
        val (q, store, ckpt) = (s"sync-d${d - 1}", last._1, last._2)
        val sink = last._3
        val events = ctx.progress.of(q)
        val w0b = s.stub.writeStats
        Cdc.writeBack(ctx, 0, q, store, s.url, s.c.gen.pickLive(WbDocs), s.c.model, s.index,
          () => ChangesPipeline.runOnceWith(ctx.spark, s.url, ckpt, q, sink))
          .foreach(f.wb += _)
        val w1 = s.stub.writeStats
        f.wbRequests = w1._1 - w0b._1
        f.wbBytes = w1._3 - w0b._3
        f.batches ++= ctx.progress.of(q).filter(_.batchId > events.map(_.batchId).max)
        // the store after the echoes must equal the model and the stub
        f.storeRows = Cdc.verify(ctx, q, store, s.c.model, s.stub, s.url, withStub = true)
        val (b, k) = Cdc.storeFiles(store)
        f.storeBytes = b; f.storeFiles = k
        f.retries = s.stub.rateLimitedCount
        f.bytesPerLine = s.index.bytesPerLine
        if (ctx.trace) f.probe = Cdc.feedProbe(s.url, 8000L)
      } finally s.stop()
      f
    }

    /** One drain of the whole feed into a fresh store: (store, checkpoint,
      * sink). Every store gets the doc_count parity check; the last one is
      * also checked in full after the write-back. */
    private def drain(ctx: Ctx, f: Figures, s: Stub, q: String,
        measured: Boolean): (String, String, (DataFrame, Long) => Unit) = {
      val dir = ctx.work.resolve(s.name)
      val store = dir.resolve(s"store-$q").toString
      val ckpt = dir.resolve(s"ckpt-$q").toString
      val inner = MergeSink.forBatch(store)
      val sink: (DataFrame, Long) => Unit = (df, id) => {
        ctx.tracer.time("sink.foreachBatch", "sink", s"$q-batch-$id")(inner(df, id)); ()
      }
      val pages0 = s.stub.changesSinceLog.size
      ctx.attempt()
      val (_, d0, d1) = ctx.tracer.time("sync.drain", "query", q) {
        ChangesPipeline.runOnceWith(ctx.spark, s.url, ckpt, q, sink)
      }
      val events = ctx.progress.of(q)
      if (ctx.progress.committedSeq(q) != s.c.lines.length) ctx.fail(s"$q: drain stopped short")
      if (measured) {
        f.pages += s.stub.changesSinceLog.size - pages0
        f.visibleMs += drainVisibleMs(events, d0)
        f.ingestRate += ingestRate(events)
        f.unitWallMs += (d1 - d0) / 1e6
        f.batches ++= events
        f.dedup += s.index.distinctIds(0L, Docs).toDouble / Docs
      }
      ctx.log(s"$q: drained")
      Cdc.countParity(ctx, q, store, s.url)
      (store, ckpt, sink)
    }
  }

  // ------------------------------------------------------------------
  /** live_mixed: an open-loop tail through [[Supervisor]] (default 1 s
    * trigger, default store sink) over a resident store built during
    * set-up. One generator thread posts couch-side creates, updates and
    * deletes at three fixed rates; meanwhile write-back rounds bulk-edit
    * docs read from the store and wait for their echoes. */
  object LiveMixed {
    /** Resident feed: ~5.5k live docs after creates/updates/deletes. */
    val ResidentChanges = 8000
    /** Offered change rates (changes/s) and each rung's length as a
      * multiple of `--seconds`. Latencies are reported at the middle rung.
      *
      * Measured on 4 shared cores over this resident store: while the
      * machine was loaded, the median visible latency reached
      * [[LatencyLimitMs]] at about 3,000 changes/s (1.8 s at 1,500/s,
      * 2.0 s at 3,000 and 6,000/s); while it was quiet, the 9,000/s rung
      * still met it (1.2-1.5 s). The backlog test never fired below
      * 8,000/s, because batches grow to absorb the load. So the top rung
      * is above the knee only on a loaded machine: the one generator
      * thread cannot offer a rate that saturates the default sink on an
      * idle one. The bottom rung is far below the knee. The middle rung is
      * below it too: there batches stay near the 1 s trigger, so the ~20
      * batches a median needs fit one run; near the knee they would not. */
    val Rates = Seq(250.0, 600.0, 9000.0)
    val RungShare = Seq(0.2, 2.6, 0.4)
    val WbDocs = 400
    val WbPeriodNs = 2000000000L
    /** No round starts later than this before the middle rung ends. */
    val WbTailNs = 3000000000L
    /** Two trigger intervals: the visible latency a 1 s tail is meant to
      * keep. */
    val LatencyLimitMs = 2000.0

    final case class Live(c: Cdc.Corpus, stub: CouchStubServer, url: String,
        sup: Supervisor, name: String, store: String)

    /** A stub over a fresh corpus and a supervised tail that has synced
      * it into the resident store; the stub start and the sync are the
      * set-up time. */
    private def setup(ctx: Ctx, f: Figures, name: String): Live = {
      val dir = ctx.work.resolve(name)
      val store = dir.resolve("store").toString
      val c = Cdc.corpus(ctx.seed, ResidentChanges)
      val s0 = System.nanoTime()
      val (stub, url) = Cdc.startStub(c)
      ctx.progress.headSeq = () => stub.feedSnapshot.length.toLong
      val sup = new Supervisor(ctx.spark)
      val (started, _) = sup.reconcile(Seq(FeedConfig(name, url, store,
        dir.resolve("ckpt").toString)))
      ctx.attempt()
      if (started != Seq(name)) ctx.fail(s"$name: supervisor started $started")
      if (ctx.progress.awaitSeq(name, ResidentChanges, 120000L).isEmpty)
        ctx.fail(s"$name: resident sync did not finish")
      f.setupS += (System.nanoTime() - s0) / 1e9
      ctx.log(s"$name: resident store synced")
      Live(c, stub, url, sup, name, store)
    }

    private def teardown(ctx: Ctx, lv: Live): Unit = {
      lv.sup.stopAll()
      lv.stub.stop()
      Cdc.deleteTree(ctx.work.resolve(lv.name))
    }

    def run(ctx: Ctx): Figures = {
      val f = new Figures
      // three set-ups, the median reported: the first two (the first is
      // cold) are only timed, the third is used
      teardown(ctx, setup(ctx, f, "live0"))
      teardown(ctx, setup(ctx, f, "live1"))
      ctx.tracer.clear()
      ctx.profiler.foreach(_.clear())
      val lv = setup(ctx, f, "live2")
      try measure(ctx, f, lv)
      finally {
        lv.sup.stopAll()
        lv.stub.stop()
      }
      f
    }

    private def measure(ctx: Ctx, f: Figures, lv: Live): Unit = {
      val index = new FeedIndex(lv.stub)
      index.refresh()
      // the load, fixed by the seed before the clock starts
      val rungS = RungShare.map(_ * ctx.seconds)
      val counts = Rates.zip(rungS).map { case (r, s) => (r * s).toInt }
      val ops = counts.flatMap(k => Seq.fill(k)(lv.c.gen.next(pCreate = 0.12, pDelete = 0.1)))
        .map { op => lv.c.gen.applied(op); op }.toIndexedSeq
      val rung = counts.zipWithIndex.flatMap { case (k, r) => Seq.fill(k)(r) }.toArray
      val wbPool = lv.c.model.liveIds
      val wbRnd = new java.util.SplittableRandom(ctx.seed * 31 + 7)
      val g0 = (Jvm.gcMs, Jvm.jitMs)
      val stubWrites0 = lv.stub.writeStats
      val pages0 = lv.stub.changesSinceLog.size
      val start = System.nanoTime() + 50000000L
      val rungStart = rungS.scanLeft(0.0)(_ + _).map(s => start + (s * 1e9).toLong)
      val due = Array.tabulate(ops.length) { j =>
        val r = rung(j)
        val k = j - counts.take(r).sum
        rungStart(r) + (k * 1e9 / Rates(r)).toLong
      }
      val load = new LoadGen(ops, due, lv.url, lv.c.model)
      load.start()
      // write-back rounds are due at a fixed period through the middle
      // rung, whatever the tail is doing; one runs at a time, and a round
      // that falls due while another runs starts when that one ends. The
      // first runs the write-back path cold: it is checked, not counted.
      var next = rungStart(1)
      var r = 0
      while (next < rungStart(2) - WbTailNs) {
        LockSupport.parkNanos(next - System.nanoTime())
        val ids = Seq.fill(WbDocs * 2)(wbPool(wbRnd.nextInt(wbPool.length))).distinct.take(WbDocs)
        Cdc.writeBack(ctx, r, lv.name, lv.store, lv.url, ids, lv.c.model, index, () => ())
          .foreach(w => if (r > 0) f.wb += w)
        r += 1
        next = math.max(next + WbPeriodNs, System.nanoTime())
      }
      load.join()
      ctx.log("load done")
      val head = index.refresh()
      ctx.attempt()
      if (ctx.progress.awaitSeq(lv.name, head, 90000L).isEmpty)
        ctx.fail(s"${lv.name}: tail did not catch up with seq $head")
      f.jvm = (Jvm.gcMs - g0._1, Jvm.jitMs - g0._2)
      val stubWrites1 = lv.stub.writeStats
      f.wbRequests = stubWrites1._1 - stubWrites0._1 - load.requests
      f.wbBytes = stubWrites1._3 - stubWrites0._3 - load.bytes
      f.pages = lv.stub.changesSinceLog.size - pages0
      f.retries = lv.stub.rateLimitedCount
      f.restarts = lv.sup.failureCounts.values.sum
      lv.sup.stopAll()

      ctx.attempt(load.attempted)
      load.errors.foreach(ctx.fail)
      val events = ctx.progress.of(lv.name).filter(_.endSeq > ResidentChanges)
      f.batches ++= events
      f.ingestRate += ingestRate(events)
      f.unitWallMs ++= events.map(_.dur.getOrElse("triggerExecution", 0L).toDouble)
      f.sent = load.attempted
      f.lateMs ++= ops.indices.filter(load.outcome(_) != 0)
        .map(j => Stats.lateMs(due(j), load.sentNs(j)))
      // change-to-visible per accepted change, from its due time
      val lat = ops.indices.filter(load.outcome(_) == 1).map { j =>
        val seq = index.seq(load.revs(j))
        val vis = seq.flatMap(s => ctx.progress.visibleAt(lv.name, s))
        if (vis.isEmpty) ctx.fail(s"change ${ops(j).id} never became visible")
        (rung(j), Stats.dueLatencyMs(due(j), vis.getOrElse(due(j))),
          seq.flatMap(s => events.find(_.endSeq >= s).map(_.batchId)))
      }
      val mid = lat.filter(_._1 == 1)
      f.visibleBatches = mid.flatMap(_._3).distinct.length
      if (!Stats.supported(f.visibleBatches, 0.5))
        ctx.log(s"visible p50 rests on only ${f.visibleBatches} batches")
      f.visibleMs += Stats.median(mid.map(_._2))
      // the sustained rate: the highest rung whose backlog does not grow
      // and whose median latency stays under the limit
      f.sustainedRate = Rates.indices.filter { r =>
        val pts = events.filter(e => e.visibleNs >= rungStart(r) && e.visibleNs < rungStart(r + 1))
          .map(e => ((e.visibleNs - rungStart(r)) / 1e9, (e.headSeq - e.endSeq).toDouble))
        val l = lat.filter(_._1 == r).map(_._2)
        val grows = Stats.backlogGrows(pts, Rates(r))
        val p50 = if (l.isEmpty) Double.NaN else Stats.median(l)
        ctx.log(f"rung ${Rates(r)}%.0f/s: ${pts.length} batches, visible p50 $p50%.0f ms, " +
          s"backlog ${pts.map(_._2.toLong).mkString(" ")}" + (if (grows) " (grows)" else ""))
        l.nonEmpty && !grows && p50 < LatencyLimitMs
      }.map(Rates(_)).maxOption.getOrElse(0.0)
      var prev = ResidentChanges.toLong
      events.sortBy(_.endSeq).foreach { e =>
        if (e.endSeq > prev) f.dedup += index.distinctIds(prev, e.endSeq).toDouble / (e.endSeq - prev)
        prev = e.endSeq
      }
      f.bytesPerLine = index.bytesPerLine
      ctx.log("caught up")
      if (ctx.trace) f.probe = Cdc.feedProbe(lv.url, 8000L)
      f.storeRows = Cdc.verify(ctx, lv.name, lv.store, lv.c.model, lv.stub, lv.url, withStub = true)
      ctx.log("verified")
      val (b, k) = Cdc.storeFiles(lv.store)
      f.storeBytes = b; f.storeFiles = k
    }
  }

  /** The open-loop load generator: one thread, one HTTP client. Each
    * change is sent when due (all changes already due go in one
    * `_bulk_docs` request), carrying the rev the model holds at send
    * time; a write-back that lands in between makes it a conflict, a
    * documented outcome rather than a failure. */
  final class LoadGen(ops: IndexedSeq[Op], due: Array[Long], url: String,
      model: Model) extends Thread("perfbench-load") {
    setDaemon(true)
    val sentNs = new Array[Long](ops.length)
    /** 0 not sent, 1 accepted, 2 conflict, 3 failed, 4 skipped. */
    val outcome = new Array[Byte](ops.length)
    val revs = new Array[String](ops.length)
    @volatile var requests = 0L
    @volatile var bytes = 0L
    val errors = mutable.Buffer.empty[String]
    def attempted: Long = outcome.count(o => o != 0 && o != 4).toLong

    override def run(): Unit = {
      val client = HttpClient.newHttpClient()
      val mapper = new ObjectMapper()
      var i = 0
      while (i < ops.length) {
        val now = System.nanoTime()
        if (due(i) > now) LockSupport.parkNanos(due(i) - now)
        else {
          val pending = mutable.HashMap.empty[String, (Long, Boolean)]
          val sent = mutable.Buffer.empty[(Int, Long)]
          val docs = new java.lang.StringBuilder("""{"docs":[""")
          var j = i
          while (j < ops.length && due(j) <= now && j - i < 500) {
            val op = ops(j)
            val (ord, live) = pending.getOrElse(op.id,
              model.get(op.id).map(m => (m._1, m._2 != null)).getOrElse((0L, false)))
            if (op.deleted && !live) outcome(j) = 4
            else {
              val o = Op(op.id, ord + 1, op.payload)
              if (sent.nonEmpty) docs.append(',')
              docs.append(o.bulkDoc(if (ord > 0) Some(Rev.of(op.id, ord)) else None))
              pending(op.id) = (ord + 1, !op.deleted)
              revs(j) = o.rev
              sent += ((j, ord + 1))
            }
            j += 1
          }
          if (sent.nonEmpty) {
            val body = docs.append("]}").toString
            val t = System.nanoTime()
            sent.foreach { case (k, _) => sentNs(k) = t }
            try {
              val resp = client.send(HttpRequest.newBuilder(URI.create(s"$url/_bulk_docs"))
                .header("Content-Type", "application/json")
                .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
                HttpResponse.BodyHandlers.ofString())
              requests += 1
              bytes += body.getBytes("UTF-8").length
              if (resp.statusCode() != 201) {
                sent.foreach { case (k, _) => outcome(k) = 3 }
                errors += s"generator _bulk_docs -> HTTP ${resp.statusCode()}"
              } else {
                val arr = mapper.readTree(resp.body())
                sent.zipWithIndex.foreach { case ((k, ord), x) =>
                  val r = arr.get(x)
                  if (r.path("ok").asBoolean(false)) {
                    if (r.path("rev").asText() != revs(k))
                      errors += s"stub assigned ${r.path("rev").asText()}, expected ${revs(k)}"
                    model.put(ops(k).id, ord, ops(k).payload)
                    outcome(k) = 1
                  } else if (r.path("error").asText() == "conflict") outcome(k) = 2
                  else { outcome(k) = 3; errors += s"generator write ${ops(k).id}: $r" }
                }
              }
            } catch {
              case e: Exception =>
                sent.foreach { case (k, _) => outcome(k) = 3 }
                errors += s"generator post failed: $e"
            }
          }
          i = j
        }
      }
    }
  }

  // ------------------------------------------------------------------
  /** Per-layer metrics (name, unit, value) of a CDC workload from a traced
    * run's figures, stage profile and spans. Which end-to-end metric each
    * should move (the full map is in perfbench/README.md):
    *  - feed.* (HttpChangesFeed fetch + parse): throughput_per_s and
    *    latency_p50_ms on initial_sync, where fetch and parse dominate;
    *  - source.* (ChangesSource offsets, admission): latency_p50_ms on
    *    live_mixed;
    *  - sink.* (ChangeApply + MergeSink): latency_p50_ms on live_mixed
    *    (merge against resident state), throughput_per_s on initial_sync;
    *  - commit.*, batch.*, supervisor.*: latency_p50_ms on live_mixed;
    *  - writeback.* (BulkDocsSink + JdkHttpPoster): latency_p50_ms on
    *    live_mixed, where write-back shares the tail;
    *  - gen.*, stub.*, jvm.*: none; they show when the load generator,
    *    the stub or the JIT bounds a number.
    * selftime.<layer>_ms is self time per micro-batch (write-back: per
    * round) from the spans. */
  def layers(ctx: Ctx, f: Figures): Seq[(String, String, Double)] = {
    val stages = ctx.profiler.map(_.all).getOrElse(Seq.empty)
    val byBatch = stages.filter(_.batch.isDefined).groupBy(_.batch.get)
    val traced = f.batches.flatMap(e => byBatch.get((e.queryId, e.batchId)))
    def perBatch(sel: StageStat => Boolean, v: StageStat => Double): Double =
      med(traced.map(_.filter(sel).map(v).sum))
    def phase(p: String) = med(f.batches.map(_.dur.getOrElse(p, 0L).toDouble))
    def wall(s: StageStat) = (s.endNs - s.startNs) / 1e6
    val tracedBatches = f.batches.filter(e => byBatch.contains((e.queryId, e.batchId)))
    val nb = math.max(1, tracedBatches.length).toDouble
    val self = ctx.tracer.selfMsByLayer(
      tracedBatches.flatMap(e => Seq(e.query, s"${e.query}-batch-${e.batchId}")).toSet ++
        f.wb.indices.map(r => s"wb-$r"))
    val selected = f.wb.map(_.selected).sum
    Seq(
      ("feed.scan_stage_ms", "ms", perBatch(_.kind == "scan", wall)),
      ("feed.fetch_ms_per_kdoc", "ms/kdoc", f.probe._1),
      ("feed.raw_get_ms_per_kdoc", "ms/kdoc", f.probe._2),
      ("feed.pages", "count", f.pages.toDouble),
      ("feed.bytes_per_doc", "bytes", f.bytesPerLine),
      ("feed.retries", "count", f.retries.toDouble),
      ("source.latest_offset_ms", "ms", phase("latestOffset")),
      ("source.plan_ms", "ms", phase("queryPlanning") + phase("getBatch")),
      ("source.partitions", "count", perBatch(_.kind == "scan", _.tasks.toDouble)),
      ("source.backlog_seq", "count", med(f.batches.map(e => (e.headSeq - e.endSeq).toDouble))),
      ("sink.apply_ms", "ms", phase("addBatch")),
      ("sink.merge_stage_ms", "ms", perBatch(_.kind != "scan", wall)),
      ("sink.shuffle_bytes", "bytes", perBatch(_ => true, _.shuffleRead.toDouble)),
      ("sink.spill_bytes", "bytes", perBatch(_ => true, _.spill.toDouble)),
      ("sink.bytes_written", "bytes", perBatch(_ => true, _.bytesWritten.toDouble)),
      ("sink.files_written", "count", f.storeFiles.toDouble),
      ("sink.rows_in", "count", f.batches.map(_.rows).sum.toDouble),
      ("sink.dedup_ratio", "ratio", med(f.dedup)),
      ("sink.state_rows", "count", f.storeRows.toDouble),
      ("sink.task_skew_max", "ratio", med(traced.flatMap(
        _.filter(_.taskMsMedian > 0).map(s => s.taskMsMax.toDouble / s.taskMsMedian)))),
      ("commit.wal_ms", "ms", phase("walCommit")),
      ("commit.offsets_ms", "ms", phase("commitOffsets")),
      ("batch.trigger_ms", "ms", phase("triggerExecution")),
      ("batch.count", "count", f.batches.length.toDouble),
      ("batch.rows_p50", "count", med(f.batches.map(_.rows.toDouble))),
      ("supervisor.restarts", "count", f.restarts.toDouble),
      ("writeback.post_ms", "ms", med(f.wb.map(_.postMs))),
      ("writeback.docs_per_s", "docs/s",
        f.wb.map(_.accepted).sum / math.max(1e-9, f.wb.map(_.callMs).sum / 1000)),
      ("writeback.requests", "count", f.wbRequests.toDouble),
      ("writeback.bytes_out", "bytes", f.wbBytes.toDouble),
      ("writeback.accepted_ratio", "ratio", f.wb.map(_.accepted).sum.toDouble / math.max(1, selected)),
      ("writeback.conflicts", "count", f.wb.map(_.conflicts).sum.toDouble),
      ("writeback.echo_ms", "ms", med(f.wb.map(_.echoMs))),
      ("tail.sustained_rate", "changes/s", f.sustainedRate),
      ("tail.visible_batches", "count", f.visibleBatches.toDouble),
      ("gen.late_p99_ms", "ms", if (f.lateMs.isEmpty) 0.0 else Stats.percentile(f.lateMs.toSeq, 0.99)),
      ("gen.sent", "count", f.sent.toDouble),
      ("stub.raw_get_share", "ratio", if (f.probe._1 > 0) f.probe._2 / f.probe._1 else 0.0),
      ("jvm.gc_ms", "ms", f.jvm._1.toDouble),
      ("jvm.jit_ms", "ms", f.jvm._2.toDouble),
      ("jvm.heap_after_gc_mb", "MB", Jvm.heapAfterGcMb),
      ("sink.store_bytes_per_doc", "bytes", f.storeBytes.toDouble / math.max(1L, f.storeRows)),
      ("writeback.roundtrip_p50_ms", "ms", med(f.wb.map(_.roundTripMs)))) ++
    Seq("feed", "source", "sink", "commit", "batch", "query").map(l =>
      (s"selftime.${l}_ms", "ms", self.getOrElse(l, 0.0) / nb)) :+
    (("selftime.writeback_ms", "ms",
      self.getOrElse("writeback", 0.0) / math.max(1, f.wb.length)))
  }
}
