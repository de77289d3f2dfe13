package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.streaming.ChangesOffset

/** One timed interval at a layer boundary. `trace` groups the spans of
  * one micro-batch (`batch-<id>`), write-back round or probe; `parent`
  * is the id of the enclosing span (0 = root). Times are nanoTime. */
final case class Span(id: Long, name: String, layer: String, trace: String,
    parent: Long, startNs: Long, endNs: Long) {
  def json(t0: Long): String =
    s"""{"id":$id,"name":"$name","layer":"$layer","trace":"$trace",""" +
      s""""parent":$parent,"start_us":${(startNs - t0) / 1000},""" +
      s""""end_us":${(endNs - t0) / 1000}}"""
}

/** In-memory span buffer, written once at exit. Spans come only from the
  * benchmark's listeners and wrappers around calls into the engine. */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong
  val t0: Long = System.nanoTime()
  /** nanoTime of an epoch-millis instant from Spark's own clocks. */
  private val epochOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def nsOfEpochMs(ms: Long): Long = ms * 1000000L + epochOffsetNs

  /** An id for a span recorded later with [[put]] (a parent whose end
    * is known only after its children). */
  def reserve(): Long = ids.incrementAndGet()

  def put(id: Long, name: String, layer: String, trace: String,
      parent: Long, startNs: Long, endNs: Long): Unit =
    if (on) spans.add(Span(id, name, layer, trace, parent, startNs, endNs))

  def add(name: String, layer: String, trace: String, parent: Long,
      startNs: Long, endNs: Long): Long = {
    val id = reserve()
    put(id, name, layer, trace, parent, startNs, endNs)
    id
  }

  /** Time `body` as a span (always timed; recorded only when tracing). */
  def time[T](name: String, layer: String, trace: String, parent: Long = 0L)
      (body: => T): (T, Long, Long) = {
    val s = System.nanoTime()
    val r = body
    val e = System.nanoTime()
    add(name, layer, trace, parent, s, e)
    (r, s, e)
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Drop what warm-up recorded. */
  def clear(): Unit = spans.clear()

  /** Spans recorded without a parent (listener stages, the sink wrapper,
    * batches inside a drain) adopt the smallest span of their own trace
    * family that contains them. Spark stamps stages in whole ms and the
    * batch phases are laid out from ms durations, hence the tolerance. */
  def adopted: Seq[Span] = {
    val ss = all
    val tol = 5000000L
    def family(c: Span, p: Span): Boolean =
      if (c.trace == "driver") p.trace.startsWith("wb-")
      else if (c.trace.startsWith("batch-")) p.trace.endsWith("-" + c.trace)
      else p.trace == c.trace || c.trace.startsWith(p.trace + "-batch-")
    ss.map { c =>
      if (c.parent != 0L) c
      else {
        val d = c.endNs - c.startNs
        ss.filter(p => p.id != c.id && family(c, p) &&
            p.startNs - tol <= c.startNs && c.endNs <= p.endNs + tol && {
              val pd = p.endNs - p.startNs
              pd > d || (pd == d && p.id < c.id)
            })
          .minByOption(p => p.endNs - p.startNs)
          .fold(c)(p => c.copy(parent = p.id))
      }
    }
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover, summed by layer (ms), over the spans whose trace is
    * in `traces` (a listener stage counts under its parent's trace). */
  def selfMsByLayer(traces: Set[String]): Map[String, Double] = {
    val ss = adopted
    val byId = ss.map(s => s.id -> s).toMap
    def traceOf(s: Span): String =
      if (s.trace == "driver" || s.trace.startsWith("batch-"))
        byId.get(s.parent).fold(s.trace)(_.trace)
      else s.trace
    val kids = ss.groupBy(_.parent)
    ss.filter(s => traces(traceOf(s))).map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
          val from = math.max(a, reach)
          (acc + math.max(0L, b - from), math.max(reach, b))
        }._1
      s.layer -> (s.endNs - s.startNs - covered) / 1e6
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def write(path: String): Unit = {
    val out = adopted.sortBy(_.startNs).map(_.json(t0)).mkString("", "\n", "\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      out.getBytes("UTF-8"))
  }
}

/** One committed micro-batch as seen from outside the engine. */
final case class BatchEvent(query: String, queryId: String, batchId: Long, endSeq: Long,
    rows: Long, visibleNs: Long, headSeq: Long, dur: Map[String, Long])

/** StreamingQueryListener recording each data-carrying batch: its end
  * seq, when its rows became visible, and the engine's own `durationMs`
  * breakdown. A batch's rows turn visible when the sink commits, which
  * is just before `commitOffsets`; the event arrives after it, so the
  * visible instant is the arrival minus that phase. The durations also
  * become spans (trace = batch id) laid out in MicroBatchExecution's
  * phase order. */
final class Progress(tracer: Tracer) extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[BatchEvent]
  /** The feed's head seq when a batch commits (for backlog). */
  @volatile var headSeq: () => Long = () => 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val now = System.nanoTime()
    val p = e.progress
    if (p.numInputRows > 0 && p.sources.nonEmpty) {
      val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val visible = now - dur.getOrElse("commitOffsets", 0L) * 1000000L
      events.add(BatchEvent(p.name, p.id.toString, p.batchId,
        ChangesOffset.fromJson(p.sources.head.endOffset).seq, p.numInputRows,
        visible, headSeq(), dur))
      val end = now
      val start = end - dur.getOrElse("triggerExecution", 0L) * 1000000L
      val trace = s"${p.name}-batch-${p.batchId}"
      val root = tracer.add("batch.trigger", "batch", trace, 0L, start, end)
      var at = start
      Seq("latestOffset" -> "source", "walCommit" -> "commit",
        "getBatch" -> "source", "queryPlanning" -> "source",
        "addBatch" -> "sink", "commitOffsets" -> "commit").foreach {
        case (phase, layer) =>
          val d = dur.getOrElse(phase, 0L) * 1000000L
          tracer.add(s"batch.$phase", layer, trace, root, at, at + d)
          at += d
      }
    }
  }

  def of(query: String): Seq[BatchEvent] =
    events.asScala.filter(_.query == query).toSeq.sortBy(_.batchId)

  def committedSeq(query: String): Long =
    events.asScala.filter(_.query == query).map(_.endSeq).maxOption.getOrElse(0L)

  /** Block until `query` has committed through `seq`; the visible time of
    * the first batch covering it, or None after `timeoutMs`. */
  def awaitSeq(query: String, seq: Long, timeoutMs: Long): Option[Long] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (committedSeq(query) < seq && System.nanoTime() < deadline)
      Thread.sleep(2)
    visibleAt(query, seq)
  }

  def visibleAt(query: String, seq: Long): Option[Long] =
    of(query).find(_.endSeq >= seq).map(_.visibleNs)
}

/** Per-stage profile of one Spark job stage. `batch` is the micro-batch
  * (query id, batch id) and `entry` the catalog run (`<pass>/<entry>`)
  * that submitted it, if any. */
final case class StageStat(stageId: Int, batch: Option[(String, Long)],
    entry: Option[String], kind: String, startNs: Long, endNs: Long,
    tasks: Int, shuffleRead: Long, shuffleWrite: Long, spill: Long,
    bytesWritten: Long, taskMsMax: Long, taskMsMedian: Long, taskMsSum: Long)

/** SparkListener stage profile (traced runs only). A stage belongs to the
  * micro-batch named by the job's `streaming.sql.batchId` property, or to
  * the catalog run named by [[StageProfiler.EntryKey]]. Its kind: `scan`
  * reads the `_changes` source (fetch + parse + the map side of the
  * latest-per-id dedup), `write` writes the new store version, `other` is
  * the rest (state scan, merge shuffles, query stages). */
final class StageProfiler(tracer: Tracer) extends SparkListener {
  private val stageBatch = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]
  private val stageEntry = new java.util.concurrent.ConcurrentHashMap[Int, String]
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]
  val stages = new ConcurrentLinkedQueue[StageStat]

  override def onJobStart(e: SparkListenerJobStart): Unit = Option(e.properties).foreach { p =>
    Option(p.getProperty("streaming.sql.batchId")).foreach { b =>
      val id = (p.getProperty("sql.streaming.queryId"), b.toLong)
      e.stageIds.foreach(s => stageBatch.put(s, id))
    }
    Option(p.getProperty(StageProfiler.EntryKey)).foreach(k =>
      e.stageIds.foreach(s => stageEntry.put(s, k)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null)
      taskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long])
        .add(e.taskInfo.duration)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val ts = Option(taskMs.remove(i.stageId)).map(_.asScala.toSeq.sorted)
      .getOrElse(Seq.empty)
    if (i.submissionTime.isDefined) {
      val batch = Option(stageBatch.get(i.stageId))
      val entry = Option(stageEntry.get(i.stageId))
      val m = i.taskMetrics
      val names = i.rddInfos.map(r => r.name + " " + r.scope.map(_.name).getOrElse(""))
      val kind =
        if (names.exists(n => n.contains("DataSourceRDD") || n.contains("MicroBatchScan"))) "scan"
        else if (m.outputMetrics.bytesWritten > 0) "write"
        else "other"
      val st = StageStat(i.stageId, batch, entry, kind,
        tracer.nsOfEpochMs(i.submissionTime.get),
        tracer.nsOfEpochMs(i.completionTime.getOrElse(i.submissionTime.get)),
        i.numTasks, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten,
        ts.lastOption.getOrElse(0L),
        if (ts.isEmpty) 0L else ts(ts.length / 2), ts.sum)
      stages.add(st)
      val (layer, trace) = entry match {
        case Some(k) => ("exec", "cat-" + k.replace('/', '-'))
        case None => (if (kind == "scan") "feed" else "sink",
          batch.fold("driver")(b => s"batch-${b._2}"))
      }
      tracer.add(s"stage.$kind", layer, trace, 0L, st.startNs, st.endNs)
    }
  }

  def all: Seq[StageStat] = stages.asScala.toSeq.sortBy(_.stageId)

  /** Drop what warm-up recorded. */
  def clear(): Unit = stages.clear()
}

object StageProfiler {
  /** Local property naming the catalog run a job belongs to. */
  val EntryKey = "perfbench.entry"
}

/** JVM counters read before and after the measured window. */
object Jvm {
  import java.lang.management.ManagementFactory
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)
  /** Heap in use right after the last collection, over heap pools (MB). */
  def heapAfterGcMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}
