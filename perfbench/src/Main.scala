package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload --seed --seconds --trace --cores --work
  * --out` (catalog_full also `--tables`). Prints each metric with its
  * unit and direction, the wall of the workload's repeated unit, then the
  * result line; exits 1 when a check fails. perfbench/run.py fills in the
  * per-layer metrics a workload has no layer for and the tracing overhead. */
object Main {
  /** name -> (unit, better) of the end-to-end metrics. */
  val EndToEnd: Seq[(String, String, String)] = Seq(
    ("setup_s", "s", "lower"),
    ("latency_p50_ms", "ms", "lower"),
    ("throughput_per_s", "1/s", "higher"))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = Paths.get(opt("work"))
    val out = Paths.get(opt("out"))

    val broken = SelfCheck.run()
    if (broken.nonEmpty) {
      broken.foreach(b => System.err.println(s"[perfbench] self-check failed: $b"))
      sys.exit(2)
    }

    // the initial_sync corpus is the benchmark's input, not set-up: make
    // it while Spark starts
    val corpus = if (workload != "initial_sync") None else
      Some(java.util.concurrent.CompletableFuture.supplyAsync(
        () => Cdc.corpus(seed, Workloads.InitialSync.Docs)))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // the catalog's own settings (graft.Verify, graft.Bench): typed
      // aggregates stay hash-based
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(trace)
    val progress = new Progress(tracer)
    spark.streams.addListener(progress)
    val profiler = if (trace) Some(new StageProfiler(tracer)) else None
    profiler.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, seed, seconds, trace, work, tracer, progress, profiler)

    val f: Option[Outcome] = try {
      Some(workload match {
        case "initial_sync" => Workloads.InitialSync.run(ctx, corpus.get.join())
        case "live_mixed" => Workloads.LiveMixed.run(ctx)
        case "catalog_full" => Catalog.run(ctx, opt("tables"), work.resolve("verify"), cores)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      })
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.fail(s"run aborted: $e")
        None
    }
    ctx.log("workload done")
    val failed = ctx.errors
    failed.foreach(e => System.err.println(s"[perfbench] FAILED: $e"))
    val metrics: Seq[(String, Double, String, String)] = f.map { fig =>
      if (trace) {
        Files.createDirectories(out)
        tracer.write(out.resolve(s"spans-$workload-$seed.jsonl").toString)
        fig match {
          case c: Catalog.Figures => Files.write(out.resolve(s"profile-$workload-$seed.jsonl"),
            c.profileLines(ctx).mkString("", "\n", "\n").getBytes("UTF-8"))
          case _ =>
        }
        fig.layers(ctx).map { case (k, u, v) => (k, v, u, "") }
      } else {
        val e = fig.e2e
        EndToEnd.map { case (k, u, b) => (k, e(k), u, b) }
      }
    }.getOrElse(Nil)
    val wall = f.fold(0.0)(_.wallMs)
    spark.stop()
    ctx.log("spark stopped")

    metrics.foreach { case (k, v, u, b) =>
      println(f"metric $k%-30s $v%14.4f $u" + (if (b.isEmpty) "" else s" ($b is better)"))
    }
    println(s"unit_wall_ms ${jsonNum(wall)}")
    val correct = failed.isEmpty && f.isDefined
    val body = metrics.map { case (k, v, u, _) =>
      s""""$k":{"value":${jsonNum(v)},"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":$correct,"attempted":${math.max(1L, ctx.attempted)},""" +
      s""""failed":${failed.length},"metrics":{$body}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
