package graft

import org.apache.spark.sql.SparkSession

import graft.streaming.{FeedConn, MergeSink}

/** Count-consistency monitor — the reference's only production
  * correctness check (`nagios-check_couch_postgres_count:22-47`:
  * per-db couch `doc_count` vs sink `SELECT count(id)`; any mismatch is
  * WARNING, a difference beyond the threshold is ERROR).
  *
  * Usage:
  *   runMain graft.CountCheck [--threshold N] <feed>=<storeRoot> ...
  *
  * `feed` is a JSONL path or an `http(s)://[user:password@]host:port/db`
  * URL (the nagios script's couch host; credentials as in the
  * reference's db-URL config). Exit codes are nagios-standard:
  * 0 = OK, 1 = WARNING (any mismatch), 2 = ERROR (difference >
  * threshold, default 10 like the script's `difference_threashold`).
  */
object CountCheck {

  final case class Result(feed: String, feedCount: Long, storeCount: Long) {
    def difference: Long = math.abs(feedCount - storeCount)
  }

  def check(spark: SparkSession, feed: String, storeRoot: String): Result = {
    Result(feed,
      FeedConn.of(feed).open().liveDocCount(),
      MergeSink.readState(spark, storeRoot).count())
  }

  /** nagios verdict for one result: 0 OK / 1 WARNING / 2 ERROR. */
  def verdict(r: Result, threshold: Long): Int =
    if (r.difference == 0) 0
    else if (r.difference > threshold) 2
    else 1

  def main(args: Array[String]): Unit = {
    var threshold = 10L
    val pairs = scala.collection.mutable.Buffer.empty[(String, String)]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--threshold" => threshold = args(i + 1).toLong; i += 2
        case kv if kv.contains("=") =>
          val cut = kv.lastIndexOf('=')
          pairs += ((kv.substring(0, cut), kv.substring(cut + 1))); i += 1
        case other =>
          System.err.println(s"unrecognized arg: $other"); sys.exit(3)
      }
    }
    if (pairs.isEmpty) {
      System.err.println(
        "usage: CountCheck [--threshold N] <feed>=<storeRoot> ...")
      sys.exit(3)
    }
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var exitcode = 0
    pairs.foreach { case (feed, store) =>
      val r = check(spark, feed, store)
      val v = verdict(r, threshold)
      exitcode = math.max(exitcode, v)
      val line = v match {
        case 0 => s"OK - $feed: ${r.feedCount} == $store: ${r.storeCount}"
        case 1 => s"WARNING - $feed count difference ${r.feedCount} != " +
          s"${r.storeCount} - difference: ${r.difference}"
        case _ => s"ERROR - $feed count difference ${r.feedCount} != " +
          s"${r.storeCount} - difference: ${r.difference}"
      }
      println(line)
    }
    spark.stop()
    sys.exit(exitcode)
  }
}
