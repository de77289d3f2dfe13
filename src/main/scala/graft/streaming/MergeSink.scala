package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.cdc.ChangeApply

/** The merge-upsert sink — SURVEY.md §2.1 S2 as one set-oriented merge
  * per micro-batch (`foreachBatch`), replacing the reference's 2-3 SQL
  * round-trips per change (lib/index.js:96-181; ~625 docs/s ceiling,
  * BASELINE.md).
  *
  * State layout: a versioned parquet document store
  *
  *   <root>/v=<n>/          the (id, rev, doc) table, version n
  *   <root>/_CURRENT        "n <appliedBatchId>" pointer (atomic swap)
  *
  * Each batch: read v=n, [[ChangeApply.applyChanges]], write v=n+1, swap
  * the pointer. Writing a NEW version then renaming a pointer file gives
  * readers snapshot isolation and makes a crashed write invisible.
  *
  * Idempotence / exactly-once: `_CURRENT` records the last applied
  * foreachBatch batchId; a replayed batch (same id) is a NOOP — together
  * with the rev-equality NOOP inside the merge (T3/T4) the sink
  * converges under at-least-once redelivery.
  *
  * SCALE: at 100 TB the store is the same algorithm on a bucketed table
  * (bucket by `id`) or a Delta/Iceberg MERGE — the batch (small) shuffles
  * to the state's bucketing, the state never fully rewrites. The
  * versioned-parquet variant here rewrites the snapshot, which is correct
  * for any size but economical only when state << batch-rate * retention;
  * the `partitionBy` knob below keeps per-file sizes bounded.
  */
object MergeSink {

  /** Read the current state (id, rev, doc); empty if none yet. The
    * empty case is a LocalRelation (statically empty), so downstream
    * merges short-circuit via [[ChangeApply.initialState]] instead of
    * joining against nothing. */
  def readState(spark: SparkSession, root: String): DataFrame =
    currentVersion(root) match {
      case Some((v, _)) => spark.read.parquet(s"$root/v=$v")
      case None =>
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(
            "id STRING, rev STRING, doc STRING"))
    }

  /** (version, lastAppliedBatchId) from the _CURRENT pointer. */
  def currentVersion(root: String): Option[(Long, Long)] = {
    val p = Paths.get(root, "_CURRENT")
    if (!Files.exists(p)) None
    else {
      val parts = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
        .trim.split(" ")
      Some((parts(0).toLong, parts(1).toLong))
    }
  }

  /** Explicit auto table creation — S7, the reference daemon's
    * bootstrap probe (`bin/daemon.js:233-262`: check `pg_class` for the
    * table, CREATE TABLE + seed the `since_checkpoints` row when
    * missing, BEFORE the feed connects). Writes an empty v=0 state with
    * batchId -1 so the store exists and is readable the moment the
    * finder admits the feed; the first real batch (id 0) still takes
    * the O(batch) insert path ([[applyBatch]] recognizes the bootstrap
    * pointer). NOOP (false) if the store already exists. */
  def bootstrap(spark: SparkSession, root: String): Boolean =
    currentVersion(root) match {
      case Some(_) => false
      case None =>
        readState(spark, root) // statically empty (id, rev, doc)
          .write.mode("overwrite").parquet(s"$root/v=0")
        val tmp = Paths.get(root, "_CURRENT.tmp")
        Files.write(tmp, "0 -1".getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, Paths.get(root, "_CURRENT"),
          StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
        true
    }

  /** True while the store is a [[bootstrap]]-created empty table with
    * no batch applied yet (the `-1` sentinel batchId). */
  private def isBootstrapOnly(cur: Option[(Long, Long)]): Boolean =
    cur.contains((0L, -1L))

  /** Apply one micro-batch of change events to the store. Safe to call
    * with the same batchId twice (replay after failure): second call is
    * a NOOP. Returns true if the batch was applied.
    *
    * `mapDoc` is the reference's per-doc transform hook (`opts.map(doc)`,
    * lib/index.js:188-190, P9), applied to every non-deleted incoming
    * doc before the merge — threaded to [[ChangeApply]] so the gate
    * (j29) can exercise it through the full streaming plane. */
  def applyBatch(
      root: String,
      batch: DataFrame,
      batchId: Long,
      excludeTypes: Set[String] = Set.empty,
      numPartitions: Int = 0,
      mapDoc: Option[Column => Column] = None): Boolean = {
    val spark = batch.sparkSession
    val cur = currentVersion(root)
    if (cur.exists(_._2 >= batchId)) return false // replayed batch: NOOP
    val v = cur.map(_._1).getOrElse(-1L) + 1
    // first batch: no state (or only the bootstrap-empty v=0) —
    // O(batch) insert path, no join against an empty table
    val merged0 =
      if (cur.isEmpty || isBootstrapOnly(cur))
        ChangeApply.initialState(batch, excludeTypes, mapDoc)
      else ChangeApply.applyChanges(
        readState(spark, root), batch, excludeTypes, mapDoc)
    val merged =
      if (numPartitions > 0) merged0.repartition(numPartitions, merged0("id"))
      else merged0
    merged.write.mode("overwrite").parquet(s"$root/v=$v")
    val tmp = Paths.get(root, "_CURRENT.tmp")
    Files.createDirectories(Paths.get(root))
    Files.write(tmp, s"$v $batchId".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(root, "_CURRENT"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    // retain only the previous version (crash-recovery window)
    cur.foreach { case (prev, _) =>
      if (prev >= 1) deleteTree(Paths.get(root, s"v=${prev - 1}"))
    }
    true
  }

  /** foreachBatch hook: writeStream.foreachBatch(MergeSink.forBatch(root)). */
  def forBatch(root: String, excludeTypes: Set[String] = Set.empty,
      mapDoc: Option[Column => Column] = None)
      : (DataFrame, Long) => Unit =
    (df, id) => { applyBatch(root, df, id, excludeTypes, mapDoc = mapDoc); () }

  /** Delete a directory tree, children before parents (no-op when
    * absent). Shared by every store sink's retention step. */
  private[streaming] def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Using.resource(Files.walk(p))(_.iterator().asScala.toList).reverse
        .foreach(Files.deleteIfExists(_))
}
