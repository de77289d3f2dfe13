package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType

import MergeSink.deleteTree

/** Shared LSM-style maintenance for the streaming index sinks
  * ([[LshDedupSink]], [[AnnIndexSink]]): fold the one-file-per-batch
  * accumulation inside every `<partCol>=` directory back to ONE file per
  * partition, answer-preserving — the same fold [[graft.pipeline
  * .Retrieval.compact]] runs for the inverted index and
  * [[DeltaLogMergeSink.compact]] for the doc store. Without it a
  * standing 100 TB ingest accumulates a small file per touched
  * partition per micro-batch forever; with it the file count is bounded
  * by the partition fanout between compactions.
  *
  * Mechanics: snapshot each partition's parquet file names, fold
  * EXACTLY those files (explicit file list + basePath, so a sink batch
  * landing mid-fold can never be both folded and kept) into a hidden
  * `_compact_tree` via `repartition(part)` + `partitionBy(part)` (one
  * task per key -> one file per partition, renamed to deterministic
  * `compact-<i>.parquet` while still staged), write the snapshot into
  * each staged dir as a `_folded` manifest, then swap each partition in
  * with two directory renames: live -> `_old_`, staged -> live. Batch
  * logs, verdicts, and checkpoints are untouched, so replay idempotence
  * and batch-id continuation survive compaction.
  *
  * Durability: every run starts with a recovery scan over leftover
  * `_old_<part>` dirs, and the `_folded` manifest makes each crash
  * point distinguishable — no path discards rows:
  *  - live has NO manifest (missing, empty, or recreated by post-crash
  *    sink batches): the swap never completed, so `_old_` holds the
  *    only pre-crash copy — merge it into live (same-name batch files
  *    are replayed batches with identical content: skip);
  *  - live HAS a manifest: the swap completed — restore only `_old_`
  *    files absent from the manifest (sink batches that landed
  *    mid-compaction, already excluded from the fold), drop the rest
  *    (their rows are the manifest fold).
  * The in-run swap applies the same manifest rule before deleting the
  * `_old_` tree, so mid-compaction batches survive without a crash too.
  */
object IndexCompact {

  private val ManifestName = "_folded"

  def compactPartitions(
      spark: SparkSession, root: String, partCol: String): Unit =
    compactPartitions(spark, root, partCol, () => ())

  private[streaming] def compactPartitions(
      spark: SparkSession, root: String, partCol: String,
      afterFold: () => Unit): Unit =
    compactPartitions(spark, root, partCol, afterFold, _ => ())

  /** `afterFold` fires between the fold's materialization and the first
    * directory swap; `beforeSwapIn` fires per partition between the
    * live->_old_ rename and the staged move-in — the two race windows a
    * concurrent sink batch can land in. Specs use them to pin the
    * extras-preserving swap and the abandon-fold fallback; production
    * callers take the no-op overload above. */
  private[streaming] def compactPartitions(
      spark: SparkSession, root: String, partCol: String,
      afterFold: () => Unit, beforeSwapIn: Path => Unit): Unit = {
    val rootP = Paths.get(root)
    if (!Files.exists(rootP)) return
    def partDirs(base: Path): Seq[Path] =
      scala.util.Using.resource(Files.list(base)) { st =>
        st.iterator().asScala
          .filter(p => Files.isDirectory(p) &&
            p.getFileName.toString.startsWith(s"$partCol="))
          .toSeq.sortBy(_.getFileName.toString)
      }
    // Recovery (see scaladoc): fold leftover _old_ dirs back in, using
    // the live manifest to tell a completed swap from an interrupted one.
    scala.util.Using.resource(Files.list(rootP)) { st =>
      st.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith(s"_old_$partCol="))
        .toList
    }.foreach { old =>
      val live = rootP.resolve(old.getFileName.toString.stripPrefix("_old_"))
      readManifest(live) match {
        case None if parquetFiles(live).isEmpty =>
          deleteTree(live)
          Files.move(old, live, StandardCopyOption.ATOMIC_MOVE)
        case None => // interrupted swap + post-crash sink batches in live
          mergeInto(old, live, keep = _ => true)
          deleteTree(old)
        case Some(folded) => // completed swap; restore mid-run extras only
          mergeInto(old, live, keep = n => !folded(n))
          deleteTree(old)
      }
    }
    val liveDirs = partDirs(rootP)
    if (liveDirs.isEmpty) return
    val next = rootP.resolve("_compact_tree")
    deleteTree(next)
    // Snapshot of the fold's input files, per partition dir: the read
    // below consumes EXACTLY these files, so anything a concurrent sink
    // batch adds later is in neither the fold nor the manifest and must
    // survive the swap.
    val snapshot: Map[String, Seq[String]] = liveDirs.map { d =>
      d.getFileName.toString ->
        parquetFiles(d).map(_.getFileName.toString)
    }.toMap
    val snapFiles = liveDirs.flatMap { d =>
      snapshot(d.getFileName.toString).map(n => d.resolve(n).toString)
    }
    if (snapFiles.isEmpty) return
    // The read supplies an explicit schema with the partition column as
    // STRING, which (a) skips partition TYPE INFERENCE — the ANN
    // sign-bucket values are strings like "0101" that inference folds
    // to int 101, which would rewrite the partition under a DIFFERENT
    // directory name and duplicate its rows beside the un-swapped
    // original — and (b) avoids mutating session conf, so concurrent
    // queries on the shared SparkSession are unaffected. The string
    // value round-trips verbatim through partitionBy (int-valued
    // partitions like bk=5 write the same name either way).
    val dataSchema = spark.read.parquet(snapFiles.head).schema
    spark.read.schema(dataSchema.add(partCol, StringType))
      .option("basePath", root)
      .parquet(snapFiles: _*)
      .repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(next.toString)
    afterFold()
    partDirs(next).foreach { dir =>
      // deterministic names, renamed while still staged (no visibility
      // window); the manifest rides in the staged dir so the swap below
      // is one directory rename carrying data + provenance together
      parquetFiles(dir).zipWithIndex.foreach { case (f, i) =>
        Files.move(f, dir.resolve(s"compact-$i.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      val folded = snapshot.getOrElse(dir.getFileName.toString, Seq.empty)
      Files.write(dir.resolve(ManifestName),
        folded.mkString("\n").getBytes(StandardCharsets.UTF_8))
      val live = rootP.resolve(dir.getFileName.toString)
      val old = rootP.resolve(s"_old_${dir.getFileName.toString}")
      deleteTree(old)
      if (Files.exists(live))
        Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
      beforeSwapIn(live)
      val swapped =
        try { Files.move(dir, live, StandardCopyOption.ATOMIC_MOVE); true }
        catch {
          // A concurrent sink batch recreated `live` in the window
          // between the two renames (ATOMIC_MOVE onto a non-empty dir
          // throws). The fold is only a file-count optimization, so
          // abandon THIS partition's fold: restore every pre-fold file
          // from _old_ beside the new batch — the exact merge the
          // recovery scan would run after a crash at this point — and
          // let the next compaction run fold the partition again.
          case _: java.nio.file.FileSystemException if Files.exists(live) =>
            mergeInto(old, live, keep = _ => true)
            deleteTree(old)
            deleteTree(dir)
            false
        }
      if (swapped) {
        // files in old the fold did not cover = mid-compaction sink
        // batches: move them back instead of discarding them
        val seen = folded.toSet
        mergeInto(old, live, keep = n => !seen(n))
        deleteTree(old)
      }
    }
    deleteTree(next)
  }

  private def parquetFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Seq.empty
    else scala.util.Using.resource(Files.list(dir)) { st =>
      st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
    }

  /** The `_folded` manifest of a completed swap: the file names whose
    * rows the partition's compact files contain. None = no manifest
    * (pre-swap dir, or a dir recreated by sink batches post-crash). */
  private def readManifest(dir: Path): Option[Set[String]] = {
    val p = dir.resolve(ManifestName)
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .linesIterator.filter(_.nonEmpty).toSet)
  }

  /** Move `from`'s parquet files selected by `keep` into `to`, skipping
    * names already present there (a same-name batch file is the same
    * batch replayed — identical content). */
  private def mergeInto(
      from: Path, to: Path, keep: String => Boolean): Unit = {
    Files.createDirectories(to)
    parquetFiles(from).filter(f => keep(f.getFileName.toString))
      .foreach { f =>
        val dst = to.resolve(f.getFileName.toString)
        if (!Files.exists(dst))
          Files.move(f, dst, StandardCopyOption.ATOMIC_MOVE)
      }
  }
}
