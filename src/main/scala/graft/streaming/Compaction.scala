package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Compaction of the delta logs ([[DeltaLog]]): folds a log's old
  * per-batch directories into one, so a long-running stream's readouts
  * open a bounded number of files. `DeltaLog.maybeCompact` runs it after
  * each write past the shared threshold. The flat metric directories of
  * `MicroBatchPipeline` are not compacted: [[Retention]] owns their
  * lifetime.
  */
object Compaction {

  /** Batch id of a log dir entry: the LAST digit run in the name, so both
    * `b<id>.parquet` batch dirs and `compacted-<N>.parquet` rewrites sort
    * by it (a rewrite carries the max id it absorbed — strictly older than
    * every surviving batch dir). Legacy unversioned `compacted.parquet`
    * sorts oldest (-1). */
  private def bid(p: Path): Long =
    "\\d+".r.findAllIn(p.getName).toSeq.lastOption
      .map(_.toLong).getOrElse(-1L)

  private def isCompacted(p: Path): Boolean =
    p.getName.startsWith("compacted")

  /** Crash recovery for [[compactLog]], run on every entry. The publish
    * protocol is write-tmp → rename-to-`compacted-<N>` → delete-absorbed,
    * so a crash leaves exactly one of two states, both repairable:
    *  - stale `.compacting` tmp (crash before publish): the absorbed dirs
    *    are all still in place, so the partial rewrite is redundant —
    *    delete it;
    *  - published `compacted-<N>` with absorbed dirs (bid ≤ N) still
    *    present (crash mid-delete): finish the deletes. Correct because
    *    the rewrite absorbed EVERY dir with bid ≤ N that existed (olds is
    *    a prefix of the bid-sorted listing), batch ids only grow, and the
    *    keepLast guard kept only bids > N — so any surviving dir with
    *    bid ≤ N is absorbed data counted twice.
    * Readouts between the crash and this repair may double-count the
    * absorbed rows — the price of crash-safety without a manifest layer
    * (Delta/Iceberg territory, out of scope by design); before round 17
    * the same crash LOST them instead, which is strictly worse. */
  private def recoverLog(fs: org.apache.hadoop.fs.FileSystem,
      path: Path): Unit = {
    fs.delete(new Path(path.toString + ".compacting"), true)
    if (!fs.exists(path)) return
    val dirs = fs.listStatus(path).filter(_.isDirectory).map(_.getPath)
    val compacted = dirs.filter(p => isCompacted(p) && bid(p) >= 0L)
    if (compacted.isEmpty) return
    val latest = compacted.maxBy(bid)
    for (d <- dirs if d != latest && bid(d) <= bid(latest))
      if (!fs.delete(d, true))
        throw new java.io.IOException(
          s"compactLog recovery: failed to remove absorbed $d")
  }

  /** Compaction for the delta-log layout (nested `<stem>b<id>.parquet`
    * batch DIRECTORIES under the log root). Top-level files, such as a
    * batch-built index seeded into a screen's log, are left alone.
    *
    * Folds every batch directory EXCEPT the `keepLast` newest into one
    * `compacted-<N>.parquet` directory, N = the max absorbed batch id
    * (recursive read → repartition to ~`targetBytes` files → publish).
    * Correctness: the maintainers' delta rows are additive counters, so
    * collapsing file/batch boundaries never changes a fold; recovery
    * safety comes from the `keepLast` guard — foreachBatch checkpoint
    * recovery can replay (and fixed-path overwrite) only the LAST
    * uncommitted batch, so dirs older than the newest `keepLast` can
    * never be rewritten in place and are safe to absorb. An existing
    * rewrite from a previous pass is re-absorbed (it sorts by its own N,
    * older than every surviving batch dir). Run between batches / with
    * readers paused: the publish is a rename plus deletes, with no
    * manifest layer (Delta/Iceberg territory, out of scope by design).
    *
    * Crash-safe (round-16 advice): the rewrite is PUBLISHED (renamed into
    * the log under its versioned name) BEFORE any absorbed dir is
    * deleted, and [[recoverLog]] on entry repairs either interrupted
    * state — a crash can transiently double-count but never lose deltas.
    *
    * @return (batchDirsBefore, batchDirsAfter) — unchanged when there is
    *         nothing to gain (≤ 1 dir in the compaction set). */
  def compactLog(spark: SparkSession, logDir: String, keepLast: Int = 2,
      targetBytes: Long = 128L << 20): (Int, Int) = {
    val path = new Path(logDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverLog(fs, path)
    if (!fs.exists(path)) return (0, 0)
    val dirs = fs.listStatus(path).filter(_.isDirectory).map(_.getPath)
    if (dirs.isEmpty) return (0, 0)
    val sorted = dirs.sortBy(bid)
    val (olds, kept) = sorted.splitAt(math.max(0, sorted.length - keepLast))
    if (olds.length <= 1) return (dirs.length, dirs.length)

    val totalBytes = olds.map(d => fs.getContentSummary(d).getLength).sum
    val targetFiles =
      math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val tmp = new Path(logDir + ".compacting")
    spark.read.option("recursiveFileLookup", "true")
      .parquet(olds.map(_.toString): _*)
      .repartition(targetFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    // publish FIRST: once the rewrite is renamed into the log, the data
    // exists in two places and every later failure mode is double-count
    // (repaired by recoverLog on next entry), never loss
    val dest = new Path(path, s"compacted-${bid(olds.last)}.parquet")
    if (fs.exists(dest)) // impossible by construction (ids only grow past
      throw new java.io.IOException( // any published rewrite) — guard it
        s"compactLog: publish target $dest already exists")
    if (!fs.rename(tmp, dest))
      throw new java.io.IOException(
        s"compactLog: failed to publish $tmp as $dest (data intact at $tmp)")
    // the Hadoop FS API reports failures by RETURNING false: fail loudly,
    // but note the rewrite IS published — a failure here double-counts
    // until the next entry's recovery, it does not lose data
    for (d <- olds)
      if (!fs.delete(d, true))
        throw new java.io.IOException(
          s"compactLog: failed to remove absorbed $d (rewrite published " +
            s"at $dest; readouts double-count until the next compactLog)")
    (dirs.length, kept.length + 1)
  }
}
