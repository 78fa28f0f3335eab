package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one delta-log path of the Stream* maintainers.
  *
  * Every maintainer appends per-batch parquet deltas under a log directory
  * and serves its readouts by folding that log. The decisions that make
  * this correct are taken here, once, for every log:
  *
  *  - layout: batch `id` of a [[Log]] lands at
  *    `<logDir>/<sub>/<stem>b<id>.parquet`;
  *  - exactly-once: that path is a pure function of the batch id and is
  *    written in overwrite mode, so a checkpoint-recovery replay replaces
  *    its own delta instead of double-counting it (additive counters are
  *    not duplicate-insensitive);
  *  - compaction: past [[CompactThreshold]] batch directories the log is
  *    folded after the write ([[maybeCompact]]), so readout file counts
  *    stay bounded for the life of the stream;
  *  - fresh directory: a maintainer polled before its first batch lands
  *    has no log directory; [[emptyOr]] serves the empty relation in the
  *    declared schema, so readouts degrade to empty reports, never throw
  *    (FreshMaintainerSpec pins each declared DDL against the writer);
  *  - cache refresh: a readout core that persists its fold keeps a cache
  *    entry over the log path; [[emptyOr]] refreshes it when the log has
  *    moved since the last read, so a second poll sees the new batches;
  *  - empty batches land no delta ([[ifNonEmpty]]), and [[run]] is the one
  *    `foreachBatch` wiring with its checkpoint beside the logs.
  */
private[graft] object DeltaLog {

  /** One declared delta log of a maintainer, in schema `ddl`. */
  final case class Log(sub: String, stem: String, ddl: String) {

    /** Land one batch's delta (fixed-path overwrite), then compact. */
    def write(delta: DataFrame, batchId: Long, logDir: String): Unit = {
      delta.write.mode("overwrite")
        .parquet(s"$logDir/$sub/${stem}b$batchId.parquet")
      maybeCompact(delta.sparkSession, s"$logDir/$sub")
    }

    /** The whole log as one relation, ready to fold. */
    def read(spark: SparkSession, logDir: String): DataFrame =
      emptyOr(spark, s"$logDir/$sub", ddl)
  }

  /** The reference's trigger interval, every maintainer's default. */
  val DefaultTrigger: Trigger = Trigger.ProcessingTime("10 seconds")

  /** Append a batch's deltas unless the trigger brought no rows. */
  def ifNonEmpty(batch: DataFrame)(append: => Unit): Unit =
    if (!batch.isEmpty) append

  /** Wire a stream into a maintainer's per-batch `process`, with the
    * checkpoint at `<logDir>/checkpoint`. */
  def run(stream: DataFrame, logDir: String, trigger: Trigger)(
      process: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch(process)
      .trigger(trigger)
      .option("checkpointLocation", s"$logDir/checkpoint")
      .start()

  /** Each log directory's top-level listing as of its last read. */
  private val lastSeen =
    new scala.collection.concurrent.TrieMap[String, Seq[(String, Long)]]()

  /** The folded-log input relation: the recursive parquet read of `dir`
    * when it exists, else the empty relation in `ddl`'s schema. A cached
    * plan over `dir` lists the files of the read that cached it, and a
    * new read of `dir` matches that entry; when the listing has changed
    * since the last read, the entry is refreshed so the fold sees the log
    * as it is now. Over an unchanged log the entry is kept, so readouts of
    * one log state share one cached fold instead of recomputing it. */
  def emptyOr(spark: SparkSession, dir: String, ddl: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) {
      val listing = fs.listStatus(path).toSeq
        .map(s => (s.getPath.getName, s.getModificationTime)).sorted
      if (lastSeen.put(dir, listing).exists(_ != listing))
        spark.catalog.refreshByPath(dir)
      spark.read.option("recursiveFileLookup", "true").parquet(dir)
    } else
      spark.createDataFrame(new java.util.ArrayList[Row](),
        StructType.fromDDL(ddl))
  }

  /** Batch-directory count above which [[maybeCompact]] folds a log —
    * a LITERAL so the policy is pinned (AutoCompactSpec drives past it).
    * 16 dirs ≈ 16 micro-batches of small files: past this point the
    * fold's cost is file-open/listing-dominated, not data-dominated. */
  val CompactThreshold = 16

  /** When more than [[CompactThreshold]] per-batch directories have
    * accumulated under `dir`, fold all but the newest two into one
    * compacted relation ([[Compaction.compactLog]]). Correct because delta
    * rows are additive — collapsing batch boundaries never changes a fold
    * — and recovery-safe because checkpoint recovery can replay
    * (fixed-path overwrite) only the LAST batch, which the keepLast guard
    * never absorbs. Runs after every [[Log.write]] — between batches,
    * where no reader races (foreachBatch is serial per query). Cost: one
    * listing RPC per write below the threshold.
    *
    * @return (dirsBefore, dirsAfter) — equal when below threshold. */
  def maybeCompact(spark: SparkSession, dir: String): (Int, Int) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return (0, 0)
    val n = fs.listStatus(path).count(_.isDirectory)
    if (n > CompactThreshold) Compaction.compactLog(spark, dir) else (n, n)
  }
}

/** A delta-log maintainer with the standard entry points: a batch of one
  * input relation, its batch id and its log directory. A maintainer
  * declares its [[DeltaLog.Log]]s, writes each batch's deltas through
  * them in [[append]] and folds them in its readouts. */
trait Maintainer {

  /** Write one non-empty batch's deltas through the maintainer's logs. */
  protected def append(batch: DataFrame, batchId: Long, logDir: String): Unit

  /** Advance the maintainer's logs by one micro-batch. */
  def processBatch(batch: DataFrame, batchId: Long, logDir: String): Unit =
    DeltaLog.ifNonEmpty(batch)(append(batch, batchId, logDir))

  /** Wire a streaming DataFrame into the maintainer. */
  def run(stream: DataFrame, logDir: String,
      trigger: Trigger = DeltaLog.DefaultTrigger): StreamingQuery =
    DeltaLog.run(stream, logDir, trigger)(processBatch(_, _, logDir))
}
