package graft.streaming

import graft.operators.Governance
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental HLL sketch maintenance — the streaming twin of
  * q_hll_sketch_merge (Governance.qHllSketchMerge).
  *
  * The batch query's store-sketches-per-day / union-at-query pattern is
  * exactly what a 100 TB incremental pipeline runs to avoid daily full
  * scans: the raw rows are touched ONCE, when their micro-batch arrives;
  * every later rollup (day, month, any type subset) unions kilobyte
  * sketches. This module closes the loop end-to-end:
  *
  *   foreachBatch: batch rows → Governance.dailySketches (the SAME
  *     definition the batch query executes) → append (event_type, day, sk)
  *     rows to a parquet sketch log;
  *   rollup: read the log → Governance.sketchRollup.
  *
  * Correctness: below the coupon->dense promotion (~512 distinct per
  * sketch at lgK=12) HLL sketches are exact coupon lists, so a log
  * partitioned by (batch, day) unions to the SAME estimate as the batch
  * build's per-day sketches — StreamSketchSpec pins that as an EQUALITY
  * against the shared batch definitions on replayed data. Past the
  * promotion the two paths can disagree by a few units (PropertySpec
  * probes the band) while both remain inside the 3·rsd bound the
  * production audit enforces — the guarantee that actually matters at
  * 100 TB cardinalities.
  *
  * Idempotent recovery: each batch's sketch rows land at a FIXED
  * `sketch_b<batchId>.parquet` path in overwrite mode, so a
  * checkpoint-recovery REPLAY of a batch replaces its own file instead of
  * double-counting users whose rows it re-observes — no sweep step needed:
  * unlike MicroBatchPipeline's timestamped names, the path is a pure
  * function of the batch id, and `overwrite` to the same path IS the
  * replacement. (HLL union absorbs duplicate VALUES for free, but a
  * duplicated batch file would double its day-sketch ROWS — harmless to
  * the estimate, yet fixed-path overwrite keeps the log's row count
  * meaningful as a batch-level audit surface too.)
  *
  * Scale shape: the per-batch aggregate shuffles only (event_type, day)
  * keyed partial sketches — bytes per distinct (type, day), not per row;
  * the log grows by O(active days × types) rows per batch; rollup reads
  * ONLY the log, never raw history.
  */
object StreamSketch extends Maintainer {

  /** One micro-batch of events (event_type, ts_us, user_id) → day-sketch
    * rows appended to the log at `sketchDir/log` (the checkpoint lives
    * beside, not inside, the log). */
  protected def append(batch: DataFrame, batchId: Long,
      sketchDir: String): Unit =
    Sketches.write(
      Governance.dailySketches(batch)
        .coalesce(1), // O(types × days) rows — one file per batch
      batchId, sketchDir)

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh. */
  private[graft] val DeltaDdl = "event_type STRING,day BIGINT,sk BINARY"

  private val Sketches = DeltaLog.Log("log", "sketch_", DeltaDdl)

  /** Distinct-user estimate per event_type from the sketch log alone —
    * never re-touching raw rows. The query side of the incremental
    * pattern. (recursiveFileLookup inside [[DeltaLog.emptyOr]]: each
    * batch's sketches are a nested `sketch_b<id>.parquet` directory under
    * the log root.) */
  def rollup(spark: SparkSession, sketchDir: String): DataFrame =
    Governance.sketchRollup(Sketches.read(spark, sketchDir))
}
