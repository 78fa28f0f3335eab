package graft.streaming

import graft.operators.Profiling
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming Count-Min sketch maintainer — the incremental twin of
  * q_cms_heavy (Profiling.qCmsHeavy), completing the mergeable-sketch
  * maintenance trio (HLL distinct counts → StreamSketch, histogram
  * quantiles → StreamHist, point frequencies → here).
  *
  * A CMS is a d×w grid of ADDITIVE counters, so the maintenance story is
  * the purest of the three: each micro-batch appends its own
  * `Profiling.cmsCells` delta (the SAME shared relation the batch query
  * builds — identical md5 bucket hashes by construction) and the live
  * sketch is one (r, bucket) sum over the O(batches · d·w)-row log. The
  * folded sketch equals the batch-built sketch EXACTLY — integer
  * counters, no estimation drift across batches — so any point-frequency
  * estimate read from it matches the batch audit bit-for-bit
  * (StreamCmsSpec pins both equalities). Per-batch cost: one pass over
  * the batch collapsing to ≤ d·w rows before anything is written.
  *
  * Idempotent recovery: fixed `cells_b<id>.parquet` path in overwrite
  * mode — additive counters are not duplicate-insensitive, so
  * replace-my-batch is CORRECTNESS on checkpoint-recovery replay (the
  * StreamDq discipline).
  */
object StreamCms extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "r INT,bucket BIGINT,c BIGINT"

  private val Cells = DeltaLog.Log("log", "cells_", DeltaDdl)

  /** Append one micro-batch's sketch-cell deltas to the log. Batches
    * carry (term). */
  protected def append(termsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Cells.write(
      Profiling.cmsCells(termsBatch).coalesce(1), // ≤ d·w rows
      batchId, logDir)

  /** The live sketch from the delta log alone: one (r, bucket) fold. */
  def sketch(spark: SparkSession, logDir: String): DataFrame = {
    val log = Cells.read(spark, logDir)
    log.groupBy(col("r"), col("bucket")).agg(sum(col("c")).as("c"))
  }
}
