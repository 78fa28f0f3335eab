package graft.streaming

import graft.operators.BehaviorAnalytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming multiple-testing maintainer — the incremental twin of
  * q_bh_fdr (graft.operators.BehaviorAnalytics): the maintained relation
  * is the per-(event_type × hour-of-day) UNROUNDED decimal moments
  * n/Σx/Σx² (≤ |types|·24 rows per batch, plain addition), and the
  * Benjamini–Hochberg step-up readout — z-tests against the live corpus
  * mean, ascending-p ranking, the p_(i) ≤ i·q/m cutoff — derives entirely
  * from that bounded fold. This is the experimentation-platform monitor
  * shape: as events stream in, EVERY cell's significance is re-screened
  * under FDR control without a corpus re-scan.
  *
  * The fold rounds once through [[BehaviorAnalytics.fdrFinish]] (the
  * StreamWelch/StreamOls discipline), so the live readout is bit-equal to
  * the batch query; StreamFdrSpec pins the equality plus an idempotent
  * recovery replay.
  *
  * Idempotent recovery: fixed `cells_b<id>.parquet` path in overwrite
  * mode (the StreamDq discipline) — a replayed batch overwrites its own
  * delta rather than double-counting.
  */
object StreamFdr extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "event_type STRING,hour BIGINT,n BIGINT,sx_d DECIMAL(38,9)" +
      ",sxx_d DECIMAL(38,9)"

  private val Cells = DeltaLog.Log("log", "cells_", DeltaDdl)

  /** Append one micro-batch's cell-moment delta (≤ |types|·24 rows).
    * Batches carry (event_type, ts_us, value). */
  protected def append(eventsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Cells.write(BehaviorAnalytics.fdrCellMomentsDec(eventsBatch).coalesce(1), batchId, logDir)

  /** The live BH-FDR screen from the cell-moment log alone: fold the
    * per-batch deltas by (event_type, hour), round once, re-run the
    * bounded-grid step-up — identical to the batch plan after its first
    * corpus aggregate. */
  def report(spark: SparkSession, logDir: String): DataFrame =
    BehaviorAnalytics.bhReport(
      BehaviorAnalytics.fdrFinish(
        Cells.read(spark, logDir)
          .groupBy(col("event_type"), col("hour"))
          .agg(sum(col("n")).as("n"),
            sum(col("sx_d")).as("sx_d"), sum(col("sxx_d")).as("sxx_d"))))
}
