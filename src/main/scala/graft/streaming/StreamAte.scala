package graft.streaming

import graft.operators.BehaviorAnalytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming causal-readout maintainer — the incremental twin of
  * q_strata_ate (graft.operators.BehaviorAnalytics): the maintained
  * relation is the per-(stratum, arm) UNROUNDED decimal moments n/Σx/Σx²
  * (≤ |types|·2 rows per batch, plain addition), and the
  * post-stratification estimate (raw diff, Σ w_s·Δ_s, SE, z) derives
  * entirely from that bounded fold — the live "is the experiment moving
  * the metric, net of stratum mix" dashboard number, re-derived per batch
  * without a corpus re-scan.
  *
  * The fold rounds once through [[BehaviorAnalytics.strataFinish]] (the
  * StreamWelch/StreamFdr discipline), so the live readout is bit-equal to
  * the batch query; StreamAteSpec pins the equality plus an idempotent
  * recovery replay.
  *
  * Idempotent recovery: fixed `cells_b<id>.parquet` path in overwrite
  * mode (the StreamDq discipline).
  */
object StreamAte extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "stratum STRING,t BIGINT,n BIGINT,sx_d DECIMAL(38,9)" +
      ",sxx_d DECIMAL(38,9)"

  private val Cells = DeltaLog.Log("log", "cells_", DeltaDdl)

  /** Append one micro-batch's cell-moment delta (≤ |types|·2 rows).
    * Batches carry (event_type, user_id, value). */
  protected def append(eventsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Cells.write(BehaviorAnalytics.strataCellMomentsDec(eventsBatch)
      .coalesce(1), batchId, logDir)

  /** The live stratified-ATE readout from the cell-moment log alone. */
  def report(spark: SparkSession, logDir: String): DataFrame =
    BehaviorAnalytics.strataAteReport(
      BehaviorAnalytics.strataFinish(
        Cells.read(spark, logDir)
          .groupBy(col("stratum"), col("t"))
          .agg(sum(col("n")).as("n"),
            sum(col("sx_d")).as("sx_d"), sum(col("sxx_d")).as("sxx_d"))))
}
