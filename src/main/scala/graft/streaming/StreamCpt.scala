package graft.streaming

import graft.operators.EventAnalytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming changepoint monitor — the incremental twin of q_changepoint
  * (graft.operators.EventAnalytics): the maintained relation is the
  * per-day UNROUNDED decimal value masses (≤ |days| rows per batch,
  * plain addition), and the full AMOC binary-segmentation scan — every
  * candidate split's BSS, the argmax flagged — derives from that bounded
  * fold. The live "did the metric level-shift, and where" dashboard
  * companion to the online CUSUM alarm (StreamCusum detects THAT a drift
  * happened; this localizes WHEN).
  *
  * The fold rounds once through [[EventAnalytics.cptFinish]] (the
  * StreamFdr/StreamAte/StreamDid discipline), so the live scan is
  * bit-equal to the batch query; StreamCptSpec pins the equality plus an
  * idempotent recovery replay.
  *
  * Idempotent recovery: fixed `days_b<id>.parquet` path in overwrite
  * mode (the StreamDq discipline).
  */
object StreamCpt extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "day BIGINT,v_d DECIMAL(38,9)"

  private val Days = DeltaLog.Log("log", "days_", DeltaDdl)

  /** Append one micro-batch's daily-mass delta (≤ |days| rows). Batches
    * carry (ts_us, value). */
  protected def append(eventsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Days.write(EventAnalytics.cptDailyDec(eventsBatch).coalesce(1), batchId, logDir)

  /** The live AMOC scan from the daily-mass log alone. */
  def report(spark: SparkSession, logDir: String): DataFrame =
    EventAnalytics.cptReport(
      EventAnalytics.cptFinish(
        Days.read(spark, logDir)
          .groupBy(col("day"))
          .agg(sum(col("v_d")).as("v_d"))))
}
