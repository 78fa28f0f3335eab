package graft.streaming

import graft.operators.MlEval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming calibration monitor — the incremental twin of BOTH
  * q_calibration_bins (ECE) and q_brier_decomp (Murphy decomposition):
  * the maintained relation is the 10-bin (n, n_pos, Σpred, Σpred²,
  * Σpred·y) counter grid, additive because pred is an exact
  * DECIMAL(38,9) (decimal sums merge exactly — no float-order hazard),
  * and both readouts derive from that one fold. The live model-quality
  * dashboard shape: reliability diagram and proper score re-derived per
  * batch without a corpus re-scan.
  *
  * Readouts reuse the exact batch report functions
  * ([[MlEval.calibReport]]/[[MlEval.brierReport]]), so both are
  * bit-equal to their batch queries; StreamCalSpec pins the equalities
  * plus an idempotent recovery replay.
  *
  * Idempotent recovery: fixed `bins_b<id>.parquet` path in overwrite
  * mode (the StreamDq discipline).
  */
object StreamCal extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "bin BIGINT,n BIGINT,n_pos BIGINT,sp DECIMAL(38,9)" +
      ",spp DECIMAL(38,6),spy DECIMAL(38,9)"

  private val Bins = DeltaLog.Log("log", "bins_", DeltaDdl)

  /** Append one micro-batch's bin-counter delta (≤ 10 rows). Batches
    * carry (event_type, value). */
  protected def append(eventsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Bins.write(MlEval.calBinsDec(eventsBatch).coalesce(1), batchId, logDir)

  private def folded(spark: SparkSession, logDir: String): DataFrame =
    Bins.read(spark, logDir)
      .groupBy(col("bin"))
      .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"),
        sum(col("sp")).as("sp"), sum(col("spp")).as("spp"),
        sum(col("spy")).as("spy"))

  /** The live reliability-diagram/ECE readout from the bin log alone. */
  def calibReport(spark: SparkSession, logDir: String): DataFrame =
    MlEval.calibReport(folded(spark, logDir))

  /** The live Brier decomposition from the SAME log. */
  def brierReport(spark: SparkSession, logDir: String): DataFrame =
    MlEval.brierReport(folded(spark, logDir))
}
