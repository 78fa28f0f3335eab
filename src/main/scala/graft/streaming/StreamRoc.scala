package graft.streaming

import graft.operators.MlEval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ROC/AUC maintainer — the incremental twin of q_roc_auc
  * (graft.operators.MlEval): a maintained CLASSIFIER readout. The
  * value-domain class counts (v, p, f) are plain integer sums, so each
  * micro-batch appends its own per-distinct-score delta and the live AUC
  * folds the log by value and re-runs the shared rank/KS report — every
  * number bit-equal to the batch query on the same rows (all-integer until
  * the final divisions; StreamRocSpec pins the full 5-column readout).
  *
  * This is the incremental pattern for every rank statistic that admits a
  * bounded value-domain collapse (AUC, KS, MWU): state is domain-sized,
  * never corpus-sized, and merge is addition.
  *
  * Idempotent recovery: fixed `vc_b<id>.parquet` path in overwrite mode
  * (the StreamDq discipline).
  */
object StreamRoc extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "v DOUBLE,p BIGINT,f BIGINT"

  private val Counts = DeltaLog.Log("log", "vc_", DeltaDdl)

  /** Append one micro-batch's value-domain count delta. Batches carry
    * (event_type, value). */
  protected def append(eventsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Counts.write(
      MlEval.rocValueCounts(eventsBatch).coalesce(1), // value-domain-sized
      batchId, logDir)

  private def folded(spark: SparkSession, logDir: String): DataFrame =
    Counts.read(spark, logDir)
      .groupBy(col("v"))
      .agg(sum(col("p")).as("p"), sum(col("f")).as("f"))

  /** The live readout from the delta log alone: integer fold by score
    * value, then the shared rank/KS report. */
  def report(spark: SparkSession, logDir: String): DataFrame =
    MlEval.rocReport(folded(spark, logDir))

  /** The live decile gains table from the SAME delta log — one maintained
    * state, two readouts (AUC and lift), both bit-equal to their batch
    * queries. */
  def liftReport(spark: SparkSession, logDir: String): DataFrame =
    MlEval.liftReport(folded(spark, logDir))
}
