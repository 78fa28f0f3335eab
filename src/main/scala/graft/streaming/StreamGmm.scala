package graft.streaming

import graft.operators.Clustering
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming GMM maintainer — the incremental twin of q_gmm_em
  * (graft.operators.Clustering): a maintained model REFIT. EM itself is
  * not incremental, but its sufficient input — the distinct-value count
  * relation — is plain integer addition, so each micro-batch appends a
  * value-domain delta and the live fit re-runs the SAME two EM iterations
  * over the folded log at query time, bit-equal to the batch query on the
  * same rows (iteration cost is value-domain-sized, independent of how
  * much data the log has absorbed). StreamGmmSpec pins the full
  * per-component readout.
  *
  * Idempotent recovery: fixed `vc_b<id>.parquet` path in overwrite mode
  * (the StreamDq discipline).
  */
object StreamGmm extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "v DOUBLE,c BIGINT"

  private val Counts = DeltaLog.Log("log", "vc_", DeltaDdl)

  /** Append one micro-batch's value-domain count delta. Batches carry
    * (value). */
  protected def append(eventsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Counts.write(
      Clustering.gmmValueCounts(eventsBatch).coalesce(1), // value-domain-sized
      batchId, logDir)

  /** The live fit from the count log alone: integer fold by value, then
    * the shared two-iteration EM report. */
  def report(spark: SparkSession, logDir: String): DataFrame = {
    val vc = Counts.read(spark, logDir)
      .groupBy(col("v"))
      .agg(sum(col("c")).as("c"))
    Clustering.gmmReport(vc)
  }
}
