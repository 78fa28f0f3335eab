package graft.streaming

import graft.operators.Governance
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming t-closeness monitor — the incremental twin of q_t_closeness
  * (Governance.qTCloseness), completing the governance family's twin
  * coverage (SCD2 / HLL / DQ / PSI / k-anon / t-close all maintain
  * incrementally).
  *
  * The audit's base relation — per-(QID class, sensitive value) counts —
  * is ADDITIVE: counts over disjoint batches sum to counts over the whole
  * corpus. Each micro-batch therefore appends its own
  * `Governance.tcloseClassCounts` delta rows (the SAME shared relation
  * the batch query executes) to a parquet count log; [[report]] folds the
  * log with one (class, value) sum and feeds `Governance.tcloseReport` —
  * the batch report EXACTLY, never re-scanning document history. Per
  * batch that is one pass over the batch plus an O(classes × values)
  * append; the fold reads only the log.
  *
  * Idempotent recovery: like StreamDq/StreamPsi, per-batch delta files
  * land at a FIXED `cv_b<id>.parquet` path in overwrite mode — additive
  * counters are not duplicate-insensitive, so replace-my-batch is
  * CORRECTNESS on checkpoint-recovery replay, not hygiene.
  */
object StreamTclose extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "lang STRING,chars_bucket BIGINT,source STRING,cnt BIGINT"

  private val Counts = DeltaLog.Log("log", "cv_", DeltaDdl)

  /** Append one micro-batch's class-value count deltas to the log.
    * Batches carry (lang, n_chars, source). */
  protected def append(docsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Counts.write(Governance.tcloseClassCounts(docsBatch), batchId, logDir)

  /** The all-time t-closeness report from the count log alone: fold the
    * additive deltas per (class, value), then the shared batch scoring.
    * The folded relation is persisted for the scorer's four consumers
    * (the same reason the batch query persists its counts). */
  def report(spark: SparkSession, logDir: String): DataFrame = {
    val log = Counts.read(spark, logDir)
    Governance.tcloseReport(
      log.groupBy(col("lang"), col("chars_bucket"), col("source"))
        .agg(sum(col("cnt")).as("cnt"))
        .persist())
  }
}
