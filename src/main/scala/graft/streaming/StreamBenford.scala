package graft.streaming

import graft.operators.Governance
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming Benford digit-audit maintainer — the incremental twin of
  * q_benford (Governance.qBenford), keeping the house invariant that every
  * ADDITIVE audit ships with a maintenance twin (DQ counters → StreamDq,
  * PSI bins → StreamPsi, CMS cells → StreamCms, … digit counters → here).
  *
  * The audit's corpus-sized work is one (digit → count) aggregate, and
  * digit counts are pure additive integers, so each micro-batch appends
  * its own `Governance.benfordCounts` delta (≤ 9 rows — the SAME shared
  * relation the batch query scans, identical integer-cents digit
  * extraction by construction) and the live audit is
  * `Governance.benfordReport` over the folded log. The folded counters
  * equal the batch counters EXACTLY, so χ²/MAD match bit-for-bit
  * (StreamBenfordSpec pins both equalities) — a 100 TB pipeline reads its
  * running digit-conformity audit without ever re-scanning history.
  *
  * Idempotent recovery: fixed `digits_b<id>.parquet` path in overwrite
  * mode — additive counters are not duplicate-insensitive, so
  * replace-my-batch is CORRECTNESS on checkpoint-recovery replay (the
  * StreamDq discipline).
  */
object StreamBenford extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "digit INT,n BIGINT"

  private val Digits = DeltaLog.Log("log", "digits_", DeltaDdl)

  /** Append one micro-batch's digit-count deltas to the log. Batches
    * need a `value` column. */
  protected def append(eventsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Digits.write(
      Governance.benfordCounts(eventsBatch).coalesce(1), // ≤ 9 rows
      batchId, logDir)

  /** The live digit counters from the delta log alone: one digit fold. */
  def counts(spark: SparkSession, logDir: String): DataFrame = {
    val log = Digits.read(spark, logDir)
    log.groupBy(col("digit")).agg(sum(col("n")).as("n"))
  }

  /** The full audit readout from the delta log — identical shape (and,
    * by the additive-counter argument, identical values) to q_benford. */
  def report(spark: SparkSession, logDir: String): DataFrame =
    Governance.benfordReport(counts(spark, logDir))
}
