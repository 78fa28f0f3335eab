package graft.streaming

import graft.operators.BehaviorAnalytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming two-sample distribution monitor — the incremental twin of
  * the whole value-distribution test family at once: q_ks_test (max ECDF
  * gap), q_mwu_test (rank location) and q_emd_drift (earth-mover's
  * integral) all read the SAME (value, c1, c2) per-arm count relation,
  * which is ADDITIVE over row slices — so ONE maintained count log serves
  * all three readouts live. This is the strongest instance yet of the
  * engine's one-state-many-readouts discipline (StreamWelch serves
  * Welch/power/mSPRT from arm moments; this maintainer serves the three
  * nonparametric tests from the value domain).
  *
  * State size is the distinct-value domain — the same bounded collapse
  * the batch queries' scale argument rests on (q_ks_test scaladoc); at an
  * unbounded domain the log would swap in the histogram sketch the same
  * way the batch plan would swap in range-partitioned prefix sums.
  *
  * The readouts reuse the exact batch report functions
  * ([[BehaviorAnalytics.ksReport]]/[[BehaviorAnalytics.mwuReport]]/
  * [[BehaviorAnalytics.emdReport]]) over the folded counts, so all three
  * are bit-equal to their batch queries; StreamDistSpec pins the
  * equalities plus an idempotent recovery replay.
  *
  * Idempotent recovery: fixed `counts_b<id>.parquet` path in overwrite
  * mode (the StreamDq discipline).
  */
object StreamDist extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "value DOUBLE,c1 BIGINT,c2 BIGINT"

  private val Counts = DeltaLog.Log("log", "counts_", DeltaDdl)

  /** Append one micro-batch's per-value arm-count delta. Batches carry
    * (event_type, value). */
  protected def append(eventsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Counts.write(BehaviorAnalytics.armValueCounts(eventsBatch).coalesce(1), batchId, logDir)

  private def folded(spark: SparkSession, logDir: String): DataFrame =
    Counts.read(spark, logDir)
      .groupBy(col("value"))
      .agg(sum(col("c1")).as("c1"), sum(col("c2")).as("c2"))

  /** The live KS readout from the count log alone. */
  def ksReport(spark: SparkSession, logDir: String): DataFrame =
    BehaviorAnalytics.ksReport(folded(spark, logDir))

  /** The live Mann–Whitney readout from the SAME log. */
  def mwuReport(spark: SparkSession, logDir: String): DataFrame =
    BehaviorAnalytics.mwuReport(folded(spark, logDir))

  /** The live earth-mover's readout from the SAME log. */
  def emdReport(spark: SparkSession, logDir: String): DataFrame =
    BehaviorAnalytics.emdReport(folded(spark, logDir))

  /** The live AUC + DeLong CI from the SAME log — the fourth readout. */
  def aucReport(spark: SparkSession, logDir: String): DataFrame =
    BehaviorAnalytics.aucDelongReport(folded(spark, logDir))
}
