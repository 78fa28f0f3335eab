package graft.streaming

import graft.operators.BehaviorAnalytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming A/B maintainer — the incremental twin of q_ab_welch AND
  * q_ab_power (graft.operators.BehaviorAnalytics): ONE maintained relation
  * (the per-arm UNROUNDED decimal moments n/Σx/Σx², ≤2 rows per batch,
  * plain addition) serves BOTH the significance readout (Welch t/df) and
  * the design readout (required n per arm, minimal detectable effect) —
  * the live experiment dashboard pattern, where every metric derives from
  * one additive state. The fold rounds once (the StreamOls discipline),
  * so both readouts are bit-equal to their batch queries; StreamWelchSpec
  * pins both.
  *
  * Idempotent recovery: fixed `arms_b<id>.parquet` path in overwrite mode
  * (the StreamDq discipline).
  */
object StreamWelch extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "event_type STRING,n BIGINT,sx_d DECIMAL(38,9)" +
      ",sxx_d DECIMAL(38,9)"

  private val Arms = DeltaLog.Log("log", "arms_", DeltaDdl)

  /** Append one micro-batch's per-arm moment delta (≤2 rows). Batches
    * carry (event_type, value). */
  protected def append(eventsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Arms.write(BehaviorAnalytics.armMomentsDec(eventsBatch).coalesce(1), batchId, logDir)

  private def folded(spark: SparkSession, logDir: String): DataFrame =
    BehaviorAnalytics.armFinish(
      Arms.read(spark, logDir)
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n"),
          sum(col("sx_d")).as("sx_d"), sum(col("sxx_d")).as("sxx_d")))

  /** The live Welch t/df from the moment log alone. */
  def report(spark: SparkSession, logDir: String): DataFrame =
    BehaviorAnalytics.welchReport(folded(spark, logDir))

  /** The live power/MDE design readout from the SAME log. */
  def powerReport(spark: SparkSession, logDir: String): DataFrame =
    BehaviorAnalytics.powerReport(folded(spark, logDir))

  /** The live always-valid mSPRT readout from the SAME log — the
    * peeking-proof number a dashboard may stop on at any interim look
    * (q_msprt's batch twin). */
  def msprtReport(spark: SparkSession, logDir: String): DataFrame =
    BehaviorAnalytics.msprtReport(folded(spark, logDir))
}
