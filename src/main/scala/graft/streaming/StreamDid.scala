package graft.streaming

import graft.operators.BehaviorAnalytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming difference-in-differences maintainer — the incremental twin
  * of q_did (graft.operators.BehaviorAnalytics): the maintained relation
  * is the 4-cell (arm × pre/post) UNROUNDED decimal moments n/Σx/Σx²
  * (plain addition per batch), and the DiD estimate, SE and z derive
  * entirely from that bounded fold — the live quasi-experimental readout
  * re-derived per batch without a corpus re-scan.
  *
  * The fold rounds once through [[BehaviorAnalytics.didFinish]] (the
  * StreamWelch/StreamFdr/StreamAte discipline), so the live readout is
  * bit-equal to the batch query; StreamDidSpec pins the equality plus an
  * idempotent recovery replay.
  *
  * Idempotent recovery: fixed `cells_b<id>.parquet` path in overwrite
  * mode (the StreamDq discipline).
  */
object StreamDid extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "t BIGINT,post BOOLEAN,n BIGINT,sx_d DECIMAL(38,9)" +
      ",sxx_d DECIMAL(38,9)"

  private val Cells = DeltaLog.Log("log", "cells_", DeltaDdl)

  /** Append one micro-batch's cell-moment delta (≤ 4 rows). Batches
    * carry (user_id, ts_us, value). */
  protected def append(eventsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Cells.write(BehaviorAnalytics.didCellMomentsDec(eventsBatch).coalesce(1), batchId, logDir)

  /** The live DiD readout from the cell-moment log alone. */
  def report(spark: SparkSession, logDir: String): DataFrame =
    BehaviorAnalytics.didReport(
      BehaviorAnalytics.didFinish(
        Cells.read(spark, logDir)
          .groupBy(col("t"), col("post"))
          .agg(sum(col("n")).as("n"),
            sum(col("sx_d")).as("sx_d"), sum(col("sxx_d")).as("sxx_d"))))
}
