package graft.streaming

import graft.operators.MlEval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming logistic-regression maintainer — the incremental twin of
  * q_logistic_irls (graft.operators.MlEval): maintained CLASSIFIER
  * TRAINING. IRLS is not incremental (every round's weights depend on the
  * current β), but its sufficient input is: every Gramian sum is
  * Σ_cells cnt·f(cell) over the bounded (l_quantity, l_discount, y)
  * feature grid, and those cell counts fold by plain addition. Each
  * micro-batch appends a grid-sized delta; the live fit re-runs the SAME
  * two IRLS rounds over the fold — training cost stays grid-sized no
  * matter how much data the log has absorbed, and the readout is
  * bit-equal to the batch query (StreamIrlsSpec pins it).
  *
  * Idempotent recovery: fixed `cells_b<id>.parquet` path in overwrite
  * mode (the StreamDq discipline).
  */
object StreamIrls extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "l_quantity DOUBLE,l_discount DOUBLE,y DOUBLE,cnt BIGINT"

  private val Cells = DeltaLog.Log("log", "cells_", DeltaDdl)

  /** Append one micro-batch's feature-grid cell delta. Batches carry
    * (l_quantity, l_discount, l_returnflag). */
  protected def append(liBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Cells.write(
      MlEval.irlsCells(liBatch).coalesce(1), // feature-grid-sized
      batchId, logDir)

  /** The live fit from the cell log alone: integer fold by cell, then the
    * shared two-round IRLS report. */
  def report(spark: SparkSession, logDir: String): DataFrame = {
    val cells = Cells.read(spark, logDir)
      .groupBy(col("l_quantity"), col("l_discount"), col("y"))
      .agg(sum(col("cnt")).as("cnt"))
    MlEval.irlsReport(cells)
  }
}
