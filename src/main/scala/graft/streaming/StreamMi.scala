package graft.streaming

import graft.operators.MlEval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming mutual-information maintainer — the incremental twin of
  * q_mutual_info (graft.operators.MlEval): the (event_type, hour)
  * contingency cells are plain integer counts, so each micro-batch appends
  * its own cell delta (≤ |types|·24 rows) and the live MI/entropy/NMI
  * readout folds the log by cell and re-runs the shared report —
  * bit-equal to the batch query on the same rows because everything up to
  * the final ln/divisions is integer arithmetic. StreamMiSpec pins it.
  *
  * Together with StreamOls (maintained regression) and StreamRoc
  * (maintained AUC) this closes the ml family's maintenance story: every
  * readout whose collapse is additive gets a delta-log twin.
  *
  * Idempotent recovery: fixed `cells_b<id>.parquet` path in overwrite mode
  * (the StreamDq discipline).
  */
object StreamMi extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "x STRING,y BIGINT,nij BIGINT"

  private val Cells = DeltaLog.Log("log", "cells_", DeltaDdl)

  /** Append one micro-batch's contingency-cell delta. Batches carry
    * (event_type, ts_us). */
  protected def append(eventsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Cells.write(
      MlEval.miCells(eventsBatch).coalesce(1), // ≤ |types|·24 rows
      batchId, logDir)

  /** The live readout from the cell log alone: integer fold by cell, then
    * the shared MI report. */
  def report(spark: SparkSession, logDir: String): DataFrame = {
    val cells = Cells.read(spark, logDir)
      .groupBy(col("x"), col("y"))
      .agg(sum(col("nij")).as("nij"))
    MlEval.miReport(cells)
  }
}
