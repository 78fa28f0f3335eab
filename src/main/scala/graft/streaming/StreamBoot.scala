package graft.streaming

import graft.operators.BehaviorAnalytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Streaming bootstrap-CI maintainer — the incremental twin of
  * q_bootstrap_ci (graft.operators.BehaviorAnalytics): maintained
  * UNCERTAINTY quantification, not just maintained point estimates. The
  * Poisson-bootstrap weights are a pure hash of (event_id, replica), so a
  * micro-batch's contribution to every replica sum is computable from the
  * batch alone; each batch appends one ≤(B+1)-row delta (per-replica
  * weighted sums + a b = −1 row carrying the point-estimate partials) and
  * the live CI is the shared `bootReport` over the folded log.
  *
  * Exactness follows the StreamDaily discipline: the batch query's
  * replica sums are round(Σ decimal, 6), so the deltas carry UNROUNDED
  * DECIMAL(38,9) partial sums and the fold rounds ONCE — algebraically
  * the batch reduction; weight counts and row counts are additive
  * integers. StreamBootSpec pins the full 5-column readout bit-equal to
  * the batch query on a replayed split.
  *
  * Idempotent recovery: fixed `cells_b<id>.parquet` path in overwrite
  * mode (the StreamDq discipline).
  */
object StreamBoot extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "b INT,ws_dec DECIMAL(38,9),wn BIGINT"

  private val Cells = DeltaLog.Log("log", "cells_", DeltaDdl)

  /** Append one micro-batch's replica-sum deltas (+ the b = −1 point
    * row: ws = Σ value as decimal, wn = row count). Batches carry
    * (event_id, value). */
  protected def append(eventsBatch: DataFrame, batchId: Long,
      logDir: String): Unit = {
    val spark = eventsBatch.sparkSession
    import spark.implicits._
    val reps = BehaviorAnalytics.bootWeights(eventsBatch)
      .groupBy($"b")
      .agg(sum(($"w" * $"value").cast(DecimalType(38, 9))).as("ws_dec"),
        sum($"w").as("wn"))
    val point = eventsBatch.agg(
        sum($"value".cast(DecimalType(38, 9))).as("ws_dec"),
        count(lit(1)).as("wn"))
      .select(lit(-1).as("b"), $"ws_dec", $"wn")
    Cells.write(reps.unionByName(point).coalesce(1), // ≤ B + 1 rows
      batchId, logDir)
  }

  /** The live CI from the delta log alone: exact decimal fold, ONE
    * terminal round per reduction — then the shared report. */
  def report(spark: SparkSession, logDir: String): DataFrame = {
    import spark.implicits._
    val log = Cells.read(spark, logDir)
      .groupBy($"b")
      .agg(sum($"ws_dec").as("ws_dec"), sum($"wn").as("wn"))
    val reps = log.filter($"b" >= 0)
      .select($"b", round($"ws_dec", 6).cast(DoubleType).as("ws"), $"wn")
    // the point estimate divides the EXACT decimal sum (cast to double)
    // by the count — the Det.davg operation order, reproduced on the fold
    val point = log.filter($"b" === -1)
      .select($"wn".as("n"),
        graft.functions.Det.qround(
          $"ws_dec".cast(DoubleType) / $"wn").as("point_mean"))
    BehaviorAnalytics.bootReport(reps, point)
  }
}
