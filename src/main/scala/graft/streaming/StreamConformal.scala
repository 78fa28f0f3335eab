package graft.streaming

import graft.functions.Det
import graft.operators.MlEval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Streaming split-conformal maintainer — the incremental twin of
  * q_conformal_interval (graft.operators.MlEval): maintained UNCERTAINTY
  * BANDS with a live coverage readout (the "did the score distribution
  * drift out of my interval" monitor).
  *
  * The twist vs the other maintainers: the batch readout is NOT additive
  * in its own outputs (the calibration quantile depends on a mean fitted
  * on the train split, which moves as data arrives), so the maintained
  * state is one level lower — the (event_type, split bucket, value)
  * COUNT relation, which IS additive and is bounded by the value domain
  * (the driver's 2-dp grid), not the corpus. Everything the batch query
  * computes (train mean, calibration residual quantile, test coverage)
  * re-derives from that fold at query time:
  *
  *  - μ from weighted decimal sums: Σ cast(v)·cnt ≡ Σ per-row cast(v)
  *    exactly (decimal × integer is exact), so the fold's μ is the batch
  *    [[Det.davg]] bit-for-bit;
  *  - q̂ via `percentile(r, 0.9, cnt)` — Spark's frequency-weighted
  *    percentile interpolates over the SAME sorted multiset as the batch
  *    row-level percentile, so the band half-width is identical;
  *  - coverage from integer count sums.
  *
  * StreamConformalSpec pins the full 5-column readout bit-equal to the
  * batch query. Idempotent recovery: fixed `vc_b<id>.parquet` path in
  * overwrite mode (the StreamDq discipline).
  */
object StreamConformal extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "event_type STRING,bucket BIGINT,v DOUBLE,cnt BIGINT"

  private val Counts = DeltaLog.Log("log", "vc_", DeltaDdl)

  /** Append one micro-batch's (type, bucket, value) count delta.
    * Batches carry (event_id, event_type, value). */
  protected def append(eventsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Counts.write(
      MlEval.conformalCounts(eventsBatch).coalesce(1), // value-domain-sized
      batchId, logDir)

  /** The live band + coverage from the count log alone. */
  def report(spark: SparkSession, logDir: String): DataFrame = {
    import spark.implicits._
    val vc = Counts.read(spark, logDir)
      .groupBy($"event_type", $"bucket", $"v")
      .agg(sum($"cnt").as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // μ: weighted decimal sum ≡ the batch Det.davg exactly
    val mu = vc.filter($"bucket" <= 7)
      .groupBy($"event_type")
      .agg(Det.qround(
        sum($"v".cast(DecimalType(38, Det.Scale)) * $"cnt")
          .cast(DoubleType) / sum($"cnt")).as("mu"))
    val resid = vc.filter($"bucket" >= 8)
      .join(broadcast(mu), Seq("event_type"))
      .select($"event_type", $"bucket", abs($"v" - $"mu").as("r"), $"cnt")
    val cal = resid.filter($"bucket" === 8)
      .groupBy($"event_type")
      .agg(sum($"cnt").as("n_cal"),
        Det.qround(expr("percentile(r, 0.9, cnt)")).as("qhat"))
    resid.filter($"bucket" === 9)
      .join(broadcast(cal), Seq("event_type"))
      .groupBy($"event_type", $"n_cal", $"qhat")
      .agg(sum($"cnt").as("n_test"),
        sum(when($"r" <= $"qhat", $"cnt").otherwise(0L)).as("nc"))
      .select($"event_type", $"n_cal", $"qhat", $"n_test",
        Det.qround(expr("CAST(nc AS DOUBLE) / n_test")).as("coverage"))
      .orderBy($"event_type")
  }
}
