package graft.streaming

import graft.operators.EventAnalytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Streaming daily-series maintainer — ONE maintained relation serving the
  * engine's whole time-series family: the fold equals the batch
  * `EventAnalytics.dailyByType` relation bit-for-bit, so the shared
  * autocorrReport / stlReport / forecastReport / ljungBoxReport run
  * unchanged on top of it (q_autocorr, q_stl_decompose,
  * q_seasonal_forecast AND q_ljung_box from one delta log — at 100 TB the
  * per-type daily aggregate is the expensive pass, and this maintains it
  * without ever re-scanning history).
  *
  * Exactness across batches needs care the additive-counter twins don't:
  * the batch relation's `v` is round(Σ decimal-addends, 6) — rounding a
  * PER-BATCH partial and re-summing would re-round. So each delta row
  * carries the batch's partial sum as an UNROUNDED DECIMAL(38,9)
  * (decimal addition is exact and associative) plus its row count, and
  * the fold sums the decimals first and rounds ONCE — algebraically the
  * batch dsum. StreamDailySpec pins all four equalities (series + three
  * reports) on a replayed split.
  *
  * Idempotent recovery: fixed `days_b<id>.parquet` path in overwrite
  * mode (the StreamDq discipline — partial sums are not
  * duplicate-insensitive).
  */
object StreamDaily extends Maintainer {

  private val DayUs = 24L * 3600 * 1000000

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "event_type STRING,day BIGINT,vdec DECIMAL(38,9),n BIGINT"

  private val Days = DeltaLog.Log("log", "days_", DeltaDdl)

  /** Append one micro-batch's (event_type, day) decimal partial sums.
    * Batches carry (event_type, ts_us, value). */
  protected def append(eventsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Days.write(eventsBatch
      .withColumn("day", expr(s"ts_us div $DayUs"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("value").cast(DecimalType(38, 9))).as("vdec"),
        count(lit(1)).as("n"))
      .coalesce(1), // ≤ |types| × |days touched by the batch| rows
      batchId, logDir)

  /** The live daily series from the delta log alone: exact decimal fold,
    * ONE terminal 6-dp round — bit-identical to the batch dailyByType. */
  def series(spark: SparkSession, logDir: String): DataFrame = {
    val log = Days.read(spark, logDir)
    log.groupBy(col("event_type"), col("day"))
      .agg(round(sum(col("vdec")), 6).cast(DoubleType).as("v"))
  }

  /** The four family readouts over the folded series — identical
    * machinery (and, by the fold equality, identical values) to
    * q_autocorr / q_stl_decompose / q_seasonal_forecast / q_ljung_box.
    * The last is the LIVE white-noise monitor: a forecaster's residual
    * check that updates per micro-batch without re-scanning history. The
    * stl and forecast cores eager-persist the series; a later poll over
    * the same log reuses that one cache entry, which the delta-log read
    * refreshes once new batches have landed. */
  def autocorr(spark: SparkSession, logDir: String): DataFrame =
    EventAnalytics.autocorrReport(series(spark, logDir))
  def stl(spark: SparkSession, logDir: String): DataFrame =
    EventAnalytics.stlReport(series(spark, logDir))
  def forecast(spark: SparkSession, logDir: String): DataFrame =
    EventAnalytics.forecastReport(series(spark, logDir))
  def ljungBox(spark: SparkSession, logDir: String): DataFrame =
    EventAnalytics.ljungBoxReport(series(spark, logDir))
}
