package graft.streaming

import graft.operators.Governance
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming data-quality gate — the incremental twin of q_dq_rules
  * (Governance.qDqRules).
  *
  * Each micro-batch of lineitem-shaped facts is audited by
  * Governance.dqCounters — the SAME six-rule additive aggregate the batch
  * query executes — against a broadcast static orders dim (the classic
  * stream-static dimension join), and the resulting ONE counter row is
  * appended to a parquet counter log. Because every counter is a sum over
  * rows, counters over disjoint batches SUM to the counters over the whole
  * history: [[report]] folds the log with one column-wise sum and unpivots
  * through Governance.dqStack, yielding the batch report EXACTLY — no
  * re-scan of fact history, ever. StreamDqSpec pins streamed == batch as
  * an equality on replayed slices.
  *
  * This is the operational shape of a DQ gate at 100 TB: per-batch cost is
  * one pass over the batch plus a broadcast probe; the log grows one row
  * per batch; the all-time report reads only the log. A per-batch alert
  * ("this batch violated rule X n times") is the same counter row before
  * the fold.
  *
  * Idempotent recovery: per-batch counter files land at a FIXED
  * `counters_b<id>.parquet` path in overwrite mode, so a
  * checkpoint-recovery replay replaces its own counters instead of
  * double-counting the batch (counters, unlike HLL sketches, are NOT
  * duplicate-insensitive — the fixed-path overwrite is correctness here,
  * not hygiene; the path being a pure function of the batch id is what
  * makes `overwrite` the whole idempotency story).
  */
object StreamDq {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "n_checked BIGINT,v_quantity_range BIGINT" +
      ",v_discount_range BIGINT,v_positive_price BIGINT" +
      ",v_returnflag_domain BIGINT,v_ship_after_order BIGINT" +
      ",v_fk_order_exists BIGINT"

  private val Counters = DeltaLog.Log("log", "counters_", DeltaDdl)

  /** Audit one micro-batch of lineitem-shaped rows against the static
    * orders dim; append its counter row to the log. */
  def processBatch(liBatch: DataFrame, orders: DataFrame, batchId: Long,
      logDir: String): Unit =
    DeltaLog.ifNonEmpty(liBatch)(Counters.write(
      Governance.dqCounters(liBatch, broadcast(orders))
        .coalesce(1), // one counter row
      batchId, logDir))

  /** Wire a streaming lineitem DataFrame into the gate. `orders` is the
    * static dimension (broadcast per batch — stream-static join). */
  def run(liStream: DataFrame, orders: DataFrame, logDir: String,
      trigger: Trigger = DeltaLog.DefaultTrigger): StreamingQuery =
    DeltaLog.run(liStream, logDir, trigger)(processBatch(_, orders, _, logDir))

  /** The all-time per-rule report from the counter log alone: one
    * column-wise sum over O(batches) rows, then the shared unpivot. */
  def report(spark: SparkSession, logDir: String): DataFrame = {
    val log = Counters.read(spark, logDir)
    Governance.dqStack(log.agg(
      sum(col("n_checked")).as("n_checked"),
      sum(col("v_quantity_range")).as("v_quantity_range"),
      sum(col("v_discount_range")).as("v_discount_range"),
      sum(col("v_positive_price")).as("v_positive_price"),
      sum(col("v_returnflag_domain")).as("v_returnflag_domain"),
      sum(col("v_ship_after_order")).as("v_ship_after_order"),
      sum(col("v_fk_order_exists")).as("v_fk_order_exists")))
  }
}
