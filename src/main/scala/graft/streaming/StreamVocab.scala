package graft.streaming

import graft.functions.Text
import graft.operators.LexicalStats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming vocabulary maintainer — ONE maintained (term, cnt) delta log
  * serving the whole corpus-frequency-spectrum family bit-equal to its
  * batch twins: q_zipf_fit (log-log OLS slope/intercept), q_hill_tail
  * (Hill tail-index plot) and q_chao1 (Chao1 richness + Good–Turing
  * coverage). The one-state-many-readouts discipline applied to corpus
  * health: at 100 TB the tokenization pass is the expensive one, and the
  * maintained vocabulary means a GROWING corpus re-reads its Zipf slope /
  * unseen-mass estimate per micro-batch without ever re-tokenizing
  * history — the cadence a crawl operator actually wants these numbers at
  * ("did the new crawl slice flatten the head? how much vocabulary is
  * still uncrawled?").
  *
  * State = one additive relation per batch: `(term, cnt)` — the batch's
  * full-token term counts (the SAME collapse the batch family runs,
  * [[LexicalStats.cfOf]]; full tokens, no stopword removal). Counts are
  * plainly additive across batches, so the fold `sum(cnt)` equals the
  * batch collapse over the union corpus exactly — every readout is then
  * the shared plan over the folded relation ([[LexicalStats.zipfFromCf]] /
  * hillFromCf / chao1FromCf), bit-equal by construction; StreamVocabSpec
  * pins all three plus cross-batch folding and recovery replay.
  *
  * Scale shape: the per-batch delta is one batch-sized groupBy
  * (vocabulary-sized output); readout cost is the fold (vocabulary-scale,
  * NOT corpus-scale) plus the readouts' own model-scale plans. The log
  * compacts AUTOMATICALLY past [[DeltaLog.CompactThreshold]] batch dirs
  * ([[DeltaLog.maybeCompact]] after every batch write), so
  * readout file count is bounded regardless of stream lifetime
  * (AutoCompactSpec drives past the threshold and pins bit-equality
  * across the boundary).
  *
  * Idempotent recovery: fixed per-batch paths in overwrite mode —
  * additive counters are not duplicate-insensitive, so replace-my-batch
  * is correctness on checkpoint-recovery replay (the StreamDq
  * discipline).
  */
object StreamVocab extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh. */
  private[graft] val DeltaDdl = "term STRING,cnt BIGINT"

  private[graft] val Terms = DeltaLog.Log("log", "", DeltaDdl)

  /** Append one micro-batch's per-term count delta. Batches carry
    * (doc_id, text); tokenization (lowercase, whitespace split, full
    * tokens) is identical to the batch family's. */
  protected def append(docsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Terms.write(docsBatch
      .select(explode(Text.tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt")),
      batchId, logDir)

  /** The live (term, cf) relation from the log alone: the additive fold —
    * equals the batch [[LexicalStats.cfOf]] over the same corpus exactly. */
  private def cf(spark: SparkSession, logDir: String): DataFrame =
    Terms.read(spark, logDir)
      .groupBy(col("term")).agg(sum(col("cnt")).as("cf"))

  /** Readout 1: the Zipf log-log fit — q_zipf_fit bit-equal on the corpus
    * streamed so far. */
  def zipf(spark: SparkSession, logDir: String): DataFrame =
    LexicalStats.zipfFromCf(cf(spark, logDir))

  /** Readout 2: the Hill tail-index plot — q_hill_tail bit-equal. */
  def hill(spark: SparkSession, logDir: String): DataFrame =
    LexicalStats.hillFromCf(cf(spark, logDir))

  /** Readout 3: Chao1 richness + Good–Turing coverage — q_chao1
    * bit-equal. */
  def chao1(spark: SparkSession, logDir: String): DataFrame =
    LexicalStats.chao1FromCf(cf(spark, logDir))
}
