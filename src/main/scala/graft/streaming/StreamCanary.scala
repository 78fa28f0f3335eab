package graft.streaming

import graft.functions.Text
import graft.operators.CorpusQuality
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming canary-exposure maintainer — the memorization-risk audit
  * (q_canary_exposure) kept LIVE over a growing corpus, so each crawl
  * micro-batch updates the extraction-risk ledger without ever
  * re-tokenizing history. Two additive delta logs:
  *
  *  - `grams`: the batch's ([[CorpusQuality.CanaryN]]-gram, occ)
  *    occurrence counts — folding `sum(occ)` across batches equals the
  *    batch collapse over the union corpus exactly, so the singleton
  *    (occ = 1) canary set is always the union-corpus one (a sequence
  *    that recurs in a LATER batch correctly stops being a canary);
  *  - `terms`: the (term, cnt) vocabulary counts — the same delta
  *    StreamVocab maintains, kept separate here so the maintainer is
  *    self-contained (a deployment already running StreamVocab/IngestHub
  *    can point the readout at that log instead; the fold shapes are
  *    identical).
  *
  * Readout = [[CorpusQuality.canaryExposureOf]] over the two folds —
  * bit-equal to q_canary_exposure on the corpus streamed so far by the
  * additivity of both collapses (StreamCanarySpec pins this, including
  * canaries whose occurrences span batches, compaction boundaries and
  * recovery replay).
  *
  * Scale shape: per batch, two batch-sized map passes each collapsing to
  * a bounded delta (gram/vocab-sized); readout cost is two folds (model
  * scale, never corpus scale) plus the ~2k-row exposure arithmetic. Both
  * logs auto-compact past [[DeltaLog.CompactThreshold]] dirs. No batch
  * repartition: the batch is string-heavy and the consumers partial-
  * aggregate away from the scan immediately (the IngestHub negative A/B
  * — shuffling raw text costs more than the cores buy).
  *
  * Idempotent recovery: fixed per-batch paths in overwrite mode —
  * additive counters are not duplicate-insensitive, so replace-my-batch
  * is correctness on checkpoint-recovery replay (the StreamDq
  * discipline).
  */
object StreamCanary extends Maintainer {

  /** Delta-log schemas as written by [[processBatch]] —
    * [[DeltaLog.emptyOr]] serves these when the maintainer is fresh. */
  private[graft] val GramDdl = "canary STRING,occ BIGINT"
  private[graft] val TermDdl = "term STRING,cnt BIGINT"

  private val Grams = DeltaLog.Log("grams", "", GramDdl)
  private val Terms = DeltaLog.Log("terms", "", TermDdl)

  /** Append one micro-batch's gram-occurrence and term-count deltas.
    * Batches carry (doc_id, text); tokenization and shingling are
    * identical to the batch query's. */
  protected def append(docsBatch: DataFrame, batchId: Long,
      logDir: String): Unit = {
    // two consumers of the same batch scan — cache the (one-file-sized)
    // batch, not its exploded derivations
    val b = docsBatch.persist()
    try {
      Grams.write(b.select(explode(call_function("word_shingles_all",
          col("text"), lit(CorpusQuality.CanaryN))).as("canary"))
        .groupBy(col("canary")).agg(count(lit(1)).as("occ")),
        batchId, logDir)
      Terms.write(b.select(explode(Text.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt")),
        batchId, logDir)
    } finally b.unpersist()
  }

  /** The live exposure ledger from the logs alone — q_canary_exposure
    * bit-equal on the corpus streamed so far. */
  def exposure(spark: SparkSession, logDir: String): DataFrame = {
    val gramOcc = Grams.read(spark, logDir)
      .groupBy(col("canary")).agg(sum(col("occ")).as("occ"))
    val cf = Terms.read(spark, logDir)
      .groupBy(col("term")).agg(sum(col("cnt")).as("cf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    CorpusQuality.canaryExposureOf(gramOcc, cf)
  }
}
