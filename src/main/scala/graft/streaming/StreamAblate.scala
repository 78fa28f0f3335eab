package graft.streaming

import graft.operators.CorpusQuality
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming filter-ablation maintainer — the growing-corpus twin of
  * q_filter_ablation: the per-rule "which filter buys perplexity" table,
  * kept current per micro-batch. The expensive input is the corpus token
  * pass; its two reductions are plainly ADDITIVE over document slices
  * (rule flags and salted split buckets are per-document constants), so
  * ONE maintained pair of delta logs —
  *
  *  - `counts` (term, c_<variant>…, vtf): the wide conditional-count
  *    relation ([[CorpusQuality.ablTfw]], the SAME reduction the batch
  *    query runs), folded by per-variant sums on term;
  *  - `docs` (d_<variant>…): the 1-row kept-train-docs counts
  *    ([[CorpusQuality.ablDocsKept]]), folded by sums —
  *
  * serves the full ablation table bit-equal to the batch query via the
  * shared readout ([[CorpusQuality.ablReport]]) — a crawl operator reads
  * "is the wordcount gate still paying for itself" after every ingest
  * batch without re-tokenizing history. StreamAblateSpec pins fixture +
  * sf0.001 bit-equality and recovery replay.
  *
  * Idempotent recovery: fixed `b<id>.parquet` paths in overwrite mode
  * (additive counters are not duplicate-insensitive — the StreamDq
  * discipline); the logs auto-compact past
  * [[DeltaLog.CompactThreshold]] batch dirs.
  */
object StreamAblate extends Maintainer {

  /** Delta-log schemas as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relations when the maintainer is fresh. */
  private[graft] val CountsDdl: String =
    "term STRING," +
      CorpusQuality.AblationVariants.map(v => s"c_$v BIGINT")
        .mkString(",") + ",vtf BIGINT"
  private[graft] val DocsDdl: String =
    CorpusQuality.AblationVariants.map(v => s"d_$v BIGINT").mkString(",")

  private[graft] val Counts = DeltaLog.Log("counts", "", CountsDdl)
  private[graft] val Docs = DeltaLog.Log("docs", "", DocsDdl)

  /** Append one micro-batch's count deltas. Batches carry
    * (doc_id, text). */
  protected def append(docsBatch: DataFrame, batchId: Long,
      logDir: String): Unit = {
    Counts.write(CorpusQuality.ablTfw(docsBatch), batchId, logDir)
    Docs.write(CorpusQuality.ablDocsKept(docsBatch).coalesce(1), // 1 row
      batchId, logDir)
  }

  /** The live ablation table — q_filter_ablation bit-equal on the corpus
    * streamed so far: fold both logs by their additive sums, then the
    * shared report. */
  def report(spark: SparkSession, logDir: String): DataFrame = {
    val vs = CorpusQuality.AblationVariants
    val counts = Counts.read(spark, logDir)
      .groupBy(col("term")).agg(
        sum(col(s"c_${vs.head}")).as(s"c_${vs.head}"),
        vs.tail.map(v => sum(col(s"c_$v")).as(s"c_$v"))
          :+ sum(col("vtf")).as("vtf"): _*)
    val docs = Docs.read(spark, logDir)
      .agg(sum(col(s"d_${vs.head}")).as(s"d_${vs.head}"),
        vs.tail.map(v => sum(col(s"d_$v")).as(s"d_$v")): _*)
    CorpusQuality.ablReport(counts, docs)
  }
}
