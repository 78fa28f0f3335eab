package graft.streaming

import graft.functions.Text
import graft.operators.Retrieval
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming retrieval-index maintainer — ONE maintained inverted-index
  * delta log serving BOTH lexical rankers bit-equal to their batch twins:
  * q_bm25_scores (Okapi BM25) and q_ql_scores (Dirichlet-smoothed query
  * likelihood). The one-state-many-readouts discipline applied to the
  * retrieval family: at 100 TB the corpus tokenization is the expensive
  * pass, and the maintained index means a GROWING corpus re-ranks any
  * query per micro-batch without ever re-tokenizing history — the
  * production shape for a live search/RAG stack.
  *
  * State = two additive relations per batch:
  *  - postings `(doc_id, term, tf, dl)` — the batch's full-vocabulary
  *    term frequencies ([[Retrieval.tfOf]], the SAME reduction the batch
  *    rankers run). Each document lives in exactly one micro-batch
  *    (append-only corpus), so the per-(doc, term) rows are disjoint
  *    across batches and the fold (sum tf, max dl) is the identity on
  *    real rows — plainly additive, recovery-safe.
  *  - stats `(n_docs, sum_dl)` — one integer counter row per batch
  *    (the [[Retrieval.corpusDl]] aggregate of the batch), folded by sum.
  *
  * Readouts filter the postings log to the query's terms (predicate
  * pushdown into the parquet scan — posting-list-bounded, never a corpus
  * rescan), fold, and run the SHARED scoring plans
  * ([[Retrieval.bm25RankedFromTf]] / [[Retrieval.qlRankedFromTf]]) — by
  * the fold equalities both readouts are bit-equal to the batch queries
  * on the same corpus; StreamIndexSpec pins both plus recovery replay.
  *
  * Scale shape: the per-batch delta is one batch-sized groupBy; both
  * logs compact AUTOMATICALLY past [[DeltaLog.CompactThreshold]] batch
  * dirs ([[DeltaLog.maybeCompact]] after every write; AutoCompactSpec
  * pins bit-equality across the boundary). Document UPDATES are out of scope
  * by contract (append-only corpus) — a mutable corpus replaces its
  * batch file, which the fixed `b<id>.parquet` overwrite layout already
  * supports.
  *
  * Idempotent recovery: fixed per-batch paths in overwrite mode —
  * additive counters are not duplicate-insensitive, so replace-my-batch
  * is correctness on checkpoint-recovery replay (the StreamDq
  * discipline).
  */
object StreamIndex extends Maintainer {

  /** Delta-log schemas as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relations when the maintainer is fresh (no batch yet), so
    * both rankers degrade to empty rankings, never throw. */
  private[graft] val PostingsDdl =
    "doc_id BIGINT,term STRING,tf BIGINT,dl INT"
  private[graft] val StatsDdl = "n_docs BIGINT,sum_dl BIGINT"

  private[graft] val Postings = DeltaLog.Log("postings", "", PostingsDdl)
  private[graft] val Stats = DeltaLog.Log("stats", "", StatsDdl)

  /** Append one micro-batch's postings + corpus-stats deltas. Batches
    * carry (doc_id, text); tokenization (lowercase, whitespace split,
    * stopword removal) is identical to the batch rankers'. */
  protected def append(docsBatch: DataFrame, batchId: Long,
      logDir: String): Unit = {
    // ONE tokenizer call site (the IngestHub tokenize-once discipline —
    // this method used to tokenize the batch twice, once per delta): a
    // doc-level (doc_id, toks) view over the cached batch feeds BOTH the
    // postings explode and the stats aggregate; the view stays lazy so
    // each consumer pipelines it into its own partial aggregation
    // (IngestHub A/B: materializing exploded rows costs more than
    // re-deriving from the columnar cache)
    val batch = docsBatch
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val docToks = batch.select(col("doc_id"),
        Text.tokensNostop(col("text")).as("toks"))
      val toks = docToks.select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      Postings.write(Retrieval.tfOf(toks), batchId, logDir)
      Stats.write(docToks.agg(count(lit(1)).as("n_docs"),
          sum(size(col("toks"))).as("sum_dl")).coalesce(1), // 1 row
        batchId, logDir)
    } finally batch.unpersist()
  }

  /** The live (doc_id, term, tf, dl) relation for a term set, from the
    * postings log alone: term filter (pushed into the scan), then the
    * additive fold — equals the batch [[Retrieval.tfOf]] over the same
    * corpus exactly (each (doc, term) lives in one batch file). */
  private[graft] def tf(spark: SparkSession, logDir: String,
      terms: Seq[String]): DataFrame =
    Postings.read(spark, logDir)
      .filter(col("term").isInCollection(terms))
      .groupBy(col("doc_id"), col("term"))
      .agg(sum(col("tf")).as("tf"), max(col("dl")).as("dl"))

  /** The live (n_docs, sum_dl) corpus stats from the stats log alone. */
  private[graft] def stats(spark: SparkSession, logDir: String): DataFrame =
    Stats.read(spark, logDir)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))

  /** The two readouts over the folded index — identical machinery (and,
    * by the fold equalities, identical values) to q_bm25_scores and
    * q_ql_scores. Any term set can be served; the default is the pinned
    * query the batch twins verify against. */
  def bm25(spark: SparkSession, logDir: String,
      terms: Seq[String] = Retrieval.QueryTerms): DataFrame =
    Retrieval.bm25RankedFromTf(tf(spark, logDir, terms),
      stats(spark, logDir)).orderBy("rank")

  def ql(spark: SparkSession, logDir: String,
      terms: Seq[String] = Retrieval.QueryTerms): DataFrame =
    Retrieval.qlRankedFromTf(tf(spark, logDir, terms),
      stats(spark, logDir), terms).orderBy("rank")

  /** Third and fourth readouts over the SAME fold: the offline retrieval
    * evals — nDCG@K (q_rank_eval) and MAP/MRR/P@K/recall@K (q_map_mrr) —
    * bit-equal to their batch twins. The relevance labels derive from
    * the tf fold itself (rel = matched-term rows per doc), so re-running
    * the eval loop after every index growth costs only the rankers' own
    * scoring pass — the retuning cadence a live retrieval stack wants. */
  def rankEval(spark: SparkSession, logDir: String,
      terms: Seq[String] = Retrieval.QueryTerms): DataFrame =
    Retrieval.rankEvalFromTf(tf(spark, logDir, terms),
      stats(spark, logDir), terms)

  def mapMrr(spark: SparkSession, logDir: String,
      terms: Seq[String] = Retrieval.QueryTerms): DataFrame =
    Retrieval.mapMrrFromTf(tf(spark, logDir, terms),
      stats(spark, logDir), terms)
}
