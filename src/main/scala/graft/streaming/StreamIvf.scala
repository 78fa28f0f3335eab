package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ANN-index maintainer — the maintained IVF index of the
  * similarity family (round-15 verdict item #2), the embedding cousin of
  * [[StreamIndex]]: new embeddings become searchable per micro-batch
  * WITHOUT re-scoring history, the live-RAG ingest shape. At 100 TB the
  * n×NCells centroid-scoring pass over the full corpus is the expensive
  * step; the maintainer pays it once per vector, at arrival.
  *
  * The model is the FROZEN coarse codebook
  * ([[Similarity.ivfTrainedCentroids]] — one deterministic spherical
  * k-means Lloyd round from the first-NCells init, the same trained
  * quantizer the batch queries use and the DuckDB oracle replays;
  * [[frozenCentroids]] collects its NCells rows once at stream start, the
  * production freeze-the-quantizer shape). Because cell assignment and
  * probe ranking
  * are PER-VECTOR decisions against that frozen model (vector +
  * codebook only — [[Similarity.ivfAssignOf]]/[[Similarity.ivfProbesOf]]),
  * per-batch deltas computed on arrival equal the batch pass's rows
  * exactly, and the folded log serves the batch queries bit-equal on the
  * grown corpus.
  *
  * State = three relations per batch, disjoint across batches
  * (append-only corpus: each vec_id lives in exactly one micro-batch):
  *  - assign `(tid, te, tn, cell)` — every batch vector's cell, with the
  *    embedding + exact decimal norm (the IVF index stores its vectors;
  *    readout cosines recompute from these bit-equal to the batch
  *    queries).
  *  - probes `(qid, qe, qn, cell, prk)` — probe lists for the query
  *    vectors (vec_id < NQueryVecs), materialized to the DEEPEST tune
  *    tier (prk ≤ max [[Similarity.IvfTuneTiers]] = 8); probe sets nest,
  *    so one log serves the production depth (prk ≤ NProbe), every tune
  *    tier, and the recall audit by prk filters alone.
  *  - codes `(vec_id, s, code)` — every batch vector's PQ codes against
  *    the frozen fine codebook (a per-vector argmin, like the cell
  *    assignment), making the maintained index a full IndexIVFPQ: the
  *    composite readout ranks probed-cell candidates by ADC without
  *    ever rescanning the stored vectors.
  *
  * Readouts (all through the shared cores, so bit-equality is by
  * construction, not re-derivation): [[annTopk]] ≡ q_ann_ivf,
  * [[recallAudit]] ≡ q_ivf_recall_audit (ground truth = exact top-k
  * over the folded vectors), [[annTopkPq]] ≡ q_ann_ivfpq (the
  * maintained composite index), [[cellCounts]] — the cell-balance
  * monitor an IVF operator watches for skewed cells.
  *
  * Idempotent recovery: fixed per-batch paths in overwrite mode (the
  * StreamDq discipline) — rows are disjoint, not duplicate-insensitive,
  * so replace-my-batch is correctness on checkpoint-recovery replay.
  *
  * All three logs auto-compact past [[DeltaLog.CompactThreshold]] batch
  * dirs ([[DeltaLog.maybeCompact]] after each write): disjoint rows re-filed,
  * readouts bit-equal across the boundary, keepLast protecting the only
  * replayable batch (AutoCompactSpec's StreamIvf leg).
  */
object StreamIvf {

  /** Delta-log schemas as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relations when the maintainer is fresh, so every readout
    * degrades to an empty ranking, never a throw. */
  private[graft] val AssignDdl =
    "tid BIGINT,te ARRAY<FLOAT>,tn DOUBLE,cell BIGINT"
  private[graft] val ProbesDdl =
    "qid BIGINT,qe ARRAY<FLOAT>,qn DOUBLE,cell BIGINT,prk INT"
  private[graft] val CodesDdl = "vec_id BIGINT,s INT,code BIGINT"

  /** The frozen codebook from a corpus directory: the trained quantizer
    * the batch twins use, MATERIALIZED — the training round must run once
    * at freeze time, not be re-executed inside every micro-batch's
    * broadcast lineage (the codebook is model-sized: NCells rows). */
  def frozenCentroids(spark: SparkSession, dir: String): DataFrame = {
    val trained = Similarity.ivfTrainedCentroids(Similarity.withNormOf(
      graft.Tables.embeddings(spark, dir)))
    spark.createDataFrame(
      java.util.Arrays.asList(trained.collect(): _*), trained.schema)
  }

  /** The frozen PQ codebook (cid, s, ce) from a corpus directory,
    * MATERIALIZED like [[frozenCentroids]] (M×K rows — model-sized). */
  def frozenPqCents(spark: SparkSession, dir: String): DataFrame = {
    val cents = Similarity.pqCentsOf(Similarity.pqSubvOf(
      graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))))
    spark.createDataFrame(
      java.util.Arrays.asList(cents.collect(): _*), cents.schema)
  }

  private val Assign = DeltaLog.Log("assign", "", AssignDdl)
  private val Probes = DeltaLog.Log("probes", "", ProbesDdl)
  private val Codes = DeltaLog.Log("codes", "", CodesDdl)

  /** Append one micro-batch's assignment + probe + PQ-code deltas,
    * scored against the frozen `cents` (coarse) and `pqCents` (fine)
    * codebooks. Batches carry (vec_id, embedding). */
  def processBatch(embBatch: DataFrame, batchId: Long, logDir: String,
      cents: DataFrame, pqCents: DataFrame): Unit =
    DeltaLog.ifNonEmpty(embBatch) {
      // persisted: the batch feeds the coarse scoring pass AND the PQ
      // encode (two independent model joins over the same rows).
      // REPARTITIONED first: a micro-batch often arrives as one file =
      // one partition, which would run every decimal distance on a single
      // core (measured: the 10x ann envelope read p95 11.4 s single-
      // partition vs the 10 s budget; spread, the same batch scores in
      // ~2 s) — the Tables.spread rationale applied to the stream path
      val batch = embBatch.select(col("vec_id"), col("embedding"))
        .repartition(embBatch.sparkSession.sparkContext.defaultParallelism)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // persisted: the batch×NCells scoring pass feeds BOTH coarse deltas
      // (the same barrier the batch ivfCand uses)
      val scored = Similarity.ivfScored(Similarity.withNormOf(batch), cents)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        Assign.write(Similarity.ivfAssignOf(scored), batchId, logDir)
        Probes.write(Similarity.ivfProbesOf(scored,
          Similarity.IvfTuneTiers.max), batchId, logDir)
        Codes.write(Similarity.pqCodesOf(Similarity.pqSubvOf(batch),
          pqCents), batchId, logDir)
      } finally { scored.unpersist(); batch.unpersist() }
    }

  /** Wire a streaming embeddings DataFrame (vec_id, embedding) into the
    * maintainer against the frozen codebooks. */
  def run(embStream: DataFrame, logDir: String, cents: DataFrame,
      pqCents: DataFrame, trigger: Trigger = DeltaLog.DefaultTrigger)
      : StreamingQuery =
    DeltaLog.run(embStream, logDir, trigger)(
      processBatch(_, _, logDir, cents, pqCents))

  /** The folded assignment log — disjoint rows, so the fold is the read
    * itself (no aggregate). */
  private[graft] def assign(spark: SparkSession, logDir: String): DataFrame =
    Assign.read(spark, logDir)

  /** The folded probe log at probe depth `maxP` (prk filter — probe sets
    * nest, so one log serves every depth up to the materialized max). */
  private[graft] def probes(spark: SparkSession, logDir: String,
      maxP: Int): DataFrame =
    Probes.read(spark, logDir)
      .filter(col("prk") <= maxP)

  /** The folded corpus vectors (vec_id, embedding, nrm) — ground truth
    * input for [[recallAudit]]. */
  private[graft] def emb(spark: SparkSession, logDir: String): DataFrame =
    assign(spark, logDir)
      .select(col("tid").as("vec_id"), col("te").as("embedding"),
        col("tn").as("nrm"))

  /** The candidate relation at probe depth `maxP` over the folded logs —
    * the maintained twin of the batch ivfCand. */
  private def cand(spark: SparkSession, logDir: String,
      maxP: Int): DataFrame =
    Similarity.ivfCandOf(probes(spark, logDir, maxP),
      assign(spark, logDir))
      .select(col("qid"), col("tid"), col("cosine"))

  /** IVF top-k over the maintained index — q_ann_ivf bit-equal on the
    * corpus streamed so far. */
  def annTopk(spark: SparkSession, logDir: String): DataFrame =
    Similarity.ivfTopk(cand(spark, logDir, Similarity.NProbe))
      .orderBy("qid", "rk")

  /** Candidate volumes + recall@k against the exact top-k over the
    * folded vectors — q_ivf_recall_audit bit-equal on the corpus
    * streamed so far (the shared audit tail over the shared relations). */
  def recallAudit(spark: SparkSession, logDir: String): DataFrame =
    Similarity.ivfRecallAuditOf(cand(spark, logDir, Similarity.NProbe),
      Similarity.topkOf(emb(spark, logDir)))

  /** Per-cell vector counts — the cell-balance monitor (a skewed cell is
    * the IVF failure mode: its probes degrade toward brute force). */
  def cellCounts(spark: SparkSession, logDir: String): DataFrame =
    assign(spark, logDir)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
      .orderBy(col("cell"))

  /** The folded PQ-code log — disjoint rows, so the fold is the read. */
  private[graft] def codes(spark: SparkSession, logDir: String): DataFrame =
    Codes.read(spark, logDir)

  /** IVF-PQ top-k over the maintained index — q_ann_ivfpq bit-equal on
    * the corpus streamed so far: candidates from the folded coarse logs,
    * codes from the folded code log, and the query LUT REBUILT from the
    * stored query embeddings against the frozen `pqCents` (a per-vector
    * decision, so the rebuild is bit-equal to the batch pass's). The
    * production read path of an IndexIVFPQ: per query, probed-cell
    * candidates × M code lookups — the original vectors are never
    * rescanned. */
  def annTopkPq(spark: SparkSession, logDir: String,
      pqCents: DataFrame): DataFrame = {
    val qlut = Similarity.pqQlutOf(Similarity.pqSubvOf(
      emb(spark, logDir).select(col("vec_id"), col("embedding"))), pqCents)
    Similarity.ivfPqRank(
        cand(spark, logDir, Similarity.NProbe).select(col("qid"), col("tid")),
        codes(spark, logDir), qlut)
      .select(col("qid"), col("rk"), col("tid"),
        graft.functions.Det.qround(col("ad2")).as("approx_dist2"))
      .orderBy("qid", "rk")
  }
}
