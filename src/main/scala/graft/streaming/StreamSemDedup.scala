package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming SEMANTIC near-duplicate screen — the embedding-space sibling of
  * [[StreamSimhash]] and the streaming twin of the batch sign-LSH near-dup
  * (graft.operators.Similarity qEmbedNeardupLsh): each micro-batch of
  * (vec_id, embedding) rows probes a PERSISTED sign-LSH index, drops rows
  * whose exact cosine against an indexed neighbor in the same bucket
  * reaches [[Similarity.CosineThreshold]], and appends the survivors to the
  * index so later batches screen against everything kept — SemDeDup as an
  * ingest-time filter instead of a corpus-wide batch pass.
  *
  * Same structure as the batch query, deliberately: candidates only from
  * shared LSH buckets (never batch × index), the cheap double-fold dot with
  * the dot-space guard band ahead of the exact decimal cosine (identical
  * thresholding — see the guard-band derivation at qEmbedNeardupLsh), and
  * the same plane family, so a batch-built index and a stream-built index
  * are interchangeable parquet layouts: (old_id, old_emb, old_nrm, bucket).
  *
  * Same exactly-once replay contract as StreamSimhash ([[Screen]]):
  * survivors `(vec_id, embedding)` and their index rows are batch deltas
  * under `<logDir>/survivors` and `<logDir>/index`, and self-matches are
  * excluded by id.
  */
object StreamSemDedup extends Screen {

  /** Delta-log schemas as [[append]] writes them (FreshMaintainerSpec). */
  private[graft] val IndexDdl =
    "old_id BIGINT,old_emb ARRAY<FLOAT>,old_nrm DOUBLE" +
      ",bucket BIGINT"
  private[graft] val SurvivorsDdl = "vec_id BIGINT,embedding ARRAY<FLOAT>"

  private[graft] val Index = DeltaLog.Log("index", "", IndexDdl)
  private[graft] val Survivors = DeltaLog.Log("survivors", "", SurvivorsDdl)

  private def dotFast(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    call_function("dot_f32_fast", a, b)
  private def dotExact(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    call_function("dot_f32", a, b)

  /** (…, nrm, bucket): exact decimal L2 norm + sign-LSH bucket — the batch
    * index layout (Similarity.qEmbedNeardupLsh persists the same). */
  private def withSig(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(dotExact(col("embedding"), col("embedding"))))
      .withColumn("bucket",
        call_function("lsh_bucket", col("embedding"), lit(Similarity.NPlanes)))

  /** (vec_id, old_id) candidate pairs from shared buckets whose EXACT
    * cosine reaches the threshold: double-fold prefilter with the dot-space
    * guard band, exact decimal cosine as the decider (the
    * qEmbedNeardupLsh two-phase shape). */
  private def nearPairs(sigs: DataFrame, index: DataFrame): DataFrame = {
    val thr = Similarity.CosineThreshold
    sigs.join(index, Seq("bucket"))
      .withColumn("nn", col("nrm") * col("old_nrm"))
      .filter(dotFast(col("embedding"), col("old_emb")) >=
        lit(thr) * col("nn") - (lit(1e-9) + lit(1e-9) * col("nn")))
      .filter(dotExact(col("embedding"), col("old_emb")) / col("nn") >= thr)
      .select("vec_id", "old_id")
  }

  /** Pure per-batch screen with the intra-batch KEEP-LOWEST rule (a row is
    * suppressed when a same-bucket near-dup with a smaller vec_id exists in
    * the same batch) — the same representative choice as StreamSimhash. */
  private[streaming] def screenBatch(batch: DataFrame, index: DataFrame): DataFrame = {
    val sigs = withSig(batch)
    val asIndex = sigs.select(col("vec_id").as("old_id"),
      col("embedding").as("old_emb"), col("nrm").as("old_nrm"), col("bucket"))
    val vsIndex = nearPairs(sigs, index)
      .filter(col("vec_id") =!= col("old_id"))   // replay safety
    val intraLower = nearPairs(sigs, asIndex)
      .filter(col("old_id") < col("vec_id"))     // keep-lowest direction
    val suppressed = vsIndex.union(intraLower).select("vec_id").distinct()
    sigs.join(suppressed, Seq("vec_id"), "left_anti")
  }

  protected def screen(batch: DataFrame, index: DataFrame) =
    (screenBatch(batch, index), Nil)

  protected def indexRows(kept: DataFrame): DataFrame =
    kept.select(col("vec_id").as("old_id"), col("embedding").as("old_emb"),
      col("nrm").as("old_nrm"), col("bucket"))
}
