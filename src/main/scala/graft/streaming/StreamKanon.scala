package graft.streaming

import graft.operators.Governance
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming k-anonymity / l-diversity audit — the incremental twin of
  * q_k_anonymity (Governance.qKAnonymity), completing the governance
  * family's streaming story (SCD2, DQ, PSI, HLL rollup, and now the
  * privacy audit).
  *
  * The batch audit needs, per QID class, a row count (additive — a sum
  * over batches) and a DISTINCT sensitive-attribute count (NOT additive —
  * the same source arriving in two batches must count once). The
  * incremental shape is therefore hybrid, one of each mergeable kind:
  * per batch, per class, append `(count, hll_sketch_agg(source))` to a
  * parquet class log; [[report]] folds the log with `sum` + `hll_union_agg`
  * and flags through the shared Governance.kanonReport.
  *
  * Exactness: Datasketches HLL stores small sets exactly (coupon/sparse
  * mode until far beyond any plausible per-class source cardinality), so
  * at audit scales the streamed l_diversity EQUALS the batch
  * countDistinct — StreamKanonSpec pins row-for-row equality with the
  * batch query on replayed data, and the l < [[Governance.LDiv]] = 2
  * disclosure flag in particular is decided at cardinalities where the
  * sketch is provably exact.
  *
  * Scale shape: the per-batch aggregate shuffles one (class) keyed row of
  * bytes per observed class; the log grows O(classes) rows per batch; the
  * report reads only the log. The fixed per-batch path + overwrite mode
  * is correctness for the additive count half (a recovery replay replaces
  * its own file; the sketch half would absorb replays for free, but the
  * count would double).
  */
object StreamKanon extends Maintainer {

  /** Delta-log schema as written by [[processBatch]] — pinned against
    * the writer by FreshMaintainerSpec; [[DeltaLog.emptyOr]] serves the
    * empty relation in this schema when the maintainer is fresh (no
    * batch yet), so readouts degrade to empty reports, never throw. */
  private[graft] val DeltaDdl =
    "lang STRING,chars_bucket BIGINT,n BIGINT,sk BINARY"

  private val Classes = DeltaLog.Log("log", "classes_", DeltaDdl)

  /** Audit one micro-batch of documents rows (lang, n_chars, source):
    * per-class count + source sketch appended to the class log. */
  protected def append(docsBatch: DataFrame, batchId: Long,
      logDir: String): Unit =
    Classes.write(Governance.kanonClasses(docsBatch)
      .groupBy(col("lang"), col("chars_bucket"))
      .agg(count(lit(1)).as("n"), hll_sketch_agg(col("source")).as("sk"))
      .coalesce(1), // O(observed classes) rows
      batchId, logDir)

  /** The all-time audit from the class log alone: additive counts summed,
    * source sketches unioned, flags shared with the batch query. */
  def report(spark: SparkSession, logDir: String): DataFrame = {
    val folded = Classes.read(spark, logDir)
      .groupBy(col("lang"), col("chars_bucket"))
      .agg(sum(col("n")).as("class_n"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("l_diversity"))
    Governance.kanonReport(folded)
  }
}
