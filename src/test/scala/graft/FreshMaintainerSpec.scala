package graft

import graft.functions.Text
import graft.streaming._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The fresh-maintainer sweep (round-15 verdict item): every Stream*
  * maintainer that folds a parquet delta log must degrade to an EMPTY (or
  * identity-sized) readout when polled BEFORE its first batch lands — a
  * monitoring dashboard may query a just-deployed maintainer at any time,
  * and an AnalysisException(PATH_NOT_FOUND) is an operational bug, not a
  * caller error. All modules now read through [[DeltaLog.emptyOr]] with a
  * pinned `DeltaDdl`; this spec sweeps BOTH contract halves:
  *
  *  1. fresh-dir readouts: every readout over a never-started log dir
  *     collects without throwing, with the exact degraded row count
  *     pinned per readout (0 for keyed reports; 1 for global-aggregate
  *     identity rows; grid-sized for readouts that cross a constant
  *     driver grid).
  *  2. DDL pin: the module's `DeltaDdl` constant equals the schema
  *     `processBatch` actually writes (drift between writer and declared
  *     fallback schema fails here, not in production).
  */
class FreshMaintainerSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def freshDir: String =
    Files.createTempDirectory("graft-fresh").toString + "/never-started"

  // (module, readout name, expected degraded rows, readout on a fresh
  // dir). Keyed reports degrade to 0 rows; GLOBAL-aggregate reports
  // degrade to their identity row(s) — sum-of-empty is null, so the
  // readout keeps its shape with null metrics (StreamDq: one row per
  // check; StreamGmm: one per component; Irls/Iso/Mi/Ols/Roc: the
  // single global row).
  private lazy val readouts: Seq[(String, String, Long, String => DataFrame)] =
    Seq(
      ("StreamAte", "report", 0L, d => StreamAte.report(spark, d)),
      ("StreamBenford", "counts", 0L, d => StreamBenford.counts(spark, d)),
      ("StreamBenford", "report", 0L, d => StreamBenford.report(spark, d)),
      ("StreamBoot", "report", 0L, d => StreamBoot.report(spark, d)),
      ("StreamBpe", "wordFreqs", 0L, d => StreamBpe.wordFreqs(spark, d)),
      ("StreamCal", "calibReport", 0L, d => StreamCal.calibReport(spark, d)),
      ("StreamCal", "brierReport", 0L, d => StreamCal.brierReport(spark, d)),
      ("StreamCms", "sketch", 0L, d => StreamCms.sketch(spark, d)),
      ("StreamConformal", "report", 0L,
        d => StreamConformal.report(spark, d)),
      ("StreamCpt", "report", 0L, d => StreamCpt.report(spark, d)),
      ("StreamDaily", "series", 0L, d => StreamDaily.series(spark, d)),
      ("StreamDaily", "autocorr", 0L, d => StreamDaily.autocorr(spark, d)),
      ("StreamDaily", "stl", 0L, d => StreamDaily.stl(spark, d)),
      ("StreamDaily", "forecast", 0L, d => StreamDaily.forecast(spark, d)),
      ("StreamDaily", "ljungBox", 0L, d => StreamDaily.ljungBox(spark, d)),
      ("StreamDid", "report", 0L, d => StreamDid.report(spark, d)),
      ("StreamDist", "ksReport", 0L, d => StreamDist.ksReport(spark, d)),
      ("StreamDist", "mwuReport", 0L, d => StreamDist.mwuReport(spark, d)),
      ("StreamDist", "emdReport", 0L, d => StreamDist.emdReport(spark, d)),
      ("StreamDist", "aucReport", 0L, d => StreamDist.aucReport(spark, d)),
      ("StreamDq", "report", 6L, d => StreamDq.report(spark, d)),
      ("StreamExactDedup", "registry", 0L,
        d => StreamExactDedup.registry(spark, d)),
      ("StreamExactDedup", "summary", 1L,
        d => StreamExactDedup.summary(spark, d)),
      ("StreamFdr", "report", 0L, d => StreamFdr.report(spark, d)),
      ("StreamGmm", "report", 2L, d => StreamGmm.report(spark, d)),
      ("StreamIndex", "bm25", 0L, d => StreamIndex.bm25(spark, d)),
      ("StreamIndex", "ql", 0L, d => StreamIndex.ql(spark, d)),
      ("StreamIndex", "rankEval", 2L, d => StreamIndex.rankEval(spark, d)),
      ("StreamIndex", "mapMrr", 2L, d => StreamIndex.mapMrr(spark, d)),
      ("StreamIvf", "annTopk", 0L, d => StreamIvf.annTopk(spark, d)),
      ("StreamIvf", "recallAudit", 0L,
        d => StreamIvf.recallAudit(spark, d)),
      ("StreamIvf", "cellCounts", 0L, d => StreamIvf.cellCounts(spark, d)),
      ("StreamIvf", "annTopkPq", 0L,
        d => StreamIvf.annTopkPq(spark, d, StreamIvf.frozenPqCents(spark, sf))),
      ("StreamIrls", "report", 1L, d => StreamIrls.report(spark, d)),
      ("StreamIso", "report", 1L, d => StreamIso.report(spark, d)),
      ("StreamKanon", "report", 0L, d => StreamKanon.report(spark, d)),
      ("StreamKn", "model", 0L, d => StreamKn.model(spark, d)),
      ("StreamMi", "report", 1L, d => StreamMi.report(spark, d)),
      ("StreamOls", "report", 1L, d => StreamOls.report(spark, d)),
      ("StreamRoc", "report", 1L, d => StreamRoc.report(spark, d)),
      ("StreamRoc", "liftReport", 0L, d => StreamRoc.liftReport(spark, d)),
      ("StreamSketch", "rollup", 0L, d => StreamSketch.rollup(spark, d)),
      ("StreamAblate", "report", 7L, d => StreamAblate.report(spark, d)),
      ("StreamMix", "report", 0L, d => StreamMix.report(spark, d)),
      ("StreamPref", "pairs", 0L, d => StreamPref.pairs(spark, d)),
      ("StreamTclose", "report", 0L, d => StreamTclose.report(spark, d)),
      ("StreamVocab", "zipf", 1L, d => StreamVocab.zipf(spark, d)),
      ("StreamVocab", "hill", 0L, d => StreamVocab.hill(spark, d)),
      ("StreamVocab", "chao1", 1L, d => StreamVocab.chao1(spark, d)),
      ("StreamWelch", "report", 0L, d => StreamWelch.report(spark, d)),
      ("StreamWelch", "powerReport", 0L,
        d => StreamWelch.powerReport(spark, d)),
      ("StreamWelch", "msprtReport", 0L,
        d => StreamWelch.msprtReport(spark, d)),
      ("StreamXent", "heldout", 0L, d => StreamXent.heldout(spark, d)),
      ("StreamXent", "scaling", 0L, d => StreamXent.scaling(spark, d)),
      ("StreamCanary", "exposure", 0L, d => StreamCanary.exposure(spark, d)),
      ("StreamBt", "strengths", 0L, d => StreamBt.strengths(spark, d)),
      ("StreamSimhash", "survivors", 0L,
        d => StreamSimhash.survivors(spark, d)),
      ("StreamSemDedup", "survivors", 0L,
        d => StreamSemDedup.survivors(spark, d)),
      ("StreamPhash", "survivors", 0L, d => StreamPhash.survivors(spark, d)),
      ("StreamWinnow", "survivors", 0L,
        d => StreamWinnow.survivors(spark, d)))

  for ((mod, ro, expected, mk) <- readouts)
    test(s"$mod.$ro: fresh maintainer degrades to $expected rows, no throw") {
      val rows = mk(freshDir).collect()
      assert(rows.length.toLong === expected,
        s"$mod.$ro fresh readout: ${rows.mkString("; ")}")
    }

  test("StreamHist.report: fresh log (reference present) degrades, no throw") {
    val refDir = Files.createTempDirectory("graft-fresh-href").toString
    StreamHist.writeReference(
      Tables.events(spark, sf).select($"value"), refDir)
    assert(StreamHist.report(spark, refDir, freshDir).collect().length === 0)
  }

  test("StreamPsi.report: fresh log (reference present) keeps the reference bins") {
    val refDir = Files.createTempDirectory("graft-fresh-pref").toString
    val v = Tables.events(spark, sf).select($"value")
    StreamPsi.writeReference(v, StreamPsi.bounds(v), refDir)
    // full-outer with an empty current side: the reference bin rows survive
    // (n_new null -> smoothed), so the readout is identity-sized, not void
    val rows = StreamPsi.report(spark, refDir, freshDir).collect()
    assert(rows.nonEmpty)
  }

  // ---- DDL pins: the declared fallback schema IS the written schema ----

  private lazy val ev = Tables.events(spark, sf).limit(100).cache()
  private lazy val docs = Tables.documents(spark, sf).limit(30).cache()
  private lazy val li = Tables.lineitem(spark, sf).limit(100).cache()

  private def writtenDdl(sub: String)(write: String => Unit): String = {
    val d = Files.createTempDirectory("graft-ddlpin").toString
    write(d)
    spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$d/$sub").schema.toDDL
  }

  private def norm(ddl: String): String = ddl.replace(", ", ",")

  private lazy val ddlPins: Seq[(String, String, String => Unit)] = Seq(
    ("StreamAte", StreamAte.DeltaDdl, d => StreamAte.processBatch(
      ev.select($"event_id", $"event_type", $"user_id", $"value"), 0L, d)),
    ("StreamBenford", StreamBenford.DeltaDdl,
      d => StreamBenford.processBatch(ev, 0L, d)),
    ("StreamBoot", StreamBoot.DeltaDdl, d => StreamBoot.processBatch(
      ev.select($"event_id", $"value"), 0L, d)),
    ("StreamBpe", StreamBpe.DeltaDdl, d => StreamBpe.processBatch(
      docs.select($"doc_id", $"text"), 0L, d)),
    ("StreamCal", StreamCal.DeltaDdl, d => StreamCal.processBatch(
      ev.select($"event_id", $"event_type", $"value"), 0L, d)),
    ("StreamCms", StreamCms.DeltaDdl, d => StreamCms.processBatch(
      docs.select(explode(Text.tokens($"text")).as("term")), 0L, d)),
    ("StreamConformal", StreamConformal.DeltaDdl,
      d => StreamConformal.processBatch(
        ev.select($"event_id", $"event_type", $"value"), 0L, d)),
    ("StreamCpt", StreamCpt.DeltaDdl, d => StreamCpt.processBatch(
      ev.select($"event_id", $"ts_us", $"value"), 0L, d)),
    ("StreamDaily", StreamDaily.DeltaDdl,
      d => StreamDaily.processBatch(ev, 0L, d)),
    ("StreamDid", StreamDid.DeltaDdl, d => StreamDid.processBatch(
      ev.select($"event_id", $"user_id", $"ts_us", $"value"), 0L, d)),
    ("StreamDist", StreamDist.DeltaDdl, d => StreamDist.processBatch(
      ev.select($"event_id", $"event_type", $"value"), 0L, d)),
    ("StreamExactDedup", StreamExactDedup.DeltaDdl,
      d => StreamExactDedup.processBatch(
        docs.select($"doc_id", $"text"), 0L, d)),
    ("StreamDq", StreamDq.DeltaDdl, d => StreamDq.processBatch(li,
      Tables.orders(spark, sf).select($"o_orderkey", $"o_orderdate"),
      0L, d)),
    ("StreamFdr", StreamFdr.DeltaDdl, d => StreamFdr.processBatch(
      ev.select($"event_id", $"event_type", $"ts_us", $"value"), 0L, d)),
    ("StreamGmm", StreamGmm.DeltaDdl, d => StreamGmm.processBatch(
      ev.select($"event_id", $"value"), 0L, d)),
    ("StreamIrls", StreamIrls.DeltaDdl, d => StreamIrls.processBatch(
      li.select($"l_quantity", $"l_discount", $"l_returnflag"), 0L, d)),
    ("StreamKanon", StreamKanon.DeltaDdl,
      d => StreamKanon.processBatch(docs, 0L, d)),
    ("StreamKn", StreamKn.DeltaDdl, d => StreamKn.processBatch(
      docs.select($"doc_id", $"text"), 0L, d)),
    ("StreamMi", StreamMi.DeltaDdl, d => StreamMi.processBatch(
      ev.select($"event_id", $"event_type", $"ts_us"), 0L, d)),
    ("StreamOls", StreamOls.DeltaDdl, d => StreamOls.processBatch(
      li.select($"l_quantity", $"l_discount", $"l_extendedprice"), 0L, d)),
    ("StreamRoc", StreamRoc.DeltaDdl, d => StreamRoc.processBatch(
      ev.select($"event_id", $"event_type", $"value"), 0L, d)),
    ("StreamSketch", StreamSketch.DeltaDdl,
      d => StreamSketch.processBatch(
        ev.select($"event_type", $"ts_us", $"user_id"), 0L, d)),
    ("StreamMix", StreamMix.DeltaDdl, d => StreamMix.processBatch(
      docs.select($"doc_id", $"text", $"source"), 0L, d)),
    ("StreamPref", StreamPref.DeltaDdl, d => StreamPref.processBatch(
      docs.select($"doc_id", $"text", $"lang", $"source"), 0L, d)),
    ("StreamTclose", StreamTclose.DeltaDdl,
      d => StreamTclose.processBatch(docs, 0L, d)),
    ("StreamVocab", StreamVocab.DeltaDdl, d => StreamVocab.processBatch(
      docs.select($"doc_id", $"text"), 0L, d)),
    ("StreamWelch", StreamWelch.DeltaDdl, d => StreamWelch.processBatch(
      ev.select($"event_id", $"event_type", $"value"), 0L, d)),
    ("StreamXent", StreamXent.DeltaDdl, d => StreamXent.processBatch(
      docs.select($"doc_id", $"lang", $"text"), 0L, d)))

  for ((mod, ddl, write) <- ddlPins)
    test(s"$mod: DeltaDdl pins the written delta schema") {
      assert(norm(writtenDdl("log")(write)) === norm(ddl))
    }

  test("StreamAblate: Counts/Docs DDLs pin the written delta schemas") {
    val d = Files.createTempDirectory("graft-ddlpin-abl").toString
    StreamAblate.processBatch(docs.select($"doc_id", $"text"), 0L, d)
    assert(norm(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$d/counts").schema.toDDL) === norm(StreamAblate.CountsDdl))
    assert(norm(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$d/docs").schema.toDDL) === norm(StreamAblate.DocsDdl))
  }

  test("StreamIndex: Postings/Stats DDLs pin the written delta schemas") {
    val d = Files.createTempDirectory("graft-ddlpin-index").toString
    StreamIndex.processBatch(docs.select($"doc_id", $"text"), 0L, d)
    assert(norm(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$d/postings").schema.toDDL) === norm(StreamIndex.PostingsDdl))
    assert(norm(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$d/stats").schema.toDDL) === norm(StreamIndex.StatsDdl))
  }

  test("StreamIvf: Assign/Probes/Codes DDLs pin the written delta schemas") {
    val d = Files.createTempDirectory("graft-ddlpin-ivf").toString
    val emb = Tables.embeddings(spark, sf).limit(40)
      .select($"vec_id", $"embedding")
    StreamIvf.processBatch(emb, 0L, d,
      StreamIvf.frozenCentroids(spark, sf),
      StreamIvf.frozenPqCents(spark, sf))
    assert(norm(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$d/assign").schema.toDDL) === norm(StreamIvf.AssignDdl))
    assert(norm(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$d/probes").schema.toDDL) === norm(StreamIvf.ProbesDdl))
    assert(norm(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$d/codes").schema.toDDL) === norm(StreamIvf.CodesDdl))
  }

  test("StreamCanary: Gram/Term DDLs pin the written delta schemas") {
    val d = Files.createTempDirectory("graft-ddlpin-canary").toString
    StreamCanary.processBatch(docs.select($"doc_id", $"text"), 0L, d)
    assert(norm(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$d/grams").schema.toDDL) === norm(StreamCanary.GramDdl))
    assert(norm(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$d/terms").schema.toDDL) === norm(StreamCanary.TermDdl))
  }

  test("StreamBt: Hist DDL pins the written delta schema") {
    val d = Files.createTempDirectory("graft-ddlpin-bt").toString
    StreamBt.processBatch(docs.select($"source", $"text"), 0L, d)
    assert(norm(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$d/hist").schema.toDDL) === norm(StreamBt.HistDdl))
  }

  test("StreamIso: Norms/Pos DDLs pin the written delta schemas") {
    val d = Files.createTempDirectory("graft-ddlpin-iso").toString
    StreamIso.processBatch(Tables.embeddings(spark, sf).limit(30)
      .select($"vec_id", $"embedding"), 0L, d)
    assert(norm(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$d/norms").schema.toDDL) === norm(StreamIso.NormsDdl))
    assert(norm(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$d/pos").schema.toDDL) === norm(StreamIso.PosDdl))
  }

  test("StreamHist/StreamPsi: DeltaDdl pins the written delta schema") {
    val refDir = Files.createTempDirectory("graft-ddlpin-ref").toString
    val v = Tables.events(spark, sf).select($"value")
    StreamHist.writeReference(v, s"$refDir/h")
    StreamPsi.writeReference(v, StreamPsi.bounds(v), s"$refDir/p")
    assert(norm(writtenDdl("log")(
      d => StreamHist.processBatch(v, s"$refDir/h", 0L, d)))
      === norm(StreamHist.DeltaDdl))
    assert(norm(writtenDdl("log")(
      d => StreamPsi.processBatch(v, s"$refDir/p", 0L, d)))
      === norm(StreamPsi.DeltaDdl))
  }

  private lazy val screens: Seq[(String, Screen, () => DataFrame)] = Seq(
    ("StreamSimhash", StreamSimhash, () => docs.select($"doc_id", $"text")),
    ("StreamSemDedup", StreamSemDedup, () => Tables.embeddings(spark, sf)
      .limit(30).select($"vec_id", $"embedding")),
    ("StreamPhash", StreamPhash, () => docs.select($"doc_id".as("media_id"),
      lit("image").as("kind"), $"text")),
    ("StreamWinnow", StreamWinnow, () => docs.select($"doc_id", $"text")))

  for ((mod, screen, batch) <- screens)
    test(s"$mod: Index/Survivors DDLs pin the written delta schemas") {
      val d = Files.createTempDirectory("graft-ddlpin-screen").toString
      screen.processBatch(batch(), 0L, d)
      for (log <- Seq(screen.Index, screen.Survivors))
        assert(norm(spark.read.option("recursiveFileLookup", "true")
          .parquet(s"$d/${log.sub}").schema.toDDL) === norm(log.ddl))
    }
}
