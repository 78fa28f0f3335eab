package graft

import graft.operators.{Dedup, LexicalStats, Retrieval}
import graft.streaming.{DeltaLog, StreamExactDedup, StreamIndex, StreamVocab}
import java.nio.file.Files

/** Auto-compaction policy end-to-end: every delta log compacts through
  * [[DeltaLog.maybeCompact]] after each batch write, so a stream that
  * outlives [[DeltaLog.CompactThreshold]] micro-batches folds its old
  * batch directories automatically. The contract under test, per
  * maintainer (and for all eight logs IngestHub writes):
  *
  *  1. drive MORE batches than the threshold (disjoint doc slices);
  *  2. the log physically compacted (dir count collapsed to
  *     compacted-<N>.parquet + the keepLast tail, far below the batch
  *     count);
  *  3. every readout is bit-identical to its batch twin ACROSS the
  *     compaction boundary (the fold sees the same additive rows, just
  *     re-filed) — for a screen, whose survivors depend on batch order,
  *     the twin is its rule replayed batch by batch in plain Scala;
  *  4. recovery replay of the LAST batch (the only one checkpoint
  *     recovery can re-run) after compaction leaves readouts unchanged
  *     (fixed-path overwrite hits a dir the keepLast guard never
  *     absorbed).
  */
class AutoCompactSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val NBatches = DeltaLog.CompactThreshold + 2

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.map(_.toSeq)

  private def batchDirCount(logDir: String): Int =
    new java.io.File(logDir).listFiles().count(_.isDirectory)

  test("StreamExactDedup: auto-compacts past the threshold; registry bit-equal + recovery") {
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val logDir = Files.createTempDirectory("graft-ac-dedup").toString
    for (s <- 0 until NBatches)
      StreamExactDedup.processBatch(
        docs.filter($"doc_id" % NBatches === s), s.toLong, logDir)
    // physically compacted: compacted.parquet + keepLast(2) + at most the
    // few batches landed since the last fold — never the full history
    val nDirs = batchDirCount(s"$logDir/log")
    assert(nDirs < NBatches - 2, s"log never compacted: $nDirs dirs")
    assert(new java.io.File(s"$logDir/log").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("compacted-")))
    // readout bit-identical across the compaction boundary
    val batch = rows(Dedup.qDedupExact.run(spark, dir))
    assert(batch.nonEmpty)
    assert(rows(StreamExactDedup.registry(spark, logDir)) === batch)
    // recovery replay of the LAST batch
    StreamExactDedup.processBatch(
      docs.filter($"doc_id" % NBatches === (NBatches - 1)),
      (NBatches - 1).toLong, logDir)
    assert(rows(StreamExactDedup.registry(spark, logDir)) === batch)
  }

  test("StreamVocab: auto-compacts past the threshold; spectrum readouts bit-equal + recovery") {
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val logDir = Files.createTempDirectory("graft-ac-vocab").toString
    for (s <- 0 until NBatches)
      StreamVocab.processBatch(
        docs.filter($"doc_id" % NBatches === s), s.toLong, logDir)
    val nDirs = batchDirCount(s"$logDir/log")
    assert(nDirs < NBatches - 2, s"log never compacted: $nDirs dirs")
    val zipf = rows(LexicalStats.qZipfFit.run(spark, dir))
    val chao1 = rows(LexicalStats.qChao1.run(spark, dir))
    assert(zipf.nonEmpty && chao1.nonEmpty)
    assert(rows(StreamVocab.zipf(spark, logDir)) === zipf)
    assert(rows(StreamVocab.chao1(spark, logDir)) === chao1)
    StreamVocab.processBatch(
      docs.filter($"doc_id" % NBatches === (NBatches - 1)),
      (NBatches - 1).toLong, logDir)
    assert(rows(StreamVocab.zipf(spark, logDir)) === zipf)
  }

  test("StreamIndex: auto-compacts BOTH logs past the threshold; rankers bit-equal + recovery") {
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val logDir = Files.createTempDirectory("graft-ac-index").toString
    for (s <- 0 until NBatches)
      StreamIndex.processBatch(
        docs.filter($"doc_id" % NBatches === s), s.toLong, logDir)
    for (sub <- Seq("postings", "stats")) {
      val nDirs = batchDirCount(s"$logDir/$sub")
      assert(nDirs < NBatches - 2, s"$sub never compacted: $nDirs dirs")
    }
    val bm25 = rows(Retrieval.qBm25Scores.run(spark, dir))
    val ql = rows(Retrieval.qQlScores.run(spark, dir))
    assert(bm25.nonEmpty && ql.nonEmpty)
    assert(rows(StreamIndex.bm25(spark, logDir)) === bm25)
    assert(rows(StreamIndex.ql(spark, logDir)) === ql)
    StreamIndex.processBatch(
      docs.filter($"doc_id" % NBatches === (NBatches - 1)),
      (NBatches - 1).toLong, logDir)
    assert(rows(StreamIndex.bm25(spark, logDir)) === bm25)
  }

  test("StreamIvf: auto-compacts ALL THREE logs past the threshold; ANN readouts bit-equal + recovery") {
    import graft.operators.Similarity
    import graft.streaming.StreamIvf
    val emb = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val cents = StreamIvf.frozenCentroids(spark, dir)
    val pqCents = StreamIvf.frozenPqCents(spark, dir)
    val logDir = Files.createTempDirectory("graft-ac-ivf").toString
    for (s <- 0 until NBatches)
      StreamIvf.processBatch(
        emb.filter($"vec_id" % NBatches === s), s.toLong, logDir,
        cents, pqCents)
    for (sub <- Seq("assign", "probes", "codes")) {
      val nDirs = batchDirCount(s"$logDir/$sub")
      assert(nDirs < NBatches - 2, s"$sub never compacted: $nDirs dirs")
    }
    val ann = rows(Similarity.qAnnIvf.run(spark, dir))
    val audit = rows(Similarity.qIvfRecallAudit.run(spark, dir))
    val ivfpq = rows(Similarity.qAnnIvfpq.run(spark, dir))
    assert(ann.nonEmpty && audit.nonEmpty && ivfpq.nonEmpty)
    assert(rows(StreamIvf.annTopk(spark, logDir)) === ann)
    assert(rows(StreamIvf.recallAudit(spark, logDir)) === audit)
    assert(rows(StreamIvf.annTopkPq(spark, logDir, pqCents)) === ivfpq)
    StreamIvf.processBatch(
      emb.filter($"vec_id" % NBatches === (NBatches - 1)),
      (NBatches - 1).toLong, logDir, cents, pqCents)
    assert(rows(StreamIvf.annTopk(spark, logDir)) === ann)
    assert(rows(StreamIvf.annTopkPq(spark, logDir, pqCents)) === ivfpq)
  }

  test("StreamCanary: auto-compacts BOTH logs past the threshold; exposure bit-equal + recovery") {
    import graft.operators.CorpusQuality
    import graft.streaming.StreamCanary
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val logDir = Files.createTempDirectory("graft-ac-canary").toString
    for (s <- 0 until NBatches)
      StreamCanary.processBatch(
        docs.filter($"doc_id" % NBatches === s), s.toLong, logDir)
    for (sub <- Seq("grams", "terms")) {
      val nDirs = batchDirCount(s"$logDir/$sub")
      assert(nDirs < NBatches - 2, s"$sub never compacted: $nDirs dirs")
    }
    val batch = rows(CorpusQuality.qCanaryExposure.run(spark, dir))
    assert(batch.nonEmpty)
    assert(rows(StreamCanary.exposure(spark, logDir)) === batch)
    StreamCanary.processBatch(
      docs.filter($"doc_id" % NBatches === (NBatches - 1)),
      (NBatches - 1).toLong, logDir)
    assert(rows(StreamCanary.exposure(spark, logDir)) === batch)
  }

  test("StreamBt: auto-compacts past the threshold; strengths bit-equal + recovery") {
    import graft.operators.MlEval
    import graft.streaming.StreamBt
    val docs = Tables.documents(spark, dir).select($"doc_id", $"source", $"text")
    val logDir = Files.createTempDirectory("graft-ac-bt").toString
    for (s <- 0 until NBatches)
      StreamBt.processBatch(
        docs.filter($"doc_id" % NBatches === s), s.toLong, logDir)
    val nDirs = batchDirCount(s"$logDir/hist")
    assert(nDirs < NBatches - 2, s"hist never compacted: $nDirs dirs")
    val batch = rows(MlEval.qBradleyTerry.run(spark, dir))
    assert(batch.nonEmpty)
    assert(rows(StreamBt.strengths(spark, logDir)) === batch)
    StreamBt.processBatch(
      docs.filter($"doc_id" % NBatches === (NBatches - 1)),
      (NBatches - 1).toLong, logDir)
    assert(rows(StreamBt.strengths(spark, logDir)) === batch)
  }

  test("IngestHub: auto-compacts all eight hub logs past the threshold; six readouts bit-equal + recovery") {
    import graft.operators.{CorpusQuality, PipelineOps}
    import graft.streaming.{IngestHub, StreamAblate, StreamMix, StreamPref}
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"text", $"lang", $"source")
    val base = Files.createTempDirectory("graft-ac-hub").toString
    def slice(s: Int) = docs.filter($"doc_id" % NBatches === s)
    for (s <- 0 until NBatches)
      IngestHub.processBatch(slice(s), s.toLong, base)
    for (log <- Seq("vocab/log", "exactdedup/log", "index/postings",
        "index/stats", "ablate/counts", "ablate/docs", "mix/log",
        "pref/log")) {
      val nDirs = batchDirCount(s"$base/$log")
      assert(nDirs < NBatches - 2, s"$log never compacted: $nDirs dirs")
      assert(new java.io.File(s"$base/$log").listFiles()
        .exists(f => f.isDirectory && f.getName.startsWith("compacted-")),
        s"$log holds no compacted dir")
    }
    // the IngestHubSpec pairs: each readout against its batch twin
    val pairs = Seq(
      (() => StreamVocab.zipf(spark, s"$base/vocab"),
        rows(LexicalStats.qZipfFit.run(spark, dir))),
      (() => StreamExactDedup.registry(spark, s"$base/exactdedup"),
        rows(Dedup.qDedupExact.run(spark, dir))),
      (() => StreamIndex.bm25(spark, s"$base/index"),
        rows(Retrieval.qBm25Scores.run(spark, dir))),
      (() => StreamAblate.report(spark, s"$base/ablate"),
        rows(CorpusQuality.qFilterAblation.run(spark, dir))),
      (() => StreamMix.report(spark, s"$base/mix"),
        rows(LexicalStats.qMixRebalance.run(spark, dir))),
      (() => StreamPref.pairs(spark, s"$base/pref"),
        rows(PipelineOps.qPreferencePairs.run(spark, dir))))
    for ((readout, batch) <- pairs) {
      assert(batch.nonEmpty)
      assert(rows(readout()) === batch)
    }
    // recovery replay of the LAST batch
    IngestHub.processBatch(slice(NBatches - 1), (NBatches - 1).toLong, base)
    for ((readout, batch) <- pairs) assert(rows(readout()) === batch)
  }

  test("StreamSimhash: auto-compacts BOTH logs past the threshold; survivors equal an uncompacted run + recovery") {
    import graft.streaming.StreamSimhash
    import org.apache.spark.sql.functions.call_function
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val logDir = Files.createTempDirectory("graft-ac-simhash").toString
    def slice(s: Int) = docs.filter($"doc_id" % NBatches === s)
    for (s <- 0 until NBatches)
      StreamSimhash.processBatch(slice(s), s.toLong, logDir)
    for (sub <- Seq("survivors", "index")) {
      val nDirs = batchDirCount(s"$logDir/$sub")
      assert(nDirs < NBatches - 2, s"$sub never compacted: $nDirs dirs")
      assert(new java.io.File(s"$logDir/$sub").listFiles()
        .exists(f => f.isDirectory && f.getName.startsWith("compacted-")),
        s"$sub holds no compacted dir")
    }
    // the uncompacted run: the screen's rule replayed batch by batch in
    // plain Scala over the signatures (the 4x8-bit banding is complete at
    // Hamming <= 3, so candidate pairs are all near pairs)
    val sigs = docs.select($"doc_id", call_function("simhash32", $"text"))
      .as[(Long, Long)].collect().toSeq
    def near(a: Long, b: Long) =
      java.lang.Long.bitCount(a ^ b) <= StreamSimhash.HammingMax
    val kept = (0 until NBatches).foldLeft(Seq.empty[(Long, Long)]) {
      (index, s) =>
        val batch = sigs.filter(_._1 % NBatches == s)
        index ++ batch.filter { case (id, sg) =>
          !index.exists { case (o, os) => o != id && near(sg, os) } &&
          !batch.exists { case (o, os) => o < id && near(sg, os) }
        }
    }
    def survivors = StreamSimhash.survivors(spark, logDir)
      .select($"doc_id").as[Long].collect().toSeq.sorted
    val expected = kept.map(_._1).sorted
    assert(expected.nonEmpty)
    assert(survivors === expected)
    assert(StreamSimhash.Index.read(spark, logDir).as[(Long, Long)]
      .collect().toSeq.sorted === kept.sorted)
    // recovery replay of the LAST batch: its probe is the index without
    // the batch's own delta
    val last = sigs.map(_._1).filter(_ % NBatches == NBatches - 1).toSet
    assert(StreamSimhash.Index.readExcept(spark, logDir, (NBatches - 1).toLong)
      .as[(Long, Long)].collect().toSeq.sorted
      === kept.filterNot(k => last(k._1)).sorted)
    StreamSimhash.processBatch(slice(NBatches - 1), (NBatches - 1).toLong,
      logDir)
    assert(survivors === expected)
    // a re-send of a document whose deltas were compacted away
    val (first, _) = kept.head
    assert(first % NBatches == 0)
    StreamSimhash.processBatch(
      docs.filter($"doc_id" === first)
        .select(($"doc_id" + sigs.map(_._1).max + 1).as("doc_id"), $"text"),
      NBatches.toLong, logDir)
    assert(survivors === expected)
  }
}
