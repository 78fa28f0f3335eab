package graft

import graft.streaming.Compaction
import java.nio.file.Files

/** Delta-log compaction: a maintainer's nested batch dirs fold into one
  * `compacted-<N>.parquet` with bit-equal readouts, and both interrupted
  * publish states recover without losing deltas. */
class CompactionSpec extends SparkSpec {

  test("compactLog folds a maintainer's nested batch dirs; readouts bit-equal") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir)
    val logDir = Files.createTempDirectory("graft-compactlog").toString
    for (s <- 0 until 4)
      graft.streaming.StreamIndex.processBatch(
        docs.filter($"doc_id" % 4 === s).select($"doc_id", $"text"),
        s.toLong, logDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toSeq)
    val bm = rows(graft.streaming.StreamIndex.bm25(spark, logDir))
    val ql = rows(graft.streaming.StreamIndex.ql(spark, logDir))
    assert(bm.nonEmpty && ql.nonEmpty)

    // fold all but the newest batch dir into compacted-<N>.parquet
    assert(Compaction.compactLog(spark, s"$logDir/postings", keepLast = 1)
      === ((4, 2)))
    assert(Compaction.compactLog(spark, s"$logDir/stats", keepLast = 1)
      === ((4, 2)))
    assert(rows(graft.streaming.StreamIndex.bm25(spark, logDir)) === bm)
    assert(rows(graft.streaming.StreamIndex.ql(spark, logDir)) === ql)

    // the kept newest batch is still replayable in place (checkpoint
    // recovery can only rewrite the LAST batch -- the keepLast contract)
    graft.streaming.StreamIndex.processBatch(
      docs.filter($"doc_id" % 4 === 3).select($"doc_id", $"text"),
      3L, logDir)
    assert(rows(graft.streaming.StreamIndex.bm25(spark, logDir)) === bm)

    // nothing left to gain: compacted + 1 kept dir is a no-op
    assert(Compaction.compactLog(spark, s"$logDir/postings", keepLast = 1)
      === ((2, 2)))

    // terminated stream (keepLast = 0): a later pass re-absorbs the
    // previous compacted-<N>.parquet together with the remaining batch dir
    assert(Compaction.compactLog(spark, s"$logDir/postings", keepLast = 0)
      === ((2, 1)))
    assert(rows(graft.streaming.StreamIndex.bm25(spark, logDir)) === bm)
    assert(rows(graft.streaming.StreamIndex.ql(spark, logDir)) === ql)
  }

  test("compactLog crash recovery: neither interrupted state loses deltas") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, dir)
    val logDir = Files.createTempDirectory("graft-crashlog").toString
    for (s <- 0 until 4)
      graft.streaming.StreamIndex.processBatch(
        docs.filter($"doc_id" % 4 === s).select($"doc_id", $"text"),
        s.toLong, logDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toSeq)
    val bm = rows(graft.streaming.StreamIndex.bm25(spark, logDir))
    val postings = s"$logDir/postings"

    // crash BEFORE publish: a stale '.compacting' dir holds a complete
    // rewrite, but the absorbed dirs are untouched — recovery must
    // discard the tmp (it is redundant), not double-count it
    spark.read.option("recursiveFileLookup", "true").parquet(postings)
      .coalesce(1).write.parquet(postings + ".compacting")
    assert(Compaction.compactLog(spark, postings, keepLast = 1)
      === ((4, 2)))
    assert(!new java.io.File(postings + ".compacting").exists())
    assert(rows(graft.streaming.StreamIndex.bm25(spark, logDir)) === bm)

    // crash AFTER publish, before the absorbed dirs were deleted: the
    // log transiently holds the rewrite AND its sources — recovery must
    // finish the deletes (keep compacted-<N>, drop every dir with
    // bid <= N), restoring exactly-once counting
    val fs = new org.apache.hadoop.fs.Path(postings)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val published = fs.listStatus(new org.apache.hadoop.fs.Path(postings))
      .map(_.getPath).find(_.getName.startsWith("compacted-")).get
    // re-create an "absorbed but not yet deleted" source next to it
    spark.read.option("recursiveFileLookup", "true")
      .parquet(published.toString)
      .write.parquet(s"$postings/b0.parquet")
    assert(Compaction.compactLog(spark, postings, keepLast = 1)
      === ((2, 2))) // recovery dropped the stale b0 before counting
    assert(rows(graft.streaming.StreamIndex.bm25(spark, logDir)) === bm)
  }
}
