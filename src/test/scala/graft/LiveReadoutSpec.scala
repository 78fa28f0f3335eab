package graft

import graft.operators.{CorpusQuality, EventAnalytics, LexicalStats}
import graft.streaming.{StreamAblate, StreamDaily, StreamMix}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** A live monitor polls its readouts again and again in one session, with
  * no clearCache between polls. The ablate, mix and daily-series readout
  * cores persist their folded log; a later poll's fold matches that cache
  * entry by log path, so without the refresh in the delta-log read it
  * would serve the first poll's result after new batches landed. Each
  * second poll must equal its batch twin over the whole corpus. */
class LiveReadoutSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq)

  test("a second poll without clearCache sees the batch landed after the first") {
    val docs = Tables.documents(spark, dir)
    val ev = Tables.events(spark, dir)
    val base = Files.createTempDirectory("graft-live").toString
    def land(s: Int): Unit = {
      val d = docs.filter($"doc_id" % 2 === s)
      StreamAblate.processBatch(d.select($"doc_id", $"text"), s.toLong,
        s"$base/ablate")
      StreamMix.processBatch(d.select($"doc_id", $"text", $"source"),
        s.toLong, s"$base/mix")
      StreamDaily.processBatch(ev.filter(abs(hash($"event_id")) % 2 === s),
        s.toLong, s"$base/daily")
    }
    val polls: Seq[(String, () => DataFrame, GraftQuery)] = Seq(
      ("ablate", () => StreamAblate.report(spark, s"$base/ablate"),
        CorpusQuality.qFilterAblation),
      ("mix", () => StreamMix.report(spark, s"$base/mix"),
        LexicalStats.qMixRebalance),
      ("autocorr", () => StreamDaily.autocorr(spark, s"$base/daily"),
        EventAnalytics.qAutocorr),
      ("stl", () => StreamDaily.stl(spark, s"$base/daily"),
        EventAnalytics.qStlDecompose),
      ("forecast", () => StreamDaily.forecast(spark, s"$base/daily"),
        EventAnalytics.qSeasonalForecast))

    land(0)
    val first = polls.map(p => rows(p._2()))
    land(1)
    val second = polls.map(p => rows(p._2()))
    for (((name, _, twin), (before, after)) <- polls.zip(first.zip(second))) {
      val batch = rows(twin.run(spark, dir))
      // the first poll saw half the corpus, so a stale second poll differs
      assert(before !== batch, s"$name: one batch already equals the twin")
      assert(after === batch, s"$name: second poll served a stale fold")
    }
  }
}
