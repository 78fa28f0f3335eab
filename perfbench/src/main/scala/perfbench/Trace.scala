package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** In-memory trace of one traced run, written out when the run ends.
  *
  * A SparkListener records, without any change to the program, each SQL
  * execution (an action: its start and end, its physical plan's root
  * operator and, for a file write, the target path), jobs, stages and
  * task metrics (CPU time, shuffle, input and spilled bytes). The
  * benchmark adds its own spans around each call into a layer (a
  * micro-batch, a readout, a query), and [[within]] attributes every
  * action and job to the span whose wall-clock interval contains it.
  *
  * Actions are named from the execution events, not from a
  * QueryExecutionListener: on Spark 4.1 the `QueryExecution.id` that
  * listener receives is not the execution id of the start/end events
  * (writes of one micro-batch were reported with another batch's paths).
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val starts = new ConcurrentHashMap[Long, java.lang.Long]
  private val roots = new ConcurrentHashMap[Long, java.lang.Long]
  private val plans = new ConcurrentHashMap[Long, (String, String)]
  private val ends = new ConcurrentHashMap[Long, java.lang.Long]
  private val jobs = new ConcurrentHashMap[Int, Job]
  private val stages = new ConcurrentHashMap[Int, Stage]
  private val drained = new ConcurrentHashMap[Int, java.lang.Boolean]
  private val spans = ArrayBuffer.empty[Span]

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        starts.put(s.executionId, s.time)
        plans.put(s.executionId, planFacts(s.physicalPlanDescription))
        s.rootExecutionId.filter(_ != s.executionId)
          .foreach(r => roots.put(s.executionId, r))
      case s: SparkListenerSQLExecutionEnd =>
        ends.put(s.executionId, s.time)
      case _ =>
    }
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.put(j.jobId, Job(j.time, j.stageIds))
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      drained.put(j.jobId, true)
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val i = s.stageInfo
      val m = i.taskMetrics
      stages.put(i.stageId, Stage(i.numTasks, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.inputMetrics.bytesRead, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  /** (root operator, file write target or "") of a formatted physical
    * plan, as SQL execution start events carry it. */
  private def planFacts(plan: String): (String, String) = {
    val root = plan.linesIterator.drop(1).nextOption().getOrElse("")
      .replaceAll("\\s*\\(\\d+\\)\\s*$", "").trim
    (root, WritePath.findFirstMatchIn(plan).map(_.group(1)).getOrElse(""))
  }

  spark.sparkContext.addSparkListener(sparkListener)

  /** Record a benchmark-side span (epoch ms). */
  def addSpan(name: String, parent: String, start: Long, end: Long): Unit =
    spans.synchronized { spans += Span(name, parent, start, end) }

  /** Block until the listener bus has delivered every event posted so far:
    * run a marker job and wait for its end event, which the bus delivers
    * after everything queued before it. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("perfbench-drain", "trace drain marker")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val marker = sc.statusTracker.getJobIdsForGroup("perfbench-drain").max
    val deadline = System.currentTimeMillis() + 30000
    while (!drained.containsKey(marker) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    jobs.remove(marker)
  }

  /** Actions and jobs that started inside [a, b] (epoch ms). An execution
    * that encloses others (the streaming engine's own per-batch execution
    * around foreachBatch) is not an action of its own. */
  def within(a: Long, b: Long): Window = {
    val enclosing = roots.values.asScala.map(_.longValue).toSet
    val acts = starts.asScala.toSeq.collect {
      case (id, s) if s >= a && s <= b && ends.containsKey(id) &&
          !enclosing(id) =>
        val (op, path) = Option(plans.get(id)).getOrElse(("", ""))
        Action(id, s, ends.get(id), op, path)
    }.sortBy(_.start)
    val js = jobs.asScala.values.filter(j => j.start >= a && j.start <= b).toSeq
    val ss = js.flatMap(_.stages).flatMap(i => Option(stages.get(i)))
    Window(acts, js.size, ss.size, ss.map(_.tasks).sum,
      ss.map(_.cpuNs).sum / 1e9, ss.map(_.shuffleBytes).sum,
      ss.map(_.inputBytes).sum, ss.map(_.spillBytes).sum)
  }

  /** Every benchmark-side span, for the trace file. */
  def spanRecords: Seq[Map[String, Any]] = spans.synchronized {
    spans.toSeq.map(s => Map("name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.start, "end_ms" -> s.end))
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}

object Trace {
  /** A file write's target in a formatted plan: the write command's
    * first argument (scans list their input as `Location: ... [file:..]`). */
  private val WritePath = "Arguments: (file:[^,\\s]+)".r

  final case class Action(id: Long, start: Long, end: Long, op: String,
      path: String)
  final case class Stage(tasks: Int, cpuNs: Long, shuffleBytes: Long,
      inputBytes: Long, spillBytes: Long)
  final case class Job(start: Long, stages: Seq[Int])
  final case class Span(name: String, parent: String, start: Long, end: Long)

  /** What one span's interval contains. */
  final case class Window(actions: Seq[Action], jobs: Int, stages: Int,
      tasks: Int, cpuS: Double, shuffleBytes: Long, inputBytes: Long,
      spillBytes: Long)
}
