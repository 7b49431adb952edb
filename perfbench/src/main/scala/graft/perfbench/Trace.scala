package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same scale as the timestamps Spark puts on listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Benchmark spans and the raw Spark events they are attributed against.
  * Spans are opened on the calling thread only; listener callbacks arrive on
  * Spark's listener-bus thread and only append to their own buffers, so the
  * attribution (job → span → module) happens after the run, by time. While
  * not registered with a session, `span` just runs its body. */
final class Trace(val enabled: Boolean, workload: String) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val executions = mutable.HashMap.empty[Long, Seq[String]]
  private val queries = mutable.ArrayBuffer.empty[String]
  private val progress = mutable.ArrayBuffer.empty[String]
  private var iter = -1
  @volatile private var recording = false

  def setIteration(i: Int): Unit = iter = i

  def span[T](name: String)(body: => T): T =
    if (!recording || iter < 0) body
    else {
      val s = new Span(spans.length, name, open.headOption.map(_.id).getOrElse(-1),
        iter, Clock.nowMs)
      spans.synchronized(spans += s)
      open.push(s)
      try body
      finally { s.end = Clock.nowMs; open.pop() }
    }

  /** A call span that also forces its lazy result with the noop sink. */
  def forced(name: String)(df: => DataFrame): DataFrame =
    span(name) { val d = df; Trace.force(d); d }

  def register(spark: SparkSession): Unit = if (enabled) {
    recording = true
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = if (enabled) {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    recording = false
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // a job's call site is its result stage's name (short form) and
      // details (the long form: the submitting thread's stack)
      val result = e.stageInfos.sortBy(_.stageId).lastOption
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      val j = new Job(e.jobId, result.map(_.name).getOrElse(""),
        result.map(r => graftFiles(r.details)).getOrElse(Nil), exec, e.time.toDouble)
      j.stages ++= e.stageIds
      jobs(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        val id = e.stageInfo.stageId
        // a stage belongs to the newest running job whose lineage lists it
        val owner = jobs.values.filter(j => j.end.isNaN && j.stages.contains(id))
          .map(_.id).maxOption.getOrElse(-1)
        val at = e.stageInfo.submissionTime.map(_.toDouble)
          .getOrElse(Clock.nowMs)
        stages(id) = new Stage(id, owner, at)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        synchronized(executions(x.executionId) = graftFiles(x.details))
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stages.get(e.stageId).foreach { s =>
        val m = e.taskMetrics
        s.tasks += 1
        s.waitMs += math.max(0.0, e.taskInfo.launchTime - s.submitted)
        if (m != null) {
          s.busyMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          val r = m.shuffleReadMetrics.totalBytesRead
          if (r > 0) s.readBytes += r
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val end = Clock.nowMs
      val phases = qe.tracker.phases.map { case (k, v) =>
        Json.str(k) + ":" + Json.num(v.durationMs / 1000.0) }.mkString("{", ",", "}")
      val nodes = Trace.planNodes(qe.executedPlan).flatMap(Trace.nodeRecord)
      queries.synchronized(queries += s"""{"end":${Json.num(end)},""" +
        s""""duration_s":${Json.num(durationNs / 1e9)},"phases":$phases,""" +
        s""""nodes":${nodes.mkString("[", ",", "]")}}""")
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) =>
        Json.str(k) + ":" + Json.num(v.doubleValue) }.mkString("{", ",", "}")
      val rows = p.stateOperators.map(_.numRowsTotal).sum
      val bytes = p.stateOperators.map(_.memoryUsedBytes).sum
      progress.synchronized(progress += s"""{"query":${Json.str(p.name)},""" +
        s""""batch":${p.batchId},"rows":${p.numInputRows},"durations":$d,""" +
        s""""state_rows":$rows,"state_bytes":$bytes,"at":${Json.num(Clock.nowMs)}}""")
    }
  }

  def toJson: String = {
    val sp = spans.map(s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""workload":${Json.str(workload)},"iter":${s.iter},""" +
        s""""start":${Json.num(s.start)},"end":${Json.num(s.end)}}""")
    val jb = synchronized(jobs.values.toSeq).map(j =>
      s"""{"id":${j.id},"call_site":${Json.str(j.callSite)},""" +
        s""""graft_files":${j.files.map(Json.str).mkString("[", ",", "]")},""" +
        s""""execution_files":${executions.getOrElse(j.execution, Nil).map(Json.str).mkString("[", ",", "]")},""" +
        s""""start":${Json.num(j.start)},"end":${Json.num(j.end)}}""")
    val st = synchronized(stages.values.toSeq).map(s =>
      s"""{"id":${s.id},"job":${s.job},"tasks":${s.tasks},""" +
        s""""busy_s":${Json.num(s.busyMs / 1000)},"sched_wait_s":${Json.num(s.waitMs / 1000)},""" +
        s""""gc_s":${Json.num(s.gcMs / 1000)},"shuffle_bytes":${s.shuffleBytes},""" +
        s""""spill_bytes":${s.spillBytes},"read_bytes":${s.readBytes.mkString("[", ",", "]")}}""")
    s"""{"spans":${sp.mkString("[", ",", "]")},"jobs":${jb.mkString("[", ",", "]")},""" +
      s""""stages":${st.mkString("[", ",", "]")},""" +
      s""""queries":${queries.mkString("[", ",", "]")},""" +
      s""""stream_progress":${progress.mkString("[", ",", "]")}}"""
  }
}

object Trace {
  private val Frame = """^\s*(?:at\s+)?graft\.(?!perfbench\.)[\w.$]+\(([\w$]+\.scala):\d+\)""".r.unanchored

  /** The library source files named in a long call site, innermost first,
    * without repeats; the benchmark's own frames are skipped. */
  def graftFiles(longCallSite: String): Seq[String] =
    Option(longCallSite).toSeq.flatMap(_.split("\n")).collect { case Frame(f) => f }.distinct

  final class Span(val id: Int, val name: String, val parent: Int, val iter: Int,
                   val start: Double) { var end: Double = Double.NaN }
  final class Job(val id: Int, val callSite: String, val files: Seq[String],
                  val execution: Long, val start: Double) {
    var end: Double = Double.NaN
    val stages = mutable.ArrayBuffer.empty[Int]
  }
  final class Stage(val id: Int, val job: Int, val submitted: Double) {
    var busyMs = 0.0; var waitMs = 0.0; var gcMs = 0.0
    var shuffleBytes = 0L; var spillBytes = 0L; var tasks = 0
    val readBytes = mutable.ArrayBuffer.empty[Long]
  }

  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Every physical node of an executed plan: through the AQE final plan,
    * query stages, reused exchanges, cached relations and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case r: ReusedExchangeExec => planNodes(r.child)
    case m: InMemoryTableScanExec => m +: planNodes(m.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** The row-count record of a filter, join or window node; other nodes are
    * not needed by the waste ratios. */
  def nodeRecord(p: SparkPlan): Option[String] = {
    val kind = p match {
      case f: FilterExec => Some("filter" -> f.condition.sql)
      case j: BaseJoinExec => Some("join" -> j.condition.map(_.sql).getOrElse(""))
      case w: WindowExec => Some("window" -> w.windowExpression.map(_.sql).mkString(","))
      case _ => None
    }
    kind.flatMap { case (k, desc) =>
      p.metrics.get("numOutputRows").map(m =>
        s"""{"kind":"$k","desc":${Json.str(desc.take(300))},"rows":${m.value}}""")
    }
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
