package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One workload bound to one session. Constructing it scans the inputs (or
  * starts the streaming queries and feeds them a first batch); `job` runs
  * one complete, timed unit of work and returns the input rows it completed;
  * `checks` and `quality` run after the timed window on the outputs of the
  * last job. */
trait Runner {
  /** Timed jobs a run makes at least, however short `seconds` is. */
  def minJobs: Int = 2
  def job(iter: Int): Long
  def checks(): Seq[(String, Boolean, String)]
  def quality(): Seq[(String, Double)] = Nil
  /** Extra traced-run measurements that need their own (untimed) pass. */
  def traceExtras(): Seq[(String, Double)] = Nil
  def close(): Unit = ()
}

final case class Env(data: String, work: String, trace: Trace)

/** The benchmark's JVM side.
  *
  *   Bench <workload> <data dir> <work dir> <seconds> <trace 0|1> <out json>
  *
  * Starts a local session, runs the workload's first full job untimed (the
  * setup: JVM start to the end of that job), then one closed-loop client for
  * `seconds`, runs the workload's correctness checks outside the timed
  * window and writes raw measurements as JSON; perfbench/run.py turns them
  * into metrics. */
object Bench {
  def session(work: String): SparkSession = {
    System.setProperty("spark.local.dir", s"$work/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"$work/warehouse")
    System.setProperty("derby.system.home", s"$work/derby")
    graft.core.Tables.session("graft-perfbench",
      Runtime.getRuntime.availableProcessors.toString)
  }

  def open(name: String, spark: SparkSession, env: Env): Runner = name match {
    case "cluster_errors" => new ClusterErrors(spark, env)
    case "curate_corpus" => new CurateCorpus(spark, env)
    case "stream_errors" => new StreamErrors(spark, env)
    case "event_analytics" => new EventAnalytics(spark, env)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, secondsArg, traceArg, out) = args
    val seconds = secondsArg.toDouble
    val trace = new Trace(traceArg == "1", workload)
    Files.createDirectories(Paths.get(work))

    // setup: JVM start, session start, the runner's input scan (or its
    // streaming queries' start) and the first full job, all cold
    val spark = session(work)
    val runner = open(workload, spark, Env(data, work, trace))
    runner.job(-1)
    val setup = sinceJvmStart()

    // a traced run first times the same loop untraced, for the overhead
    val untraced = if (trace.enabled) timed(runner, trace, seconds).walls else Nil
    trace.register(spark)
    val loop = timed(runner, trace, seconds)
    trace.unregister(spark)
    val errors = loop.errors
    val loopEnd = sinceJvmStart()

    val checks = guarded("checks", errors)(runner.checks()).getOrElse(Nil)
    val quality = guarded("quality", errors)(runner.quality()).getOrElse(Nil)
    val extras =
      if (trace.enabled) guarded("trace extras", errors)(runner.traceExtras()).getOrElse(Nil)
      else Nil
    runner.close()
    spark.stop()
    val phases = Seq("setup" -> setup, "timed" -> (loopEnd - setup),
      "checks" -> (sinceJvmStart() - loopEnd))

    def pairs(xs: Seq[(String, Double)]) =
      xs.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
    val json =
      s"""{"workload":${Json.str(workload)},"setup_s":${Json.num(setup)},"phase_s":${pairs(phases)},""" +
        s""""job_s":${loop.walls.map(Json.num).mkString("[", ",", "]")},""" +
        s""""untraced_job_s":${untraced.map(Json.num).mkString("[", ",", "]")},""" +
        s""""jobs_attempted":${loop.attempted},"rows":${loop.rows},""" +
        s""""heap_peak_mb":${Json.num(loop.heapPeakMb)},""" +
        s""""checks":${checks.map { case (n, ok, d) =>
          s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}""" }.mkString("[", ",", "]")},""" +
        s""""quality":${pairs(quality)},"trace_extras":${pairs(extras)},""" +
        s""""errors":${errors.map(Json.str).mkString("[", ",", "]")},""" +
        s""""trace":${if (trace.enabled) trace.toJson else "null"}}"""
    Files.write(Paths.get(out), json.getBytes("UTF-8"))
  }

  final class Loop {
    val walls = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var rows = 0L
    var heapPeakMb = 0.0
    var attempted = 0
  }

  /** One closed-loop client: runs jobs back to back until `seconds` have
    * passed (at least the runner's minJobs), timing each; the heap is sampled after a GC
    * between jobs, outside the timed wall. */
  def timed(runner: Runner, trace: Trace, seconds: Double): Loop = {
    val l = new Loop
    val mem = ManagementFactory.getMemoryMXBean
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || l.attempted < runner.minJobs) {
      trace.setIteration(l.attempted)
      val t0 = System.nanoTime()
      try {
        val r = trace.span("job")(runner.job(l.attempted))
        l.walls += (System.nanoTime() - t0) / 1e9
        l.rows += r
      } catch {
        case NonFatal(e) => l.errors += s"job ${l.attempted}: $e"
      }
      l.attempted += 1
      // the second GC also reclaims what Spark's ContextCleaner released
      // (broadcasts, shuffles) in reaction to the first
      System.gc()
      Thread.sleep(200)
      System.gc()
      l.heapPeakMb = math.max(l.heapPeakMb, mem.getHeapMemoryUsage.getUsed / 1048576.0)
    }
    trace.setIteration(-1)
    l
  }

  private def guarded[T](what: String, errors: mutable.Buffer[String])(body: => T): Option[T] =
    try Some(body)
    catch { case NonFatal(e) => errors += s"$what: $e"; None }
}
