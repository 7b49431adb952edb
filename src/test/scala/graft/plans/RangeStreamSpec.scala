package graft.plans

import graft.SparkSpec
import graft.ops.RangeAgg
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, StageShuffleId}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

/** Contracts of the shared sorted-stream scan ([[SortedStreamExec]]) and
  * of the range family's plans: the range exchange's map stage runs once
  * per exec although the exec runs two jobs over it, the prefix
  * accumulator fails loudly on overflow, and the registered j7 queries
  * plan the exec counts their gates name. */
class RangeStreamSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Ordered scheduler events: ("job", jobId, shuffle ids of the listed
    * map stages), ("stage", stageId, its shuffle id), ("end", jobId). */
  private class Recorder extends SparkListener {
    val events = ArrayBuffer.empty[(String, Int, Seq[Int])]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      events += (("job", e.jobId, e.stageInfos.flatMap(StageShuffleId(_))))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        events += (("stage", e.stageInfo.stageId,
          StageShuffleId(e.stageInfo).toSeq))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      events += (("end", e.jobId, Nil))
    }
    def snapshot: Seq[(String, Int, Seq[Int])] = synchronized(events.toSeq)
    /** The bus delivers in order: once every started job has ended,
      * every stage event of those jobs has been seen too. */
    def awaitIdle(): Unit = {
      val deadline = System.nanoTime() + 30L * 1000000000L
      def open = {
        val s = snapshot
        s.count(_._1 == "job") != s.count(_._1 == "end")
      }
      while (open && System.nanoTime() < deadline) Thread.sleep(20)
    }
  }

  private def execs[E <: SparkPlan: ClassTag](df: DataFrame): Seq[E] =
    collect(df.queryExecution.executedPlan) { case e: E => e }

  /** Runs `df` with and without AQE and checks, for every `E` in its
    * final plan, that the range exchange feeding it was computed by
    * exactly one map stage and that a later job listed that stage
    * without re-submitting it: the exec's second job re-reads the first
    * job's shuffle output. Without AQE the exec's own first job runs
    * the exchange, so a base that re-planned the child for its second
    * job would show up as a second map stage under another shuffle. */
  private def assertExchangeReused[E <: SparkPlan: ClassTag](
      df: => DataFrame): Unit =
    for (aqe <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try exchangeReused[E](df)
      finally spark.conf.unset("spark.sql.adaptive.enabled")
    }

  private def exchangeReused[E <: SparkPlan: ClassTag](df: DataFrame): Unit = {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try { df.collect(); rec.awaitIdle() }
    finally spark.sparkContext.removeSparkListener(rec)
    val ev = rec.snapshot
    val found = execs[E](df)
    assert(found.nonEmpty, df.queryExecution.executedPlan)
    found.foreach { e =>
      val sid = collectFirst(e) {
        case x: ShuffleExchangeExec
            if x.outputPartitioning.isInstanceOf[RangePartitioning] =>
          x.shuffleDependency.shuffleId
      }.getOrElse(fail(s"no range exchange under ${e.nodeName}"))
      val submitted = ev.indices.filter(i =>
        ev(i)._1 == "stage" && ev(i)._3 == Seq(sid))
      assert(submitted.size == 1, s"map stage of shuffle $sid: $ev")
      val listedLater = ev.indices.filter(i => i > submitted.head &&
        ev(i)._1 == "job" && ev(i)._3.contains(sid))
      assert(listedLater.nonEmpty, s"no later job re-read shuffle $sid: $ev")
    }
  }

  private def points =
    spark.range(0, 3000, 1, 6)
      .select(($"id" % 5).as("pk"), ($"id" * 0.37 % 500.0).as("v"),
        ($"id" % 101).cast("int").as("f"))
  private def intervals =
    spark.range(0, 200, 1, 3)
      .select($"id".as("iid"), ($"id" % 5).as("ik"),
        ($"id" * 2.5).as("lo"), ($"id" * 2.5 + 7.0).as("hi"))

  test("RangeAggPrefix: one range-exchange map stage serves both jobs (keyed and unkeyed)") {
    assertExchangeReused[RangeAggPrefixExec](RangeAgg.pointsInRangeAgg(
      points, "v", intervals, "iid", "lo", "hi"))
    def keyed = points.join(intervals, $"pk" === $"ik" &&
        $"v" >= $"lo" && $"v" <= $"hi")
      .groupBy("iid").agg(count(lit(1)).as("c"))
    assertExchangeReused[RangeAggPrefixExec](keyed)
  }

  test("RangeExtrema: one range-exchange map stage serves both jobs (keyed and unkeyed)") {
    assertExchangeReused[RangeExtremaExec](RangeAgg.extremaInRangeAgg(
      points, "v", intervals, "iid", "lo", "hi"))
    assertExchangeReused[RangeExtremaExec](RangeAgg.keyedExtremaInRangeAgg(
      points, "v", "pk", intervals, "iid", "ik", "lo", "hi"))
  }

  test("RangeValueExtrema: one range-exchange map stage serves both jobs (keyed and unkeyed)") {
    assertExchangeReused[RangeValueExtremaExec](
      RangeAgg.valueExtremaInRangeAgg(points, "v", "f", intervals, "iid",
        "lo", "hi"))
    assertExchangeReused[RangeValueExtremaExec](
      RangeAgg.keyedValueExtremaInRangeAgg(points, "v", "f", "pk",
        intervals, "iid", "ik", "lo", "hi"))
  }

  test("prefix accumulator overflow raises a named error; the flag-off join answers") {
    // twelve points of about 9e17 unscaled units each: every
    // per-interval sum fits a long, but the corpus-wide running prefix
    // passes 2^63
    val big = 900000000000000000L
    spark.range(1, 13, 1, 4)
      .select($"id".cast("double").as("v"),
        (lit(big) - $"id").cast("decimal(18,0)").as("x"))
      .createOrReplaceTempView("ovf_points")
    spark.range(1, 13)
      .select($"id".as("iid"), ($"id" - 0.5).as("lo"), ($"id" + 0.5).as("hi"))
      .createOrReplaceTempView("ovf_intervals")
    def q() = spark.sql("""SELECT iid, sum(cast(x AS decimal(18, 0))) AS s
      |FROM ovf_points JOIN ovf_intervals ON v >= lo AND v <= hi
      |GROUP BY iid""".stripMargin)
    assert(execs[RangeAggPrefixExec](q()).nonEmpty,
      q().queryExecution.executedPlan)
    val err = intercept[Exception](q().collect())
    val chain = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).toSeq
    val arith = chain.collectFirst { case a: ArithmeticException => a }
    assert(arith.exists(_.getMessage.contains(
      "spark.graft.rangeJoin.aggPrefix=false")), chain)
    val joined = graft.SparkEntry.withAggPrefixOff(spark) {
      assert(execs[RangeAggPrefixExec](q()).isEmpty)
      q().collect().map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1)))
        .toMap
    }
    assert(joined == (1L to 12L).map(i => i -> BigDecimal(big - i)).toMap)
  }

  test("registered range queries plan the exec counts their gates name") {
    for ((name, count, of) <- Seq[(String, Int, DataFrame => Int)](
        ("j7i_overlap_len", 4, execs[RangeAggPrefixExec](_).size),
        ("j7h_keyed_overlap", 3, execs[RangeAggPrefixExec](_).size),
        ("j7g_keyed_extrema", 2, execs[RangeExtremaExec](_).size),
        ("j7k_keyed_value_extrema", 1,
          execs[RangeValueExtremaExec](_).size))) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.collect() // the AQE plan is final only once it has run
      assert(of(df) == count, s"$name: ${df.queryExecution.executedPlan}")
    }
  }
}
