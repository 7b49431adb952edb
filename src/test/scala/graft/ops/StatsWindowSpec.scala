package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** w8/a24/a25 pins: RANGE-vs-ROWS frame semantics, moment-sum
  * merge-order invariance, and width_bucket edge behavior.
  */
class StatsWindowSpec extends SparkSpec {
  import spark.implicits._

  test("RANGE frame: co-timestamped rows enter together; gaps shrink it") {
    // user 1: two events at t=0 (ties), one at t=2, one far at t=100
    val df = Seq((1L, 0L, 10.0), (2L, 0L, 20.0), (3L, 2L, 5.0),
      (4L, 100L, 1.0)).toDF("id", "t", "v")
    val range = df.select(col("id"),
      sum("v").over(Window.orderBy(col("t")).rangeBetween(-3, 0)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // ROWS would give id=1 → 10 (one row); RANGE includes BOTH t=0 rows
    assert(range(1L) == 30.0 && range(2L) == 30.0)
    assert(range(3L) == 35.0)   // t=2 sees both t=0 rows (within 3)
    assert(range(4L) == 1.0)    // the gap empties the trailing frame
    val rows = df.select(col("id"),
      sum("v").over(Window.orderBy(col("t"), col("id"))
        .rowsBetween(-1, 0)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows(1L) == 10.0)    // the contrast: ROWS splits the tie
  }

  test("a24 moment sums are exact: any partitioning, same stats row") {
    // run the SQL text directly (the registered query re-registers the
    // views itself, which would undo the repartition under test)
    val base = graft.SparkEntry.queries("a24_moment_stats")(spark, sfDir)
      .collect()(0)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    // decimal/bigint moment sums are associative, so every double
    // downstream is bit-identical under any partitioning
    try {
      for (p <- Seq(1, 7)) {
        li.repartition(p).createOrReplaceTempView("lineitem")
        val r = spark.sql(graft.SparkEntry.MomentStatsSql(bridge = false))
          .collect()(0)
        (1 to 6).foreach(i =>
          assert(r.getDouble(i) == base.getDouble(i), s"col $i at p=$p"))
      }
    } finally graft.core.Tables.registerAll(spark, sfDir) // restore the view
  }

  test("width_bucket edges: underflow 0, overflow n+1, boundary owns right") {
    val r = Seq(-5.0, 0.005, 10000.004, 10000.005, 110000.004, 110000.005)
      .toDF("v")
      .select(expr("width_bucket(v, 0.005, 110000.005, 11)").as("b"))
      .collect().map(_.getLong(0)).toSeq
    assert(r == Seq(0L, 1L, 1L, 2L, 11L, 12L))
  }
}
