package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

class TimeBucketSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  test("buckets align to origin; floor semantics before the origin") {
    val df = Seq(
      "2021-08-18 13:45:30", // after origin
      "1999-12-31 23:59:59"  // BEFORE the 2000-01-03 week origin
    ).toDF("s").select(col("s").cast("timestamp").as("ts"))
    val r = df.select(
      TimeBucket.timeBucket(col("ts"), 604800L, 946857600L).cast("string").as("b"))
      .collect().map(_.getString(0))
    assert(r(0) == "2021-08-16 00:00:00") // a Monday
    // floorDiv: the week STARTING 1999-12-27 (Monday), not the origin week
    assert(r(1) == "1999-12-27 00:00:00")
  }

  test("matches the legacy cast-arithmetic for post-origin data") {
    val df = spark.range(1000)
      .select(timestamp_seconds(lit(1629244800L) + col("id") * 137).as("ts"))
    val cmp = df.select(
      TimeBucket.timeBucket(col("ts"), 3600L).as("a"),
      timestamp_micros(((unix_micros(col("ts"))) / 3600000000L).cast("long") * 3600000000L).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(cmp == 0)
  }

  test("SQL registration via GraftExtensions") {
    graft.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT CAST(time_bucket(TIMESTAMP'2021-08-18 13:45:30', 300000000, 0) AS STRING) AS b")
      .first().getString(0)
    assert(r == "2021-08-18 13:45:00")
  }

  test("codegen path: expression inside WholeStageCodegen (no fallback)") {
    val df = spark.range(10).select(
      TimeBucket.timeBucket(timestamp_seconds(col("id") * 60), 300L).as("b"))
    val plan = df.queryExecution.executedPlan.toString()
    // the "*(n)" prefix marks operators fused into WholeStageCodegen;
    // our expression must sit inside a starred Project (no fallback)
    assert(plan.contains("*(1) Project [timebucket"), plan)
    assert(df.distinct().count() == 2) // 10 minutes -> two 5-min buckets
  }

  test("every constant width shares one compiled class; a computed width buckets the same") {
    val cm = org.apache.spark.metrics.source.CodegenMetrics
    val ts = timestamp_seconds(col("id") * 7919 + 13)
    def buckets(width: Long) = spark.range(500)
      .select(TimeBucket.timeBucket(ts, width, 946857600L).cast("long").as("b"))
      .distinct().collect().map(_.getLong(0)).toSet
    def expected(width: Long) = (0L until 500L)
      .map(i => Math.floorDiv(i * 7919 + 13 - 946857600L, width) * width + 946857600L).toSet
    assert(buckets(300L) === expected(300L))   // compiles this shape
    val compiled = cm.METRIC_COMPILATION_TIME.getCount
    assert(buckets(3600L) === expected(3600L))
    assert(cm.METRIC_COMPILATION_TIME.getCount === compiled,
      "a second width must reuse the first width's generated code")
    val computed = spark.range(500).select(GraftBridge.column(TimeBucket(
        GraftBridge.expression(ts), GraftBridge.expression(col("id") * 0 + 3600000000L),
        GraftBridge.expression(lit(946857600000000L)))).cast("long").as("b"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(computed === expected(3600L))
  }
}
