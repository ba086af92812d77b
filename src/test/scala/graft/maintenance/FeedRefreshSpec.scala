package graft.maintenance

import graft.SparkSpec
import graft.core.OhlcvFixture
import graft.ops.CandleOps
import graft.storage.TxTable
import org.apache.spark.sql.functions._

/** Change-feed-driven rollup refresh: after any sequence of appends,
  * [[AggregateMaintenance.refreshFromFeed]] must land the rollup in
  * the same state as a full recompute — including the backfill case
  * (an append far in the past) that the trailing-window policy
  * structurally misses.
  */
class FeedRefreshSpec extends SparkSpec {

  private def freshTable(): TxTable =
    new TxTable(spark,
      java.nio.file.Files.createTempDirectory("feedrefresh").toString)

  private def fullRollup(t: TxTable) = CandleOps.rollup(t.read(), 3600L)

  // volume is an FP sum whose partition order differs between the
  // incremental and full plans — compare at 1e-6, like the rollup
  // property spec (exactness for sums is the oracle layer's job via
  // integer cents; this spec is about WHICH buckets refresh)
  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq.map {
      case d: Double => math.rint(d * 1e6) / 1e6
      case x => x
    }).toSet

  test("feed-driven refresh equals full recompute across multi-version appends") {
    val t = freshTable()
    val fx = OhlcvFixture.ohlcvs(spark, nPairs = 2, rows = 300)
      .withColumn("p_date", to_date(col("time")))
    val Array(b1, b2, b3) = Array(0, 1, 2).map(i => fx.filter(pmod(hash(col("time")), lit(3)) === i))

    t.append(b1)
    var roll = fullRollup(t)
    var cursor = t.version

    t.append(b2) // two separate commits -> two feed versions
    t.append(b3)
    val (refreshed, cursor2) = AggregateMaintenance.refreshFromFeed(roll, t, cursor, 3600L)
    assert(asSet(refreshed) === asSet(fullRollup(t)))
    assert(cursor2 === t.version)

    // nothing new: refresh is a no-op and the cursor stays
    val (again, cursor3) = AggregateMaintenance.refreshFromFeed(refreshed, t, cursor2, 3600L)
    assert(asSet(again) === asSet(refreshed) && cursor3 === cursor2)
  }

  /** (result of `body`, Spark jobs started while it ran). A marker
    * job afterwards flushes the listener bus, which delivers events in
    * order, so every earlier job start has been counted by then.
    */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val starts = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "jobsDuring.marker"))
          markerSeen.countDown()
        else starts.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      spark.sparkContext.setJobGroup("jobsDuring.marker", "listener bus flush")
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS), "marker job never seen")
      (out, starts.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("the change feed reads under the log's schema across an additive evolution, with no job") {
    import graft.SparkSpec.spark.implicits._
    val t = freshTable()
    def batch(ids: Range) =
      ids.map(i => (i.toLong, java.sql.Date.valueOf("2021-01-01"))).toDF("id", "p_date")
    t.append(batch(0 until 5))
    val cursor = t.version
    t.append(batch(5 until 8))                                    // before the evolution
    t.append(batch(8 until 10).withColumn("source", lit("ws")))  // adds `source`
    val (feed, jobs) = jobsDuring(t.readChangesSince(cursor))
    assert(jobs === 0, "building the feed frame must not infer a schema with a Spark job")
    assert(feed.schema === t.read().schema)
    assert(feed.filter(col("source").isNull).select("id").as[Long].collect().sorted.toSeq
      === (5L until 8L), "files written before the evolution read the new column as null")
    assert(feed.filter(col("source") === "ws").select("id").as[Long].collect().sorted.toSeq
      === Seq(8L, 9L))
  }

  test("a deep backfill append refreshes its old buckets (window policy can't)") {
    val t = freshTable()
    val fx = OhlcvFixture.ohlcvs(spark, nPairs = 1, rows = 100)
      .withColumn("p_date", to_date(col("time")))
    t.append(fx)
    val roll = fullRollup(t)
    val cursor = t.version

    // backfill a year earlier than everything else
    val old = fx.limit(20)
      .withColumn("time", col("time") - expr("interval 365 days"))
      .withColumn("p_date", to_date(col("time")))
    t.append(old)
    val (refreshed, _) = AggregateMaintenance.refreshFromFeed(roll, t, cursor, 3600L)
    assert(asSet(refreshed) === asSet(fullRollup(t)),
      "backfilled buckets a year back must be refreshed")
  }
}
