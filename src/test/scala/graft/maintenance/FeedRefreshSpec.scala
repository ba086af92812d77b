package graft.maintenance

import graft.SparkSpec
import graft.core.{OhlcvFixture, Schemas}
import graft.ops.CandleOps
import graft.storage.TxTable
import org.apache.spark.sql.functions._

/** Change-feed-driven rollup refresh: after any sequence of appends,
  * [[AggregateMaintenance.refreshFromFeed]] written through
  * [[AggregateMaintenance.writePartitionedTx]] must land the rollup
  * table in the same state as a full recompute — including the
  * backfill case (an append far in the past) that the trailing-window
  * policy structurally misses — while rewriting only what the feed
  * touched.
  */
class FeedRefreshSpec extends SparkSpec {

  private def freshTable(): TxTable =
    new TxTable(spark,
      java.nio.file.Files.createTempDirectory("feedrefresh").toString)

  private def fullRollup(t: TxTable, widthSec: Long = 3600L) =
    CandleOps.rollup(t.read(), widthSec)

  /** A `widthSec` rollup table holding the full rollup of `base` now. */
  private def rollupTable(base: TxTable, widthSec: Long = 3600L): TxTable = {
    val r = freshTable()
    AggregateMaintenance.writePartitionedTx(fullRollup(base, widthSec), r)
    r
  }

  /** One maintenance step: refresh `roll` from `base`'s feed since
    * `cursor` and write it back; returns the next cursor.
    */
  private def refresh(roll: TxTable, base: TxTable, cursor: Long,
                      widthSec: Long = 3600L): Long = {
    val (fresh, next) =
      AggregateMaintenance.refreshFromFeed(roll.read().drop("p_date"), base, cursor, widthSec)
    AggregateMaintenance.writePartitionedTx(fresh, roll)
    next
  }

  /** Every maintained rollup width, 5 m through 7 D (the only width
    * whose buckets align to a non-zero origin).
    */
  private val widths = Schemas.rollupIntervals.map(Schemas.intervalSeconds)

  // volume is an FP sum whose partition order differs between the
  // incremental and full plans — compare at 1e-6, like the rollup
  // property spec (exactness for sums is the oracle layer's job via
  // integer cents; this spec is about WHICH buckets refresh)
  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq.map {
      case d: Double => math.rint(d * 1e6) / 1e6
      case x => x
    }).toSet

  private def rows(roll: TxTable) = asSet(roll.read().drop("p_date"))

  test("feed-driven refresh equals full recompute across multi-version appends") {
    val t = freshTable()
    val fx = OhlcvFixture.ohlcvs(spark, nPairs = 2, rows = 300)
      .withColumn("p_date", to_date(col("time")))
    val Array(b1, b2, b3) = Array(0, 1, 2).map(i => fx.filter(pmod(hash(col("time")), lit(3)) === i))

    t.append(b1)
    val rolls = widths.map(w => w -> rollupTable(t, w))
    val cursor = t.version

    t.append(b2) // two separate commits -> two feed versions
    t.append(b3)
    rolls.foreach { case (w, roll) =>
      val cursor2 = refresh(roll, t, cursor, w)
      assert(rows(roll) === asSet(fullRollup(t, w)), s"width ${w}s")
      assert(cursor2 === t.version)

      // nothing new: the empty refresh publishes no rollup version and
      // the cursor stays
      val rollV = roll.version
      val cursor3 = refresh(roll, t, cursor2, w)
      assert(roll.version === rollV && cursor3 === cursor2, s"width ${w}s")
    }
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
    val rolls = widths.map(w => w -> rollupTable(t, w))
    val cursor = t.version

    // backfill a year earlier than everything else
    val old = fx.limit(20)
      .withColumn("time", col("time") - expr("interval 365 days"))
      .withColumn("p_date", to_date(col("time")))
    t.append(old)
    rolls.foreach { case (w, roll) =>
      refresh(roll, t, cursor, w)
      assert(rows(roll) === asSet(fullRollup(t, w)),
        s"width ${w}s: backfilled buckets a year back must be refreshed")
    }
  }

  test("a refresh rewrites only the date partitions the feed touched, in at most 6 jobs") {
    val t = freshTable()
    // 2 h of candles on each of three dates
    val day = OhlcvFixture.ohlcvs(spark, nPairs = 2, rows = 120)
    def shifted(by: String) = day.withColumn("time", col("time") + expr(s"interval $by"))
      .withColumn("p_date", to_date(col("time")))
    t.append(shifted("0 days").unionByName(shifted("1 days")).unionByName(shifted("2 days")))
    val roll = rollupTable(t)
    val cursor = t.version
    def filesOf(dates: Set[String]) =
      roll.snapshot(roll.version).files.filter(f => dates.contains(f.partition)).toSet
    val untouched = Set("2021-08-18", "2021-08-20")
    val before = filesOf(untouched)
    assert(before.map(_.partition) === untouched)

    t.append(shifted("1 days 3 hours")) // new keys on the middle date only
    val (_, jobs) = jobsDuring(refresh(roll, t, cursor))
    assert(filesOf(untouched) === before, "untouched date partitions must keep their files")
    assert(rows(roll) === asSet(fullRollup(t)))
    assert(jobs <= 6, s"refresh + write ran $jobs Spark jobs")
  }
}
