package graft.streaming

import graft.SparkSpec
import graft.ops.Indicators
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** [[IndicatorStream.emaOf]] — the untruncated streaming EMA, driven
  * end-to-end through RocksDB and checked against both a driver-side
  * fold and the batch [[Indicators.emaTruncated]] on the same series.
  */
class IndicatorStreamSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._
  import TwsCandleState.Closed

  private val t0 = 1629294300000L

  private def closed(off: Long, c: Double, key: String = "BTC"): Closed =
    Closed(t0 + off, "bitfinex", key, "USD", c, c + 1, c - 1, c, 1.0)

  private def withRocks(body: => Unit): Unit = {
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prior match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming EMA ≡ driver fold; redelivered and stale candles are no-ops") {
    withRocks {
      implicit val sc = spark.sqlContext
      val in = MemoryStream[Closed]
      val q = IndicatorStream.emaOf(in.toDS(), 2, 11)
        .writeStream.format("memory").queryName("ema_pts")
        .outputMode("append").start()
      try {
        in.addData(closed(0, 100.0), closed(60000, 200.0),
          closed(0, 50.0, key = "ETH"))
        q.processAllAvailable()
        // redelivery of the last candle + a stale out-of-order one +
        // genuine progress, across a batch boundary
        in.addData(closed(60000, 200.0), closed(0, 100.0), closed(120000, 300.0))
        q.processAllAvailable()

        val a = 2.0 / 11.0
        val closes = Seq(100.0, 200.0, 300.0)
        val expected = closes.tail.scanLeft(closes.head)((acc, x) => a * x + (1 - a) * acc)
        val btc = spark.table("ema_pts").filter($"base_id" === "BTC")
          .orderBy("time_ms").select("close", "ema")
          .as[(Double, Double)].collect().toSeq
        assert(btc.map(_._1) == closes, "each candle emitted exactly once")
        btc.map(_._2).zip(expected).foreach { case (got, exp) =>
          assert(got == exp, s"exact recursion: $got vs $exp")
        }
        val eth = spark.table("ema_pts").filter($"base_id" === "ETH")
          .select("ema").as[Double].collect().toSeq
        assert(eth == Seq(50.0), "keys fold independently")
      } finally q.stop()
    }
  }

  test("streaming EMA matches batch emaTruncated on a full-history window") {
    withRocks {
      implicit val sc = spark.sqlContext
      val closes = Seq(100.0, 140.0, 90.0, 210.0, 180.0, 160.0)
      val in = MemoryStream[Closed]
      val q = IndicatorStream.emaOf(in.toDS(), 2, 11)
        .writeStream.format("memory").queryName("ema_vs_batch")
        .outputMode("append").start()
      try {
        closes.zipWithIndex.foreach { case (c, i) =>
          in.addData(closed(i * 60000L, c))
        }
        q.processAllAvailable()
        val stream = spark.table("ema_vs_batch")
          .orderBy("time_ms").select("ema").as[Double].collect().toSeq
        // batch form on the same series: cents-lifted closes, window
        // covering the whole history ⇒ same recursion, same seed
        val batch = Indicators.emaTruncated(
            closes.zipWithIndex.map { case (c, i) =>
              ("k", i.toLong, (c * 100).toLong)
            }.toDF("key", "t", "c"),
            Seq(col("key")), col("t"), col("c"), 2, 11, window = closes.size)
          .orderBy("t").select("ema").as[Double].collect().toSeq
        stream.zip(batch).foreach { case (s, b) =>
          assert(math.abs(s - b) < 1e-12, s"stream $s vs batch $b")
        }
      } finally q.stop()
    }
  }

  test("streaming SMA(10) on closed candles ≡ batch smaRows (partial frames included)") {
    withRocks {
      implicit val sc = spark.sqlContext
      val closes = Seq(100.0, 140.0, 90.0, 210.0, 180.0, 160.0, 120.0,
        170.0, 130.0, 150.0, 190.0, 110.0) // 12 bars > window 10
      val in = MemoryStream[Closed]
      val q = IndicatorStream.smaOf(in.toDS(), 10)
        .writeStream.format("memory").queryName("sma_vs_batch")
        .outputMode("append").start()
      try {
        closes.zipWithIndex.foreach { case (c, i) => in.addData(closed(i * 60000L, c)) }
        q.processAllAvailable()
        val stream = spark.table("sma_vs_batch")
          .orderBy("time_ms").select("sma", "n")
          .as[(Double, Int)].collect().toSeq
        val batch = closes.zipWithIndex.map { case (c, i) => ("k", i.toLong, c) }
          .toDF("key", "t", "c")
          .withColumn("sma", graft.ops.Analytics.smaRows(
            closes.zipWithIndex.map { case (c, i) => ("k", i.toLong, c) }
              .toDF("key", "t", "c"),
            Seq(col("key")), col("t"), col("c"), 10))
          .orderBy("t").select("sma").as[Double].collect().toSeq
        assert(stream.size == closes.size)
        stream.map(_._1).zip(batch).foreach { case (s, b) =>
          assert(math.abs(s - b) < 1e-9, s"stream $s vs batch $b")
        }
        // warm-up n: 1,2,...,10 then capped at the window
        assert(stream.map(_._2) == (1 to 10) ++ Seq(10, 10))
      } finally q.stop()
    }
  }

  test("live-bar SMA: same-bucket updates revise, stale buckets fold nothing") {
    withRocks {
      implicit val sc = spark.sqlContext
      val in = MemoryStream[Closed]
      val q = IndicatorStream.smaOf(in.toDS(), 3)
        .writeStream.format("memory").queryName("sma_live")
        .outputMode("append").start()
      try {
        in.addData(closed(0, 100.0), closed(60000, 200.0))
        q.processAllAvailable()
        // live revision of the open bucket (chart.js pop/push), then a
        // stale bucket that must not re-fold, then genuine progress
        in.addData(closed(60000, 260.0))
        q.processAllAvailable()
        in.addData(closed(0, 999.0), closed(120000, 300.0))
        q.processAllAvailable()
        val pts = spark.table("sma_live")
          .orderBy("time_ms", "sma").select("time_ms", "close", "sma")
          .as[(Long, Double, Double)].collect().toSeq
        val t = pts.map(p => (p._1 - t0, p._2, p._3))
        assert(t == Seq(
          (0L, 100.0, 100.0),
          (60000L, 200.0, 150.0),          // first live value of the bucket
          (60000L, 260.0, 180.0),          // revision: replaced, not appended
          (120000L, 300.0, (100.0 + 260.0 + 300.0) / 3)), // revision stuck
          s"got $t")
      } finally q.stop()
    }
  }
}
