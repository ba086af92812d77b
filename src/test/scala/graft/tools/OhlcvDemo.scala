package graft.tools

import graft.api.OhlcvReader
import graft.core.OhlcvFixture
import graft.maintenance.AggregateMaintenance
import graft.streaming.CandleStream
import org.apache.spark.sql.functions._

/** End-to-end demo of the OHLCV domain layer through its public API —
  * the "switch from the reference" user journey:
  * ingest fixture → maintain rollups → chart query → live stream.
  * Run: sbt "Test/runMain graft.tools.OhlcvDemo"
  */
object OhlcvDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create("graft-ohlcv-demo")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val base = OhlcvFixture.ohlcvs(spark, nPairs = 4, rows = 1500).cache()
    val rollups = AggregateMaintenance.fullPopulate(base)
    println(s"[demo] rollups maintained: ${rollups.keys.toSeq.sorted.mkString(",")}")

    val p = OhlcvReader.Params("bitfinex", "BASE2", "Q0", "1h", emptyTs = true,
      asOf = java.sql.Timestamp.valueOf("2021-08-19 02:00:00"))
    println("[demo] GET /api/ohlcvs?interval=1h&empty_ts=true ->")
    OhlcvReader.read(base, rollups, p).show(5, truncate = false)

    println("[demo] probe: unknown interval '2h' ->")
    try OhlcvReader.read(base, rollups, p.copy(interval = "2h")).count()
    catch { case e: IllegalArgumentException => println(s"[demo] rejected: ${e.getMessage}") }

    println("[demo] probe: unknown key -> rows:")
    println(OhlcvReader.read(base, rollups, p.copy(baseId = "NOPE", emptyTs = false)).count())

    // streaming: live updates -> serve view
    implicit val sc = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.streaming.WsCandle]
    val q = CandleStream.latestServeView(in.toDF())
      .writeStream.format("memory").queryName("demo_serve").outputMode("update").start()
    in.addData(
      graft.streaming.WsCandle(1629294300000L, "bitfinex", "BTC", "USD", 100, 101, 99, 100.5, 1.0),
      graft.streaming.WsCandle(1629294305000L, "bitfinex", "BTC", "USD", 100, 102, 99, 101.5, 2.0))
    q.processAllAvailable()
    println("[demo] WS serve view (latest per key):")
    spark.table("demo_serve").orderBy($"ts_ms".desc).show(3, truncate = false)
    q.stop()

    // backfill: fake exchange, one bad symbol -> error sink
    val fetcher = new graft.ingest.Backfill.Fetcher {
      override def fetch(t: graft.ingest.Backfill.Task) = {
        if (t.baseId == "BAD") throw new RuntimeException("HTTP 503")
        (t.startMs until t.endMs by 60000L).map(ts => (ts, 1.0, 2.0, 0.5, 1.5, 0.25))
      }
    }
    val tasks = graft.ingest.Backfill.dayTasks(spark,
      Seq(("bitfinex", "BTC", "USD"), ("bitfinex", "BAD", "X")), 0L, 86400000L)
    val (candles, errs) = graft.ingest.Backfill.run(tasks, fetcher)
    val table = new graft.storage.TxTable(spark, java.nio.file.Files.createTempDirectory("demo").toString)
    table.insertIgnore(candles.withColumn("p_date", to_date($"time")),
      Seq("exchange", "base_id", "quote_id", "time"))
    println(s"[demo] backfill: candles=${table.read().count()} errors=${errs.count()}")
    errs.select("exchange", "symbol", "exception_message").show(2, truncate = false)

    // exact stateful closed-candle stream (transformWithState needs RocksDB)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in2 = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[graft.streaming.WsCandle]
    val q2 = graft.streaming.TwsCandleState.closedCandles(in2.toDS(), holdMs = 0L)
      .writeStream.format("memory").queryName("demo_exact").outputMode("append").start()
    in2.addData(
      graft.streaming.WsCandle(1629294300000L, "bitfinex", "BTC", "USD", 100, 101, 99, 100.5, 1.0),
      graft.streaming.WsCandle(1629294330000L, "bitfinex", "BTC", "USD", 100, 103, 99, 102.5, 2.0),
      graft.streaming.WsCandle(1629294360000L, "bitfinex", "BTC", "USD", 102, 104, 101, 103.0, 1.0))
    q2.processAllAvailable()
    println("[demo] exact closed candles (bucket 13:45 flushed, 13:46 still open):")
    spark.table("demo_exact").show(3, truncate = false)
    q2.stop()
    spark.stop()
  }
}
