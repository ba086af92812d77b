package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class CandleStreamSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  private val t0 = 1629294300000L // 2021-08-18 13:45:00 UTC, minute-aligned

  private def ws(tsOff: Long, c: Double, v: Double, key: String = "BTC") =
    WsCandle(t0 + tsOff, "bitfinex", key, "USD", c, c + 1, c - 1, c, v)

  test("ST1/ST7 latest serve view: latest message wins, stale ignored") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[WsCandle]
    val q = CandleStream.latestServeView(in.toDF())
      .writeStream.format("memory").queryName("serve").outputMode("update").start()
    try {
      in.addData(ws(0, 100.0, 1.0), ws(5000, 101.0, 2.0)) // two updates, same bucket
      q.processAllAvailable()
      val r1 = spark.table("serve").filter($"base_id" === "BTC")
        .orderBy($"ts_ms".desc).first()
      assert(r1.getAs[Double]("close") == 101.0 && r1.getAs[Long]("ts_ms") == t0 + 5000)

      in.addData(ws(2000, 999.0, 9.0)) // out-of-order older message
      q.processAllAvailable()
      val r2 = spark.table("serve").filter($"base_id" === "BTC")
        .orderBy($"ts_ms".desc).first()
      assert(r2.getAs[Double]("close") == 101.0, "older message must not replace newer")
    } finally q.stop()
  }

  test("ST2 closed candles: bucket emits only after watermark passes (next bucket / timeout)") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[WsCandle]
    val q = CandleStream.closedCandles(in.toDF(), delay = "2 minutes")
      .writeStream.format("memory").queryName("closed").outputMode("append").start()
    try {
      in.addData(ws(0, 100.0, 1.0), ws(30000, 102.0, 2.0)) // open bucket [13:45,13:46)
      q.processAllAvailable()
      assert(spark.table("closed").count() == 0, "open candle must not flush")

      // next-bucket data 4 minutes later pushes watermark past 13:46
      in.addData(ws(240000, 110.0, 5.0))
      q.processAllAvailable()
      val emitted = spark.table("closed").collect()
      assert(emitted.length == 1)
      assert(emitted.head.getAs[java.sql.Timestamp]("time").getTime == t0)
      assert(emitted.head.getAs[Double]("close") == 102.0, "latest update wins in bucket")
      assert(emitted.head.getAs[Double]("volume") == 2.0)
    } finally q.stop()
  }

  test("ST4 duplicate flush is first-write-wins; ST5 reconcile updates") {
    val existing = Seq(ws(0, 100.0, 1.0)).toDF()
      .withColumn("time", timestamp_millis($"ts_ms")).drop("ts_ms")
    val dupAndNew = Seq(ws(0, 555.0, 5.0), ws(60000, 103.0, 3.0)).toDF()
      .withColumn("time", timestamp_millis($"ts_ms")).drop("ts_ms")

    // the production sinks on one TxTable: the live sink's insertIgnore
    // (first write wins), then the repair job's mergeInto (DO UPDATE)
    val keys = graft.ops.CandleOps.keyCols :+ "time"
    def withDate(df: org.apache.spark.sql.DataFrame) =
      graft.ops.CandleOps.dedup(df).withColumn("p_date", to_date($"time"))
    val t = new graft.storage.TxTable(spark, java.nio.file.Files.createTempDirectory("st4").toString)
    def closeAtT0 = t.read().filter($"time" === timestamp_millis(lit(t0))).first().getAs[Double]("close")
    t.insertIgnore(withDate(existing), keys)
    t.insertIgnore(withDate(dupAndNew), keys)
    assert(t.read().count() == 2 && closeAtT0 == 100.0)
    t.mergeInto(withDate(dupAndNew), keys)
    assert(t.read().count() == 2 && closeAtT0 == 555.0)
  }

  test("runPipelineTx: tx-log sink stays idempotent and survives a concurrent compaction") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("pipetx").toFile.getAbsolutePath
    val table = new graft.storage.TxTable(spark, s"$dir/ohlcvs")

    val in = MemoryStream[WsCandle]
    val q = CandleStream.runPipelineTx(in.toDF(), table, s"$dir/ckpt",
      triggerSecs = 1, watermark = "2 minutes")
    try {
      // two updates of 13:45 (the later wins), then 13:49 closes it
      in.addData(ws(0, 100.0, 1.0), ws(30000, 102.0, 2.0), ws(240000, 110.0, 5.0))
      q.processAllAvailable()
      assert(table.read().count() == 1)
      // maintenance rewrite between micro-batches — the scenario plain
      // parquet cannot survive (dynamic overwrite drops appended files)
      table.rewritePartitions(table.touchedPartitions(table.read()))(cur => cur.coalesce(1))
      in.addData(ws(480000, 120.0, 7.0)) // 13:53 -> watermark passes 13:50, closing 13:49
      q.processAllAvailable()
      val t1 = table.read()
      assert(t1.count() == 2, "append after rewrite must land")
      assert(t1.filter(col("time") === timestamp_millis(lit(t0)))
        .first().getAs[Double]("close") == 102.0, "latest update wins in bucket")
    } finally q.stop()

    // fresh query instance re-delivers an overlapping bucket: the
    // insertIgnore sink keeps it idempotent (ST4/ST6)
    val in2 = MemoryStream[WsCandle]
    val q2 = CandleStream.runPipelineTx(in2.toDF(), table, s"$dir/ckpt2",
      triggerSecs = 1, watermark = "2 minutes")
    try {
      in2.addData(ws(5000, 999.0, 9.0), ws(360000, 130.0, 8.0))
      q2.processAllAvailable()
      val t2 = table.read()
      // re-sent 13:45 closes again but insertIgnore drops it; 13:51
      // stays open -> table unchanged
      assert(t2.count() == 2)
      assert(t2.filter(col("time") === timestamp_millis(lit(t0)))
        .first().getAs[Double]("close") == 102.0, "first write must win across restarts")
    } finally q2.stop()
  }
}
