package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming._

/** State-SCHEMA migration for [[TwsCandleState]] — the deployed-
  * upgrade path the initial-state bootstrap doesn't cover: restart
  * from the SAME checkpoint with an EVOLVED state value type (an
  * added nullable field) under the Avro state encoding
  * (`spark.sql.streaming.stateStore.encodingFormat=avro`, the format
  * Spark 4 schema evolution requires), and open candles written by
  * the old binary must carry into the new one — no checkpoint
  * discard, no stream replay on upgrade.
  */
class TwsEvolutionSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._
  import TwsCandleState.Closed

  private val t0 = 1629294300000L // minute-aligned

  private def ws(tsOff: Long, c: Double, v: Double) =
    WsCandle(t0 + tsOff, "bitfinex", "BTC", "USD", c, c + 1, c - 1, c, v)

  test("restart from checkpoint with an evolved candle state (added nullable field)") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val encKey = "spark.sql.streaming.stateStore.encodingFormat"
    val priorProv = spark.conf.getOption(providerKey)
    val priorEnc = spark.conf.getOption(encKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(encKey, "avro")
    val dir = java.nio.file.Files.createTempDirectory("tws_evo").toString
    val ckpt = s"$dir/ckpt"
    val out = s"$dir/out"
    implicit val sc = spark.sqlContext
    implicit val closedEnc: org.apache.spark.sql.Encoder[Closed] = Encoders.product[Closed]
    val keyEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING)
    try {
      // v1 binary: open one candle, leave it in state, stop
      val in = MemoryStream[WsCandle]
      val q1 = TwsCandleState.closedCandles(in.toDS(), holdMs = 0L)
        .writeStream.option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)
        .outputMode("append").start()
      in.addData(ws(0, 100.0, 1.0))
      q1.processAllAvailable()
      q1.stop()
      assert(spark.read.parquet(out).count() === 0, "candle still open under v1")

      // v2 binary: SAME checkpoint, SAME source, evolved state type.
      // The next bucket closes the candle the V1 BINARY wrote — the
      // state survived the schema change.
      val q2 = in.toDS()
        .groupByKey(w => (w.exchange, w.base_id, w.quote_id))(keyEnc)
        .transformWithState(new ProcessorV2, TimeMode.None(), OutputMode.Append())
        .writeStream.option("checkpointLocation", ckpt)
        .format("parquet").option("path", out)
        .outputMode("append").start()
      in.addData(ws(60000, 101.0, 2.0))
      q2.processAllAvailable()
      q2.stop()
      val closed = spark.read.parquet(out).collect()
      assert(closed.length === 1)
      assert(closed.head.getAs[Long]("time_ms") === t0)
      assert(closed.head.getAs[Double]("close") === 100.0,
        "v1-era open candle must flush intact through the evolved processor")
    } finally {
      priorProv match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
      priorEnc match {
        case Some(v) => spark.conf.set(encKey, v)
        case None => spark.conf.unset(encKey)
      }
    }
  }
}

/** The evolved state: v1's candle plus an optional update counter —
  * the kind of field an ops team adds in a later release. Avro
  * evolution fills it as None for v1-era rows.
  */
case class CandleV2(bucketMs: Long, lastTsMs: Long, open: Double, high: Double,
                    low: Double, close: Double, volume: Double,
                    nUpdates: Option[Long])

/** v2 of the candle processor: same state NAMES ("buckets",
  * "armed"), evolved value type for the bucket map. Logic mirrors
  * [[TwsCandleState.CandleProcessor]] with the counter folded in.
  */
class ProcessorV2
    extends StatefulProcessor[(String, String, String), WsCandle, TwsCandleState.Closed] {
  @transient private var buckets: MapState[Long, CandleV2] = _
  @transient private var armed: ValueState[TwsCandleState.Armed] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    buckets = getHandle.getMapState[Long, CandleV2]("buckets",
      Encoders.scalaLong, Encoders.product[CandleV2], TTLConfig.NONE)
    armed = getHandle.getValueState[TwsCandleState.Armed]("armed",
      Encoders.product[TwsCandleState.Armed], TTLConfig.NONE)
  }

  private def emit(key: (String, String, String), c: CandleV2): TwsCandleState.Closed =
    TwsCandleState.Closed(c.bucketMs, key._1, key._2, key._3, c.open, c.high, c.low,
      c.close, c.volume)

  override def handleInputRows(key: (String, String, String),
                               rows: Iterator[WsCandle],
                               timerValues: TimerValues): Iterator[TwsCandleState.Closed] = {
    rows.foreach { w =>
      val b = w.ts_ms / 60000L * 60000L
      val prev = Option(buckets.getValue(b))
      if (prev.forall(_.lastTsMs <= w.ts_ms))
        buckets.updateValue(b, CandleV2(b, w.ts_ms, w.open, w.high, w.low,
          w.close, w.volume,
          Some(prev.flatMap(_.nUpdates).getOrElse(0L) + 1L)))
    }
    val all = buckets.iterator().toSeq.sortBy(_._1)
    if (all.isEmpty) return Iterator.empty
    val latest = all.last._1
    val closed = all.iterator.takeWhile(_._1 < latest).map(_._2).toSeq
    closed.foreach(c => buckets.removeKey(c.bucketMs))
    closed.iterator.map(emit(key, _))
  }
}

