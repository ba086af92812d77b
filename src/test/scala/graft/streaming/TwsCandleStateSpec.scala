package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** [[TwsCandleState]] — the exact candle state machine, driven
  * end-to-end through RocksDB (the only provider transformWithState
  * supports) and, for the hold clock, through a fake handle.
  */
class TwsCandleStateSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  private val t0 = 1629294300000L // minute-aligned

  private def ws(tsOff: Long, c: Double, v: Double, key: String = "BTC") =
    WsCandle(t0 + tsOff, "bitfinex", key, "USD", c, c + 1, c - 1, c, v)

  test("latest-wins buckets, older buckets flush when a newer one appears") {
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sc = spark.sqlContext
    val in = MemoryStream[WsCandle]
    val q = TwsCandleState.closedCandles(in.toDS(), holdMs = 0L)
      .writeStream.format("memory").queryName("tws_closed")
      .outputMode("append").start()
    try {
      // two updates to one bucket (latest wins), one stale out-of-order
      in.addData(ws(0, 100.0, 1.0), ws(5000, 102.0, 2.0), ws(2000, 999.0, 9.0))
      q.processAllAvailable()
      assert(spark.table("tws_closed").count() === 0, "open candle must not flush")

      // a second key interleaved: state is per key
      in.addData(ws(60000, 110.0, 3.0), ws(0, 50.0, 5.0, key = "ETH"))
      q.processAllAvailable()
      val btc = spark.table("tws_closed").filter($"base_id" === "BTC").collect()
      assert(btc.length === 1)
      assert(btc.head.getAs[Long]("time_ms") === t0)
      assert(btc.head.getAs[Double]("close") === 102.0, "latest update wins, stale ignored")
      assert(btc.head.getAs[Double]("volume") === 2.0)
      assert(spark.table("tws_closed").filter($"base_id" === "ETH").count() === 0)

      // ETH's next bucket closes ETH's first; BTC untouched
      in.addData(ws(120000, 51.0, 6.0, key = "ETH"))
      q.processAllAvailable()
      val eth = spark.table("tws_closed").filter($"base_id" === "ETH").collect()
      assert(eth.length === 1 && eth.head.getAs[Double]("close") === 50.0)
      assert(spark.table("tws_closed").count() === 2)
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("initial-state bootstrap: warm start + live ≡ cold run over the union") {
    // deployed-restart path: open candles from the batch table seed
    // the state store; the SAME live traffic must then produce the
    // SAME closed candles as a cold run fed bootstrap+live rows
    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sc = spark.sqlContext
    // two keys warm-started: BTC holds TWO open buckets (t0, t0+1m),
    // ETH one; plus a key (XRP) with no live traffic at all
    val boot = Seq(
      ws(0, 100.0, 1.0), ws(60000, 101.0, 2.0),
      ws(0, 50.0, 5.0, key = "ETH"),
      ws(0, 10.0, 1.0, key = "XRP"))
    // live: BTC stale update to the bootstrapped bucket (must lose to
    // the bootstrap's later ts? no — bootstrap ts is t0+0; live at
    // +5000 is NEWER and wins), then bucket advances close the rest
    val live = Seq(
      ws(65000, 102.0, 3.0),             // newer update to BTC's open bucket
      ws(120000, 103.0, 4.0),            // closes both BTC buckets
      ws(120000, 52.0, 6.0, key = "ETH")) // closes ETH's bootstrapped bucket

    def run(name: String, initial: Option[Seq[WsCandle]], rows: Seq[WsCandle]): Set[(String, Long, Double, Double)] = {
      val in = MemoryStream[WsCandle]
      val ds = initial match {
        case Some(b) => TwsCandleState.closedCandlesFrom(in.toDS(), b.toDS(), holdMs = 0L)
        case None => TwsCandleState.closedCandles(in.toDS(), holdMs = 0L)
      }
      val q = ds.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        in.addData(rows)
        q.processAllAvailable()
        spark.table(name).collect().map(r => (r.getAs[String]("base_id"),
          r.getAs[Long]("time_ms"), r.getAs[Double]("close"),
          r.getAs[Double]("volume"))).toSet
      } finally q.stop()
    }

    try {
      val warm = run("tws_boot_warm", Some(boot), live)
      val cold = run("tws_boot_cold", None, boot ++ live)
      assert(warm === cold, "bootstrap+live must equal a cold run over the union")
      // and the bootstrapped values actually flowed: BTC t0 closed with
      // the bootstrap's candle, BTC t0+1m closed with the NEWER live
      // update folded over the bootstrapped bucket
      assert(warm.contains(("BTC", t0, 100.0, 1.0)))
      assert(warm.contains(("BTC", t0 + 60000, 102.0, 3.0)),
        "live update must win over the bootstrapped open bucket by ts")
      assert(warm.contains(("ETH", t0, 50.0, 5.0)))
      assert(!warm.exists(_._1 == "XRP"), "no live traffic — stays open, never emits")
    } finally {
      prior match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("bootstrap arms the hold clock: a warm-started key with no live traffic still force-flushes") {
    // the cold-run equivalence must hold for holdMs > 0 too: a
    // bootstrapped key that never sees another live row (a delisted
    // pair) would otherwise hold its open candles in RocksDB forever —
    // handleInitialState must arm the same clock handleInputRows would
    val h = new TwsTestHandle
    val proc = new TwsCandleState.CandleProcessor(holdMs = 3600000L)
    proc.setHandle(h)
    proc.init(org.apache.spark.sql.streaming.OutputMode.Append(),
      org.apache.spark.sql.streaming.TimeMode.ProcessingTime())
    val key = ("bitfinex", "XRP", "USD")
    def tv(nowMs: Long) = new org.apache.spark.sql.streaming.TimerValues {
      override def getCurrentProcessingTimeInMs: Long = nowMs
      override def getCurrentWatermarkInMs: Long = -1L
    }
    // first bootstrap row arms at now + hold
    proc.handleInitialState(key, ws(60000, 11.0, 2.0, key = "XRP"), tv(1000L))
    assert(h.timers.toSeq === Seq(1000L + 3600000L), "bootstrap must arm the hold clock")
    // a second bootstrap row in an OLDER bucket folds in without
    // re-arming (latest bucket unchanged)
    proc.handleInitialState(key, ws(0, 10.0, 1.0, key = "XRP"), tv(2000L))
    assert(h.timers.toSeq === Seq(1000L + 3600000L), "older bootstrap bucket re-armed the clock")
    // with NO live traffic ever, expiry force-flushes both held
    // buckets, oldest first, and clears state
    val flushed = proc.handleExpiredTimer(key, tv(1000L + 3600000L), null).toSeq
    assert(flushed.map(c => (c.time_ms, c.close)) === Seq((t0, 10.0), (t0 + 60000L, 11.0)))
    assert(proc.handleExpiredTimer(key, tv(9999999L), null).isEmpty, "state not cleared")
  }

  test("hold clock: re-arms only when the latest bucket advances; expiry flushes held state") {
    // the timer branch is driven directly through a fake handle —
    // deterministic, no processing-time spin
    val h = new TwsTestHandle
    val proc = new TwsCandleState.CandleProcessor(holdMs = 3600000L)
    proc.setHandle(h)
    proc.init(org.apache.spark.sql.streaming.OutputMode.Append(),
      org.apache.spark.sql.streaming.TimeMode.ProcessingTime())
    val key = ("bitfinex", "BTC", "USD")
    def tv(nowMs: Long) = new org.apache.spark.sql.streaming.TimerValues {
      override def getCurrentProcessingTimeInMs: Long = nowMs
      override def getCurrentWatermarkInMs: Long = -1L
    }
    // first candle arms the clock at now + hold
    assert(proc.handleInputRows(key, Iterator(ws(0, 100.0, 1.0)), tv(1000L)).isEmpty)
    assert(h.timers.toSeq === Seq(1000L + 3600000L))
    // an intra-bucket update must NOT extend the hold
    assert(proc.handleInputRows(key, Iterator(ws(5000, 101.0, 2.0)), tv(2000L)).isEmpty)
    assert(h.timers.toSeq === Seq(1000L + 3600000L), "intra-bucket update re-armed the clock")
    // a NEW latest bucket flushes the old one and re-arms
    val closed = proc.handleInputRows(key, Iterator(ws(60000, 110.0, 3.0)), tv(3000L)).toSeq
    assert(closed.map(c => (c.time_ms, c.close)) === Seq((t0, 101.0)))
    assert(h.timers.toSeq === Seq(3000L + 3600000L))
    // expiry force-flushes the held open candle and clears state
    val flushed = proc.handleExpiredTimer(key, tv(3000L + 3600000L), null).toSeq
    assert(flushed.map(c => (c.time_ms, c.close)) === Seq((t0 + 60000L, 110.0)))
    assert(proc.handleExpiredTimer(key, tv(9999999L), null).isEmpty, "state not cleared")
  }
}

/** Minimal in-memory [[org.apache.spark.sql.streaming.StatefulProcessorHandle]]
  * for driving a StatefulProcessor's transition logic directly (the
  * engine-side behaviors — partitioning, RocksDB, checkpointing — are
  * covered by the end-to-end MemoryStream test above).
  */
class TwsTestHandle extends org.apache.spark.sql.streaming.StatefulProcessorHandle {
  import org.apache.spark.sql.streaming.{ListState, MapState, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoder
  val timers = scala.collection.mutable.SortedSet.empty[Long]

  override def getMapState[K, V](name: String, keyEnc: Encoder[K], valEnc: Encoder[V],
                                 ttl: TTLConfig): MapState[K, V] = new MapState[K, V] {
    private val m = scala.collection.mutable.LinkedHashMap.empty[K, V]
    override def exists(): Boolean = m.nonEmpty
    override def getValue(key: K): V = m.getOrElse(key, null.asInstanceOf[V])
    override def containsKey(key: K): Boolean = m.contains(key)
    override def updateValue(key: K, value: V): Unit = m.update(key, value)
    override def iterator(): Iterator[(K, V)] = m.toSeq.iterator
    override def keys(): Iterator[K] = m.keys.toSeq.iterator
    override def values(): Iterator[V] = m.values.toSeq.iterator
    override def removeKey(key: K): Unit = m.remove(key)
    override def clear(): Unit = m.clear()
  }
  override def getMapState[K, V](name: String, ttl: TTLConfig)(
      implicit keyEnc: Encoder[K], valEnc: Encoder[V]): MapState[K, V] =
    getMapState(name, keyEnc, valEnc, ttl)
  override def getValueState[T](name: String, enc: Encoder[T],
                                ttl: TTLConfig): ValueState[T] = new ValueState[T] {
    private var v: Option[T] = None
    override def exists(): Boolean = v.isDefined
    override def get(): T = v.getOrElse(null.asInstanceOf[T])
    override def update(newState: T): Unit = v = Some(newState)
    override def clear(): Unit = v = None
  }
  override def getValueState[T](name: String, ttl: TTLConfig)(
      implicit enc: Encoder[T]): ValueState[T] = getValueState(name, enc, ttl)
  override def getListState[T](name: String, enc: Encoder[T], ttl: TTLConfig): ListState[T] =
    throw new UnsupportedOperationException
  override def getListState[T](name: String, ttl: TTLConfig)(
      implicit enc: Encoder[T]): ListState[T] = throw new UnsupportedOperationException
  override def getQueryInfo(): org.apache.spark.sql.streaming.QueryInfo =
    throw new UnsupportedOperationException
  override def registerTimer(expiryTimestampMs: Long): Unit = timers += expiryTimestampMs
  override def deleteTimer(expiryTimestampMs: Long): Unit = timers -= expiryTimestampMs
  override def listTimers(): Iterator[Long] = timers.toSeq.iterator
  override def deleteIfExists(stateName: String): Unit = ()
}
