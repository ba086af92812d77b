package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** Exact stateful reproduction of the reference updater's
  * closed-candle semantics (SURVEY ST2/ST3; reference
  * fetchers/ws/updater.py:150-192) on `transformWithState`, Spark 4's
  * arbitrary-state operator (SPARK-46815):
  *
  *  - per key, 1-minute buckets accumulate updates, the latest message
  *    (by ts_ms) wins within a bucket (the new_ts >= current_ts guard,
  *    ws/bitfinex.py:202-217);
  *  - whenever a newer bucket exists, every older bucket is flushed
  *    ("insert all except the latest, still-open candle");
  *  - the newest bucket holds until newer data or the 1 h hold clock
  *    (DATA_HELD_MLS_THRESHOLD, updater.py:30,171-176) force-flushes it.
  *
  * State is a typed [[MapState]] keyed by bucket, so an update touches
  * ONE map entry in RocksDB, which keeps a hot key cheap when it holds
  * many open buckets. The hold clock is a real per-key timer that
  * re-arms only when the LATEST BUCKET advances: the reference's rule
  * measures how long the held candle itself has gone unsuperseded, so
  * intra-bucket updates to the same open candle must NOT extend the
  * hold (an inactivity timeout, which any arriving row re-arms, would).
  *
  * The watermark version ([[CandleStream.closedCandles]]) is the
  * declarative production form. Requires the RocksDB state store
  * provider (`spark.sql.streaming.stateStore.providerClass`), the only
  * provider transformWithState supports.
  */
object TwsCandleState {

  case class Candle(bucketMs: Long, lastTsMs: Long, open: Double, high: Double,
                    low: Double, close: Double, volume: Double)

  case class Closed(time_ms: Long, exchange: String, base_id: String,
                    quote_id: String, open: Double, high: Double, low: Double,
                    close: Double, volume: Double)

  /** (bucket the hold clock is armed for, the timer's timestamp). */
  case class Armed(bucketMs: Long, timerTs: Long)

  class CandleProcessor(holdMs: Long)
      extends StatefulProcessorWithInitialState[(String, String, String), WsCandle, Closed, WsCandle] {
    @transient private var buckets: MapState[Long, Candle] = _
    @transient private var armed: ValueState[Armed] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buckets = getHandle.getMapState[Long, Candle]("buckets",
        Encoders.scalaLong, Encoders.product[Candle], TTLConfig.NONE)
      armed = getHandle.getValueState[Armed]("armed",
        Encoders.product[Armed], TTLConfig.NONE)
    }

    private def emit(key: (String, String, String), c: Candle): Closed =
      Closed(c.bucketMs, key._1, key._2, key._3, c.open, c.high, c.low,
        c.close, c.volume)

    /** The shared latest-wins bucket fold — one step of the state
      * machine, used identically by live rows and bootstrap rows so
      * a warm start IS a replay, not a parallel code path.
      */
    private def fold(w: WsCandle): Unit = {
      val b = w.ts_ms / 60000L * 60000L
      val next = Candle(b, w.ts_ms, w.open, w.high, w.low, w.close, w.volume)
      // latest message wins (new_ts >= current_ts guard)
      if (!buckets.containsKey(b) || buckets.getValue(b).lastTsMs <= w.ts_ms)
        buckets.updateValue(b, next)
    }

    /** Arm (or re-arm) the hold clock for `latest` — only when the
      * latest bucket ADVANCES, so intra-bucket updates never extend
      * the hold (the reference's held-too-long rule).
      */
    private def armFor(latest: Long, timerValues: TimerValues): Unit =
      if (holdMs > 0 && !Option(armed.get()).exists(_.bucketMs == latest)) {
        Option(armed.get()).foreach(a => getHandle.deleteTimer(a.timerTs))
        val ts = timerValues.getCurrentProcessingTimeInMs() + holdMs
        getHandle.registerTimer(ts)
        armed.update(Armed(latest, ts))
      }

    /** Warm start (Spark 4 initial state): open candles read off the
      * batch table enter the state through the SAME transition as
      * live rows — no flush (emission is not possible here; the first
      * live batch or timer expiry does that), but the hold clock IS
      * armed for the bootstrapped latest bucket: a key that never
      * receives live traffic again (a delisted pair) must still
      * force-flush at holdMs, exactly as the cold run would have.
      * Called once per initial-state row; multiple open buckets per
      * key fold in independently (re-arming is a no-op until the
      * latest bucket advances).
      */
    override def handleInitialState(key: (String, String, String),
                                    initialState: WsCandle,
                                    timerValues: TimerValues): Unit = {
      fold(initialState)
      val latest = buckets.keys().foldLeft(Long.MinValue)(math.max)
      armFor(latest, timerValues)
    }

    override def handleInputRows(key: (String, String, String),
                                 rows: Iterator[WsCandle],
                                 timerValues: TimerValues): Iterator[Closed] = {
      rows.foreach(fold)
      val all = buckets.iterator().toSeq.sortBy(_._1)
      if (all.isEmpty) return Iterator.empty
      val latest = all.last._1
      val closed = all.iterator.takeWhile(_._1 < latest).map(_._2).toSeq
      closed.foreach(c => buckets.removeKey(c.bucketMs))
      // the hold clock re-arms only when the LATEST bucket advances:
      // intra-bucket updates never extend the hold, matching the
      // reference's held-too-long rule rather than key inactivity
      armFor(latest, timerValues)
      closed.iterator.map(emit(key, _))
    }

    override def handleExpiredTimer(key: (String, String, String),
                                    timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[Closed] = {
      val held = buckets.iterator().toSeq.sortBy(_._1).map(_._2)
      buckets.clear()
      armed.clear()
      held.iterator.map(emit(key, _))
    }
  }

  /** Streaming entry point. `holdMs <= 0` disables the force-flush
    * timer (TimeMode.None): with a processing-time timer the engine
    * keeps scheduling batches to check it, which is correct in
    * production but makes processAllAvailable-style test drains spin;
    * the timer branch itself is unit-tested through a fake handle.
    */
  def closedCandles(ds: Dataset[WsCandle], holdMs: Long = 3600000L): Dataset[Closed] = {
    implicit val closedEnc: org.apache.spark.sql.Encoder[Closed] = Encoders.product[Closed]
    ds.groupByKey(w => (w.exchange, w.base_id, w.quote_id))(
        Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING))
      .transformWithState(new CandleProcessor(holdMs),
        if (holdMs > 0) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append())
  }

  /** [[closedCandles]] warm-started from the batch candle table — the
    * deployed-restart path: rather than re-deriving open candles from
    * the stream (hours of replay) or losing them (they'd re-emit as
    * partial candles), the caller selects the still-open candles off
    * the batch table as [[WsCandle]] rows (ts_ms = the candle's last
    * update time; o/h/l/c/v its current values) and they seed the
    * state store via Spark 4's initial-state support, flowing through
    * the SAME latest-wins transition as live rows. First-batch-only
    * by engine contract; a restart FROM A CHECKPOINT ignores the
    * initial state (the store already has it).
    */
  def closedCandlesFrom(ds: Dataset[WsCandle], initial: Dataset[WsCandle],
                        holdMs: Long = 3600000L): Dataset[Closed] = {
    implicit val closedEnc: org.apache.spark.sql.Encoder[Closed] = Encoders.product[Closed]
    implicit val wsEnc: org.apache.spark.sql.Encoder[WsCandle] = Encoders.product[WsCandle]
    val keyEnc = Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING)
    val init = initial.groupByKey(w => (w.exchange, w.base_id, w.quote_id))(keyEnc)
    ds.groupByKey(w => (w.exchange, w.base_id, w.quote_id))(keyEnc)
      .transformWithState(new CandleProcessor(holdMs),
        if (holdMs > 0) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append(), init)
  }
}
