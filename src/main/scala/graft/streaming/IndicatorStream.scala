package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** Streaming technical indicators over the closed-candle stream — the
  * operator [[graft.ops.Indicators.emaTruncated]]'s scaladoc defers to:
  * the batch form truncates the EMA recursion at a window (bounded
  * state inside one SQL window frame), while the streaming form keeps
  * ONE running value per key in the state store and applies the exact
  * recursion ema ← α·close + (1−α)·ema with no truncation error at
  * all — O(1) state per key, one update per closed candle.
  *
  * Scale shape: a single hash exchange on the series key feeding
  * `transformWithState` (RocksDB); per-candle work is one ValueState
  * read + write. The bucket-monotonic guard makes updates idempotent
  * under sink redelivery (a re-sent closed candle with bucket ≤ the
  * state's last applied bucket is a no-op), the same at-least-once
  * discipline as [[graft.llm.IncrementalDedup.admitStream]].
  */
object IndicatorStream {
  import TwsCandleState.Closed

  /** (last applied candle bucket, running EMA). */
  case class EmaState(lastBucketMs: Long, ema: Double)

  case class EmaPoint(time_ms: Long, exchange: String, base_id: String,
                      quote_id: String, close: Double, ema: Double)

  class EmaProcessor(alphaNum: Int, alphaDen: Int)
      extends StatefulProcessor[(String, String, String), Closed, EmaPoint] {
    @transient private var st: ValueState[EmaState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[EmaState]("ema",
        Encoders.product[EmaState], TTLConfig.NONE)

    override def handleInputRows(key: (String, String, String),
                                 rows: Iterator[Closed],
                                 timerValues: TimerValues): Iterator[EmaPoint] = {
      val a = alphaNum.toDouble / alphaDen.toDouble
      val out = Seq.newBuilder[EmaPoint]
      // within-batch candles apply in bucket order; ≤-last buckets are
      // redeliveries or out-of-order leftovers and must not re-fold
      rows.toSeq.sortBy(_.time_ms).foreach { c =>
        val cur = Option(st.get())
        if (!cur.exists(_.lastBucketMs >= c.time_ms)) {
          val e = cur match {
            case None    => c.close // seed = first close, as the batch fold
            case Some(s) => a * c.close + (1.0d - a) * s.ema
          }
          st.update(EmaState(c.time_ms, e))
          out += EmaPoint(c.time_ms, key._1, key._2, key._3, c.close, e)
        }
      }
      out.result().iterator
    }
  }

  /** One EMA point per closed candle, keyed like the candle stream. */
  def emaOf(ds: Dataset[Closed], alphaNum: Int, alphaDen: Int): Dataset[EmaPoint] = {
    implicit val enc: org.apache.spark.sql.Encoder[EmaPoint] = Encoders.product[EmaPoint]
    ds.groupByKey(c => (c.exchange, c.base_id, c.quote_id))(
        Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING))
      .transformWithState(new EmaProcessor(alphaNum, alphaDen),
        TimeMode.None(), OutputMode.Append())
  }

  /** Last-`nRows` (bucket, close) ring per key — bounded state. */
  case class SmaState(bucketsMs: List[Long], closes: List[Double])

  /** `n` = bars actually averaged (< nRows while warming up, the
    * batch partial-frame convention).
    */
  case class SmaPoint(time_ms: Long, exchange: String, base_id: String,
                      quote_id: String, close: Double, sma: Double, n: Int)

  /** Live-bar SMA(nRows) — the client-side incremental SMA of
    * reference `web/src/chart.js:694-719` as a stateful operator: a
    * bar for a NEW bucket appends to the ring (evicting beyond
    * `nRows`) and emits the rolling mean; a bar for the CURRENT
    * bucket REPLACES the last close and re-emits a revised point for
    * the same bucket (the chart's pop/push pair — downstream treats
    * the latest row per bucket as current, like [[CadenceSender]]);
    * older buckets are stale redeliveries and fold nothing. The
    * rolling mean is over min(bars, nRows) bars — the same partial-
    * frame convention as the batch [[graft.ops.Analytics.smaRows]]
    * (`rowsBetween(-(nRows-1), 0)`), so on closed candles the two
    * agree point-for-point (IndicatorStreamSpec parity test).
    */
  class SmaProcessor(nRows: Int)
      extends StatefulProcessor[(String, String, String), Closed, SmaPoint] {
    @transient private var st: ValueState[SmaState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SmaState]("sma",
        Encoders.product[SmaState], TTLConfig.NONE)

    override def handleInputRows(key: (String, String, String),
                                 rows: Iterator[Closed],
                                 timerValues: TimerValues): Iterator[SmaPoint] = {
      val out = Seq.newBuilder[SmaPoint]
      // stable sort: same-bucket revisions keep arrival order, so the
      // LAST live update of a bucket is the one that sticks
      rows.toSeq.sortBy(_.time_ms).foreach { c =>
        val cur = Option(st.get()).getOrElse(SmaState(Nil, Nil))
        val last = cur.bucketsMs.lastOption.getOrElse(Long.MinValue)
        val next =
          if (c.time_ms > last)
            Some(SmaState((cur.bucketsMs :+ c.time_ms).takeRight(nRows),
              (cur.closes :+ c.close).takeRight(nRows)))
          else if (c.time_ms == last)
            Some(cur.copy(closes = cur.closes.init :+ c.close))
          else None // stale bucket: nothing to revise
        next.foreach { s =>
          st.update(s)
          out += SmaPoint(c.time_ms, key._1, key._2, key._3, c.close,
            s.closes.sum / s.closes.size, s.closes.size)
        }
      }
      out.result().iterator
    }
  }

  /** One SMA point per bar update (revisions re-emit their bucket). */
  def smaOf(ds: Dataset[Closed], nRows: Int): Dataset[SmaPoint] = {
    implicit val enc: org.apache.spark.sql.Encoder[SmaPoint] = Encoders.product[SmaPoint]
    ds.groupByKey(c => (c.exchange, c.base_id, c.quote_id))(
        Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.STRING))
      .transformWithState(new SmaProcessor(nRows),
        TimeMode.None(), OutputMode.Append())
  }
}
