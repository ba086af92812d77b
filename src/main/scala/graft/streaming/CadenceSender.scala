package graft.streaming

import graft.core.Schemas

/** ST8 — the WS fan-out cadence: the reference serves each
  * subscription from a per-client coroutine that sends the latest
  * candle and sleeps an interval-specific number of seconds
  * (web/routes/api/ws/utils/senders.py:70-120: 1m from the Redis
  * serve view every 1 s; everything else via `read_ohlcvs(limit=1)`
  * with sleeps 5m→5 s, 15m→15, 30m→30, 1h→60, 6h→360, 12h→720,
  * 1D→1440, 7D→10080 — uniformly `interval_seconds / 60`).
  *
  * The fetch-send loop is [[graft.api.OhlcvHttpServer]]'s: one
  * fixed-rate task per subscription reads the latest candle
  * (`limit = 1`) and pushes it, sending nothing when the read is
  * empty. This object holds only the cadence table it schedules by.
  */
object CadenceSender {

  /** Send cadence in seconds (senders.py:104-120). Declared-but-
    * unlisted fixed intervals (3h, 14D — the reference's sleep chain
    * silently skips them, a hot spin) get the same
    * `interval_seconds / 60` rule; calendar intervals cap at the 7D
    * cadence.
    */
  def cadenceSecs(interval: String): Long =
    Schemas.intervalSeconds.get(interval)
      .map(s => math.max(1L, s / 60L))
      .getOrElse(10080L)
}
