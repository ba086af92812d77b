package graft.streaming

import graft.ops.CandleOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's Redis-based WS candle pipeline re-expressed as
  * Structured Streaming (SURVEY §2.9). The three exchange WS fetchers
  * all reduce to one canonical stream row
  * (ts_ms, exchange, base_id, quote_id, open, high, low, close, volume)
  * — fetchers/helpers/ws.py:6-17 — which is this module's input; the
  * Redis hop (`ws_sub_*` hashes + updater flush loop,
  * fetchers/ws/updater.py) is replaced by the streaming state store +
  * watermark-driven emission, and crash recovery (ST6) by
  * checkpointing to an idempotent sink.
  *
  * Scale: both aggregations are keyed by (exchange, base_id, quote_id
  * [, bucket]) — state partitions by key hash across executors; no
  * global state, no driver bottleneck.
  */
object CandleStream {
  private val keys = Seq("exchange", "base_id", "quote_id")

  private def withTs(stream: DataFrame): DataFrame =
    stream.withColumn("ts", timestamp_millis(col("ts_ms")))

  /** ST1+ST7: latest-value serving view — per key, the most recent
    * 1-minute candle, newest message wins; an older out-of-order
    * message never replaces a newer one (the `new_ts >= current_ts`
    * guard, fetchers/ws/bitfinex.py:202-217). Run in update output
    * mode (memory sink for queries, or foreachBatch to a KV store).
    */
  def latestServeView(stream: DataFrame): DataFrame =
    stream
      .groupBy(keys.map(col): _*)
      .agg(max_by(
        struct(col("ts_ms"), col("open"), col("high"), col("low"),
          col("close"), col("volume")), col("ts_ms")).as("c"))
      .select(
        col("exchange"), col("base_id"), col("quote_id"),
        col("c.ts_ms").as("ts_ms"), col("c.open").as("open"),
        col("c.high").as("high"), col("c.low").as("low"),
        col("c.close").as("close"), col("c.volume").as("volume"))

  /** ST2+ST3: closed-candle emission — repeated updates of the same
    * 1-minute bucket collapse to the latest message per bucket; a
    * bucket is emitted (append mode) once the watermark passes its
    * end, i.e. when newer data has arrived or the `delay` force-flush
    * bound expires (the updater's flush-all-but-latest loop +
    * DATA_HELD_MLS_THRESHOLD=1h, fetchers/ws/updater.py:29-30,177-184).
    */
  def closedCandles(stream: DataFrame, delay: String = "1 hour"): DataFrame =
    withTs(stream)
      .withWatermark("ts", delay)
      .groupBy((keys.map(col) :+ window(col("ts"), "1 minute")): _*)
      .agg(max_by(
        struct(col("open"), col("high"), col("low"), col("close"),
          col("volume")), col("ts_ms")).as("c"))
      .select(
        col("window.start").as("time"),
        col("exchange"), col("base_id"), col("quote_id"),
        col("c.open").as("open"), col("c.high").as("high"),
        col("c.low").as("low"), col("c.close").as("close"),
        col("c.volume").as("volume"))

  /** ST5's LIVE form: stream–stream left-outer join of the WS candle
    * stream with the REST repair stream, per (key, 1-minute bucket),
    * inside the watermark horizon — the streaming counterpart of the
    * `repair` job's [[graft.storage.TxTable.mergeInto]] (which fixes
    * the table after the fact, the batch shadow of the reference's
    * updater/repair pair). A live message
    * whose bucket gets a repair row within `delay` emits with the
    * repair's authoritative values (`repaired = true`); an unmatched
    * message emits unchanged once both watermarks pass its bucket —
    * append-only output either way.
    *
    * Spark's event-time-window equi-join contract makes the state
    * BOUNDED: both sides carry `withWatermark(ts, delay)` and join on
    * the windowed event time, so each side's state holds only buckets
    * younger than the watermark — O(active keys × buckets-per-delay)
    * rows, partitioned by join key hash across executors, evicted as
    * the watermark advances (asserted in StreamRepairJoinSpec via
    * `stateOperators.numRowsTotal`). Repairs arriving later than
    * `delay` are outside the live join horizon by design; they remain
    * the batch repair path's job.
    */
  def repairJoin(live: DataFrame, repairs: DataFrame,
                 delay: String = "10 minutes"): DataFrame = {
    val l = withTs(live).withWatermark("ts", delay)
      .select(keys.map(col) :+ window(col("ts"), "1 minute").as("bucket") :+
        col("ts_ms") :+ col("open") :+ col("high") :+ col("low") :+
        col("close") :+ col("volume"): _*)
    // the repair side re-fetches periodically, so the same (key,
    // bucket) can arrive more than once inside the horizon — exactly
    // why the batch repair runs CandleOps.dedup first. Without this
    // dedup every duplicate repair row would re-emit each matched live
    // message into the append-only output (nothing retracts).
    // First-repair-wins within the watermark, state evicted with it.
    // the dedup key is a PLAIN minute number, not the window() column:
    // deriving the window before the dedup would leave two event-time
    // columns (ts + bucket) in one stream, which the join rejects; the
    // windowed bucket is derived after, and `ts` dropped, so exactly
    // one event-time column reaches the join
    val r = withTs(repairs).withWatermark("ts", delay)
      .withColumn("bucket_min", (col("ts_ms") - pmod(col("ts_ms"), lit(60000L))) / 60000L)
      .dropDuplicatesWithinWatermark((keys :+ "bucket_min").toArray)
      .select(keys.map(col) :+ window(col("ts"), "1 minute").as("bucket") :+
        struct(col("open").as("open"), col("high").as("high"),
          col("low").as("low"), col("close").as("close"),
          col("volume").as("volume")).as("r"): _*)
    l.join(r, keys :+ "bucket", "left_outer")
      .select(
        col("bucket.start").as("time"),
        col("exchange"), col("base_id"), col("quote_id"), col("ts_ms"),
        coalesce(col("r.open"), col("open")).as("open"),
        coalesce(col("r.high"), col("high")).as("high"),
        coalesce(col("r.low"), col("low")).as("low"),
        coalesce(col("r.close"), col("close")).as("close"),
        coalesce(col("r.volume"), col("volume")).as("volume"),
        col("r").isNotNull.as("repaired"))
  }

  /** The full live pipeline (reference updater loop, ws/updater.py):
    * WS stream → closed candles → first-write-wins append into the
    * date-partitioned [[graft.storage.TxTable]], every `triggerSecs`
    * (reference UPDATE_FREQUENCY_SECS=10). Exactly-once = checkpoint +
    * the idempotent ST4 sink policy (re-delivered batches dedupe
    * against the table). Returns the running query; stop() to shut
    * down.
    *
    * Concurrent-writer safety: each micro-batch commits through
    * [[graft.storage.TxTable.insertIgnore]], conflict-checked against
    * the snapshot its anti-join read, so a commit to the batch's
    * partitions after that read — another writer's candles or a
    * maintenance rewrite (AggregateMaintenance, TxTable.compact) —
    * makes the batch re-run: first write wins (ST4), and no committed
    * file is dropped. The reference gets this from Postgres MVCC.
    *
    * Scale: each micro-batch writes only to the date partitions its
    * buckets fall in, and the first-write-wins anti-join reads back
    * only those partitions, so per-trigger cost tracks the batch, not
    * the table's age.
    */
  def runPipelineTx(stream: DataFrame, table: graft.storage.TxTable,
                    checkpoint: String, triggerSecs: Int = 10,
                    watermark: String = "1 hour",
                    maintainEvery: Int = 30, vacuumRetain: Int = 20)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // triggerSecs <= 0 selects Trigger.AvailableNow: process every
    // available input batch (plus the no-data batches that flush
    // watermark-expired windows), then self-terminate. This is the
    // deterministic replay/test mode — completion is defined by the
    // DATA being drained, not by a wall-clock window, so it cannot
    // flap under host CPU steal the way a fixed-duration run can.
    val trig =
      if (triggerSecs <= 0) org.apache.spark.sql.streaming.Trigger.AvailableNow()
      else org.apache.spark.sql.streaming.Trigger.ProcessingTime(s"$triggerSecs seconds")
    // Maintenance cadence: every `maintainEvery` triggers (~5 min at
    // the 10 s default) the sink compacts fat partitions and vacuums
    // past the retention horizon, so a long-lived stream's file count
    // AND transaction-log size stay bounded without an external job.
    // Both run through the same conflict-checked commit path, so a
    // separate maintenance process (the deployment-scale alternative)
    // can take over by just calling the same methods; `vacuumRetain`
    // must exceed the longest concurrent reader's snapshot age in
    // commits. Set maintainEvery <= 0 to disable.
    val sinceMaintain = new java.util.concurrent.atomic.AtomicInteger(0)
    closedCandles(stream, watermark)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trig)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        import org.apache.spark.sql.functions.{col, to_date}
        // ONE tiny driver action per trigger: the touched-partition set
        // doubles as the emptiness check (dedup can't change the date
        // set, so it's computed on the raw batch — no cache needed).
        val withDate = batch.toDF().withColumn("p_date", to_date(col("time")))
        val parts = table.touchedPartitions(withDate)
        // a re-delivered batch after crash recovery inserts nothing —
        // the idempotent ST4/ST6 sink policy
        if (parts.nonEmpty)
          table.insertIgnore(CandleOps.dedup(withDate), CandleOps.keyCols :+ "time",
            knownParts = Some(parts))
        if (maintainEvery > 0 &&
            sinceMaintain.incrementAndGet() >= maintainEvery) {
          sinceMaintain.set(0)
          table.compact()
          table.vacuum(vacuumRetain)
        }
        ()
      }
      .start()
  }
}

/** Canonical WS stream row (FIXTURES.md §3) as a case class for typed
  * streaming sources.
  */
case class WsCandle(ts_ms: Long, exchange: String, base_id: String, quote_id: String,
               open: Double, high: Double, low: Double, close: Double, volume: Double)
