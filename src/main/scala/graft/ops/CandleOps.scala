package graft.ops

import graft.functions.TimeBucket
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** OHLCV candle operators over the reference schema
  * (time, exchange, base_id, quote_id, open, high, low, close, volume)
  * — the Spark-native continuous-aggregate core (SURVEY A1; reference
  * schemas/aggregations.sql:11-22, create.sql:105-223).
  */
object CandleOps {
  val keyCols: Seq[String] = Seq("exchange", "base_id", "quote_id")

  /** The rollup bucket of `t` at `widthSec`: `time_bucket` with
    * TimescaleDB's origin — multi-day buckets align to 2000-01-03
    * (Monday); sub-day widths divide the day so epoch alignment is
    * identical (SURVEY F1 caveat). The one bucket rule: [[rollup]] and
    * the refresh's touched-bucket probe
    * ([[graft.maintenance.AggregateMaintenance.refreshFromFeed]]) both
    * call it, so they cannot disagree on a bucket.
    */
  def bucket(t: Column, widthSec: Long): Column =
    TimeBucket.timeBucket(t, widthSec, if (widthSec >= 86400L * 7) 946857600L else 0L)

  /** Roll 1-minute (or finer-rollup) candles up to `widthSec` buckets.
    * first/last are time-ordered via min_by/max_by — exactly
    * TimescaleDB first(open, time)/last(close, time). One shuffle on
    * (keys, bucket); map-side partial agg is automatic. Input must be
    * unique per (keys, timeCol) — the reference PK guarantees it
    * (SURVEY §7.4 risk 3).
    */
  def rollup(df: DataFrame, widthSec: Long, timeCol: String = "time"): DataFrame = {
    val t = col(timeCol)
    df.groupBy(
        col("exchange"), col("base_id"), col("quote_id"),
        bucket(t, widthSec).as("bucket"))
      .agg(
        min_by(col("open"), t).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), t).as("close"),
        sum(col("volume")).as("volume"))
  }

  /** Re-rollup a finer rollup to a coarser width (bucket hierarchy —
    * rollup(1m→5m→1h) ≡ rollup(1m→1h) when widths nest).
    */
  def rollupFrom(finer: DataFrame, widthSec: Long): DataFrame =
    rollup(finer, widthSec, timeCol = "bucket")

  /** Calendar-unit rollup (variable-width buckets: "month", "year") —
    * covers the reference's declared-but-crashing 1M interval
    * (SURVEY §7.4 risk 6) with real calendar months, which fixed-width
    * `time_bucket` cannot express.
    */
  def rollupCalendar(df: DataFrame, unit: String, timeCol: String = "time"): DataFrame = {
    val t = col(timeCol)
    df.groupBy(
        col("exchange"), col("base_id"), col("quote_id"),
        date_trunc(unit, t).as("bucket"))
      .agg(
        min_by(col("open"), t).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), t).as("close"),
        sum(col("volume")).as("volume"))
  }

  /** Upsert semantics over plain tables (reference ON CONFLICT
    * policies, fetchers/config/queries.py:4-15):
    * first-write-wins (DO NOTHING).
    */
  def insertIgnore(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val keys = keyCols :+ "time"
    existing.unionByName(
      incoming.join(existing.select(keys.map(col): _*), keys, "left_anti"))
  }

  /** Upsert with update (DO UPDATE of o,h,l,c,v — latest wins). */
  def upsert(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val keys = keyCols :+ "time"
    existing.join(incoming.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(incoming)
  }

  /** J7: drop duplicate (key, time) rows deterministically before any
    * rollup (reference schemas/insert_queries.sql:9-15 ctid dedup).
    */
  def dedup(df: DataFrame): DataFrame =
    df.dropDuplicates(keyCols :+ "time")
}
