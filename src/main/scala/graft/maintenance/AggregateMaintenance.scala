package graft.maintenance

import graft.core.Schemas
import graft.ops.{CandleOps, OhlcvAnalytics}
import graft.storage.TxTable
import java.sql.Timestamp
import java.time.ZoneId
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.concurrent.Await
import scala.concurrent.duration._

/** Materialized-view maintenance — the engine piece TimescaleDB gave
  * the reference for free (continuous aggregates + refresh policies,
  * create.sql:105-223, :345-383) and Spark does not have. SURVEY §4
  * marks this as the core custom engineering.
  *
  * Jobs take/return DataFrames. Rollups are partitioned by bucket
  * date and kept one way, in O(feed): [[refreshFromFeed]] recomputes
  * only the buckets the base table's new rows touched, from only the
  * base partitions those buckets span, and [[writePartitionedTx]]
  * upserts them, rewriting only the date partitions they fall in.
  * [[fullPopulate]] builds the rollups from scratch.
  */
object AggregateMaintenance {

  /** Full populate (reference scripts/database/once/populate_agg.sql):
    * all 8 rollups from the base table.
    */
  def fullPopulate(base: DataFrame): Map[String, DataFrame] =
    Schemas.rollupIntervals.map { iv =>
      iv -> CandleOps.rollup(base, Schemas.intervalSeconds(iv))
    }.toMap

  /** Change-feed-driven refresh: recompute exactly the rollup buckets
    * touched by the base table's appends since `sinceV`
    * ([[graft.storage.TxTable.readChangesSince]] — the feed reads only
    * the append-commit files of the version range, so discovering
    * WHAT to refresh is O(new data) even when the base table is
    * 100 TB). The refresh is driven by exactly what landed, however
    * stale — a backfill append from last year refreshes last year's
    * buckets and nothing else.
    *
    * Returns ONLY the recomputed buckets (every key of each touched
    * bucket), plus the version to hand back as the next `sinceV` (the
    * feed's cursor). Pair it with [[writePartitionedTx]]: that write is
    * an upsert, so rollup rows of untouched buckets stay in their
    * partitions and only the date partitions of the fresh buckets are
    * rewritten. `existing` only supplies the schema of the empty frame
    * an empty feed returns, which commits nothing.
    *
    * ONE driver action: the feed's distinct touched buckets are
    * O(feed span / width) — a handful of timestamps, the same
    * legitimate driver state as broadcast-join build sides. The
    * recompute scans only the snapshot files of the base dates the
    * touched buckets span, so `base` must be partitioned by the date
    * of `time` in the session time zone (`p_date = to_date(time)`, the
    * layout every writer of candle tables here uses). The exact bucket
    * membership is an `InSet` over [[CandleOps.bucket]], the rollup's
    * own bucket rule: a hash probe whose values the generated code
    * references rather than inlines (`In`, which `isin` builds for up
    * to 10 values, inlines them), so repeated refreshes of one rollup
    * reuse its compiled scan instead of compiling a new one per
    * touched set.
    */
  def refreshFromFeed(existing: DataFrame, base: TxTable,
                      sinceV: Long, widthSec: Long): (DataFrame, Long) = {
    val untilV = base.version
    val bucket = CandleOps.bucket(col("time"), widthSec)
    val touched = base.readChangesSince(sinceV, untilV)
      .select(bucket).distinct()
      .collect().map(_.getTimestamp(0)).toIndexedSeq
    if (touched.isEmpty)
      return (base.spark.createDataFrame(
        base.spark.sparkContext.emptyRDD[Row], existing.schema), untilV)
    val zone = ZoneId.of(base.spark.conf.get("spark.sql.session.timeZone"))
    def day(t: Timestamp) = t.toInstant.atZone(zone).toLocalDate.toString
    // ISO dates order as strings
    val (first, last) = (day(touched.min),
      day(new Timestamp(touched.max.getTime + widthSec * 1000 - 1)))
    val snap = base.snapshot(untilV)
    val span = base.readSnapshot(snap.copy(
      files = snap.files.filter(f => f.partition >= first && f.partition <= last)))
    val inTouched = GraftBridge.column(InSet(GraftBridge.expression(bucket),
      touched.map(t => DateTimeUtils.fromJavaTimestamp(t): Any).toSet))
    (CandleOps.rollup(span.filter(inTouched), widthSec), untilV)
  }

  /** Daily job (reference scripts/database/cron/daily.sql): refresh
    * is_trading + rebuild the three analytics views.
    */
  def dailyJob(symExch: DataFrame, base: DataFrame,
               rollups: Map[String, DataFrame], asOf: Column): DailyResult = {
    val daily = rollups.getOrElse("1D", CandleOps.rollup(base, 86400L))
    val weekly = rollups.getOrElse("7D", CandleOps.rollup(base, 604800L))
    DailyResult(
      symbolExchange = OhlcvAnalytics.isTradingRefresh(symExch, base, asOf),
      geoDailyReturn = OhlcvAnalytics.geoDailyReturn(daily, asOf),
      top20QuotedVol = OhlcvAnalytics.top20QuotedVol(weekly, asOf),
      weeklyReturn = OhlcvAnalytics.weeklyReturn(weekly, asOf))
  }

  case class DailyResult(
      symbolExchange: DataFrame, geoDailyReturn: DataFrame,
      top20QuotedVol: DataFrame, weeklyReturn: DataFrame)

  /** Prune job (reference schemas/delete_queries.sql): keep only the
    * common-basequote working set.
    */
  def prune(base: DataFrame, symExch: DataFrame): DataFrame =
    OhlcvAnalytics.pruneToCommon(base, OhlcvAnalytics.commonBaseQuote(symExch))

  /** J8 — `ON DELETE CASCADE` as an orchestrated maintenance job: the
    * reference declares the FK ohlcvs(exchange, base_id, quote_id) →
    * symbol_exchange with cascade (schemas/create_tables.sql:66-70)
    * and Postgres deletes fact rows whenever a dim row dies; an
    * immutable-file table has no triggers, so the engine runs the
    * double delete explicitly. Generic form: drop `doomed` rows from
    * `dim`, then anti-join every fact table on the FK `keys`.
    *
    * Scale: the doomed key set is a dim subset (small) — broadcast
    * anti-join, no shuffle of the facts; with a TxTable sink, write
    * the result back with [[writePartitionedTx]] so the delete is one
    * conflict-checked commit per table.
    */
  def cascadeDelete(dim: DataFrame, doomed: Column, keys: Seq[String],
                    facts: Seq[DataFrame]): (DataFrame, Seq[DataFrame]) = {
    val dead = dim.filter(doomed).select(keys.map(col): _*).distinct()
    (dim.join(broadcast(dead), keys, "left_anti"),
      facts.map(_.join(broadcast(dead), keys, "left_anti")))
  }

  /** The candle-schema cascade: deleting symbol_exchange rows removes
    * their ohlcvs + every maintained rollup (FK keys) and their
    * ohlcvs_errors rows (keyed by the API's (exchange, symbol) pair —
    * create_tables.sql:58-59). Returns all surviving tables.
    */
  def cascadeDeleteSymbols(symExch: DataFrame, doomed: Column, base: DataFrame,
                           rollups: Map[String, DataFrame],
                           errors: DataFrame): CascadeResult = {
    val keys = Seq("exchange", "base_id", "quote_id")
    val (dim, base2 +: rolls) =
      cascadeDelete(symExch, doomed, keys, base +: Schemas.rollupIntervals.map(rollups)) : @unchecked
    val deadSymbols = symExch.filter(doomed)
      .select(col("exchange"), col("symbol")).distinct()
    CascadeResult(dim, base2, Schemas.rollupIntervals.zip(rolls).toMap,
      errors.join(broadcast(deadSymbols), Seq("exchange", "symbol"), "left_anti"))
  }

  case class CascadeResult(symbolExchange: DataFrame, base: DataFrame,
                           rollups: Map[String, DataFrame], errors: DataFrame)

  /** The rollup write path, through a transaction log: upserts `df`
    * into exactly the date partitions it covers (rows of keys `df`
    * lacks survive there), conflict-checked against concurrent appends
    * (a streaming batch landing mid-refresh makes this retry and fold
    * it in — TxLog.scala). Each upserted partition is sorted by
    * key+time for parquet min/max skipping of the composite-key point
    * lookups (replaces the reference's B-tree indexes,
    * create.sql:76-83). An empty `df` on a committed table publishes
    * nothing. Pair it with [[refreshFromFeed]] and
    * [[graft.streaming.CandleStream.runPipelineTx]].
    */
  def writePartitionedTx(df: DataFrame, table: TxTable,
                         timeCol: String = "bucket",
                         invalidate: Seq[graft.api.QueryCache] = Nil): Unit = {
    if (table.version < 0) {
      table.append(df.withColumn("p_date", to_date(col(timeCol))))
      invalidate.foreach(_.invalidateAll()); return
    }
    // `dated` is retry-invariant (it never depends on `existing`) but
    // is consumed by the staged write and every conflict retry —
    // without the checkpoint a refresh rollup's full lineage
    // recomputes per consumer (checkpoint-after-aggregation rule; the
    // refresh output is post-aggregation). The partition census rides
    // the checkpoint job as an observed metric instead of running a
    // distinct+collect of its own.
    val census = Observation()
    val dated = df.withColumn("p_date", to_date(col(timeCol)))
      .observe(census, count(lit(1)).as("rows"),
        collect_set(col("p_date").cast("string")).as("parts"))
      .localCheckpoint(true)
    // the observation lands through the listener bus just after the
    // job; a bounded wait turns a lost event into an error, not a hang
    val observed = Await.result(census.future, 2.minutes)
    // an empty refresh publishes no version, like insertIgnore's
    // fully-duplicate batch: a no-op commit only widens the vacuum and
    // time-travel window
    if (observed.getAs[Long]("rows") == 0) return
    val parts = observed.getAs[Seq[String]]("parts").toSet
    val keys = CandleOps.keyCols :+ timeCol
    table.upsertRewritePartitions(parts) { existing =>
      // recompute-from-snapshot contract: the refreshed content for
      // these partitions is `dated` merged over what's now there —
      // rows for keys the refresh recomputed are replaced, concurrent
      // appends for other keys survive (upsert, queries.py:6-18).
      // The tag keeps the change feed honest: keys already present
      // are reshaped content (`u`); keys new to the table are net-new
      // rows the feed must deliver (`n`, TxLog readChangesSince
      // contract).
      //
      // One shuffle co-locates both sides per key, and a per-key
      // window says which sides hold it. Unlike a full outer join it
      // cannot multiply rows when either side repeats a key: every
      // `dated` row is written once and replaces every existing row
      // of its key, the semi/anti-join semantics. A null key matches
      // nothing, as in an equi-join.
      val keyed = keys.map(col(_).isNotNull).reduce(_ && _)
      val byKey = Window.partitionBy(keys.map(col): _*)
      def held(side: Column) = keyed && max(side).over(byKey)
      val refreshed = col("__refreshed")
      dated.withColumn("__refreshed", lit(true))
        .unionByName(existing.withColumn("__refreshed", lit(false)))
        .withColumn("__in_refresh", held(refreshed))
        .withColumn("__in_table", held(!refreshed))
        .filter(refreshed || !col("__in_refresh"))
        .withColumn(TxTable.TagCol, when(refreshed && !col("__in_table"), "n").otherwise("u"))
        .drop("__refreshed", "__in_refresh", "__in_table")
        .sortWithinPartitions(
          (Seq(col("p_date"), col(TxTable.TagCol)) ++ keys.map(col)): _*)
    }
    // refreshed results must surface now, not after the 2 h TTL the
    // reference rides out (caching.py region invalidation)
    invalidate.foreach(_.invalidateAll())
  }
}
