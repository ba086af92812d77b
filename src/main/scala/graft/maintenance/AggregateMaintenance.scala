package graft.maintenance

import graft.core.Schemas
import graft.ops.{CandleOps, OhlcvAnalytics}
import graft.storage.TxTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Materialized-view maintenance — the engine piece TimescaleDB gave
  * the reference for free (continuous aggregates + refresh policies,
  * create.sql:105-223, :345-383) and Spark does not have. SURVEY §4
  * marks this as the core custom engineering.
  *
  * Storage-agnostic: jobs take/return DataFrames; [[writePartitioned]]
  * shows the 100 TB layout (partition by bucket date → incremental
  * refresh rewrites only the touched date partitions via dynamic
  * partition overwrite, never the whole table).
  */
object AggregateMaintenance {

  /** Full populate (reference scripts/database/once/populate_agg.sql):
    * all 8 rollups from the base table.
    */
  def fullPopulate(base: DataFrame): Map[String, DataFrame] =
    Schemas.rollupIntervals.map { iv =>
      iv -> CandleOps.rollup(base, Schemas.intervalSeconds(iv))
    }.toMap

  /** Incremental refresh of one rollup (reference policy: every width
    * w, recompute window [now−3w, now−w] — create.sql:345-383).
    * Buckets inside the window are replaced with freshly-computed
    * ones; rows outside pass through untouched.
    */
  def incrementalRefresh(existing: DataFrame, base: DataFrame,
                         widthSec: Long, asOf: Column): DataFrame = {
    val lo = bucketOf(asOf - expr(s"interval ${3 * widthSec} seconds"), widthSec)
    val fresh = CandleOps.rollup(
      base.filter(col("time") >= lo), widthSec)
    existing.filter(col("bucket") < lo).unionByName(fresh)
  }

  private def bucketOf(t: Column, widthSec: Long): Column =
    graft.ops.TimeSeries.timeBucket(t.cast("timestamp"), widthSec,
      CandleOps.originFor(widthSec))

  /** Change-feed-driven refresh: recompute exactly the rollup buckets
    * touched by the base table's appends since `sinceV`
    * ([[graft.storage.TxTable.readChangesSince]] — the feed reads only
    * the append-commit files of the version range, so discovering
    * WHAT to refresh is O(new data) even when the base table is
    * 100 TB; the recompute itself then prunes to those buckets). This
    * closes the loop the time-window policy approximates: instead of
    * "recompute the trailing 3 widths and hope lag fits", the refresh
    * is driven by exactly what landed, however stale — a backfill
    * append from last year refreshes last year's buckets and nothing
    * else. Returns the refreshed rollup plus the version to hand back
    * as the next `sinceV` (the feed's cursor).
    */
  def refreshFromFeed(existing: DataFrame, base: graft.storage.TxTable,
                      sinceV: Long, widthSec: Long): (DataFrame, Long) = {
    val untilV = base.version
    val feed = base.readChangesSince(sinceV, untilV)
    (refreshBuckets(existing, base.readSnapshot(base.snapshot(untilV)), feed,
      widthSec), untilV)
  }

  /** Refresh exactly the rollup buckets a micro-batch touched: the
    * streaming-side analog of the CAgg refresh policy, for use inside
    * foreachBatch after appending `batch` to the base table. Buckets
    * not touched by the batch pass through unchanged, so the cost per
    * trigger is O(batch), not O(table).
    */
  def refreshBuckets(existing: DataFrame, base: DataFrame, batch: DataFrame,
                     widthSec: Long): DataFrame = {
    // ONE driver action per trigger: the micro-batch's distinct touched
    // buckets are O(batch span / width) — a handful of timestamps, the
    // same legitimate driver state as broadcast-join build sides. With
    // the set in hand, both the base prune and the bucket membership
    // tests become literal predicates (codegen'd, file-stats-skippable,
    // partition-prunable), replacing a separate bounds job plus two
    // broadcast joins that each re-evaluated `touched`.
    val touched = batch
      .select(bucketOf(col("time"), widthSec).as("bucket")).distinct()
      .collect().map(_.getTimestamp(0))
    if (touched.isEmpty) return existing
    val (lo, hi) = (touched.min, touched.max)
    val pruned = base.filter(col("time") >= lit(lo) &&
      col("time") < lit(hi) + expr(s"interval $widthSec seconds"))
    val fresh = CandleOps.rollup(
      pruned.filter(bucketOf(col("time"), widthSec).isInCollection(touched.toIndexedSeq)),
      widthSec)
    existing.filter(!col("bucket").isInCollection(touched.toIndexedSeq))
      .unionByName(fresh)
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

  /** The 100 TB write path: date-partitioned parquet with dynamic
    * partition overwrite, so refresh jobs touch only changed dates.
    * Sort within partitions by key+time for parquet min/max skipping
    * of the composite-key point lookups (replaces the reference's
    * B-tree indexes, create.sql:76-83).
    */
  def writePartitioned(df: DataFrame, path: String, timeCol: String = "bucket",
                       invalidate: Seq[graft.api.QueryCache] = Nil): Unit = {
    df.withColumn("p_date", to_date(col(timeCol)))
      .repartition(col("p_date"))
      .sortWithinPartitions(
        (Seq("p_date") ++ CandleOps.keyCols :+ timeCol).map(col): _*)
      .write
      .partitionBy("p_date")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)
    // refreshed results must surface now, not after the 2 h TTL the
    // reference rides out (caching.py region invalidation)
    invalidate.foreach(_.invalidateAll())
  }

  /** [[writePartitioned]] through a transaction log: replaces exactly
    * the date partitions `df` covers, conflict-checked against
    * concurrent appends (a streaming batch landing mid-refresh makes
    * this retry and fold it in — TxLog.scala). This is the refresh
    * write path to pair with [[graft.streaming.CandleStream.runPipelineTx]];
    * plain [[writePartitioned]] stays for single-writer bulk jobs.
    */
  def writePartitionedTx(df: DataFrame, table: TxTable,
                         timeCol: String = "bucket",
                         invalidate: Seq[graft.api.QueryCache] = Nil): Unit = {
    if (table.version < 0) {
      table.append(df.withColumn("p_date", to_date(col(timeCol))))
      invalidate.foreach(_.invalidateAll()); return
    }
    // `dated` is retry-invariant (it never depends on `existing`) but
    // is consumed by the partition probe, the staged write and every
    // conflict retry — without the checkpoint a refresh rollup's full
    // lineage recomputes per consumer (checkpoint-after-aggregation
    // rule; the refresh output is post-aggregation).
    val dated = df.withColumn("p_date", to_date(col(timeCol))).localCheckpoint(false)
    val parts = table.touchedPartitions(dated)
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
    // same contract as writePartitioned: refreshed results surface now
    invalidate.foreach(_.invalidateAll())
  }
}
