package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * At 100 TB these reads become partitioned-table scans; everything
  * downstream only relies on the logical schema, so swapping the
  * physical layout (partitioned parquet/Delta, bucketed tables) is a
  * loader-only change.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      // When events.ts is physical INT64 TIMESTAMP(NANOS) — which
      // Spark's µs TimestampType cannot represent — read it as a
      // nanosecond epoch Long; events() adapts to whichever physical
      // type the file actually carries. No-op for µs-encoded files.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events` with `ts_ns` (nanosecond epoch Long) and `ts`
    * (TimestampType, µs precision). Schema-adaptive: the driver has
    * shipped the file both as INT64 TIMESTAMP(NANOS) (read as a Long
    * via nanosAsLong, truncated to µs for `ts`) and as timestamp[us]
    * (read natively; `ts_ns` derived as µs×1000). Either way the
    * session is UTC, so both encodings agree with the oracle's
    * `epoch_ns(ts)` / naive-as-UTC reading of the same parquet.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ => // TimestampType or TIMESTAMP_NTZ (timestamp[us] file)
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")

  /** Fan a scan out to full core parallelism before a CPU-bound
    * per-row kernel (md5 shingling, winnowing, vector math). A small
    * parquet file is one row group = ONE task, so without this the
    * kernel runs single-threaded no matter how many cores exist; the
    * round-robin shuffle costs O(input bytes) once and unlocks
    * cores× speedup. At 100 TB the scan already has ≥ cores splits
    * and this is an identity — no extra exchange.
    *
    * File-scan-only: plans with no `HadoopFsRelation` underneath
    * (in-memory fixtures, `spark.range`, LocalRelation) are returned
    * untouched — their partition count isn't knowable from metadata
    * alone and probing it would force physical planning. Callers with
    * a CPU-bound kernel over an in-memory source should repartition
    * explicitly.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    estimatedScanSplits(df) match {
      case Some(splits) if splits < target => df.repartition(target)
      case _                               => df
    }
  }

  /** Estimate how many input splits the scan under `df` will produce,
    * from file metadata alone — no physical planning, no RDD
    * materialization, AQE untouched. Mirrors Spark's own
    * `FilePartition.maxSplitBytes` binning: splits ≈
    * ceil(totalBytes / min(maxPartitionBytes, max(openCost,
    * totalBytes/parallelism))). `None` when the plan has no file
    * relation (in-memory fixtures) — nothing to estimate.
    *
    * `location.sizeInBytes` is the PRE-pruning footprint: partition
    * pruning, pushed filters, and per-file open-cost padding are not
    * modeled, so the estimate can only over-count splits relative to
    * Spark's actual `FilePartition` binning of a pruned scan. Callers
    * apply fanOut to raw scans before any filter (all current call
    * sites), where over-counting errs toward skipping a repartition
    * that the real split count would also skip.
    */
  private[graft] def estimatedScanSplits(df: DataFrame): Option[Long] = {
    val conf  = df.sparkSession.sessionState.conf
    val sizes = df.queryExecution.analyzed.collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location.sizeInBytes
    }
    val bytes = sizes.sum
    if (sizes.isEmpty || bytes <= 0L) None
    else Some {
      val parallelism  = df.sparkSession.sparkContext.defaultParallelism.toLong
      val bytesPerCore = bytes / math.max(1L, parallelism)
      val maxSplit = math.min(conf.filesMaxPartitionBytes,
        math.max(conf.filesOpenCostInBytes, bytesPerCore))
      (bytes + maxSplit - 1) / math.max(1L, maxSplit)
    }
  }
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `events` deduplicated to one row per (event_type, ts): the driver
    * generator may emit timestamp collisions, and every time-series
    * operator downstream (rollup, lag, SMA) needs a keyed series with a
    * unique time axis — mirrors the reference's PK-enforced uniqueness
    * on (exchange, base_id, quote_id, time)
    * (reference scripts/database/init/create.sql:54-55).
    * Deterministic: value of the max-event_id row wins (latest-write-wins,
    * like the reference WS updater fetchers/ws/bitfinex.py:202-217).
    */
  def eventSeries(s: SparkSession, d: String): DataFrame =
    eventSeriesOver(events(s, d))

  /** [[eventSeries]] over an already-loaded (possibly re-partitioned)
    * events frame — callers that pre-partition on the series key pass
    * `events(s, d).repartition($"event_type")` so this aggregation and
    * every downstream keyed stage reuse one exchange.
    */
  def eventSeriesOver(ev: DataFrame): DataFrame = eventSeriesOverWith(ev)

  /** [[eventSeriesOver]] with extra aggregates riding the SAME
    * per-(event_type, ts) dedup stage — the one-scan fusion hook for
    * callers that also need raw-row aggregates (e.g. the indicator
    * volume sum): the latest-write-wins tiebreak lives HERE, once,
    * however many aggregates share the pass.
    */
  def eventSeriesOverWith(ev: DataFrame, extra: Column*): DataFrame =
    ev.groupBy(col("event_type"), col("ts"))
      .agg(
        max_by(col("value"), col("event_id")).as("value"),
        (max_by(col("user_id"), col("event_id")).as("user_id") +: extra): _*)
}
