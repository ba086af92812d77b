package graft.ingest

import graft.core.Schemas
import graft.ops.CandleOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Historical-backfill job — the batch equivalent of the reference's
  * Celery/Redis producer-consumer choreography (SURVEY §3.3; reference
  * fetchers/rest/bitfinex.py:492-589): the Redis to-fetch set becomes
  * a task DataFrame, the asyncio gather becomes partition parallelism,
  * and the COPY-or-upsert sink becomes dedup + append with an error
  * side-channel (S10, ohlcvs_errors).
  *
  * The exchange HTTP call is pluggable ([[Fetcher]]); tests inject a
  * deterministic local fetcher. Scale: tasks are (symbol × day-range)
  * rows, repartitioned so each partition holds a bounded number of
  * fetches — 1000 executors run 1000 fetch batches concurrently, and
  * a failed task emits an error row instead of failing the job.
  */
object Backfill {

  /** One fetch task (≙ `symbol;;start;;end;;1m;;limit;;sort` params,
    * fetchers/rest/bitfinex.py:492-538).
    */
  case class Task(exchange: String, baseId: String, quoteId: String,
                  startMs: Long, endMs: Long)

  /** Pluggable candle source: returns (ts_ms, o, h, l, c, v) rows for
    * the task range, or throws (→ error row).
    */
  trait Fetcher extends Serializable {
    def fetch(t: Task): Seq[(Long, Double, Double, Double, Double, Double)]
  }

  /** Expand (key, range) into per-day tasks (≙ Bittrex
    * list_days_fromto, common/helpers/datetimehelpers.py:115-128),
    * distributed — no driver-side loops.
    */
  def dayTasks(spark: SparkSession, keys: Seq[(String, String, String)],
               startMs: Long, endMs: Long): DataFrame = {
    import spark.implicits._
    val days = ((endMs - startMs) / 86400000L).toInt + 1
    keys.toDF("exchange", "base_id", "quote_id")
      .crossJoin(spark.range(days).select(col("id").as("day")))
      .select(col("exchange"), col("base_id"), col("quote_id"),
        (lit(startMs) + col("day") * 86400000L).as("start_ms"),
        least(lit(startMs) + (col("day") + 1) * 86400000L, lit(endMs)).as("end_ms"))
      .filter(col("start_ms") < col("end_ms"))
  }

  private val resultSchema: StructType = StructType(
    Schemas.ohlcvs.fields ++ Array(
      StructField("error", StringType, nullable = true),
      StructField("err_exchange", StringType, nullable = true),
      StructField("err_symbol", StringType, nullable = true)))

  /** Run the fetch over task partitions; returns (candles, errors).
    *
    * Eager: the fetch runs here, in one job, and its rows are held in
    * a local checkpoint that both returned frames read. The commit's
    * partition probe, its staged write and the errors write then
    * reuse the fetched rows, so each task is fetched exactly once per
    * call (≙ one pass over the reference's Redis to-fetch set) — a
    * lazy lineage would re-fetch, and spend rate-limit weight, once
    * per downstream action.
    */
  def run(tasks: DataFrame, fetcher: Fetcher,
          parallelism: Int = 32): (DataFrame, DataFrame) = {
    val enc = RowEncoder.encoderFor(resultSchema)
    val raw = tasks.repartition(parallelism).mapPartitions { it =>
      it.flatMap { r =>
        val t = Task(r.getAs[String]("exchange"), r.getAs[String]("base_id"),
          r.getAs[String]("quote_id"), r.getAs[Long]("start_ms"), r.getAs[Long]("end_ms"))
        try fetcher.fetch(t).iterator.map { case (ts, o, h, l, c, v) =>
          Row(new java.sql.Timestamp(ts), t.exchange, t.baseId, t.quoteId,
            o, h, l, c, v, null, null, null)
        } catch {
          case e: Exception =>
            Iterator.single(Row(new java.sql.Timestamp(t.startMs), t.exchange,
              t.baseId, t.quoteId, 0d, 0d, 0d, 0d, 0d,
              String.valueOf(e.getMessage), t.exchange, s"${t.baseId}${t.quoteId}"))
        }
      }
    }(enc).localCheckpoint(true)
    val candles = CandleOps.dedup(
      raw.filter(col("error").isNull).select(Schemas.ohlcvs.fieldNames.map(col): _*))
    val errors = raw.filter(col("error").isNotNull)
      .select(col("err_exchange").as("exchange"), col("err_symbol").as("symbol"),
        col("time").as("start_date"), lit(null).cast("timestamp").as("end_date"),
        lit("1m").as("time_frame"), lit(null).cast("string").as("ohlcv_section"),
        lit(null).cast("short").as("resp_status_code"),
        lit("FetchError").as("exception_class"), col("error").as("exception_message"))
    (candles, errors)
  }
}
