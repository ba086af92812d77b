package graft.ops

import graft.SparkSpec
import graft.api.OhlcvReader
import graft.core.OhlcvFixture
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class OhlcvSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  lazy val fx: DataFrame = OhlcvFixture.ohlcvs(spark, nPairs = 4, rows = 1500).cache()
  lazy val dim: DataFrame = OhlcvFixture.symbolExchange(spark, nPairs = 4)

  private def key(df: DataFrame) =
    df.select(concat_ws("|", col("exchange"), col("base_id"), col("quote_id"),
      col("bucket").cast("long"), col("open"), col("high"), col("low"),
      col("close"), round(col("volume"), 6)))
      .collect().map(_.getString(0)).sorted.toSeq

  test("rollup hierarchy: 1m→5m→1h equals 1m→1h") {
    val via5m = CandleOps.rollupFrom(CandleOps.rollup(fx, 300L), 3600L)
    val direct = CandleOps.rollup(fx, 3600L)
    assert(key(via5m) == key(direct))
  }

  test("rollup candle invariants: high >= max(open, close), low <= min") {
    val r = CandleOps.rollup(fx, 3600L)
    val bad = r.filter(col("high") < greatest(col("open"), col("close")) ||
                       col("low") > least(col("open"), col("close"))).count()
    assert(bad == 0)
    // volume additivity across granularities
    val v1 = CandleOps.rollup(fx, 86400L).agg(sum("volume")).first().getDouble(0)
    val v2 = fx.agg(sum("volume")).first().getDouble(0)
    assert(math.abs(v1 - v2) < 1e-6)
  }

  test("7-day buckets align to the TimescaleDB origin (Monday 2000-01-03)") {
    val b = CandleOps.rollup(fx, 604800L)
      .select(dayofweek(col("bucket"))).distinct().collect().map(_.getInt(0)).toSet
    assert(b == Set(2)) // Spark dayofweek: 2 = Monday
  }

  test("OhlcvReader: limit clamp, desc-then-asc order, 4dp rounding") {
    val p = OhlcvReader.Params("bitfinex", "BASE2", "Q0", "1m",
      limit = 99999, asOf = java.sql.Timestamp.valueOf("2021-08-20 00:00:00"))
    val rows = OhlcvReader.read(fx, Map.empty, p).collect()
    assert(rows.length == OhlcvReader.maxLimit)
    val times = rows.map(_.getLong(0))
    assert(times.toSeq == times.sorted.toSeq)
  }

  test("OhlcvReader: on-the-fly 3h interval (declared-but-crashing in reference)") {
    val p = OhlcvReader.Params("bitfinex", "BASE2", "Q0", "3h",
      asOf = java.sql.Timestamp.valueOf("2021-08-20 00:00:00"))
    val rows = OhlcvReader.read(fx, Map.empty, p).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) % (3 * 3600 * 1000L) == 0))
  }

  test("OhlcvReader: empty_ts gap-fills the 97-minute holes with window averages") {
    val p = OhlcvReader.Params("bitfinex", "BASE2", "Q0", "1m",
      startMs = Some(1629244800000L), endMs = Some(1629255000000L),
      emptyTs = true, limit = 500)
    val filled = OhlcvReader.read(fx, Map.empty, p).collect()
    val noFill = OhlcvReader.read(fx, Map.empty, p.copy(emptyTs = false)).collect()
    assert(filled.length > noFill.length)
    // filled rows have volume == 0 (A7 semantics)
    val extra = filled.map(_.getLong(0)).toSet -- noFill.map(_.getLong(0)).toSet
    val fRows = filled.filter(r => extra.contains(r.getLong(0)))
    assert(fRows.nonEmpty && fRows.forall(_.getDouble(5) == 0.0))
    // grid continuity at 60s
    val ts = filled.map(_.getLong(0))
    assert(ts.zip(ts.tail).forall { case (a, b) => b - a == 60000L })
  }

  test("OhlcvReader: empty_ts spine extends to the requested end (trailing gap)") {
    val dataEndMs = 1629334740000L // fixture's last minute (1499)
    val endMs = dataEndMs + 600000L // 10 minutes past the last data row
    val p = OhlcvReader.Params("bitfinex", "BASE2", "Q0", "1m",
      startMs = Some(1629334000000L), endMs = Some(endMs),
      emptyTs = true, limit = 500)
    val filled = OhlcvReader.read(fx, Map.empty, p).collect()
    // the spine must reach the requested end, not stop at max(data) —
    // reference readers.py:214-219 (a live chart's trailing gap)
    assert(filled.last.getLong(0) == endMs)
    val trailing = filled.filter(_.getLong(0) > dataEndMs)
    assert(trailing.length == 10 && trailing.forall(_.getDouble(5) == 0.0))
    // the spine carries its own DESC LIMIT (readers.py:230-232)
    val limited = OhlcvReader.read(fx, Map.empty, p.copy(limit = 5)).collect()
    assert(limited.length == 5 && limited.forall(_.getDouble(5) == 0.0))
    assert(limited.map(_.getLong(0)).max == endMs)
  }

  test("OhlcvReader: identical reads within the TTL hit the cache; expiry recomputes") {
    import graft.api.{OhlcvReader, QueryCache}
    var now = 1000L
    val cache = new QueryCache(ttlSeconds = 7200L, clock = () => now)
    val p = OhlcvReader.Params("bitfinex", "BASE2", "Q0", "1h", limit = 20,
      asOf = java.sql.Timestamp.valueOf("2021-08-19 02:00:00"))
    val r1 = OhlcvReader.readCached(cache, fx, Map.empty, p)
    val n1 = r1.count()
    val r2 = OhlcvReader.readCached(cache, fx, Map.empty, p)
    // cache hit: the very same persisted DataFrame, no new plan built
    assert(r2 eq r1)
    // and the executed plan reads the in-memory relation, not the source
    assert(r2.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]))
    assert(r2.count() == n1)
    // different params -> different key -> a real recompute
    val r3 = OhlcvReader.readCached(cache, fx, Map.empty, p.copy(limit = 10))
    assert(!(r3 eq r1) && cache.size == 2)
    // TTL expiry -> recompute (old entry unpersisted lazily)
    now += 7201L
    val r4 = OhlcvReader.readCached(cache, fx, Map.empty, p)
    assert(!(r4 eq r1) && r4.count() == n1)
    cache.invalidateAll()
    assert(cache.size == 0)
  }

  test("commonBaseQuote selects pairs on all 3 exchanges") {
    val c = OhlcvAnalytics.commonBaseQuote(dim).collect()
    assert(c.map(r => (r.getString(0), r.getString(1))).toSet == Set(("BASE2", "Q0")))
  }

  test("isTradingRefresh marks stale keys false") {
    val asOf = lit("2021-08-19 12:00:00") // within 1 day of fixture end (~08-19 01:00)
    val refreshed = OhlcvAnalytics.isTradingRefresh(dim, fx, asOf)
    assert(refreshed.filter(col("is_trading")).count() == dim.count())
    val asOfLate = lit("2021-09-30 00:00:00")
    val stale = OhlcvAnalytics.isTradingRefresh(dim, fx, asOfLate)
    assert(stale.filter(col("is_trading")).count() == 0)
  }

  test("upsert + insertIgnore reproduce ON CONFLICT semantics") {
    val t0 = Seq(
      ("2021-08-18 00:00:00", "bitfinex", "BTC", "USD", 1.0, 2.0, 0.5, 1.5, 10.0)
    ).toDF("time", "exchange", "base_id", "quote_id", "open", "high", "low", "close", "volume")
      .withColumn("time", col("time").cast("timestamp"))
    val t1 = Seq(
      ("2021-08-18 00:00:00", "bitfinex", "BTC", "USD", 9.0, 9.0, 9.0, 9.0, 99.0),
      ("2021-08-18 00:01:00", "bitfinex", "BTC", "USD", 2.0, 3.0, 1.5, 2.5, 20.0)
    ).toDF("time", "exchange", "base_id", "quote_id", "open", "high", "low", "close", "volume")
      .withColumn("time", col("time").cast("timestamp"))

    val ignored = CandleOps.insertIgnore(t0, t1)
    assert(ignored.count() == 2)
    assert(ignored.filter(col("time") === "2021-08-18 00:00:00")
      .first().getAs[Double]("open") == 1.0) // first write wins

    val upserted = CandleOps.upsert(t0, t1)
    assert(upserted.count() == 2)
    assert(upserted.filter(col("time") === "2021-08-18 00:00:00")
      .first().getAs[Double]("open") == 9.0) // update wins
  }

  test("OhlcvReader: 1M calendar interval and limit guards") {
    val p = OhlcvReader.Params("bitfinex", "BASE2", "Q0", "1M",
      asOf = java.sql.Timestamp.valueOf("2021-09-01 00:00:00"))
    val rows = OhlcvReader.read(fx, Map.empty, p).collect()
    assert(rows.nonEmpty)
    // all buckets are first-of-month midnight
    assert(rows.forall { r =>
      val t = java.time.Instant.ofEpochMilli(r.getLong(0))
        .atZone(java.time.ZoneOffset.UTC)
      t.getDayOfMonth == 1 && t.getHour == 0
    })
    intercept[IllegalArgumentException] {
      OhlcvReader.read(fx, Map.empty, p.copy(limit = -1)).collect()
    }
    intercept[IllegalArgumentException] {
      OhlcvReader.read(fx, Map.empty, p.copy(emptyTs = true)).collect()
    }
  }

  test("AnalyticsReader: cutoffs and limit=-1 means unlimited (T2)") {
    import graft.api.AnalyticsReader
    import graft.SparkSpec.spark.implicits._
    val view = Seq(("a", 5.0), ("b", 50.0), ("c", -1.0), ("d", 20000.0))
      .toDF("k", "weekly_return_pct")
    val dflt = AnalyticsReader.readWr(view).collect()
    assert(dflt.map(_.getString(0)).toSeq == Seq("b", "a")) // cutoffs 0..10000
    val all = AnalyticsReader.readWr(view, None, None, limit = -1).collect()
    assert(all.length == 4)
    val one = AnalyticsReader.readWr(view, None, None, limit = 1).collect()
    assert(one.map(_.getString(0)).toSeq == Seq("d"))
  }

  test("saltedSum matches direct aggregation on a skewed key") {
    import graft.SparkSpec.spark.implicits._
    // 10k rows of one hot key + a few cold keys, exact integer values
    val skewed = spark.range(10000).select(lit("HOT").as("k"), lit(3L).as("v"))
      .unionByName(spark.range(10).select(concat(lit("c"), col("id")).as("k"), col("id").as("v")))
    val direct = skewed.groupBy($"k").agg(sum($"v").as("sum"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = graft.ops.Analytics.saltedSum(skewed, Seq($"k"), $"v", 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == direct)
    assert(salted("HOT") == 30000L)
  }
}
