package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Page server with the real API's shape: at most `limit` rows from
  * `startMs`, one per minute, within the symbol's listed range.
  * Records every (start, limit, section) request in a JVM-static log
  * (local-mode executors share the JVM; closure serialization would
  * otherwise hand them a private copy of an instance field).
  */
class FakePagedApi(dataStart: Long, dataEnd: Long) extends RestCursors.PageFetcher {
  def requests: java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, String)] =
    FakePagedApi.requests
  override def fetchPage(t: Backfill.Task, startMs: Long, limit: Int, section: String) = {
    requests.add((startMs, limit, section))
    val from = math.max(startMs, dataStart)
    (from until dataEnd by 60000L).take(limit).map { ts =>
      val p = (ts / 60000 % 100) / 10.0 + 100.0
      (ts, p, p + 1, p - 1, p + 0.5, 1.25)
    }
  }
}

object FakePagedApi {
  val requests = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int, String)]
}

class BackfillSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  /** Deterministic fake exchange: one candle per minute; the
    * ("bitfinex","BAD","X") key always fails.
    */
  object FakeExchange extends Backfill.Fetcher {
    override def fetch(t: Backfill.Task) = {
      if (t.baseId == "BAD") throw new RuntimeException("HTTP 429 rate limited")
      (t.startMs until t.endMs by 60000L).map { ts =>
        val p = (ts / 60000 % 100) / 10.0 + 100.0
        (ts, p, p + 1, p - 1, p + 0.5, 1.25)
      }
    }
  }

  test("dayTasks expands keys x days distributively") {
    val tasks = Backfill.dayTasks(spark,
      Seq(("bitfinex", "BTC", "USD"), ("binance", "ETH", "USD")),
      0L, 3 * 86400000L)
    assert(tasks.count() == 2 * 3)
    assert(tasks.agg(max("end_ms")).first().getLong(0) == 3 * 86400000L)
  }

  test("backfill fetches, dedups, appends first-write-wins, and reports errors") {
    val tasks = Backfill.dayTasks(spark,
      Seq(("bitfinex", "BTC", "USD"), ("bitfinex", "BAD", "X")),
      0L, 86400000L)
    // pre-existing row at minute 0 with different values: must survive
    val existing = Seq(("1970-01-01 00:00:00", "bitfinex", "BTC", "USD",
        7.0, 7.0, 7.0, 7.0, 7.0))
      .toDF("time", "exchange", "base_id", "quote_id", "open", "high", "low", "close", "volume")
      .withColumn("time", col("time").cast("timestamp"))

    // Main.backfill's sink: insertIgnore into a TxTable first seeded with `existing`
    val t = new graft.storage.TxTable(spark, java.nio.file.Files.createTempDirectory("bf").toString)
    val (candles, errors) = Backfill.run(tasks, FakeExchange)
    Seq(existing, candles).foreach(df => t.insertIgnore(df.withColumn("p_date",
      to_date(col("time"))), Seq("exchange", "base_id", "quote_id", "time")))
    val table = t.read()
    assert(table.count() == 1440) // 1 day of minutes, dup with existing ignored
    assert(table.filter(col("time") === "1970-01-01 00:00:00")
      .first().getAs[Double]("open") == 7.0) // first write wins
    val err = errors.collect()
    assert(err.length == 1)
    assert(err.head.getAs[String]("exchange") == "bitfinex")
    assert(err.head.getAs[String]("symbol") == "BADX")
    assert(err.head.getAs[String]("exception_message").contains("429"))
  }

  test("bitfinex cursor pager == day-task paging rows; hist/last switch at asOf-60s") {
    val end = 3 * 86400000L
    FakePagedApi.requests.clear()
    val api = new FakePagedApi(0L, end)
    // asOf inside the range: the walk must flip to the `last` section
    // for the final minute (make_ohlcv_url delta>60000 rule)
    val asOf = end + 30000L
    val fetcher = RestCursors.bitfinex(api, asOfMs = asOf, limit = 1000)
    val tasks = Seq(("bitfinex", "BTC", "USD")).foldLeft(
      Backfill.dayTasks(spark, Seq(("bitfinex", "BTC", "USD")), 0L, end))((df, _) => df)
    // one task covering the whole range (cursor paging replaces day tasks)
    val oneTask = Seq(("bitfinex", "BTC", "USD", 0L, end))
      .toDF("exchange", "base_id", "quote_id", "start_ms", "end_ms")
    val (viaCursor, _) = Backfill.run(oneTask, fetcher, parallelism = 2)
    val (viaDays, _) = Backfill.run(tasks, FakeExchange, parallelism = 2)
    assert(viaCursor.count() == 3 * 1440)
    assert(viaCursor.unionByName(viaDays).distinct().count() == viaDays.distinct().count(),
      "cursor paging must produce exactly the day-task rows")
    val reqs = api.requests.toArray(Array.empty[(Long, Int, String)])
    assert(reqs.forall(_._2 == 1000))
    // pages advance by the last returned ts; sections are hist until
    // the cursor is within 60s of asOf
    assert(reqs.count(_._3 == "last") == reqs.count(r => asOf - r._1 <= 60000L))
    assert(reqs.exists(_._3 == "hist"))
  }

  test("cursor advance skips a 60000*limit window on empty pages (no wedge)") {
    // data only exists in the last day of a 3-day range: early pages
    // are empty and must jump, not spin
    val end = 3 * 86400000L
    FakePagedApi.requests.clear()
    val api = new FakePagedApi(2 * 86400000L, end)
    val fetcher = RestCursors.bitfinex(api, asOfMs = end + 86400000L, limit = 500)
    val got = fetcher.fetch(Backfill.Task("bitfinex", "BTC", "USD", 0L, end))
    assert(got.size == 1440)
    val reqs = api.requests.toArray(Array.empty[(Long, Int, String)])
    // empty pages at 0 and 0+500*60000: the second empty page lands
    // inside day 2's data, then data pages take over
    assert(reqs.length < 12, s"cursor must jump on empty pages, made ${reqs.length} requests")
    assert(reqs.map(_._1).toSeq == reqs.map(_._1).toSeq.sorted, "cursor must only move forward")
  }

  test("binance weight budget throttles at the window edge with the remainder wait") {
    var now = 0.0
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Double]
    val budget = new RestCursors.WeightBudget(limit = 5, periodSec = 60.0,
      clock = () => now, sleeper = s => { sleeps += s; now += s + 1e-3 })
    (1 to 5).foreach(_ => budget.check(1)) // pool drains at t=0
    budget.check(1) // 6th must wait out the window
    assert(sleeps.size == 1)
    assert(math.abs(sleeps.head - 60.0) < 1e-9, s"wait must be the period remainder, got ${sleeps.head}")
    // after the reset the pool refills: four more pass without sleeping
    (1 to 4).foreach(_ => budget.check(1))
    assert(sleeps.size == 1)
  }

  test("GCRA: initial burst up to rate, then evenly spaced grants of period/rate") {
    var now = 0.0
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Double]
    // rate 2 per 60s: increment 30s, burst tolerance = one period
    val g = new RestCursors.Gcra(rate = 2, periodSec = 60.0,
      clock = () => now, sleeper = s => { sleeps += s; now += s })
    g.acquire(); g.acquire() // burst: tat runs ahead up to the period
    assert(sleeps.isEmpty, "burst within the period must not sleep")
    g.acquire() // tat - now == period: must wait one increment
    assert(sleeps.toSeq == Seq(30.0), s"got $sleeps")
    g.acquire()
    assert(sleeps.toSeq == Seq(30.0, 30.0), "steady state spaces by period/rate")
    // idle for a full period: burst capacity restores
    now += 120.0
    sleeps.clear()
    g.acquire(); g.acquire()
    assert(sleeps.isEmpty, "idle time restores the burst allowance")
  }

  test("bitfinex pager conforms every page request to the GCRA limiter") {
    val end = 86400000L
    FakePagedApi.requests.clear()
    val api = new FakePagedApi(0L, end)
    var now = 0.0
    var acquires = 0
    val limiter = new RestCursors.Gcra(rate = 85, periodSec = 60.0,
      clock = () => now, sleeper = s => now += s) {
      override def acquire(): Unit = { acquires += 1; super.acquire() }
    }
    val fetcher = RestCursors.bitfinex(api, asOfMs = end + 86400000L,
      limit = 500, limiter = limiter)
    val got = fetcher.fetch(Backfill.Task("bitfinex", "BTC", "USD", 0L, end))
    assert(got.size == 1440)
    assert(acquires == api.requests.size,
      "every page request must pass the limiter first")
    assert(acquires >= 3) // 1440 minutes at limit 500 needs >= 3 pages
  }

  test("throttled wrapper rate-limits bittrex day-task fetches at 55/min") {
    var now = 0.0
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Double]
    val limiter = new RestCursors.Gcra(rate = RestCursors.BittrexRatePerMin,
      periodSec = 60.0, clock = () => now, sleeper = s => { sleeps += s; now += s })
    var fetches = 0
    val inner = new Backfill.Fetcher {
      def fetch(t: Backfill.Task) = { fetches += 1; Seq((t.startMs, 1d, 1d, 1d, 1d, 1d)) }
    }
    val f = RestCursors.throttled(inner, limiter)
    // 56 day-tasks: the 56th exceeds the burst and must wait one increment
    (0 until 56).foreach(i =>
      f.fetch(Backfill.Task("bittrex", "BTC", "USD", i * 86400000L, (i + 1) * 86400000L)))
    assert(fetches == 56)
    // 55 accumulated increments of 60/55 carry ~1e-14 of FP error, so
    // a grant on the exact burst boundary can "sleep" for femtoseconds
    // (the reference's float arithmetic behaves identically); only
    // material waits count.
    val real = sleeps.filter(_ > 1e-9)
    assert(real.size == 1, s"55 fit the burst window, the 56th waits: $sleeps")
    assert(math.abs(real.head - 60.0 / 55) < 1e-9)
  }

  test("binance pager charges 1 unit per klines request against the budget") {
    val end = 86400000L
    FakePagedApi.requests.clear()
    val api = new FakePagedApi(0L, end)
    var charges = 0
    val budget = new RestCursors.WeightBudget(limit = 1200, periodSec = 60.0,
      clock = () => { charges += 0; 0.0 }, sleeper = _ => fail("must not throttle")) {
      override def check(weight: Int): Unit = { charges += weight; super.check(weight) }
    }
    val fetcher = RestCursors.binance(api, budget, limit = 1000)
    val got = fetcher.fetch(Backfill.Task("binance", "BTC", "USDT", 0L, end))
    assert(got.size == 1440)
    assert(charges == api.requests.size, "every page request must be weight-checked first")
    assert(charges >= 2) // 1440 minutes at limit 1000 needs at least 2 pages
  }
}
