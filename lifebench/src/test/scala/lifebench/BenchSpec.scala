package lifebench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives byte-identical inputs, another seed different ones") {
    def capture(seed: Long) = Gen.liveFiles(seed, Gen.liveDeliveries(seed, 5, 14), 14)
    assert(capture(7).map(_.getBytes("UTF-8").toSeq) === capture(7).map(_.getBytes("UTF-8").toSeq))
    assert(capture(7) !== capture(8))

    def pages(seed: Long) = {
      val b = Gen.backfillBatch(seed, 12, 3)
      val src = new Gen.PageSource(seed, 12, Set.empty)
      (b, b.tasks.map(t => src.fetchPage(t, t.startMs, 1000, "hist")))
    }
    assert(pages(7) === pages(7))
    assert(pages(7) !== pages(8))
  }

  test("a backfill batch has a fixed number of failing and re-fetched symbols") {
    (1 to 20).foreach { day =>
      val b = Gen.backfillBatch(11, 12, day)
      assert(b.failing.size === Gen.FailingKeys)
      assert(b.tasks.count(t => t.endMs - t.startMs > Gen.BackfillDayMs) === Gen.RefetchKeys)
    }
  }

  test("the page source pages from the cursor and fails the injected tasks") {
    val b = Gen.backfillBatch(5, 4, 1)
    val t = b.tasks.head
    val src = new Gen.PageSource(5, 4, Set((t.baseId, t.startMs)))
    intercept[java.io.IOException](src.fetchPage(t, t.startMs, 1000, "hist"))
    val ok = new Gen.PageSource(5, 4, Set.empty).fetchPage(t, t.startMs + 30, 1000, "hist")
    assert(ok.nonEmpty && ok.size <= 1000)
    assert(ok.head._1 >= t.startMs + 30 && ok.head._1 % Gen.MinuteMs === 0)
  }

  test("lagged deliveries arrive more than the 1 h hold late, others inside it") {
    val d = Gen.liveDeliveries(2, 4, 40)
    d.filter(_._1 > 0).foreach { case (file, e, lagged) =>
      val deliveredFrom = Gen.LeadMinutes * Gen.MinuteMs + (file - 1) * Gen.FileMs
      val lateMs = deliveredFrom + Gen.FileMs - (e.tsMs - Gen.T0Ms)
      if (lagged) assert(lateMs > 60 * Gen.MinuteMs) else assert(lateMs <= 30 * Gen.MinuteMs + Gen.FileMs)
    }
    assert(d.exists(x => x._1 > 0 && x._3) && d.exists(x => x._1 > 0 && !x._3))
  }

  test("a live file is one 10 s trigger of updates; the snapshot one per key and minute") {
    val keys = 12
    val d = Gen.liveDeliveries(3, 4, 31)
    val onTime = d.filter(x => x._1 > 0 && !x._3).groupBy(_._1).values.map(_.size)
    val perFile = onTime.sum.toDouble / 30
    assert(perFile >= keys * Gen.MinUpdates * 0.85 && perFile <= keys * (Gen.MinUpdates + 2) * 1.1)
    val snap = d.filter(_._1 == 0).map(x => (x._2.exchange, x._2.base, x._2.tsMs / Gen.MinuteMs))
    assert(snap.size === snap.distinct.size && snap.size > keys * (Gen.LeadMinutes - 31))
  }
}

class StatsSpec extends AnyFunSuite {
  private val oneTo100 = (1 to 100).map(_.toDouble)

  test("nearest-rank percentiles") {
    assert(Stats.percentile(oneTo100, 50) === 50.0)
    assert(Stats.percentile(oneTo100, 90) === 90.0)
    assert(Stats.percentile(oneTo100, 99.9) === 100.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) === 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
    assert(Stats.percentile(Nil, 50).isNaN)
  }

  test("the tail is the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tail(oneTo100) === Some((90.0, 90.0, 100)))
    assert(Stats.tail((1 to 200).map(_.toDouble)) === Some((95.0, 190.0, 200)))
    assert(Stats.tail((1 to 10000).map(_.toDouble)) === Some((99.9, 9990.0, 10000)))
    assert(Stats.tail((1 to 40).map(_.toDouble)) === Some((75.0, 30.0, 40)))
    assert(Stats.tail((1 to 39).map(_.toDouble)) === None)
    assert(Stats.beyond(100, 90) === 10)
  }

  test("self time subtracts the interval children cover, counted once") {
    val spans = Seq(
      Span(1, 0, "bench", "root", 1, 0, 100),
      Span(2, 1, "storage", "a", 1, 10, 40),
      Span(3, 1, "storage", "b", 1, 30, 50),  // overlaps a
      Span(4, 1, "api", "c", 1, 90, 120),     // runs past the parent
      Span(5, 2, "ingest", "d", 1, 20, 25))
    val self = Trace.selfSeconds(spans)
    assert(self("bench") === (100 - 40 - 10) / 1e9)
    assert(self("storage") === ((30 - 5) + 20) / 1e9)
    assert(self("api") === 30 / 1e9)
    assert(self("ingest") === 5 / 1e9)
  }
}

class ChecksSpec extends AnyFunSuite {
  private def row(k: Int, m: Long) =
    Row1m("binance", s"B$k", "USDT", Gen.T0Ms + m * Gen.MinuteMs, 10.0 + m, 12.0 + m, 9.0, 11.0, m / 16.0)
  private val rows = for (k <- 0 until 3; m <- 0L until 600L) yield row(k, m)
  private val table = Checks.keyed(rows)

  test("diff passes an exact table and catches a planted wrong, missing, extra or duplicate row") {
    val exact = table.toSeq
    assert(Checks.diff(table, exact).failures === 0)
    val (k0, v0) = exact.head
    val wrong = (k0, v0.copy(_4 = v0._4 + 0.0001)) +: exact.tail
    assert(Checks.diff(table, wrong).wrong === Seq(k0))
    assert(Checks.diff(table, exact.tail).missing === Seq(k0))
    val extraKey = (k0._1, k0._2, k0._3, k0._4 + 1L)
    assert(Checks.diff(table, (extraKey, v0) +: exact).extra === Seq(extraKey))
    assert(Checks.diff(table, exact.head +: exact).duplicates === 1)
  }

  test("the reference rollup follows the program's buckets and catches a planted wrong row") {
    val hourly = Checks.rollup(table, 3600L)
    assert(hourly.size === 3 * 10)
    val first = hourly(("binance", "B0", "USDT", Checks.bucketMs(Gen.T0Ms, 3600L)))
    assert(first === ((10.0, 12.0 + 59, 9.0, 11.0, (0 until 60).map(_ / 16.0).sum)))
    val weekly = Checks.bucketMs(Gen.T0Ms, 604800L)
    assert(weekly <= Gen.T0Ms && java.time.Instant.ofEpochMilli(weekly).toString.startsWith("2021-08-16"))
    val planted = hourly.toSeq.updated(5, (hourly.toSeq(5)._1, (0.0, 0.0, 0.0, 0.0, 0.0)))
    assert(Checks.diff(hourly, planted).wrong.size === 1)
    assert(Checks.checksum(planted) !== Checks.checksum(hourly))
    assert(Checks.checksum(hourly.toSeq.reverse) === Checks.checksum(hourly))
  }

  test("the reference closed-candle set keeps the latest message and stops at the horizon") {
    val e1 = Gen.Event(Gen.T0Ms + 5000, "bitfinex", "C0", "USD", 1, 2, 0.5, 1.5, 3)
    val e2 = e1.copy(tsMs = Gen.T0Ms + 40000, close = 1.7)
    val late = e1.copy(tsMs = Gen.T0Ms + 70000)
    val ref = Checks.referenceClosed(Seq(e2, e1, late), Gen.T0Ms + 120000)
    assert(ref === Map(("bitfinex", "C0", "USD", Gen.T0Ms) -> ((1.0, 2.0, 0.5, 1.7, 3.0)),
      ("bitfinex", "C0", "USD", Gen.T0Ms + 60000) -> ((1.0, 2.0, 0.5, 1.5, 3.0))))
    assert(Checks.referenceClosed(Seq(e2, late), Gen.T0Ms + 119999).size === 1)
    val committed = ref.toSeq.map { case (k, v) => (k, v.copy(_4 = 1.5)) }
    assert(Checks.diff(ref, committed).wrong.size === 1)
  }

  test("the calendar-month reference splits months and catches a planted wrong row") {
    val aug = java.time.Instant.parse("2021-08-01T00:00:00Z").toEpochMilli
    val sep = java.time.Instant.parse("2021-09-01T00:00:00Z").toEpochMilli
    assert(CatalogWorkload.monthMs(sep - 1) === aug && CatalogWorkload.monthMs(sep) === sep)
    val monthly = Checks.rollupBy(table ++ Checks.keyed(Seq(row(0, 21000))), CatalogWorkload.monthMs)
    assert(monthly.keySet.map(_._4) === Set(aug, sep))
    val planted = monthly.toSeq.map { case (k, v) => if (k._4 == sep) (k, v.copy(_2 = v._2 + 1)) else (k, v) }
    assert(Checks.diff(monthly, planted).wrong.size === 1)
  }

  test("a response must be 200, at most 500 rows and strictly time-ascending") {
    def body(times: Seq[Long]) =
      times.map(t => s"""{"time":$t,"open":1.0,"high":1.0,"low":1.0,"close":1.0,"volume":0.0}""").mkString("[", ",", "]")
    assert(Checks.response(200, body(Seq(1, 2, 3))) === Right(3))
    assert(Checks.response(200, "[]") === Right(0))
    assert(Checks.response(200, body(Seq(1, 3, 2))).isLeft)
    assert(Checks.response(200, body(Seq(1, 1))).isLeft)
    assert(Checks.response(200, body(1L to 501L)).isLeft)
    assert(Checks.response(500, """{"detail":"boom"}""").isLeft)
  }
}
