package lifebench

import graft.ingest.{Backfill, RestCursors}

/** SplitMix64: a small, fast, seedable generator whose output depends
  * only on the seed, so every input below is a pure function of it.
  */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; Rng.mix(s) }
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
}

object Rng {
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }
  /** Stateless hash of (seed, a, b). */
  def hash(seed: Long, a: Long, b: Long): Long =
    mix(mix(seed ^ mix(a + 0x632BE59BD9B4E019L)) + b)
}

/** One 1-minute candle row: key plus OHLCV. Prices are chosen (never
  * summed) by every rollup, and volumes are multiples of 1/16, so sums
  * are exact in binary floating point and outputs compare exactly.
  */
final case class Row1m(exchange: String, base: String, quote: String, ms: Long,
                       open: Double, high: Double, low: Double, close: Double, volume: Double)

object Gen {
  val MinuteMs = 60000L
  /** 2021-08-18T00:00Z, the program's own fixture epoch. */
  val T0Ms = 1629244800000L

  /** The candle a venue reports for key `k` at minute `m`, or None for
    * a venue gap (about 1 minute in 97).
    */
  def candle(seed: Long, k: Int, m: Long): Option[(Double, Double, Double, Double, Double)] = {
    val h = Rng.hash(seed, k.toLong, m)
    if (java.lang.Math.floorMod(h, 97L) == 0L) None
    else {
      val base = 50.0 + (k * 37 % 400)
      val o = base + ((h >>> 8) & 1023) / 100.0
      val c = base + ((h >>> 18) & 1023) / 100.0
      val hi = math.max(o, c) + ((h >>> 28) & 63) / 100.0
      val lo = math.min(o, c) - ((h >>> 34) & 63) / 100.0
      val v = ((h >>> 40) & 4095) / 16.0
      Some((o, hi, lo, c, v))
    }
  }

  // ---------------------------------------------------------------- backfill

  val BackfillExchange = "binance"
  def backfillKey(i: Int): (String, String, String) = (BackfillExchange, s"B$i", "USDT")

  /** Exchange REST page source for the Binance cursor pager: returns up
    * to `limit` rows from `startMs` (the venue ignores the task's end,
    * as the real endpoint does), with venue gaps, and throws for the
    * (symbol, task start) pairs in `failing` — those tasks become error
    * rows. Time spent and pages served are counted in [[Counters]].
    */
  final class PageSource(seed: Long, nKeys: Int, failing: Set[(String, Long)])
      extends RestCursors.PageFetcher {
    def fetchPage(t: Backfill.Task, startMs: Long, limit: Int,
                  section: String): Seq[RestCursors.Candle] = {
      val t0 = System.nanoTime()
      try {
        Counters.pages.incrementAndGet()
        if (failing.contains((t.baseId, t.startMs)))
          throw new java.io.IOException(s"HTTP 503 for ${t.baseId}${t.quoteId}")
        val k = t.baseId.stripPrefix("B").toInt
        require(k >= 0 && k < nKeys, s"unknown symbol ${t.baseId}")
        val m0 = (startMs + MinuteMs - 1) / MinuteMs
        val out = (m0 until m0 + limit).flatMap { m =>
          candle(seed, k, m).map { case (o, h, l, c, v) => (m * MinuteMs, o, h, l, c, v) }
        }
        Counters.rowsFetched.addAndGet(out.size)
        out
      } finally Counters.fetchNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  /** One backfill batch: a (symbol × range) task per symbol. The range
    * is the batch's new day, widened back by `RefetchMinutes` for
    * `RefetchKeys` symbols (a re-fetched range that dedups against
    * committed rows); `FailingKeys` symbols fail for the batch. The seed
    * picks which symbols, never how many, so every batch is the same size.
    */
  final case class BackfillBatch(tasks: Seq[Backfill.Task], failing: Set[(String, Long)])

  val BackfillDayMs: Long = 86400000L
  val RefetchMinutes = 180
  val RefetchKeys = 4
  val FailingKeys = 1

  def backfillBatch(seed: Long, nKeys: Int, dayIdx: Int): BackfillBatch = {
    val rng = new Rng(Rng.hash(seed, 0xBAC0L, dayIdx.toLong))
    val order = shuffled(rng, 0 until nKeys)
    val refetch = if (dayIdx > 0) order.take(RefetchKeys).toSet else Set.empty[Int]
    val dayStart = T0Ms + dayIdx * BackfillDayMs
    val tasks = (0 until nKeys).map { i =>
      val (e, b, q) = backfillKey(i)
      val start = if (refetch(i)) dayStart - RefetchMinutes * MinuteMs else dayStart
      Backfill.Task(e, b, q, start, dayStart + BackfillDayMs)
    }
    val failing = order.takeRight(FailingKeys).map(i => (tasks(i).baseId, tasks(i).startMs)).toSet
    BackfillBatch(tasks, failing)
  }

  /** Fisher-Yates shuffle driven by `rng`. */
  def shuffled[A](rng: Rng, xs: Seq[A]): IndexedSeq[A] = {
    val arr = xs.toArray[Any]
    var i = arr.length - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t; i -= 1 }
    arr.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** The rows a batch should commit: every candle in each non-failing
    * task's range.
    */
  def expectedRows(seed: Long, b: BackfillBatch): Seq[Row1m] =
    b.tasks.filterNot(t => b.failing.contains((t.baseId, t.startMs))).flatMap { t =>
      val k = t.baseId.stripPrefix("B").toInt
      (t.startMs / MinuteMs until t.endMs / MinuteMs).flatMap { m =>
        candle(seed, k, m).map { case (o, h, l, c, v) =>
          Row1m(t.exchange, t.baseId, t.quoteId, m * MinuteMs, o, h, l, c, v)
        }
      }
    }

  // ---------------------------------------------------------------- live capture

  val LiveExchanges = Seq("bitfinex", "binance", "bittrex")
  /** (exchange, base, quote, key index): every pair on all three venues. */
  def liveKeys(nPairs: Int): Seq[(String, String, String, Int)] =
    for { p <- 0 until nPairs; (e, ei) <- LiveExchanges.zipWithIndex }
      yield (e, s"C$p", if (p % 2 == 0) "USD" else "BTC", p * 3 + ei)

  /** One canonical WS message (the program's `Schemas.wsCandle` row). */
  final case class Event(tsMs: Long, exchange: String, base: String, quote: String,
                         open: Double, high: Double, low: Double, close: Double, volume: Double) {
    def json: String =
      s"""{"ts_ms":$tsMs,"exchange":"$exchange","base_id":"$base","quote_id":"$quote",""" +
        s""""open":$open,"high":$high,"low":$low,"close":$close,"volume":$volume}"""
  }

  /** Live capture shape. Every live file is one 10 s trigger's worth
    * of deliveries: each key sends [[MinUpdates]] to
    * `MinUpdates + 2` updates of its open 1-minute candle per 10 s
    * (SURVEY ST1: the same bucket is updated as trades occur; latest
    * wins), about 1.2 k messages per file over 201 keys. File 0 is the
    * subscribe snapshot the stream finds on start (a Bitfinex candle
    * subscription opens with one): the latest candle per key and minute
    * delivered in the `LeadMinutes` before the first live file. A run
    * releases live files in segments of `SegmentFiles`.
    */
  val LeadMinutes = 80
  val FileMs = 10000L
  val MinUpdates = 5
  val SegmentFiles = 8
  val LagExchange = "bittrex"
  /** Delay of the lagging feed: beyond the 1 h hold. */
  val LagMinutes = 70
  /** The lagging feed's messages for event minutes [LagFrom, LagUntil)
    * arrive `LagMinutes` late, so live files replay minutes 10-29.
    */
  val LagFrom = 5
  val LagUntil = 30
  def lagged(exchange: String, minute: Int): Boolean =
    exchange == LagExchange && minute >= LagFrom && minute < LagUntil

  /** The file a message delivered at `deliveryMs` (from T0) lands in. */
  def fileOf(deliveryMs: Long): Int =
    if (deliveryMs < LeadMinutes * MinuteMs) 0 else 1 + ((deliveryMs - LeadMinutes * MinuteMs) / FileMs).toInt

  /** Event minutes (from T0) the capture's deliveries can come from. */
  def liveMinutes(nFiles: Int): Int = LeadMinutes + ((nFiles - 1) * FileMs / MinuteMs).toInt + 1

  /** The `u`-th of `n` updates of key `k`'s candle in minute `m`: the
    * open stays, high/low/close/volume move; the last one is the final
    * candle.
    */
  private def update(seed: Long, k: Int, m: Long, u: Int, n: Int,
                     fin: (Double, Double, Double, Double, Double)): (Double, Double, Double, Double, Double) = {
    val (o, hi, lo, c, v) = fin
    if (u == n - 1) fin
    else {
      val h = Rng.hash(seed, 0x0FDA7EL + k, m * 64 + u)
      val cu = lo + ((h >>> 8) & 1023) / 1023.0 * (hi - lo)
      (o, math.max(o, cu), math.min(o, cu), cu, math.floor(v * (u + 1) / n * 16) / 16)
    }
  }

  /** Deliveries of the whole capture: (file index, event, lagged?). One
    * message in twenty arrives 5-30 minutes late (out of order, inside
    * the hold); the lagging feed as above; file 0 as described.
    */
  def liveDeliveries(seed: Long, nPairs: Int, nFiles: Int): Seq[(Int, Event, Boolean)] = {
    val keys = liveKeys(nPairs)
    val m0 = T0Ms / MinuteMs
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Event, Boolean)]
    for ((e, b, q, k) <- keys; mi <- 0 until liveMinutes(nFiles)) {
      val m = m0 + mi
      // a venue gap minute sends nothing
      candle(seed, k, m).foreach { fin =>
        val slotN = (0 until 6).map(s => MinUpdates + java.lang.Math.floorMod(Rng.hash(seed, 0x5107L + k, m * 8 + s), 3L).toInt)
        val n = slotN.sum
        var snapshot = Option.empty[(Event, Boolean)]
        var u = 0
        for (s <- 0 until 6; j <- 0 until slotN(s)) {
          val hj = Rng.hash(seed, k.toLong * 7 + 1, m * 64 + u)
          val stratum = FileMs / slotN(s)
          val ts = m * MinuteMs + s * FileMs + j * stratum + java.lang.Math.floorMod(hj, stratum)
          val (o, hi, lo, c, v) = update(seed, k, m, u, n, fin)
          val late = lagged(e, mi)
          val delayMin =
            if (late) LagMinutes
            else if (java.lang.Math.floorMod(hj >>> 40, 20L) == 0L) 5 + ((hj >>> 50) & 31).toInt % 26
            else 0
          val ev = Event(ts, e, b, q, o, hi, lo, c, v)
          val file = fileOf(ts - T0Ms + delayMin * MinuteMs)
          if (file == 0) { if (snapshot.forall(_._1.tsMs < ts)) snapshot = Some((ev, late)) }
          else if (file < nFiles) out += ((file, ev, late))
          u += 1
        }
        snapshot.foreach { case (ev, late) => out += ((0, ev, late)) }
      }
    }
    out.toSeq
  }

  /** Capture files, one JSON-lines body per file, events shuffled
    * within a file by the seed.
    */
  def liveFiles(seed: Long, deliveries: Seq[(Int, Event, Boolean)], nFiles: Int): IndexedSeq[String] = {
    val byFile = deliveries.groupBy(_._1)
    (0 until nFiles).map { f =>
      val evs = byFile.getOrElse(f, Nil).map(_._2).sortBy(e => (e.tsMs, e.exchange, e.base))
      shuffled(new Rng(Rng.hash(seed, 0xF11EL, f.toLong)), evs).iterator.map(_.json).mkString("", "\n", "\n")
    }
  }
}

/** JVM-wide counters fed by the benchmark's own page source and
  * limiter. Spark runs in local mode, so executor tasks share the JVM.
  */
object Counters {
  import java.util.concurrent.atomic.AtomicLong
  val pages = new AtomicLong
  val rowsFetched = new AtomicLong
  val fetchNanos = new AtomicLong
  val limiterWaitNanos = new AtomicLong
  def reset(): Unit = Seq(pages, rowsFetched, fetchNanos, limiterWaitNanos).foreach(_.set(0))
}
