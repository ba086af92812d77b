package lifebench

/** Output checks. Each returns the mismatches it found, so a wrong row
  * is counted as a failed operation instead of being hidden.
  */
object Checks {
  type Key = (String, String, String, Long) // exchange, base, quote, bucket/time ms
  type Ohlcv = (Double, Double, Double, Double, Double)

  final case class Diff(missing: Seq[Key], extra: Seq[Key], wrong: Seq[Key], duplicates: Int) {
    def failures: Int = missing.size + extra.size + wrong.size + duplicates
  }

  /** Compare an expected keyed table with the rows actually present. */
  def diff(expected: Map[Key, Ohlcv], actual: Seq[(Key, Ohlcv)]): Diff = {
    val got = actual.groupBy(_._1)
    val dups = got.valuesIterator.map(_.size - 1).sum
    Diff(
      missing = expected.keys.filterNot(got.contains).toSeq,
      extra = got.keys.filterNot(expected.contains).toSeq,
      wrong = got.collect { case (k, rs) if expected.get(k).exists(_ != rs.head._2) => k }.toSeq,
      duplicates = dups)
  }

  /** Unique (key, time) rows of 1-minute candles, first write wins. */
  def keyed(rows: Iterable[Row1m]): Map[Key, Ohlcv] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Key, Ohlcv]
    rows.foreach(r => m.getOrElseUpdate((r.exchange, r.base, r.quote, r.ms),
      (r.open, r.high, r.low, r.close, r.volume)))
    m.toMap
  }

  /** The program's bucket origin (TimescaleDB's Monday 2000-01-03 for
    * multi-week widths, the epoch otherwise).
    */
  def bucketMs(ms: Long, widthSec: Long): Long = {
    val origin = if (widthSec >= 86400L * 7) 946857600000L else 0L
    val w = widthSec * 1000L
    origin + java.lang.Math.floorDiv(ms - origin, w) * w
  }

  /** Reference rollup of 1-minute rows: first open and last close by
    * time, max high, min low, summed volume.
    */
  def rollup(rows: Map[Key, Ohlcv], widthSec: Long): Map[Key, Ohlcv] =
    rollupBy(rows, bucketMs(_, widthSec))

  /** [[rollup]] into the buckets `bucket` maps a row's time to. */
  def rollupBy(rows: Map[Key, Ohlcv], bucket: Long => Long): Map[Key, Ohlcv] =
    rows.toSeq.groupBy { case ((e, b, q, t), _) => (e, b, q, bucket(t)) }
      .map { case (k, grp) =>
        val s = grp.sortBy(_._1._4).map(_._2)
        k -> ((s.head._1, s.map(_._2).max, s.map(_._3).min, s.last._4, s.map(_._5).sum))
      }

  /** Order-independent checksum of a keyed table. */
  def checksum(rows: Iterable[(Key, Ohlcv)]): Long =
    rows.iterator.map { case ((e, b, q, t), (o, h, l, c, v)) =>
      Seq(o, h, l, c, v).foldLeft((e, b, q, t).hashCode.toLong) { (acc, d) =>
        Rng.mix(acc ^ java.lang.Double.doubleToLongBits(d))
      }
    }.sum

  /** Closed candles the reference updater flushes from `events`: per
    * key and minute, the message with the latest `ts_ms`; only buckets
    * that end at or before `horizonMs` (both sides agree those are
    * closed).
    */
  def referenceClosed(events: Iterable[Gen.Event], horizonMs: Long): Map[Key, Ohlcv] =
    events.groupBy(e => (e.exchange, e.base, e.quote, bucketMs(e.tsMs, 60L)))
      .collect { case (k, evs) if k._4 + Gen.MinuteMs <= horizonMs =>
        val e = evs.maxBy(_.tsMs)
        k -> ((e.open, e.high, e.low, e.close, e.volume))
      }

  /** The API's point cap per response. */
  val MaxRows = 500

  /** Check one OHLCV response: status 200, at most [[MaxRows]] rows,
    * strictly time-ascending. Returns the row count or the problem.
    */
  def response(status: Int, body: String): Either[String, Int] =
    if (status != 200) Left(s"status $status: ${body.take(200)}")
    else if (!body.startsWith("[") || !body.endsWith("]")) Left(s"not a JSON list: ${body.take(200)}")
    else {
      val times = TimeField.findAllMatchIn(body).map(_.group(1).toLong).toVector
      if (times.size > MaxRows) Left(s"${times.size} rows > $MaxRows")
      else if (times.zip(times.drop(1)).exists { case (a, b) => a >= b }) Left("times not ascending")
      else Right(times.size)
    }

  private val TimeField = "\"time\":(-?\\d+)".r
}
