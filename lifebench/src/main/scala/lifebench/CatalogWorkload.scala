package lifebench

import java.nio.file.Path
import graft.SparkEntry
import graft.core.OhlcvFixture
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `catalog`: warm passes over the catalog's OHLCV-domain queries
  * (`SparkEntry.queries`), each run through the noop sink, after one
  * untimed cold pass at set-up. These queries build their input from
  * the program's own deterministic fixture, so they need no data from
  * outside the checkout; the seed orders the queries within each pass.
  */
final class CatalogWorkload extends Workload {
  import CatalogWorkload._

  type Query = (SparkSession, String) => DataFrame
  final class Fixture(val dir: Path, val queries: IndexedSeq[(String, Query)])

  private def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def setup(env: Env, dir: Path): Fixture = {
    val all = SparkEntry.queries
    val qs = Queries.map(n => n -> all(n))
    qs.foreach { case (_, q) => sink(q(env.spark, dir.toString)) }
    new Fixture(dir, qs)
  }

  def run(env: Env, f: Fixture): Outcome = {
    val rng = new Rng(Rng.hash(env.seed, 0xCA7L, 0L))
    val passS = new Samples
    val queryS = Queries.map(_ -> new Samples).toMap
    val (passes, wallS, listener) = env.measured {
      val t0 = System.nanoTime()
      var n = 0
      while (n == 0 || System.nanoTime() - t0 < env.seconds * 1e9) {
        val p0 = System.nanoTime()
        Trace.span("bench", "pass") {
          Gen.shuffled(rng, f.queries).foreach { case (name, q) =>
            val q0 = System.nanoTime()
            Trace.span("catalog", name)(sink(q(env.spark, f.dir.toString)))
            queryS(name).add((System.nanoTime() - q0) / 1e9)
          }
        }
        passS.add((System.nanoTime() - p0) / 1e9)
        n += 1
      }
      n
    }

    env.phase("measured")
    // ---- checks: each query's rows against a reference computed here
    // from the fixture's rows
    val expected = reference(env.spark)
    var failed = 0L
    var attempted = passes.toLong * Queries.size
    f.queries.foreach { case (name, q) =>
      val got = q(env.spark, f.dir.toString).collect().toSeq.map(normalise)
      val want = expected(name)
      val bad = math.abs(got.size - want.size) + got.zip(want).count { case (a, b) => a != b }
      if (bad > 0) System.err.println(s"catalog $name: $bad of ${want.size} rows differ")
      failed += bad
      attempted += want.size
    }

    val jobsOf = (k: String) => listener.map(_.span(k).jobs.get.toDouble).getOrElse(0.0)
    val cpuOf = (k: String) => listener.map(_.span(k).cpuNs.get / 1e9).getOrElse(0.0)
    val cat = listener.map(_.layer("catalog"))
    def perPass(x: Double) = x / passes
    val perQuery = Queries.flatMap { q =>
      Seq(s"catalog.$q.build_s" -> Stats.median(queryS(q).values),
        s"catalog.$q.jobs" -> perPass(jobsOf(s"catalog.$q")),
        s"catalog.$q.cpu_s" -> perPass(cpuOf(s"catalog.$q")))
    }
    val e2e = Map(
      "op_p50_ms" -> Stats.median(passS.values) * 1000,
      "throughput_per_s" -> passes * Queries.size / wallS)
    val layers = Layers.common(env, wallS, listener) ++ perQuery ++ Map(
      "catalog.wall_s" -> Stats.median(passS.values),
      "catalog.passes" -> passes.toDouble,
      "catalog.build_s" -> Queries.map(q => Stats.median(queryS(q).values)).sum,
      "catalog.build_jobs" -> perPass(cat.map(_.jobs.get.toDouble).getOrElse(0.0)),
      "catalog.cpu_util" -> cat.map(_.cpuNs.get / 1e9 / (wallS * env.cpus)).getOrElse(0.0),
      "catalog.shuffle_mb" -> perPass(cat.map(_.shuffleBytes.get / 1048576.0).getOrElse(0.0)),
      "catalog.spill_mb" -> perPass(cat.map(_.spillBytes.get / 1048576.0).getOrElse(0.0)),
      "failed_frac" -> failed.toDouble / attempted)
    Outcome(failed == 0, attempted, failed, e2e, layers)
  }
}

object CatalogWorkload {
  /** The catalog queries whose input is the program's fixture. */
  val Queries: IndexedSeq[String] =
    IndexedSeq("ohlcv_reader_1h", "ohlcv_rollup_1h", "ohlcv_rollup_7d_origin", "ohlcv_rollup_1mo")

  /** The fixture sizes `OhlcvQueries` builds: pairs, and minutes for
    * the interval rollups and for the calendar-month one.
    */
  val Pairs = 4
  val Minutes = 1500
  val MonthMinutes = 50000

  /** One output row as comparable values: times as epoch ms, volumes
    * rounded to cents (the queries round them so), prices to 4 dp.
    */
  type Out = Seq[Any]

  def cents(v: Double): Double = math.round(v * 100) / 100.0
  def dp4(v: Double): Double = math.round(v * 1e4) / 1e4

  def normalise(r: Row): Out = (0 until r.length).map { i =>
    (r.get(i), r.schema.fields(i).name) match {
      case (t: java.sql.Timestamp, _) => t.getTime
      case (v: Double, "volume") => cents(v)
      case (v: Double, _) => dp4(v)
      case (v, _) => v
    }
  }

  /** Calendar-month start (UTC) of `ms`. */
  def monthMs(ms: Long): Long = {
    val d = java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC).toLocalDate.withDayOfMonth(1)
    d.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
  }

  private def fixture(spark: SparkSession, minutes: Int): Map[Checks.Key, Checks.Ohlcv] =
    Checks.keyed(Serving.keyedRows(OhlcvFixture.ohlcvs(spark, Pairs, minutes), "time").map {
      case ((e, b, q, t), (o, h, l, c, v)) => Row1m(e, b, q, t, o, h, l, c, v)
    })

  /** Each query's expected rows, in its output order, from the
    * reference rollups of the fixture's rows ([[Checks.rollup]]).
    */
  def reference(spark: SparkSession): Map[String, Seq[Out]] = {
    val base = fixture(spark, Minutes)
    def sorted(m: Map[Checks.Key, Checks.Ohlcv]) = m.toSeq.sortBy(_._1)
    val hourly = sorted(Checks.rollup(base, 3600L))
    val weekly = sorted(Checks.rollup(base, 604800L))
    val monthly = sorted(Checks.rollupBy(fixture(spark, MonthMinutes), monthMs))
    // the reader: bitfinex/BASE2/Q0 at 1h, the 20 buckets before
    // as-of 2021-08-19T02:00Z less a minute, ascending
    val end = java.time.Instant.parse("2021-08-19T01:59:00Z").toEpochMilli
    val reader = hourly.filter { case ((e, b, q, t), _) => e == "bitfinex" && b == "BASE2" && q == "Q0" && t <= end }
      .takeRight(20)
    Map(
      "ohlcv_reader_1h" -> reader.map { case ((_, _, _, t), (o, h, l, c, v)) =>
        Seq(t, dp4(o), dp4(h), dp4(l), dp4(c), cents(v)) },
      "ohlcv_rollup_1h" -> hourly.map { case ((e, b, q, t), (o, h, l, c, v)) =>
        Seq(e, b, q, t, dp4(o), dp4(h), dp4(l), dp4(c), cents(v)) },
      "ohlcv_rollup_7d_origin" -> weekly.map { case ((e, b, q, t), (o, _, _, c, _)) =>
        Seq(e, b, q, t, dp4(o), dp4(c)) },
      "ohlcv_rollup_1mo" -> monthly.map { case ((e, b, q, t), (o, h, l, c, _)) =>
        Seq(e, b, q, t, dp4(o), dp4(h), dp4(l), dp4(c)) })
  }
}
