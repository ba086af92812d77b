package lifebench

import java.nio.file.Path
import graft.core.Schemas
import graft.ingest.{Backfill, RestCursors}
import graft.maintenance.AggregateMaintenance
import graft.ops.CandleOps
import graft.storage.TxTable
import org.apache.spark.sql.functions.{col, to_date}

/** `backfill`: batches of (symbol × range) tasks through the Binance
  * cursor pager over a seeded page source, committed first-write-wins,
  * then all 8 rollups refreshed from the change feed. Nothing is read.
  */
final class BackfillWorkload extends Workload {
  import BackfillWorkload._

  final class Fixture(val dir: Path, val base: TxTable, val rollups: Map[String, TxTable],
                      val history: Seq[Row1m]) {
    var cursor: Long = base.version
  }

  def setup(env: Env, dir: Path): Fixture = {
    val history = Gen.expectedRows(env.seed, Gen.backfillBatch(env.seed, Keys, 0))
    val base = new TxTable(env.spark, dir.resolve("base").toString)
    base.append(Serving.candleDf(env.spark, history).withColumn("p_date", to_date(col("time"))))
    val populated = AggregateMaintenance.fullPopulate(base.read())
    val rollups = Schemas.rollupIntervals.map { iv =>
      val t = new TxTable(env.spark, dir.resolve(s"rollup_$iv").toString)
      AggregateMaintenance.writePartitionedTx(populated(iv), t)
      iv -> t
    }.toMap
    new Fixture(dir, base, rollups, history)
  }

  /** One batch: fetch → dedup → commit → errors side-channel → refresh
    * every rollup from the base table's change feed.
    */
  private def batch(env: Env, f: Fixture, day: Int): Gen.BackfillBatch = {
    import env.spark.implicits._
    val b = Gen.backfillBatch(env.seed, Keys, day)
    // a limiter that never throttles: exchange rate limits are a
    // constant, not program work; its wait is still measured
    val budget = new RestCursors.WeightBudget(Int.MaxValue, 60.0,
      sleeper = s => {
        Counters.limiterWaitNanos.addAndGet((s * 1e9).toLong)
        Thread.sleep(math.max(0L, (s * 1000).toLong))
      })
    val fetcher = RestCursors.binance(new Gen.PageSource(env.seed, Keys, b.failing), budget)
    val tasks = b.tasks.map(t => (t.exchange, t.baseId, t.quoteId, t.startMs, t.endMs))
      .toDF("exchange", "base_id", "quote_id", "start_ms", "end_ms")
    val (candles, errors) = Trace.span("ingest", "run")(Backfill.run(tasks, fetcher))
    Trace.span("storage", "insertIgnore")(f.base.insertIgnore(
      candles.withColumn("p_date", to_date(col("time"))), CandleOps.keyCols :+ "time"))
    Trace.span("ingest", "errors_write")(
      errors.write.mode("append").parquet(f.dir.resolve("errors").toString))
    var until = f.cursor
    Schemas.rollupIntervals.foreach { iv =>
      val t = f.rollups(iv)
      Trace.span("maintenance", s"refresh.$iv") {
        val existing = Trace.span("storage", "snapshot")(t.read()).drop("p_date")
        val (refreshed, u) = AggregateMaintenance.refreshFromFeed(
          existing, f.base, f.cursor, Schemas.intervalSeconds(iv))
        AggregateMaintenance.writePartitionedTx(refreshed, t)
        until = u
      }
    }
    f.cursor = until
    b
  }

  def run(env: Env, f: Fixture): Outcome = {
    Counters.reset()
    val batchS = new Samples
    val ((batches, days), wallS, listener) = env.measured {
      val t0 = System.nanoTime()
      val done = Seq.newBuilder[Gen.BackfillBatch]
      var day = 1
      while (day <= MinBatches || System.nanoTime() - t0 < env.seconds * 1e9) {
        val b0 = System.nanoTime()
        done += Trace.span("bench", "batch")(batch(env, f, day))
        batchS.add((System.nanoTime() - b0) / 1e9)
        day += 1
      }
      (done.result(), day - 1)
    }

    env.phase("measured")
    // ---- checks: base rows, 8 rollups (generator and CandleOps), errors
    val expectedBase = Checks.keyed(f.history ++ batches.flatMap(b => Gen.expectedRows(env.seed, b)))
    val baseDf = f.base.read()
    val baseRows = Serving.keyedRows(baseDf, "time")
    val baseDiff = Checks.diff(expectedBase, baseRows)
    var failed = baseDiff.failures.toLong
    var attempted = expectedBase.size.toLong
    Schemas.rollupIntervals.foreach { iv =>
      val w = Schemas.intervalSeconds(iv)
      val table = Serving.keyedRows(f.rollups(iv).read(), "bucket")
      val expected = Checks.rollup(expectedBase, w)
      val d = Checks.diff(expected, table)
      val sumOk = Checks.checksum(table) == Checks.checksum(expected) &&
        Checks.checksum(Serving.keyedRows(CandleOps.rollup(baseDf, w), "bucket")) == Checks.checksum(expected)
      if (d.failures > 0 || !sumOk)
        System.err.println(s"backfill rollup $iv: ${d.failures} rows differ, checksums equal: $sumOk")
      failed += d.failures + (if (sumOk) 0 else 1)
      attempted += expected.size + 1
    }
    val injected = batches.map(_.failing.size).sum
    val errorRows = env.spark.read.parquet(f.dir.resolve("errors").toString).count()
    failed += math.abs(errorRows - injected)
    attempted += injected
    if (baseDiff.failures > 0)
      System.err.println(s"backfill base: ${baseDiff.missing.size} missing, ${baseDiff.extra.size} extra, " +
        s"${baseDiff.wrong.size} wrong, ${baseDiff.duplicates} duplicate")

    val committed = (baseRows.size - f.history.size).toDouble
    val rewritten = listener.map(_.layer("maintenance").written.get.toDouble).getOrElse(0.0)
    val refresh = Schemas.rollupIntervals.map(iv => s"maintenance.refresh_s.$iv" -> Layers.sumS("maintenance", s"refresh.$iv"))
    val e2e = Map(
      "op_p50_ms" -> Stats.median(batchS.values) * 1000,
      "throughput_per_s" -> committed / wallS)
    val layers = Layers.common(env, wallS, listener) ++ refresh ++
      Serving.storageShape(f.base, baseRows.size) ++ Map(
      "backfill.rows_per_s" -> committed / wallS,
      "backfill.batch_p50_s" -> Stats.median(batchS.values),
      "backfill.batches" -> days.toDouble,
      "ingest.pages" -> Counters.pages.get.toDouble,
      "ingest.rows_fetched" -> Counters.rowsFetched.get.toDouble,
      "ingest.fetch_busy_s" -> Counters.fetchNanos.get / 1e9,
      "ingest.limiter_wait_s" -> Counters.limiterWaitNanos.get / 1e9,
      "ingest.error_rows" -> errorRows.toDouble,
      "ingest.useful_ratio" -> (if (Counters.rowsFetched.get > 0) committed / Counters.rowsFetched.get else 0.0),
      "storage.commit_s" -> Layers.sumS("storage", "insertIgnore"),
      "storage.commit_jobs" -> Layers.jobs(listener, "storage"),
      "storage.snapshot_resolve_ms" -> Layers.medianMs("storage", "snapshot"),
      "maintenance.refresh_s" -> refresh.map(_._2).sum,
      "maintenance.rows_rewritten" -> rewritten,
      "maintenance.rewrite_ratio" -> (if (committed > 0) rewritten / committed else 0.0),
      "maintenance.jobs" -> Layers.jobs(listener, "maintenance"),
      "failed_frac" -> failed.toDouble / attempted)
    Outcome(failed == 0, attempted, failed, e2e, layers)
  }
}

object BackfillWorkload {
  /** Symbols per batch; each task spans a day (1440 rows, two pages). */
  val Keys = 12
  /** Batches every run makes, however short its seconds: a batch takes
    * 10-15 s on a 4-core box (mostly the 8 rollup refreshes' Spark
    * jobs), so every run at the seed commit makes exactly this many over
    * the same base table sizes, and `op_p50_ms` is their mean.
    */
  val MinBatches = 2
}
