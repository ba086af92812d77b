package lifebench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import graft.api.{OhlcvHttpServer, OhlcvReader, QueryCache}
import graft.core.Schemas
import graft.storage.TxTable
import graft.streaming.CandleStream
import org.apache.spark.sql.functions.{col, to_date}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.jdk.CollectionConverters._

/** `live`: `runPipelineTx` under `AvailableNow` drains a seeded WS
  * capture (one 10 s file per trigger) into a table that already holds
  * history, while one closed-loop HTTP client reads hot keys, resolving
  * a fresh snapshot per request. The capture's subscribe snapshot is
  * drained before the measured phase, as a restarted stream would.
  */
final class LiveWorkload extends Workload {
  import LiveWorkload._

  final class Fixture(val dir: Path, val table: TxTable, val history: Seq[Row1m],
                      val deliveries: Seq[(Int, Gen.Event, Boolean)], val staged: IndexedSeq[Path])

  def setup(env: Env, dir: Path): Fixture = {
    val history = Gen.liveKeys(Pairs).flatMap { case (e, b, q, k) =>
      (Gen.T0Ms / Gen.MinuteMs - HistoryMinutes until Gen.T0Ms / Gen.MinuteMs).flatMap { m =>
        Gen.candle(env.seed, k, m).map { case (o, h, l, c, v) => Row1m(e, b, q, m * Gen.MinuteMs, o, h, l, c, v) }
      }
    }
    val table = new TxTable(env.spark, dir.resolve("table").toString)
    table.append(Serving.candleDf(env.spark, history).withColumn("p_date", to_date(col("time"))))
    val nFiles = 1 + Segments * Gen.SegmentFiles
    val deliveries = Gen.liveDeliveries(env.seed, Pairs, nFiles)
    val staging = Files.createDirectories(dir.resolve("staging"))
    val staged = Gen.liveFiles(env.seed, deliveries, nFiles).zipWithIndex.map { case (body, i) =>
      Files.write(staging.resolve(f"capture-$i%05d.json"), body.getBytes("UTF-8"))
    }
    Files.createDirectories(dir.resolve("source"))
    new Fixture(dir, table, history, deliveries, staged)
  }

  def run(env: Env, f: Fixture): Outcome = {
    val spark = env.spark
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val source = f.dir.resolve("source")
    val stream = spark.readStream.schema(Schemas.wsCandle)
      .option("maxFilesPerTrigger", "1").json(source.toString)

    // the reader: snapshot per request, then readCached over it
    val cache = new QueryCache()
    val hits, misses = new AtomicLong
    val filesPerRead = new Samples
    // the single client's in-flight (span id, request id), so the
    // server-side spans hang under the client's span when traced
    val inFlight = new java.util.concurrent.atomic.AtomicReference[(Long, Long)]((0L, 0L))
    // the replay's clock: pinned, so a key changes only with the snapshot
    val asOf = new java.sql.Timestamp(Gen.T0Ms + (Gen.liveMinutes(f.staged.size) + 1440L) * Gen.MinuteMs)
    val fetch: OhlcvReader.Params => Seq[OhlcvHttpServer.Candle] = p0 => {
      val p = p0.copy(asOf = asOf)
      val (parent, req) = inFlight.get
      Trace.under(parent, req) {
        Trace.span("api", "fetch") {
          val snap = Trace.span("storage", "snapshot") {
            val s = f.table.snapshot(f.table.version)
            filesPerRead.add(s.files.size)
            f.table.readSnapshot(s)
          }
          val df = Trace.span("api", "build")(Serving.cachedRead(cache, snap, p, hits, misses))
          Trace.span("api", "collect")(df.collect()).toSeq.map(Serving.toCandle)
        }
      }
    }
    val server = new OhlcvHttpServer(fetch).start()
    val hot = Gen.liveKeys(Pairs).take(HotKeys).flatMap { case (e, b, q, _) =>
      Seq("1m", "5m").map(iv => s"exchange=$e&base_id=$b&quote_id=$q&interval=$iv")
    }.toIndexedSeq
    val rng = new Rng(Rng.hash(env.seed, 0x4EADL, 0L))
    val reads = Iterator.continually(hot(rng.nextInt(hot.size)))
    val client = new Client(server.restAddress, inFlight)
    val readerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readResult = new java.util.concurrent.atomic.AtomicReference[Client#Result]()

    def drain(): Unit = {
      val q = CandleStream.runPipelineTx(stream, f.table,
        f.dir.resolve("checkpoint").toString, triggerSecs = 0,
        maintainEvery = Gen.SegmentFiles)
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    def release(from: Int, until: Int): Unit = {
      val now = System.currentTimeMillis()
      (from until until).foreach { i =>
        val to = source.resolve(f.staged(i).getFileName)
        Files.move(f.staged(i), to)
        to.toFile.setLastModified(now - (f.staged.size - i) * 1000L)
      }
    }

    try {
      // the subscribe snapshot, untimed
      release(0, 1)
      drain()
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      progress.clear()
      env.phase("snapshot drained")
      val ((drainS, released), wallS, layerListener) = env.measured {
        val reader = new Thread(() => readResult.set(client.until(reads, readerDone)))
        reader.start()
        try {
          val t0 = System.nanoTime()
          var released = 1
          // one AvailableNow run per segment, compacting and vacuuming
          // in-band on its last trigger (the program's default cadence
          // is every 30 triggers; a segment holds fewer); `MinSegments`,
          // then more until the run's seconds are used
          while (released <= MinSegments * Gen.SegmentFiles ||
                 (released < f.staged.size && (System.nanoTime() - t0) / 1e9 < env.seconds)) {
            release(released, released + Gen.SegmentFiles)
            released += Gen.SegmentFiles
            Trace.span("streaming", "drain")(drain())
          }
          ((System.nanoTime() - t0) / 1e9, released)
        } finally {
          readerDone.set(true)
          reader.join()
        }
      }
      env.phase("measured")
      org.apache.spark.ListenerBusDrain.drain(spark.sparkContext)
      spark.streams.removeListener(listener)
      val progs = progress.asScala.toSeq
      val data = progs.filter(_.numInputRows > 0)
      val triggerMs = data.map(_.durationMs.get("triggerExecution").doubleValue)
      val events = data.map(_.numInputRows).sum.toDouble
      val last = progs.last
      val wm = java.time.Instant.parse(last.eventTime.get("watermark")).toEpochMilli
      val maxEvent = Option(last.eventTime.get("max")).map(java.time.Instant.parse(_).toEpochMilli)
        .getOrElse(wm)
      // the in-band maintenance pass runs on the last trigger of a segment
      // (each segment is one run of the query)
      val maintMs = progs.groupBy(_.runId).values.flatMap(_.lift(Gen.SegmentFiles - 1))
        .map(_.durationMs.get("triggerExecution").doubleValue).toSeq

      // ---- checks: committed table vs the reference updater's flushes
      val delivered = f.deliveries.filter(_._1 < released)
      val expectedNew = Checks.referenceClosed(delivered.map(_._2), wm)
      val expected = Checks.keyed(f.history) ++ expectedNew
      val committed = Serving.keyedRows(f.table.read(), "time")
      val d = Checks.diff(expected, committed)
      // a candle whose every message came from the lagging feed is
      // dropped by the global watermark: the known defect, reported
      // as its own count
      val lateOnly = delivered.groupBy(x => (x._2.exchange, x._2.base, x._2.quote,
        Checks.bucketMs(x._2.tsMs, 60L))).collect { case (k, xs) if xs.forall(_._3) => k }.toSet
      val (lateMissing, otherMissing) = d.missing.partition(lateOnly.contains)
      val candleFailures = otherMissing.size + d.extra.size + d.wrong.size + d.duplicates
      if (candleFailures > 0)
        System.err.println(s"live: ${otherMissing.size} missing, ${d.extra.size} extra, " +
          s"${d.wrong.size} wrong, ${d.duplicates} duplicate candles")
      val rr = readResult.get
      val attempted = expectedNew.size.toLong + rr.sent
      val failed = candleFailures.toLong + rr.failed
      val readMs = rr.latencyMs.values
      val readsN = (hits.get + misses.get).toDouble
      val rows = rr.rows.values
      val fetchMs = Trace.named("api", "fetch").map(_.durNs / 1e6)
      val clientMs = Trace.named("bench", "http").map(_.durNs / 1e6)
      def medianOf(key: String) = Stats.median(data.map(_.durationMs.get(key).doubleValue))
      val state = last.stateOperators.headOption
      val e2e = Map(
        "op_p50_ms" -> Stats.median(triggerMs),
        "throughput_per_s" -> events / drainS)
      val layers = Layers.common(env, wallS, layerListener) ++
        Layers.tail("live.trigger_tail_ms", triggerMs) ++ Layers.tail("live.read_tail_ms", readMs) ++
        Serving.storageShape(f.table, committed.size) ++ Map(
        "live.events_per_s" -> events / drainS,
        "live.trigger_p50_ms" -> Stats.median(triggerMs),
        "live.read_p50_ms" -> Stats.median(readMs),
        "live.late_dropped_candles" -> lateMissing.size.toDouble,
        "live.late_dropped_frac" -> lateMissing.size.toDouble / math.max(1, expectedNew.size),
        "streaming.triggers" -> data.size.toDouble,
        "streaming.rows_per_trigger" -> events / math.max(1, data.size),
        "streaming.add_batch_ms" -> medianOf("addBatch"),
        "streaming.planning_ms" -> medianOf("queryPlanning"),
        "streaming.wal_commit_ms" -> medianOf("walCommit"),
        "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.state_bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        "streaming.late_rows_dropped" ->
          data.flatMap(_.stateOperators.headOption).map(_.numRowsDroppedByWatermark).sum.toDouble,
        "streaming.watermark_lag_s" -> (maxEvent - wm) / 1000.0,
        "streaming.maint_trigger_ms" -> (if (maintMs.isEmpty) 0.0 else Stats.median(maintMs)),
        "storage.snapshot_resolve_ms" -> Layers.medianMs("storage", "snapshot"),
        "storage.files_per_read" -> (if (filesPerRead.size > 0) Stats.median(filesPerRead.values) else 0.0),
        "api.build_ms" -> Layers.medianMs("api", "build"),
        "api.collect_ms" -> Layers.medianMs("api", "collect"),
        "api.http_overhead_ms" ->
          (if (fetchMs.isEmpty) 0.0 else Stats.median(clientMs) - Stats.median(fetchMs)),
        "api.cache_hit_ratio" -> (if (readsN > 0) hits.get / readsN else 0.0),
        "api.jobs_per_read" -> (if (readsN > 0) Layers.jobs(layerListener, "api") / readsN else 0.0),
        "api.rows_per_response" -> (if (rows.nonEmpty) rows.sum / rows.size else 0.0),
        "failed_frac" -> failed.toDouble / attempted)
      Outcome(failed == 0, attempted, failed, e2e, layers)
    } finally {
      spark.streams.removeListener(listener)
      server.stop()
      cache.invalidateAll()
    }
  }
}

object LiveWorkload {
  /** 201 keys; a live file covers 10 s (about 1.2 k events plus the
    * lagging feed's replay).
    */
  val Pairs = 67
  val HotKeys = 8
  val HistoryMinutes = 360
  /** Capture segments written at set-up; a run releases as many as fit. */
  val Segments = 5
  /** Segments every run drains, however short its seconds: a segment
    * takes 8-10 s on a 4-core box, so every run at the seed commit
    * drains the same 16 triggers.
    */
  val MinSegments = 2
}
