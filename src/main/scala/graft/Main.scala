package graft

import graft.api.OhlcvHttpServer.jsonField
import graft.ingest.{Backfill, JdbcCandleSink, RestCursors}
import graft.storage.TxTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CLI entry point for the three production jobs — the reference's
  * `python -m scripts.fetchers.rest <action> --exchange ... --start
  * ... --end ...` (scripts/fetchers/rest.py:8-66), the WS updater
  * process (fetchers/ws/updater.py), and the scheduled 1-minute
  * repair task (celery_app/celery_tasks.py:73-84) — wired to the
  * Spark-native pipeline:
  *
  * {{{
  * graft.Main backfill --exchange bitfinex --symbols BTC-USD,ETH-USD \
  *   --start 2021-01-01T00:00:00 --end 2021-01-02T00:00:00 \
  *   --table /data/ohlcvs [--errors /data/ohlcvs_errors] \
  *   [--source /fixtures/candles.parquet]          # deterministic local pages
  *   [--jdbc-url jdbc:postgresql://... --jdbc-table ohlcvs]  # JDBC sink twin
  *
  * graft.Main stream --checkpoint /ckpt --table /data/ohlcvs \
  *   [--input rate | --input parquet:/dir] [--duration-secs 60] \
  *   [--trigger-secs 0]   # 0 = AvailableNow: drain input, then exit
  *
  * graft.Main repair --exchange bitfinex --symbols BTC-USD \
  *   --table /data/ohlcvs [--interval-secs 60] [--iterations N] \
  *   [--now-ms <epoch-ms>] [--source /fixtures/candles.parquet]
  * }}}
  *
  * `backfill` fans (symbol × range) tasks across partitions through
  * [[Backfill.run]] with the exchange-faithful paging/flow-control of
  * [[RestCursors]] (Bitfinex hist/last cursor at 85 req/min, Binance
  * weight budget, Bittrex calendar-day tasks at 55 req/min), then
  * lands candles first-write-wins into a [[TxTable]] (or, with
  * `--jdbc-url`, through [[JdbcCandleSink]]'s ON-CONFLICT path) and
  * errors into the ohlcvs_errors-shaped parquet side-channel.
  *
  * `stream` runs [[graft.streaming.CandleStream.runPipelineTx]]: the
  * canonical candle stream → watermarked closed-candle emission →
  * transactional first-write-wins appends with in-band compaction.
  *
  * The HTTP page source ([[HttpPageFetcher]]) carries the reference's
  * literal URL shapes; `--source <parquet>` swaps in a deterministic
  * local page source with the SAME paging semantics — the test seam
  * (MainSpec drives a fixture-backed end-to-end backfill through
  * `main(args)`) and the air-gapped replay path.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val (action, flags) = parse(args)
    // reuse a live session (tests, spark-submit with one built) and
    // leave its settings and lifecycle to its owner; stop only what we
    // created
    val preExisting = SparkSession.getDefaultSession
    val spark = preExisting.getOrElse(GraftSession.create(s"graft-$action",
      master = sys.env.get("SPARK_MASTER")))
    try run(spark, action, flags)
    finally if (preExisting.isEmpty) spark.stop()
  }

  /** `main` minus session lifecycle — call with an existing session
    * (tests, notebooks).
    */
  def run(spark: SparkSession, action: String, flags: Map[String, String]): Unit =
    action match {
      case "backfill" => backfill(spark, flags)
      case "stream" => stream(spark, flags)
      case "repair" => repair(spark, flags)
      case "curate" => curate(spark, flags)
      case other =>
        fail(s"unknown action '$other' (expected backfill, stream, repair or curate)")
    }

  // --------------------------------------------------------- curate

  /** The LLM ingest pipeline as a job ([[graft.llm.CuratePipeline]]):
    * JSONL shards landing under `--input` flow through corrupt
    * routing → quality gate → history-aware dedup → the admitted
    * corpus TxTable, with errors countable in their own table and an
    * optional HLL corpus profile. `--once true` drains the directory
    * and exits (the backfill shape); otherwise it follows the
    * directory until `--duration-secs` (or forever).
    *
    * `--format warc` switches the front end to crawl-native WARC
    * files ([[graft.llm.CorpusIo.readWarcStream]]): record split,
    * HTML→text extraction, canonical-URL doc ids, registered-domain
    * source — the batch body is identical.
    *
    * {{{
    * graft.Main curate --input /landing --state /tbl/state \
    *   --sink /tbl/corpus [--format jsonl|warc] [--errors /tbl/errs] \
    *   [--profile /tbl/profile] [--checkpoint /ckpt] [--once true] \
    *   [--duration-secs N]
    * }}}
    */
  private def curate(spark: SparkSession, flags: Map[String, String]): Unit = {
    val input = req(flags, "input")
    val sinkRoot = req(flags, "sink")
    val state = new TxTable(spark, req(flags, "state"))
    val sink = new TxTable(spark, sinkRoot)
    val errors = new TxTable(spark, flags.getOrElse("errors", sinkRoot + "_errors"))
    val profile = flags.get("profile")
      .map(p => new TxTable(spark, p, partitionCol = "g"))
    val checkpoint = flags.getOrElse("checkpoint",
      java.nio.file.Files.createTempDirectory("curate_ck").toString)
    // index table names derive from the STATE root (String.hashCode is
    // specified, so the name is stable across JVMs): a restarted run
    // reuses its folded indexes instead of re-backfilling them; a
    // different state colliding here fails loudly on the pinned fold
    // geometry/version props rather than mixing
    val tag = java.lang.Integer.toUnsignedString(req(flags, "state").hashCode, 16)
    val bi = new graft.llm.BandIndex(spark, s"curate_bands_$tag")
    val di = new graft.llm.DigestIndex(spark, s"curate_digests_$tag")
    val once = flags.get("once").exists(_.toBoolean)
    val runFn = flags.getOrElse("format", "jsonl") match {
      case "jsonl" => graft.llm.CuratePipeline.run _
      case "warc"  => graft.llm.CuratePipeline.runWarc _
      case other   => fail(s"unknown --format '$other' (expected jsonl or warc)")
    }
    val q = runFn(spark, input, state, sink, errors,
      checkpoint, Some(bi), Some(di), profile, once)
    if (once) q.awaitTermination()
    else flags.get("duration-secs") match {
      case Some(d) => q.awaitTermination(d.toLong * 1000L); q.stop()
      case None => q.awaitTermination()
    }
  }

  // ------------------------------------------------------- backfill

  /** `BASE-QUOTE,BASE-QUOTE,...` → (exchange, base, quote) keys. */
  private def parseKeys(exchange: String, symbols: String): Seq[(String, String, String)] =
    symbols.split(",").toSeq.map { s =>
      s.split("-") match {
        case Array(b, q) => (exchange, b, q)
        case _ => fail(s"symbol '$s' is not BASE-QUOTE")
      }
    }

  private def pageFor(spark: SparkSession, exchange: String,
      flags: Map[String, String]): RestCursors.PageFetcher =
    flags.get("source") match {
      case Some(path) => new ParquetPageFetcher(spark, path)
      case None => new HttpPageFetcher(exchange)
    }

  private def fetcherFor(exchange: String, page: RestCursors.PageFetcher,
      asOfMs: Long): Backfill.Fetcher = exchange match {
    case "bitfinex" => RestCursors.bitfinex(page, asOfMs = asOfMs)
    case "binance" => RestCursors.binance(page,
      new RestCursors.WeightBudget(RestCursors.BinanceWeightLimit))
    case "bittrex" => RestCursors.throttled(
      pageAsFetcher(page), new RestCursors.Gcra(RestCursors.BittrexRatePerMin))
  }

  /** Bitfinex/Binance walk a row-limit cursor INSIDE one (symbol ×
    * range) task; Bittrex's endpoint is addressed by calendar day, so
    * its tasks are day-sliced up front (reference bittrex.py day tasks).
    */
  private def tasksFor(spark: SparkSession, exchange: String,
      keys: Seq[(String, String, String)], startMs: Long,
      endMs: Long): DataFrame = exchange match {
    case "bittrex" => Backfill.dayTasks(spark, keys, startMs, endMs)
    case _ =>
      import spark.implicits._
      keys.map { case (e, b, q) => (e, b, q, startMs, endMs) }
        .toDF("exchange", "base_id", "quote_id", "start_ms", "end_ms")
  }

  private def backfill(spark: SparkSession, flags: Map[String, String]): Unit = {
    val exchange = req(flags, "exchange")
    require(Seq("bitfinex", "binance", "bittrex").contains(exchange),
      s"unknown exchange '$exchange'")
    val startMs = parseTs(req(flags, "start"))
    val endMs = parseTs(req(flags, "end"))
    require(startMs < endMs, s"--start must precede --end")
    val keys = parseKeys(exchange, req(flags, "symbols"))
    val page = pageFor(spark, exchange, flags)
    val fetcher = fetcherFor(exchange, page, asOfMs = endMs)
    val tasks = tasksFor(spark, exchange, keys, startMs, endMs)
    val (candles, errors) = Backfill.run(tasks, fetcher)
    (flags.get("jdbc-url"), flags.get("table")) match {
      case (Some(url), _) =>
        JdbcCandleSink.write(candles, url, flags.getOrElse("jdbc-table", "ohlcvs"),
          JdbcColumns, CandleKeys, JdbcCandleSink.Mode.InsertIgnore,
          dialect(url))
      case (None, Some(tableRoot)) =>
        new TxTable(spark, tableRoot).insertIgnore(
          candles.withColumn("p_date", to_date(col("time"))), CandleKeys)
      case _ => fail("backfill needs --table <txtable-root> or --jdbc-url <url>")
    }
    // ohlcvs_errors side-channel (S10) — append-only parquet
    val errDir = flags.getOrElse("errors",
      flags.get("table").map(_ + "_errors").getOrElse("/tmp/graft_ohlcvs_errors"))
    errors.write.mode("append").parquet(errDir)
  }

  /** Adapt a single-request page source to a whole-task fetcher —
    * the Bittrex shape, where one day-task is one HTTP request.
    */
  private def pageAsFetcher(page: RestCursors.PageFetcher): Backfill.Fetcher =
    new Backfill.Fetcher {
      def fetch(t: Backfill.Task): Seq[RestCursors.Candle] =
        page.fetchPage(t, t.startMs, Int.MaxValue, "hist")
          .filter(r => r._1 >= t.startMs && r._1 < t.endMs)
    }

  /** The reference's ohlcvs column/key shape for the JDBC sink
    * (fetchers/config/queries.py:4-15 conflict targets); the key is
    * also the TxTable sinks' conflict key.
    */
  private val JdbcColumns = Seq(
    "time" -> "TIMESTAMP", "exchange" -> "VARCHAR(100)",
    "base_id" -> "VARCHAR(20)", "quote_id" -> "VARCHAR(20)",
    "open" -> "DOUBLE", "high" -> "DOUBLE", "low" -> "DOUBLE",
    "close" -> "DOUBLE", "volume" -> "DOUBLE")
  private val CandleKeys = Seq("exchange", "base_id", "quote_id", "time")

  private def dialect(url: String): JdbcCandleSink.Dialect =
    if (url.startsWith("jdbc:derby")) JdbcCandleSink.DerbyDialect
    else JdbcCandleSink.PostgresDialect

  // --------------------------------------------------------- stream

  private def stream(spark: SparkSession, flags: Map[String, String]): Unit = {
    val checkpoint = req(flags, "checkpoint")
    val tableRoot = req(flags, "table")
    val input = flags.getOrElse("input", "rate")
    val src: DataFrame =
      if (input == "rate")
        // smoke source: one synthetic BTC-USD candle message per second
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
          .select(
            (unix_millis(col("timestamp")) - pmod(unix_millis(col("timestamp")), lit(1000L))).as("ts_ms"),
            lit("bitfinex").as("exchange"), lit("BTC").as("base_id"),
            lit("USD").as("quote_id"),
            (lit(100.0) + col("value") % 10).as("open"),
            (lit(101.0) + col("value") % 10).as("high"),
            (lit(99.0) + col("value") % 10).as("low"),
            (lit(100.5) + col("value") % 10).as("close"), lit(1.0).as("volume"))
      else if (input.startsWith("parquet:"))
        // replay/test source: canonical candle-message rows from files
        spark.readStream.schema(
          "ts_ms LONG, exchange STRING, base_id STRING, quote_id STRING, " +
            "open DOUBLE, high DOUBLE, low DOUBLE, close DOUBLE, volume DOUBLE")
          .parquet(input.stripPrefix("parquet:"))
      else fail(s"unknown --input '$input' (rate | parquet:<dir>)")
    val table = new TxTable(spark, tableRoot)
    // --trigger-secs 0: Trigger.AvailableNow — drain all available
    // input (and the watermark-flush batches), then exit when the
    // query self-terminates. Deterministic replay/test mode: done is
    // defined by the data, not by a wall-clock --duration-secs window.
    val triggerSecs = flags.getOrElse("trigger-secs", "10").toInt
    val q = graft.streaming.CandleStream.runPipelineTx(src, table, checkpoint,
      triggerSecs = triggerSecs)
    if (triggerSecs <= 0) q.awaitTermination()
    else flags.get("duration-secs") match {
      case Some(d) => q.awaitTermination(d.toLong * 1000L); q.stop()
      case None => q.awaitTermination()
    }
  }

  // --------------------------------------------------------- repair

  /** ST5's cadence as a runnable job — the reference's scheduled
    * `*_fetch_ohlcvs_mutual_basequote_1min` Celery beat task
    * (celery_app/celery_tasks.py:73-84: end = now − 1 min, start =
    * end − 4 min, update=True): every `--interval-secs` it re-fetches
    * the trailing five COMPLETE minutes [floor(now)−5m, floor(now))
    * and upserts them DO-UPDATE-style into the TxTable via the
    * surgical [[TxTable.mergeInto]] (ON CONFLICT DO UPDATE), so a
    * re-fetched minute overwrites o/h/l/c/v exactly once and an
    * unchanged refetch is idempotent.
    *
    * The clock is injectable for tests: `--now-ms` pins the first
    * tick and advances it virtually by the interval each iteration
    * (no wall sleep); without it the loop sleeps the interval and
    * reads the wall clock. `--iterations` bounds the loop (0 =
    * forever, the production cadence).
    */
  private def repair(spark: SparkSession, flags: Map[String, String]): Unit = {
    val exchange = req(flags, "exchange")
    require(Seq("bitfinex", "binance", "bittrex").contains(exchange),
      s"unknown exchange '$exchange'")
    val keys = parseKeys(exchange, req(flags, "symbols"))
    val tableRoot = req(flags, "table")
    val intervalMs = flags.getOrElse("interval-secs", "60").toLong * 1000L
    val iterations = flags.getOrElse("iterations", "0").toLong
    val page = pageFor(spark, exchange, flags)
    val pinnedClock = flags.contains("now-ms")
    var nowMs = flags.get("now-ms").map(_.toLong)
      .getOrElse(System.currentTimeMillis())
    var i = 0L
    while (iterations == 0L || i < iterations) {
      val endMs = nowMs - nowMs % 60000L        // floor(now), exclusive
      val startMs = endMs - 5L * 60000L
      val fetcher = fetcherFor(exchange, page, asOfMs = endMs)
      val tasks = tasksFor(spark, exchange, keys, startMs, endMs)
      val (candles, errors) = Backfill.run(tasks, fetcher)
      new TxTable(spark, tableRoot).mergeInto(graft.ops.CandleOps.dedup(candles)
        .withColumn("p_date", to_date(col("time"))), CandleKeys)
      val errDir = flags.getOrElse("errors", tableRoot + "_errors")
      errors.write.mode("append").parquet(errDir)
      i += 1
      if (iterations == 0L || i < iterations) {
        if (pinnedClock) nowMs += intervalMs
        else { Thread.sleep(intervalMs); nowMs = System.currentTimeMillis() }
      }
    }
  }

  // -------------------------------------------------------- parsing

  /** `<action> [--flag value]...` — argparse-shaped failures. */
  private[graft] def parse(args: Array[String]): (String, Map[String, String]) = {
    if (args.isEmpty) fail("usage: graft.Main <backfill|stream|repair|curate> [--flag value]...")
    val action = args.head
    val flags = scala.collection.mutable.Map.empty[String, String]
    var i = 1
    while (i < args.length) {
      val a = args(i)
      if (!a.startsWith("--")) fail(s"expected --flag, got '$a'")
      if (i + 1 >= args.length) fail(s"flag $a needs a value")
      flags(a.stripPrefix("--")) = args(i + 1)
      i += 2
    }
    (action, flags.toMap)
  }

  private def req(flags: Map[String, String], k: String): String =
    flags.getOrElse(k, fail(s"missing required flag --$k"))

  /** `%Y-%m-%dT%H:%M:%S` (the reference CLI's format, rest.py:35) →
    * epoch ms, UTC.
    */
  private[graft] def parseTs(s: String): Long =
    java.time.LocalDateTime.parse(s)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(msg)
}

/** Deterministic page source over a local candle parquet — the
  * fixture/replay stand-in for [[HttpPageFetcher]] with identical
  * paging semantics: rows of one symbol from `startMs`, ascending,
  * at most `limit`. Loaded once on the driver and shipped in the
  * task closure (fixtures are small by construction).
  */
class ParquetPageFetcher(spark: SparkSession, path: String)
    extends RestCursors.PageFetcher {
  private val rows: Map[(String, String), Array[RestCursors.Candle]] =
    spark.read.parquet(path)
      .select(col("base_id"), col("quote_id"), unix_millis(col("time")).as("ts_ms"),
        col("open"), col("high"), col("low"), col("close"), col("volume"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getDouble(7))))
      .groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).sortBy(_._1) }

  def fetchPage(t: Backfill.Task, startMs: Long, limit: Int,
                section: String): Seq[RestCursors.Candle] =
    rows.getOrElse((t.baseId, t.quoteId), Array.empty[RestCursors.Candle])
      .iterator.filter(_._1 >= startMs).take(math.min(limit, 100000)).toSeq
}

/** Production HTTP page source — the reference's literal REST URL
  * shapes and response layouts (cannot execute in this sandbox; the
  * fixture twin above carries the spec coverage):
  *
  *  - Bitfinex `GET /v2/candles/trade:1m:t<B><Q>/<hist|last>?limit=&start=&sort=1`
  *    → `[[mts, open, close, high, low, volume], ...]`
  *    (bitfinex.py:123-161, field order per ohlcvs_table_insert :233-243)
  *  - Binance `GET /api/v3/klines?symbol=<B><Q>&interval=1m&startTime=&limit=`
  *    → `[[openTime, "o","h","l","c","v", ...], ...]` (binance.py:238)
  *  - Bittrex `GET /v3/markets/<B>-<Q>/candles/MINUTE_1/historical/<y>/<m>/<d>`
  *    → `[{"startsAt": iso, "open": "...", ...}, ...]` (bittrex.py:113)
  */
class HttpPageFetcher(exchange: String) extends RestCursors.PageFetcher {

  def fetchPage(t: Backfill.Task, startMs: Long, limit: Int,
                section: String): Seq[RestCursors.Candle] = {
    val url = exchange match {
      case "bitfinex" =>
        s"https://api-pub.bitfinex.com/v2/candles/trade:1m:t${t.baseId}${t.quoteId}/" +
          s"$section?limit=$limit&start=$startMs&sort=1"
      case "binance" =>
        s"https://api.binance.com/api/v3/klines?symbol=${t.baseId}${t.quoteId}" +
          s"&interval=1m&startTime=$startMs&limit=$limit"
      case "bittrex" =>
        val d = java.time.Instant.ofEpochMilli(startMs)
          .atZone(java.time.ZoneOffset.UTC).toLocalDate
        s"https://api.bittrex.com/v3/markets/${t.baseId}-${t.quoteId}" +
          s"/candles/MINUTE_1/historical/${d.getYear}/${d.getMonthValue}/${d.getDayOfMonth}"
    }
    parse(get(url))
  }

  private def get(url: String): String = {
    val client = java.net.http.HttpClient.newHttpClient()
    val resp = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 200)
      throw new java.io.IOException(s"HTTP ${resp.statusCode()} from $url")
    resp.body()
  }

  private[graft] def parse(body: String): Seq[RestCursors.Candle] = exchange match {
    case "bitfinex" =>
      topLevelChunks(body).map(splitScalars).collect {
        case Array(ts, o, c, h, l, v, _*) =>
          (ts.toDouble.toLong, o.toDouble, h.toDouble, l.toDouble,
            c.toDouble, v.toDouble)
      }
    case "binance" =>
      topLevelChunks(body).map(splitScalars).collect {
        case a if a.length >= 6 =>
          (a(0).toDouble.toLong, a(1).toDouble, a(2).toDouble,
            a(3).toDouble, a(4).toDouble, a(5).toDouble)
      }
    case "bittrex" =>
      topLevelChunks(body).flatMap { o =>
        for {
          at <- jsonField(o, "startsAt"); op <- jsonField(o, "open")
          hi <- jsonField(o, "high"); lo <- jsonField(o, "low")
          cl <- jsonField(o, "close"); vl <- jsonField(o, "volume")
        } yield (java.time.Instant.parse(at).toEpochMilli,
          op.toDouble, hi.toDouble, lo.toDouble, cl.toDouble, vl.toDouble)
      }
  }

  /** Top-level `[...]`/`{...}` elements of a JSON array body. */
  private def topLevelChunks(body: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var start = -1
    var inStr = false
    var esc = false
    body.indices.foreach { i =>
      val ch = body(i)
      if (inStr) { if (esc) esc = false else if (ch == '\\') esc = true
        else if (ch == '"') inStr = false }
      else ch match {
        case '"' => inStr = true
        case '[' | '{' =>
          depth += 1; if (depth == 2 && start < 0) start = i
        case ']' | '}' =>
          if (depth == 2 && start >= 0) { out += body.substring(start, i + 1); start = -1 }
          depth -= 1
        case _ =>
      }
    }
    out.toSeq
  }

  /** Comma-split of one flat `[...]` element, quotes stripped. */
  private def splitScalars(chunk: String): Array[String] =
    chunk.stripPrefix("[").stripSuffix("]").split(",")
      .map(_.trim.stripPrefix("\"").stripSuffix("\""))
}
