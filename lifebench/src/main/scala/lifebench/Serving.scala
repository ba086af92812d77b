package lifebench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import graft.api.{OhlcvHttpServer, OhlcvReader, QueryCache}
import graft.storage.TxTable
import org.apache.spark.sql.{DataFrame, Row}

/** Blocking HTTP GET on one shared keep-alive client. */
object Http {
  private val client = java.net.http.HttpClient.newBuilder()
    .version(java.net.http.HttpClient.Version.HTTP_1_1)
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()

  def get(url: String): (Int, String) = {
    val r = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofSeconds(60)).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }
}

/** Spark-side helpers the workloads share: the server's fetch, building
  * and reading candle tables.
  */
object Serving {
  /** 1-minute rows as a frame in the program's `ohlcvs` schema. */
  def candleDf(spark: org.apache.spark.sql.SparkSession, rows: Seq[Row1m]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(r =>
      Row(new java.sql.Timestamp(r.ms), r.exchange, r.base, r.quote,
        r.open, r.high, r.low, r.close, r.volume)): _*), graft.core.Schemas.ohlcvs)

  def toCandle(r: Row): OhlcvHttpServer.Candle =
    OhlcvHttpServer.Candle(r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
      r.getDouble(4), r.getDouble(5))

  /** `readCached` spelled out from its public parts, so a cache hit is
    * observable: `cacheKey` + `QueryCache.getOrCompute` + `read`.
    */
  def cachedRead(cache: QueryCache, base: DataFrame, p: OhlcvReader.Params,
                 hits: AtomicLong, misses: AtomicLong): DataFrame = {
    var miss = false
    val df = cache.getOrCompute(OhlcvReader.cacheKey(p, base, Map.empty)) {
      miss = true; OhlcvReader.read(base, Map.empty, p)
    }
    (if (miss) misses else hits).incrementAndGet()
    df
  }

  /** A candle table's rows keyed as the checks expect them. */
  def keyedRows(df: DataFrame, timeCol: String): Seq[(Checks.Key, Checks.Ohlcv)] =
    df.collect().toSeq.map(r => (
      (r.getAs[String]("exchange"), r.getAs[String]("base_id"), r.getAs[String]("quote_id"),
        r.getAs[java.sql.Timestamp](timeCol).getTime),
      (r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
        r.getAs[Double]("close"), r.getAs[Double]("volume"))))

  /** Table storage shape: live files, log files, bytes per row. */
  def storageShape(t: TxTable, rows: Long): Map[String, Double] = {
    val snap = t.snapshot(t.version)
    val root = java.nio.file.Paths.get(t.root)
    val bytes = snap.files.map(f => java.nio.file.Files.size(root.resolve(f.path))).sum
    val logs = Option(root.resolve(TxTable.LogDirName).toFile.list()).map(_.length).getOrElse(0)
    Map("storage.files_live" -> snap.files.size.toDouble, "storage.log_files" -> logs.toDouble,
      "storage.bytes_per_row" -> (if (rows > 0) bytes.toDouble / rows else 0.0))
  }
}

/** One closed-loop HTTP client that checks every response. While a
  * request is in flight, `inFlight` holds its (span id, request id).
  */
final class Client(base: String, inFlight: java.util.concurrent.atomic.AtomicReference[(Long, Long)]) {
  final class Result {
    val latencyMs, rows = new Samples
    val sentN, failedN = new AtomicInteger
    def sent: Int = sentN.get
    def failed: Int = failedN.get
  }

  private def send(query: String, out: Result): Unit = {
    val req = Trace.newRequest()
    Trace.span("bench", "http", req) {
      inFlight.set((Trace.currentId, req))
      out.sentN.incrementAndGet()
      val t0 = System.nanoTime()
      val checked =
        try {
          val (status, body) = Http.get(s"$base/api/rest/ohlcvs?$query")
          Checks.response(status, body)
        } catch { case e: Exception => Left(e.toString) }
      out.latencyMs.add((System.nanoTime() - t0) / 1e6)
      checked match {
        case Right(n) => out.rows.add(n)
        case Left(err) =>
          out.failedN.incrementAndGet()
          System.err.println(s"request failed: $query: $err")
      }
    }
  }

  /** Send queries from `stream` back to back until `done` is set. */
  def until(stream: Iterator[String], done: java.util.concurrent.atomic.AtomicBoolean): Result = {
    val out = new Result
    while (!done.get) send(stream.next(), out)
    out
  }
}
