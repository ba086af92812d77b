package graft

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[Main]] — the CLI face of the two production jobs (reference
  * scripts/fetchers/rest.py:8-66): a fixture-backed end-to-end
  * backfill driven through `main(args)` must land exactly the range's
  * candles first-write-wins in the TxTable (idempotent on re-run),
  * the Bittrex action must day-slice, the JDBC flag must route
  * through the sink, and the stream action must run the
  * transactional pipeline from files to table.
  */
class MainSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._

  private val t0 = 1609459200000L // 2021-01-01T00:00:00Z

  /** 120 one-minute candles per symbol, the page source's fixture. */
  private def writeFixture(): String = {
    val dir = java.nio.file.Files.createTempDirectory("mainfix").toString
    val rows = for {
      (b, q) <- Seq(("BTC", "USD"), ("ETH", "USD"))
      i <- 0 until 120
    } yield (new java.sql.Timestamp(t0 + i * 60000L), b, q,
      100.0 + i, 101.0 + i, 99.0 + i, 100.5 + i, 2.0)
    rows.toDF("time", "base_id", "quote_id",
      "open", "high", "low", "close", "volume")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("backfill from main(args): fixture pages -> cursor walk -> TxTable, idempotent") {
    val fix = writeFixture()
    val table = java.nio.file.Files.createTempDirectory("maintbl").toString + "/t"
    val errs = java.nio.file.Files.createTempDirectory("mainerr").toString + "/e"
    val args = Array("backfill", "--exchange", "bitfinex",
      "--symbols", "BTC-USD,ETH-USD",
      "--start", "2021-01-01T00:00:00", "--end", "2021-01-01T01:00:00",
      "--table", table, "--errors", errs, "--source", fix)
    Main.main(args)
    val t = new graft.storage.TxTable(spark, table)
    val got = t.read()
    // exactly the first 60 minutes of both symbols, no more
    assert(got.count() === 120L)
    assert(got.groupBy(col("base_id")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("BTC" -> 60L, "ETH" -> 60L))
    assert(got.agg(min(unix_millis(col("time"))), max(unix_millis(col("time"))))
      .as[(Long, Long)].head() === ((t0, t0 + 59 * 60000L)))
    // re-running the same backfill is first-write-wins: nothing doubles
    Main.main(args)
    assert(new graft.storage.TxTable(spark, table).read().count() === 120L)
  }

  test("bittrex backfill day-slices; a multi-day range lands each day's candles once") {
    val fix = writeFixture()
    val table = java.nio.file.Files.createTempDirectory("maintbl2").toString + "/t"
    Main.main(Array("backfill", "--exchange", "bittrex",
      "--symbols", "BTC-USD",
      "--start", "2021-01-01T00:00:00", "--end", "2021-01-03T00:00:00",
      "--table", table, "--errors",
      java.nio.file.Files.createTempDirectory("mainerr2").toString + "/e",
      "--source", fix))
    // the fixture only covers 120 minutes of day 1
    val got = new graft.storage.TxTable(spark, table).read()
    assert(got.count() === 120L)
  }

  test("jdbc-url routes the backfill through JdbcCandleSink") {
    val fix = writeFixture()
    val url = "jdbc:derby:memory:mainjdbc;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().execute(
        """CREATE TABLE "ohlcvs" (
          |  "time" TIMESTAMP NOT NULL, "exchange" VARCHAR(100) NOT NULL,
          |  "base_id" VARCHAR(20) NOT NULL, "quote_id" VARCHAR(20) NOT NULL,
          |  "open" DOUBLE, "high" DOUBLE, "low" DOUBLE, "close" DOUBLE,
          |  "volume" DOUBLE,
          |  PRIMARY KEY ("exchange", "base_id", "quote_id", "time"))""".stripMargin)
    } finally conn.close()
    Main.main(Array("backfill", "--exchange", "bitfinex",
      "--symbols", "BTC-USD",
      "--start", "2021-01-01T00:00:00", "--end", "2021-01-01T00:30:00",
      "--jdbc-url", url, "--errors",
      java.nio.file.Files.createTempDirectory("mainerr3").toString + "/e",
      "--source", fix))
    val c2 = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c2.createStatement().executeQuery("""SELECT COUNT(*) FROM "ohlcvs"""")
      rs.next()
      assert(rs.getInt(1) === 30)
    } finally c2.close()
  }

  test("stream from main(args): file source -> closed candles -> TxTable") {
    // canonical candle-message rows: two updates of one closed minute
    // plus a newer message that advances the watermark past it
    val srcDir = java.nio.file.Files.createTempDirectory("mainstream").toString
    Seq(
      (t0 + 1000L, "bitfinex", "BTC", "USD", 100.0, 101.0, 99.0, 100.2, 1.0),
      (t0 + 2000L, "bitfinex", "BTC", "USD", 100.0, 102.0, 99.0, 100.7, 2.0),
      (t0 + 2 * 3600000L, "bitfinex", "BTC", "USD", 1.0, 1.0, 1.0, 1.0, 1.0))
      .toDF("ts_ms", "exchange", "base_id", "quote_id",
        "open", "high", "low", "close", "volume")
      .write.mode("overwrite").parquet(srcDir)
    val table = java.nio.file.Files.createTempDirectory("maintbl3").toString + "/t"
    // --trigger-secs 0 = Trigger.AvailableNow: the stream drains the
    // fixture (incl. the watermark-flush no-data batches) and exits on
    // its own — deterministic under arbitrary host CPU steal, unlike
    // the fixed --duration-secs window this test used to flake on.
    Main.main(Array("stream",
      "--checkpoint", java.nio.file.Files.createTempDirectory("mainck").toString,
      "--table", table, "--input", s"parquet:$srcDir",
      "--trigger-secs", "0"))
    val t = new graft.storage.TxTable(spark, table)
    assert(t.version >= 0, "the stream must have committed")
    val closed = t.read().filter(unix_millis(col("time")) === t0)
    // latest message per closed bucket wins (max_by ts_ms)
    assert(closed.count() === 1L)
    assert(closed.select("close", "volume").as[(Double, Double)].head() === ((100.7, 2.0)))
  }

  test("repair from main(args): trailing-window refetch upserts o/h/l/c/v exactly once") {
    // seed the table from fixture A (backfill over the first hour)
    val fixA = writeFixture()
    val table = java.nio.file.Files.createTempDirectory("maintbl4").toString + "/t"
    Main.main(Array("backfill", "--exchange", "bitfinex",
      "--symbols", "BTC-USD",
      "--start", "2021-01-01T00:00:00", "--end", "2021-01-01T01:00:00",
      "--table", table, "--errors",
      java.nio.file.Files.createTempDirectory("mainerr4").toString + "/e",
      "--source", fixA))
    // fixture B: the exchange revised the candles (different values)
    val fixB = java.nio.file.Files.createTempDirectory("mainfixb").toString
    (0 until 120).map(i => (new java.sql.Timestamp(t0 + i * 60000L), "BTC", "USD",
        500.0 + i, 501.0 + i, 499.0 + i, 500.5 + i, 9.0))
      .toDF("time", "base_id", "quote_id",
        "open", "high", "low", "close", "volume")
      .write.mode("overwrite").parquet(fixB)
    // pinned clock at 01:00:00 → repair window = the five complete
    // minutes [00:55, 01:00) (reference: end = now−1m, start = end−4m)
    val repairArgs = Array("repair", "--exchange", "bitfinex",
      "--symbols", "BTC-USD", "--table", table,
      "--iterations", "1", "--now-ms", (t0 + 3600000L).toString,
      "--errors",
      java.nio.file.Files.createTempDirectory("mainerr5").toString + "/e",
      "--source", fixB)
    Main.main(repairArgs)
    val got = new graft.storage.TxTable(spark, table).read()
    // still one row per minute — the upsert replaced, never duplicated
    assert(got.count() === 60L)
    val repaired = got.filter(unix_millis(col("time")) >= t0 + 55 * 60000L)
      .orderBy(col("time"))
      .select("open", "high", "low", "close", "volume")
      .as[(Double, Double, Double, Double, Double)].collect()
    assert(repaired.length === 5)
    repaired.zipWithIndex.foreach { case ((o, h, l, c, v), j) =>
      val i = 55 + j
      assert((o, h, l, c, v) === ((500.0 + i, 501.0 + i, 499.0 + i, 500.5 + i, 9.0)))
    }
    // the untouched head keeps fixture A's values
    val head = got.filter(unix_millis(col("time")) === t0)
      .select("open").as[Double].head()
    assert(head === 100.0)
    // a second identical repair is idempotent: same count, same values
    Main.main(repairArgs)
    val again = new graft.storage.TxTable(spark, table).read()
    assert(again.count() === 60L)
    assert(again.filter(unix_millis(col("time")) === t0 + 55 * 60000L)
      .select("open").as[Double].head() === 555.0)
  }

  test("curate from main(args): JSONL landing dir -> errors/quality/dedup -> corpus table") {
    val land = java.nio.file.Files.createTempDirectory("maincur").toString
    val base = java.nio.file.Files.createTempDirectory("maincurtbl").toString
    val long1 = (1 to 80).map(i => s"alpha$i").mkString(" ")
    val long2 = (1 to 80).map(i => s"beta$i").mkString(" ")
    def jl(id: Long, text: String): String =
      s"""{"doc_id": $id, "text": "$text", "lang": "en", "source": "web", "n_chars": ${text.length}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(land, "d1.jsonl"),
      Seq(jl(1, long1), jl(2, long2), jl(3, "too short"), "garbage").mkString("\n"))
    val args = Array("curate", "--input", land,
      "--state", s"$base/state", "--sink", s"$base/corpus",
      "--errors", s"$base/errs", "--profile", s"$base/profile",
      "--once", "true",
      "--checkpoint", java.nio.file.Files.createTempDirectory("maincurck").toString)
    Main.main(args)
    val sink = new graft.storage.TxTable(spark, s"$base/corpus")
    assert(sink.read().select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    assert(new graft.storage.TxTable(spark, s"$base/errs").read().count() === 1L)
    // a second drop with an exact dup of 1 and one new doc: only the
    // new doc admits (history-aware), errors untouched
    java.nio.file.Files.writeString(java.nio.file.Paths.get(land, "d2.jsonl"),
      Seq(jl(4, long1), jl(5, (1 to 80).map(i => s"gamma$i").mkString(" ")))
        .mkString("\n"))
    Main.main(args.updated(args.indexOf("--checkpoint") + 1,
      java.nio.file.Files.createTempDirectory("maincurck2").toString.asInstanceOf[String]))
    assert(sink.read().select("doc_id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 5L))
    val est = graft.llm.CorpusProfile.hllView(
        new graft.storage.TxTable(spark, s"$base/profile", partitionCol = "g"))
      .filter($"g" === "web").select($"est").as[Double].head()
    assert(math.abs(est - 3.0) < 0.7, s"profile estimate $est far from 3")
    val tag = java.lang.Integer.toUnsignedString(s"$base/state".hashCode, 16)
    spark.sql(s"DROP TABLE IF EXISTS curate_bands_$tag")
    spark.sql(s"DROP TABLE IF EXISTS curate_digests_$tag")
  }

  test("curate --format warc from main(args): WARC landing dir -> corpus table") {
    // the flag-routing smoke; WarcPipelineSpec pins the full contract
    val land = java.nio.file.Files.createTempDirectory("mainwarc").toString
    val base = java.nio.file.Files.createTempDirectory("mainwarctbl").toString
    val long1 = (1 to 80).map(i => s"alpha$i").mkString(" ")
    def rec(uri: String, body: String): String = {
      val html = s"<html><body><p>$body</p></body></html>"
      s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${html.length}\r\n\r\n" +
        s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$html\r\n\r\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(land, "d1.warc"),
      rec("https://www.Example.com/a?utm_source=x", long1) +
        rec("https://www.Example.com/b", "too short"))
    Main.main(Array("curate", "--input", land, "--format", "warc",
      "--state", s"$base/state", "--sink", s"$base/corpus",
      "--errors", s"$base/errs", "--once", "true",
      "--checkpoint", java.nio.file.Files.createTempDirectory("mainwarcck").toString))
    val rows = new graft.storage.TxTable(spark, s"$base/corpus").read()
      .select($"p_date", $"text").as[(String, String)].collect()
    assert(rows.length === 1 && rows.head._1 === "example.com" &&
      rows.head._2 === long1)
    val tag = java.lang.Integer.toUnsignedString(s"$base/state".hashCode, 16)
    spark.sql(s"DROP TABLE IF EXISTS curate_bands_$tag")
    spark.sql(s"DROP TABLE IF EXISTS curate_digests_$tag")
  }

  test("arg parsing fails loudly: bad action, bad flag shape, bad symbol") {
    intercept[IllegalArgumentException] { Main.parse(Array.empty) }
    intercept[IllegalArgumentException] { Main.parse(Array("backfill", "oops")) }
    intercept[IllegalArgumentException] { Main.parse(Array("backfill", "--start")) }
    intercept[IllegalArgumentException] {
      Main.run(spark, "nonsense", Map.empty)
    }
    intercept[IllegalArgumentException] {
      Main.run(spark, "backfill", Map("exchange" -> "bitfinex",
        "start" -> "2021-01-01T00:00:00", "end" -> "2021-01-02T00:00:00",
        "symbols" -> "BTCUSD", "table" -> "/tmp/x"))
    }
    assert(Main.parseTs("2021-01-01T00:00:00") === t0)
  }

  test("usage message names every action run accepts") {
    val e = intercept[IllegalArgumentException] { Main.parse(Array.empty) }
    Seq("backfill", "stream", "repair", "curate").foreach(a => assert(e.getMessage.contains(a)))
  }
}
