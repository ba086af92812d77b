package graft.api

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.net.http.{HttpClient, HttpRequest, HttpResponse, WebSocket}
import java.time.Duration
import java.util.concurrent.{CompletionStage, CountDownLatch, LinkedBlockingQueue, TimeUnit}

/** [[OhlcvHttpServer]] over real sockets: the REST endpoint returns
  * exactly the reader's rows in the reference JSON shape with the
  * FastAPI error contracts, and the WS endpoint speaks the
  * subscribe/unsubscribe protocol with cadence pushes — driven by the
  * JDK HttpClient and its RFC 6455 WebSocket client.
  */
class OhlcvHttpServerSpec extends SparkSpec {
  import graft.SparkSpec.spark.implicits._
  import OhlcvHttpServer.Candle

  private val t0 = 1629294300000L // 2021-08-18 13:45:00 UTC, minute-aligned

  private def base() = (0 until 30).map { i =>
    (new java.sql.Timestamp(t0 + i * 60000L), "bitfinex", "BTC", "USD",
      100.0 + i, 101.0 + i, 99.0 + i, 100.5 + i, 2.0)
  }.toDF("time", "exchange", "base_id", "quote_id",
    "open", "high", "low", "close", "volume")

  // base ids whose fetch has returned, in completion order
  private val fetched = new LinkedBlockingQueue[String]()

  private def withServer(body: OhlcvHttpServer => Unit): Unit = {
    val asOf = new java.sql.Timestamp(t0 + 3600000L)
    val read = OhlcvHttpServer.forSpark(spark, base(), Map.empty, asOf)
    val srv = new OhlcvHttpServer(
      p => { val rows = read(p); fetched.put(p.baseId); rows },
      cadenceMsOverride = Some(150L)).start()
    try body(srv) finally srv.stop()
  }

  private def get(url: String): (Int, String) = {
    val c = HttpClient.newHttpClient()
    val r = c.send(HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("REST /api/rest/ohlcvs returns the reader's rows as the reference JSON") {
    withServer { srv =>
      val (code, body) = get(s"${srv.restAddress}/api/rest/ohlcvs" +
        "?exchange=bitfinex&base_id=BTC&quote_id=USD&interval=5m&limit=3")
      assert(code === 200, body)
      // exactly the reader rows, rendered field-for-field
      val expect = OhlcvHttpServer.forSpark(spark, base(), Map.empty,
        new java.sql.Timestamp(t0 + 3600000L))(
        OhlcvReader.Params("bitfinex", "BTC", "USD", "5m", limit = 3))
      assert(expect.nonEmpty)
      assert(body === expect.map(_.json).mkString("[", ",", "]"))
    }
  }

  test("REST error contracts: 422 missing params, 400 domain errors") {
    withServer { srv =>
      val (c1, b1) = get(s"${srv.restAddress}/api/rest/ohlcvs?exchange=bitfinex")
      assert(c1 === 422 && b1.contains("base_id"), b1)
      val (c2, b2) = get(s"${srv.restAddress}/api/rest/ohlcvs" +
        "?exchange=bitfinex&base_id=BTC&quote_id=USD&interval=2h")
      assert(c2 === 400 && b2.contains("interval"), b2)
    }
  }

  private def wsConnect(url: String, sink: String => Unit,
                        path: String = "/api/ws/ohlcvs"): WebSocket = {
    val listener = new WebSocket.Listener {
      private val buf = new StringBuilder
      override def onText(ws: WebSocket, data: CharSequence,
                          last: Boolean): CompletionStage[_] = {
        buf.append(data)
        if (last) { sink(buf.toString); buf.clear() }
        ws.request(1)
        null
      }
    }
    HttpClient.newHttpClient().newWebSocketBuilder()
      .connectTimeout(Duration.ofSeconds(5))
      .buildAsync(java.net.URI.create(url + path), listener)
      .get(10, TimeUnit.SECONDS)
  }

  test("WS subscribe pushes latest candle at cadence; unsubscribe acks and stops") {
    withServer { srv =>
      val msgs = new LinkedBlockingQueue[String]()
      val ws = wsConnect(srv.wsAddress, msgs.put)
      ws.sendText(
        """{"event_type":"subscribe","data_type":"ohlcv","exchange":"bitfinex",
          |"base_id":"BTC","quote_id":"USD","interval":"1m","mls":true}""".stripMargin,
        true)
      // at least two cadence pushes of the latest candle
      val p1 = msgs.poll(5, TimeUnit.SECONDS)
      val p2 = msgs.poll(5, TimeUnit.SECONDS)
      assert(p1 != null && p2 != null, s"expected pushes, got $p1 / $p2")
      val latest = Candle(t0 + 29 * 60000L, 129.0, 130.0, 128.0, 129.5, 2.0)
      assert(p1 === latest.json && p2 === latest.json)
      ws.sendText(
        """{"event_type":"unsubscribe","data_type":"ohlcv","exchange":"bitfinex",
          |"base_id":"BTC","quote_id":"USD","interval":"1m"}""".stripMargin, true)
      var ack: String = null
      val deadline = System.nanoTime() + 5L * 1000000000L
      while (ack == null && System.nanoTime() < deadline) {
        val m = msgs.poll(1, TimeUnit.SECONDS)
        if (m != null && m.contains("unsubscribed")) ack = m
      }
      assert(ack != null && ack.contains(
        "successfully unsubscribed from bitfinex_BTC_USD_1m"))
      // pushes stop: drain then require silence for > 3 cadences
      Thread.sleep(300); msgs.clear(); Thread.sleep(500)
      assert(msgs.isEmpty, "pushes must stop after unsubscribe")
      // a key with no rows is fetched at cadence and never pushed
      def ethFetches = fetched.toArray.count(_ == "ETH")
      ws.sendText(
        """{"event_type":"subscribe","data_type":"ohlcv","exchange":"bitfinex",
          |"base_id":"ETH","quote_id":"USD","interval":"1m","mls":true}""".stripMargin,
        true)
      val emptyDeadline = System.nanoTime() + 10L * 1000000000L
      while (ethFetches < 3 && System.nanoTime() < emptyDeadline) Thread.sleep(50)
      assert(ethFetches >= 3, "the empty key must still be fetched at cadence")
      assert(msgs.isEmpty, s"an empty fetch must send nothing, got ${msgs.peek()}")
      ws.sendClose(WebSocket.NORMAL_CLOSURE, "done")
    }
  }

  test("analytics + symbol-exchange routes serve the reference's remaining REST surface") {
    val geoDr = Seq(("BTCUSD", 5.0), ("ETHUSD", 12.0), ("DOGEUSD", 20000.0),
      ("FLATUSD", -1.0)).toDF("symbol", "daily_return_pct")
    val wr = Seq(("BTCUSD", 3.0), ("ETHUSD", 8.0)).toDF("symbol", "weekly_return_pct")
    val top20 = Seq(("ETHUSD", 900.0), ("BTCUSD", 1000.0)).toDF("symbol", "total_volume")
    val symExch = Seq(("bitfinex", "BTC", "USD", true), ("binance", "ETH", "USD", true),
      ("bittrex", "LTC", "USD", false)).toDF("exchange", "base_id", "quote_id", "is_trading")
    val asOf = new java.sql.Timestamp(t0 + 3600000L)
    val srv = new OhlcvHttpServer(
      OhlcvHttpServer.forSpark(spark, base(), Map.empty, asOf),
      routes = OhlcvHttpServer.analyticsRoutes(geoDr, wr, top20, symExch)).start()
    try {
      // default cutoffs (upper 10000, lower 0) drop DOGE and FLAT;
      // metric-descending order
      val (c1, b1) = get(s"${srv.restAddress}/api/rest/analytics/geodr")
      assert(c1 === 200 &&
        b1 === """[{"symbol":"ETHUSD","daily_return_pct":12.0},{"symbol":"BTCUSD","daily_return_pct":5.0}]""", b1)
      val (c2, b2) = get(s"${srv.restAddress}/api/rest/analytics/wr?limit=1")
      assert(c2 === 200 &&
        b2 === """[{"symbol":"ETHUSD","weekly_return_pct":8.0}]""", b2)
      val (c3, b3) = get(s"${srv.restAddress}/api/rest/analytics/top20qvlm")
      assert(c3 === 200 && b3.indexOf("BTCUSD") < b3.indexOf("ETHUSD"),
        s"total_volume desc: $b3")
      val (c4, b4) = get(s"${srv.restAddress}/api/rest/symbol-exchange")
      assert(c4 === 200 && b4.contains("binance") && b4.contains("bitfinex") &&
        !b4.contains("bittrex"), s"trading-only, exchange asc: $b4")
      assert(b4.indexOf("binance") < b4.indexOf("bitfinex"))
      val (c5, _) = get(s"${srv.restAddress}/api/rest/nope")
      assert(c5 === 404)
    } finally srv.stop()
  }

  test("scratch test routes: REST first-row probe + WS hello-and-close") {
    // REST: rest/test.py:11 → readers.read_test — first row of the
    // `test` table ordered by id, as a one-element model list
    val testDf = Seq((2L, "ETH", "USD", 1.0, 2.0), (1L, "BTC", "USD", 3.0, 4.0))
      .toDF("id", "b", "q", "o", "c")
    val asOf = new java.sql.Timestamp(t0 + 3600000L)
    val srv = new OhlcvHttpServer(
      OhlcvHttpServer.forSpark(spark, base(), Map.empty, asOf),
      routes = OhlcvHttpServer.testRoute(testDf)).start()
    try {
      val (code, body) = get(s"${srv.restAddress}/api/rest/test")
      assert(code === 200, body)
      assert(body === """[{"id":1,"b":"BTC","q":"USD","o":3.0,"c":4.0}]""", body)
      // unknown routes still 404 with the FastAPI detail
      val (c404, b404) = get(s"${srv.restAddress}/api/rest/nada")
      assert(c404 === 404 && b404 === """{"detail":"Not Found"}""")
      // WS: ws/test.py:19-27 — greet then close, the liveness probe
      val msgs = new LinkedBlockingQueue[String]()
      val closed = new CountDownLatch(1)
      val listener = new WebSocket.Listener {
        override def onText(ws: WebSocket, data: CharSequence,
                            last: Boolean): CompletionStage[_] = {
          msgs.put(data.toString); ws.request(1); null
        }
        override def onClose(ws: WebSocket, code: Int,
                             reason: String): CompletionStage[_] = {
          closed.countDown(); null
        }
      }
      HttpClient.newHttpClient().newWebSocketBuilder()
        .connectTimeout(Duration.ofSeconds(5))
        .buildAsync(java.net.URI.create(srv.wsAddress + "/api/ws/test"), listener)
        .get(10, TimeUnit.SECONDS)
      assert(msgs.poll(5, TimeUnit.SECONDS) === """{"detail": "Hello WebSocket"}""")
      assert(closed.await(5, TimeUnit.SECONDS), "server must close after the greeting")
    } finally srv.stop()
  }

  test("JSON rendering stays valid on control chars and non-finite doubles") {
    // routesHandler path: a string value carrying control bytes must
    // escape to \u00XX, and NaN/Infinity must render null (bare tokens
    // are not JSON)
    val weird = Seq(("a\u0001b\u001fc", Double.NaN, Double.PositiveInfinity, 1.5))
      .toDF("s", "nan", "inf", "ok")
    val asOf = new java.sql.Timestamp(t0 + 3600000L)
    val srv = new OhlcvHttpServer(
      OhlcvHttpServer.forSpark(spark, base(), Map.empty, asOf),
      routes = Map("weird" -> (_ => OhlcvHttpServer.rowsOf(weird)))).start()
    try {
      val (code, body) = get(s"${srv.restAddress}/api/rest/weird")
      assert(code === 200, body)
      assert(body === "[{\"s\":\"a\\u0001b\\u001fc\",\"nan\":null,\"inf\":null,\"ok\":1.5}]", body)
      // Candle.json under non-finite inputs is still parseable JSON
      assert(OhlcvHttpServer.Candle(1L, Double.NaN, 2.0, 1.0,
        Double.NegativeInfinity, 3.0).json ===
        """{"time":1,"open":null,"high":2.0,"low":1.0,"close":null,"volume":3.0}""")
    } finally srv.stop()
  }

  test("WS rejects unknown event types with the reference detail") {
    withServer { srv =>
      val msgs = new LinkedBlockingQueue[String]()
      val ws = wsConnect(srv.wsAddress, msgs.put)
      ws.sendText("""{"event_type":"resubscribe","data_type":"ohlcv"}""", true)
      val m = msgs.poll(5, TimeUnit.SECONDS)
      assert(m != null && m.contains("event_type must be subscribe or unsubscribe"))
      ws.sendClose(WebSocket.NORMAL_CLOSURE, "done")
    }
  }

  test("WS reassembles fragmented text messages (RFC 6455 §5.4)") {
    withServer { srv =>
      val msgs = new LinkedBlockingQueue[String]()
      val ws = wsConnect(srv.wsAddress, msgs.put)
      val full = """{"event_type":"subscribe","data_type":"ohlcv","exchange":"bitfinex",""" +
        """"base_id":"BTC","quote_id":"USD","interval":"1m","mls":true}"""
      val (a, b) = full.splitAt(full.length / 2)
      // sendText(..., last = false) emits a FIN=0 text frame + a
      // continuation — the server must reassemble before parsing
      ws.sendText(a, false).get(5, TimeUnit.SECONDS)
      ws.sendText(b, true).get(5, TimeUnit.SECONDS)
      val p = msgs.poll(5, TimeUnit.SECONDS)
      assert(p != null && p.contains(""""close":129.5"""),
        s"fragmented subscribe must still start pushes: $p")
      ws.sendClose(WebSocket.NORMAL_CLOSURE, "done")
    }
  }
}
