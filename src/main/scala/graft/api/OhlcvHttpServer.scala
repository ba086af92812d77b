package graft.api

import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledFuture, TimeUnit}

/** The reference's serving processes — FastAPI REST
  * (`web/routes/api/rest/ohlcvs.py:12-60`) and WebSocket
  * (`web/routes/api/ws/ohlcvs.py:17-57`) — on JDK-only plumbing
  * (`com.sun.net.httpserver` for REST, a minimal RFC 6455 server for
  * WS), so a reference user can exercise the reader end-to-end over
  * real sockets:
  *
  *  - `GET /api/rest/ohlcvs?exchange=&base_id=&quote_id=&interval=`
  *    (+ `start`, `end`, `limit`, `empty_ts`, `results_mls`) returns
  *    the [[OhlcvReader]] rows as the reference's JSON list of
  *    `{time, open, high, low, close, volume}`; missing params → 422
  *    `{"detail": ...}`, domain errors → 400 — the FastAPI shapes.
  *  - WS `/api/ws/ohlcvs` speaks the reference's subscribe protocol:
  *    `{"event_type":"subscribe","data_type":"ohlcv","exchange":...,
  *    "base_id":...,"quote_id":...,"interval":...,"mls":...}` starts
  *    pushes of the latest candle at the interval's cadence
  *    ([[graft.streaming.CadenceSender.cadenceSecs]]);
  *    `unsubscribe` cancels and acks with the reference's
  *    `successfully unsubscribed from e_b_q_i` detail; a bad
  *    event_type gets the reference's error detail verbatim.
  *
  * The data plane is injected as `fetch: Params => rows`, so the
  * server composes with [[OhlcvReader.read]]/`readCached` (see
  * [[OhlcvHttpServer.forSpark]]) and specs drive real sockets
  * without a cluster. Results are ≤ `maxLimit` rows by reader
  * contract — the collect is bounded, never corpus-sized. One
  * scheduler thread pool drives all subscriptions; per-connection
  * reader threads are daemons.
  */
object OhlcvHttpServer {

  /** One output candle row, pre-rendered field order. Non-finite
    * doubles render as `null` — bare `NaN`/`Infinity` tokens are not
    * JSON and would break every strict client parser.
    */
  case class Candle(time: Long, open: Double, high: Double, low: Double,
                    close: Double, volume: Double) {
    private def num(d: Double): String =
      if (java.lang.Double.isFinite(d)) d.toString else "null"
    def json: String =
      s"""{"time":$time,"open":${num(open)},"high":${num(high)},"low":${num(low)},"close":${num(close)},"volume":${num(volume)}}"""
  }

  /** Spark wiring: reader → bounded collect → rows. */
  def forSpark(spark: org.apache.spark.sql.SparkSession,
               base: org.apache.spark.sql.DataFrame,
               rollups: Map[String, org.apache.spark.sql.DataFrame],
               asOf: java.sql.Timestamp): OhlcvReader.Params => Seq[Candle] =
    p => OhlcvReader.read(base, rollups, p.copy(asOf = asOf)).collect().toSeq.map { r =>
      Candle(r.getLong(r.fieldIndex("time")),
        r.getDouble(r.fieldIndex("open")), r.getDouble(r.fieldIndex("high")),
        r.getDouble(r.fieldIndex("low")), r.getDouble(r.fieldIndex("close")),
        r.getDouble(r.fieldIndex("volume")))
    }

  /** Serve a [[graft.streaming.CandleStream.latestServeView]] memory
    * sink (complete mode, one row per key): the latest 1-minute
    * candle for the requested key, whatever interval the client
    * asked for — the reference WS sender's Redis latest-candle read
    * (`web/routes/api/ws/utils/senders.py`). This is the
    * streaming→serving wiring: the stream keeps the table current,
    * the WS cadence pushes read it.
    */
  def forLatestView(spark: org.apache.spark.sql.SparkSession,
                    table: String): OhlcvReader.Params => Seq[Candle] = {
    import org.apache.spark.sql.functions.col
    p => spark.table(table)
      .filter(col("exchange") === p.exchange &&
        col("base_id") === p.baseId && col("quote_id") === p.quoteId)
      .collect().toSeq.map { r =>
      val t = r.getAs[Long]("ts_ms")
      Candle(if (p.mls) t else t / 1000L,
        r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"),
        r.getAs[Double]("volume"))
    }
  }

  /** Bounded collect → ordered rows for the [[OhlcvHttpServer]]
    * `routes` plane (callers own the limit semantics — readers cap
    * at 500 / -1-unlimited per the reference).
    */
  def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[(String, Any)]] = {
    val names = df.schema.fieldNames.toSeq
    df.collect().toSeq.map(r => names.map(n => n -> r.getAs[Any](n)))
  }

  /** The reference's remaining REST surface (`rest/analytics.py`,
    * `rest/symexch.py`) over caller-supplied analytics views:
    * `analytics/geodr` and `analytics/wr` take `cutoff_upper_pct` /
    * `cutoff_lower_pct` / `limit` (-1 = all rows, T2) through
    * [[AnalyticsReader]]; `analytics/top20qvlm` orders by
    * total_volume desc; `symbol-exchange` serves trading symbols
    * exchange-ascending (readers.py:23-30, 118-124).
    */
  def analyticsRoutes(geoDr: => org.apache.spark.sql.DataFrame,
                      wr: => org.apache.spark.sql.DataFrame,
                      top20Qvlm: => org.apache.spark.sql.DataFrame,
                      symExch: => org.apache.spark.sql.DataFrame)
      : Map[String, Map[String, String] => Seq[Seq[(String, Any)]]] = {
    import org.apache.spark.sql.functions.col
    def cut(p: Map[String, String], k: String, dflt: Double): Option[Double] =
      p.get(k).map(_.toDouble).orElse(Some(dflt))
    def lim(p: Map[String, String]): Int =
      p.get("limit").map(_.toInt).getOrElse(500)
    Map(
      "analytics/geodr" -> (p => rowsOf(AnalyticsReader.readGeoDr(geoDr,
        cut(p, "cutoff_upper_pct", 10000d), cut(p, "cutoff_lower_pct", 0d), lim(p)))),
      "analytics/wr" -> (p => rowsOf(AnalyticsReader.readWr(wr,
        cut(p, "cutoff_upper_pct", 10000d), cut(p, "cutoff_lower_pct", 0d), lim(p)))),
      "analytics/top20qvlm" -> (_ => rowsOf(
        top20Qvlm.orderBy(col("total_volume").desc))),
      "symbol-exchange" -> (_ => rowsOf(
        symExch.filter(col("is_trading")).orderBy(col("exchange")))))
  }

  /** The reference's scratch REST route (`web/routes/api/rest/test.py:11`
    * → `readers.read_test`, readers.py:15-21): the first row of the
    * `test` table ordered by id, as a one-element model list — the
    * API-liveness probe. Served through the generic [[OhlcvHttpServer]]
    * `routes` plane like every other model-list endpoint; compose with
    * [[analyticsRoutes]]: `analyticsRoutes(...) ++ testRoute(testDf)`.
    */
  def testRoute(test: => org.apache.spark.sql.DataFrame)
      : Map[String, Map[String, String] => Seq[Seq[(String, Any)]]] = {
    import org.apache.spark.sql.functions.col
    Map("test" -> (_ => rowsOf(test.orderBy(col("id")).limit(1))))
  }

  /** Minimal flat-object JSON field extraction (string/number/bool) —
    * enough for the reference's subscribe messages and the Bittrex
    * candle objects `Main`'s page fetcher parses; no JSON library on
    * the serving or fetch path.
    */
  private[graft] def jsonField(s: String, key: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile("\"" + java.util.regex.Pattern.quote(key) +
        "\"\\s*:\\s*(\"((?:[^\"\\\\]|\\\\.)*)\"|[^,}\\s]+)")
      .matcher(s)
    if (m.find()) Option(m.group(2)).orElse(Option(m.group(1))) else None
  }
}

final class OhlcvHttpServer(
    fetch: OhlcvReader.Params => Seq[OhlcvHttpServer.Candle],
    restPort: Int = 0, wsPort: Int = 0,
    cadenceMsOverride: Option[Long] = None,
    // additional REST routes under /api/rest/ — the reference's
    // analytics + symbol-exchange endpoints (`rest/analytics.py`,
    // `rest/symexch.py`): path suffix → (query params → ordered rows)
    routes: Map[String, Map[String, String] => Seq[Seq[(String, Any)]]] = Map.empty) {
  import OhlcvHttpServer._

  private val rest = com.sun.net.httpserver.HttpServer.create(
    new InetSocketAddress("127.0.0.1", restPort), 0)
  private val wsSocket = new ServerSocket(wsPort, 16,
    java.net.InetAddress.getByName("127.0.0.1"))
  private val sched = Executors.newScheduledThreadPool(2, r => {
    val t = new Thread(r, "graft-ohlcv-push"); t.setDaemon(true); t
  })
  @volatile private var running = true

  def restAddress: String = s"http://127.0.0.1:${rest.getAddress.getPort}"
  def wsAddress: String = s"ws://127.0.0.1:${wsSocket.getLocalPort}"

  def start(): this.type = {
    rest.createContext("/api/rest/ohlcvs", exchangeHandler)
    rest.createContext("/api/rest/", routesHandler) // longest prefix wins
    rest.setExecutor(Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "graft-ohlcv-rest"); t.setDaemon(true); t
    }))
    rest.start()
    val acceptor = new Thread(() => {
      while (running)
        try { val s = wsSocket.accept(); serveWs(s) }
        catch { case _: Exception if !running => case _: Exception => }
    }, "graft-ohlcv-ws-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    this
  }

  def stop(): Unit = {
    running = false
    rest.stop(0)
    try wsSocket.close() catch { case _: Exception => }
    sched.shutdownNow()
  }

  // ------------------------------------------------------------ REST

  private def exchangeHandler: com.sun.net.httpserver.HttpHandler = ex =>
    respondJson(ex) {
      val params = queryParams(ex)
      val missing = Seq("exchange", "base_id", "quote_id", "interval")
        .filterNot(params.contains)
      if (missing.nonEmpty)
        (422, s"""{"detail":"missing required parameters: ${missing.mkString(", ")}"}""")
      else {
        val p = OhlcvReader.Params(
          exchange = params("exchange"), baseId = params("base_id"),
          quoteId = params("quote_id"), interval = params("interval"),
          startMs = params.get("start").map(_.toLong),
          endMs = params.get("end").map(_.toLong),
          limit = params.get("limit").map(_.toInt).getOrElse(500),
          emptyTs = params.get("empty_ts").exists(_.toBoolean),
          mls = params.get("results_mls").forall(_.toBoolean))
        (200, fetch(p).map(_.json).mkString("[", ",", "]"))
      }
    }

  /** Registered-route dispatch: `/api/rest/<suffix>` → rows rendered
    * as a JSON object list in column order (the FastAPI model-list
    * shape); unknown suffixes 404 with FastAPI's detail.
    */
  private def routesHandler: com.sun.net.httpserver.HttpHandler = ex =>
    respondJson(ex) {
      routes.get(ex.getRequestURI.getPath.stripPrefix("/api/rest/")) match {
        case None => (404, """{"detail":"Not Found"}""")
        case Some(route) =>
          (200, route(queryParams(ex)).map(row =>
            row.map { case (k, v) => s"${quote(k)}:${jsonValue(v)}" }
              .mkString("{", ",", "}")).mkString("[", ",", "]"))
      }
    }

  /** Send `body`'s (status, JSON) as the response; a failure becomes
    * FastAPI's `{"detail": message}` — 400 for a domain error
    * (IllegalArgumentException), 500 for anything else.
    */
  private def respondJson(ex: com.sun.net.httpserver.HttpExchange)
                         (body: => (Int, String)): Unit = {
    def detail(e: Exception) = s"""{"detail":${quote(String.valueOf(e.getMessage))}}"""
    val (code, json) =
      try body
      catch {
        case e: IllegalArgumentException => (400, detail(e))
        case e: Exception => (500, detail(e))
      }
    val b = json.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, b.length)
    ex.getResponseBody.write(b)
    ex.close()
  }

  /** The URL-decoded query parameters of a request. */
  private def queryParams(ex: com.sun.net.httpserver.HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val i = kv.indexOf('=')
        java.net.URLDecoder.decode(kv.take(i), "UTF-8") ->
          java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
      }.toMap

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case b: java.lang.Boolean => b.toString
    case t: java.sql.Timestamp => t.getTime.toString // epoch ms
    // non-finite floats are not JSON (bare NaN/Infinity tokens) — null
    case d: java.lang.Double if !java.lang.Double.isFinite(d) => "null"
    case f: java.lang.Float if !java.lang.Float.isFinite(f) => "null"
    case n: java.lang.Number => n.toString
    case other => quote(String.valueOf(other))
  }

  /** JSON string escape covering backslash, quote, and ALL control
    * chars (<0x20) — data or exception messages carrying a stray
    * control byte must not yield invalid JSON.
    */
  private def quote(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 2)
    b.append('"')
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"')
    b.toString
  }

  // -------------------------------------------------------------- WS

  /** Per-connection subscription registry keyed like the reference's
    * `exchange_base_quote_interval`.
    */
  private def serveWs(sock: Socket): Unit = {
    val t = new Thread(() => {
      val subs = new ConcurrentHashMap[String, ScheduledFuture[_]]()
      try {
        val in = new java.io.BufferedInputStream(sock.getInputStream)
        val out = new java.io.BufferedOutputStream(sock.getOutputStream)
        // no non-local return here: this body runs on its own thread
        handshake(in, out) match {
          case None =>
          case Some(path) if path.stripSuffix("/").endsWith("/test") =>
            // the reference's scratch WS route (ws/test.py:19-27):
            // greet and close — the WS-liveness probe
            out.synchronized {
              writeFrame(out, 0x1, """{"detail": "Hello WebSocket"}""".getBytes(UTF_8))
              writeFrame(out, 0x8, Array.emptyByteArray)
            }
          case Some(_) =>
          var open = true
          // RFC 6455 §5.4 fragmentation: a text message may arrive as
          // 0x1(FIN=0) + 0x0* + 0x0(FIN=1); accumulate until FIN
          val partial = new java.io.ByteArrayOutputStream()
          var inText = false
          while (open && running) readFrame(in) match {
            case None => open = false
            case Some((fin, 0x8, _)) => // close
              out.synchronized { writeFrame(out, 0x8, Array.emptyByteArray) }
              open = false
            case Some((_, 0x9, payload)) => // ping→pong; sync vs push thread
              out.synchronized { writeFrame(out, 0xA, payload) }
            case Some((fin, 0x1, payload)) =>
              if (fin) handleWsMessage(new String(payload, UTF_8), out, subs)
              else { partial.reset(); partial.write(payload); inText = true }
            case Some((fin, 0x0, payload)) if inText =>
              partial.write(payload)
              if (fin) {
                inText = false
                handleWsMessage(partial.toString("UTF-8"), out, subs)
                partial.reset()
              }
            case Some(_) => // binary / stray continuation: not part of the protocol
          }
        }
      } catch { case _: Exception => }
      finally {
        subs.values().forEach(f => f.cancel(false))
        try sock.close() catch { case _: Exception => }
      }
    }, "graft-ohlcv-ws-conn")
    t.setDaemon(true)
    t.start()
  }

  private def handleWsMessage(msg: String, out: java.io.OutputStream,
                              subs: ConcurrentHashMap[String, ScheduledFuture[_]]): Unit = {
    def send(s: String): Unit = out.synchronized { writeFrame(out, 0x1, s.getBytes(UTF_8)) }
    val eventType = jsonField(msg, "event_type")
    val dataType = jsonField(msg, "data_type")
    (eventType, dataType) match {
      case (Some("subscribe"), Some("ohlcv")) =>
        (for {
          e <- jsonField(msg, "exchange"); b <- jsonField(msg, "base_id")
          q <- jsonField(msg, "quote_id"); i <- jsonField(msg, "interval")
        } yield (e, b, q, i)) match {
          case None => send("""{"detail":"subscribe requires exchange, base_id, quote_id, interval"}""")
          case Some((e, b, q, i)) =>
            val mls = jsonField(msg, "mls").forall(_.toBoolean)
            val key = s"${e}_${b}_${q}_$i"
            val cadenceMs = cadenceMsOverride.getOrElse(
              graft.streaming.CadenceSender.cadenceSecs(i) * 1000L)
            val task: Runnable = () =>
              try fetch(OhlcvReader.Params(e, b, q, i, limit = 1, mls = mls))
                .lastOption.foreach(c => send(c.json))
              catch { case ex: Exception => send(s"""{"detail":${quote(String.valueOf(ex.getMessage))}}""") }
            val f = sched.scheduleAtFixedRate(task, 0L, cadenceMs, TimeUnit.MILLISECONDS)
            Option(subs.put(key, f)).foreach(_.cancel(false)) // re-subscribe replaces
        }
      case (Some("unsubscribe"), Some("ohlcv")) =>
        (for {
          e <- jsonField(msg, "exchange"); b <- jsonField(msg, "base_id")
          q <- jsonField(msg, "quote_id"); i <- jsonField(msg, "interval")
        } yield s"${e}_${b}_${q}_$i").foreach { key =>
          Option(subs.remove(key)).foreach(_.cancel(false))
          send(s"""{"detail":"successfully unsubscribed from $key"}""")
        }
      case _ =>
        // reference detail verbatim (ws/ohlcvs.py:38-40)
        send("""{"detail":"event_type must be subscribe or unsubscribe"}""")
    }
  }

  // RFC 6455 plumbing ------------------------------------------------

  /** RFC 6455 opening handshake; returns the GET request path on
    * success (the route selector — `/api/ws/ohlcvs` vs the scratch
    * `/api/ws/test`), None on a malformed upgrade.
    */
  private def handshake(in: java.io.InputStream, out: java.io.OutputStream): Option[String] = {
    val sb = new java.lang.StringBuilder
    var headerDone = false
    while (!headerDone) {
      val c = in.read()
      if (c == -1) return None
      sb.append(c.toChar)
      val n = sb.length()
      headerDone = n >= 4 && sb.charAt(n - 4) == '\r' && sb.charAt(n - 3) == '\n' &&
        sb.charAt(n - 2) == '\r' && sb.charAt(n - 1) == '\n'
    }
    val req = sb.toString
    val path = req.linesIterator.nextOption()
      .collect { case l if l.startsWith("GET ") =>
        l.split(" ")(1).takeWhile(_ != '?') }
      .getOrElse("")
    val key = req.linesIterator
      .find(_.toLowerCase.startsWith("sec-websocket-key:"))
      .map(_.split(":", 2)(1).trim)
    key match {
      case None => None
      case Some(k) =>
        val accept = java.util.Base64.getEncoder.encodeToString(
          java.security.MessageDigest.getInstance("SHA-1")
            .digest((k + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").getBytes(UTF_8)))
        out.write(("HTTP/1.1 101 Switching Protocols\r\n" +
          "Upgrade: websocket\r\nConnection: Upgrade\r\n" +
          s"Sec-WebSocket-Accept: $accept\r\n\r\n").getBytes(UTF_8))
        out.flush()
        Some(path)
    }
  }

  /** One frame: (fin, opcode, unmasked payload); None on EOF. */
  private def readFrame(in: java.io.InputStream): Option[(Boolean, Int, Array[Byte])] = {
    val b0 = in.read(); if (b0 == -1) return None
    val b1 = in.read(); if (b1 == -1) return None
    val fin = (b0 & 0x80) != 0
    val opcode = b0 & 0x0f
    val masked = (b1 & 0x80) != 0
    var len: Long = b1 & 0x7f
    if (len == 126) len = (in.read() << 8 | in.read()).toLong
    else if (len == 127) { len = 0; (0 until 8).foreach(_ => len = (len << 8) | in.read()) }
    if (len > (1L << 20)) return None // protocol messages are tiny; refuse abuse
    val mask = if (masked) Array.fill(4)(in.read().toByte) else Array.emptyByteArray
    val payload = new Array[Byte](len.toInt)
    var got = 0
    while (got < len) {
      val n = in.read(payload, got, len.toInt - got)
      if (n == -1) return None
      got += n
    }
    if (masked) payload.indices.foreach(i => payload(i) = (payload(i) ^ mask(i % 4)).toByte)
    Some((fin, opcode, payload))
  }

  private def writeFrame(out: java.io.OutputStream, opcode: Int,
                         payload: Array[Byte]): Unit = {
    out.write(0x80 | opcode)
    if (payload.length < 126) out.write(payload.length)
    else if (payload.length < (1 << 16)) {
      out.write(126); out.write(payload.length >> 8); out.write(payload.length & 0xff)
    } else {
      out.write(127)
      (7 to 0 by -1).foreach(i => out.write(((payload.length.toLong >> (8 * i)) & 0xff).toInt))
    }
    out.write(payload)
    out.flush()
  }
}
