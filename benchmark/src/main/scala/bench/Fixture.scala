package bench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** A seeded fixture market: 1-minute klines for every (exchange, symbol,
  * minute) in closed form, so the sink a sync should produce is known
  * without running the engine.
  *
  *  - Values are a pure function of (seed, exchange, symbol, minute).
  *  - A seeded ~10% of symbols have one permanent 30-minute outage inside
  *    the first day: the exchange never returns those minutes.
  *  - The exchange only knows closed candles: minutes before `clockMs`.
  *
  * `ExchangeShape` renders rows the way each venue's REST API does, so the
  * engine's own adapters normalize them. */
final case class Fixture(seed: Long, symbolsPerExchange: Int, startMs: Long,
    spanMinutes: Int) {
  import Fixture._

  val exchanges: Seq[ExchangeShape] = Fixture.Shapes

  def symbols(ex: ExchangeShape): IndexedSeq[String] =
    (0 until symbolsPerExchange).map(i => f"${ex.name.toUpperCase}S$i%03dUSDT")

  /** First minute index of the symbol's outage, or -1 when it has none. */
  def outageStart(ex: ExchangeShape, sym: String): Int = {
    val h = mix(seed, ex.id, sym.hashCode, -1L)
    if (java.lang.Long.remainderUnsigned(h, 10L) != 0L) -1
    else 60 + java.lang.Long.remainderUnsigned(h >>> 8, 1440L - 120L).toInt
  }

  def inOutage(ex: ExchangeShape, sym: String, minute: Int): Boolean = {
    val o = outageStart(ex, sym)
    o >= 0 && minute >= o && minute < o + OutageMinutes
  }

  /** Close price in ten-thousandths: the checksum unit. */
  def closeTicks(ex: ExchangeShape, sym: String, minute: Int): Long = {
    val base = 10000L + java.lang.Long.remainderUnsigned(
      mix(seed, ex.id, sym.hashCode, -2L), 9000000L)
    base + java.lang.Long.remainderUnsigned(
      mix(seed, ex.id, sym.hashCode, minute.toLong), 2001L) - 1000L
  }

  /** One kline as this venue renders it, or null inside an outage. */
  def row(ex: ExchangeShape, sym: String, minute: Int): String =
    if (inOutage(ex, sym, minute)) null
    else {
      val c = closeTicks(ex, sym, minute)
      val o = c - 3; val h = c + 7; val l = c - 9
      val v = 1 + java.lang.Long.remainderUnsigned(
        mix(seed, ex.id, sym.hashCode, minute.toLong + 1000003L), 100000L)
      ex.render(startMs + minute * MinuteMs, price(o), price(h), price(l),
        price(c), s"$v.5", price(c * v))
    }

  /** Every row of the fixture's span, rendered once: serving a request is
    * then a slice and a join, so the exchange's own cost stays small and
    * the same on every run. */
  final class Cache {
    private val rows: Map[(Int, String), Array[String]] =
      (for (ex <- exchanges; s <- symbols(ex)) yield
        (ex.id, s) -> Array.tabulate(spanMinutes)(m => row(ex, s, m))).toMap

    /** Body for rows with open time in [fromMs, toMs], at most `limit`,
      * earliest first, and only closed candles (open time + 1m <= clock). */
    def body(ex: ExchangeShape, sym: String, fromMs: Long, toMs: Long,
        limit: Int, clockMs: Long): String = {
      val arr = rows.getOrElse((ex.id, sym), Array.empty[String])
      val lastClosed = Math.floorDiv(clockMs - startMs, MinuteMs) - 1
      val lo = math.max(0L, Math.floorDiv(fromMs - startMs + MinuteMs - 1,
        MinuteMs))
      val hi = Seq(Math.floorDiv(toMs - startMs, MinuteMs), lastClosed,
        arr.length - 1L).min
      val picked = new java.util.ArrayList[String]()
      var m = lo
      while (m <= hi && picked.size < limit) {
        val r = arr(m.toInt)
        if (r != null) picked.add(r)
        m += 1
      }
      ex.wrap(sym, picked)
    }
  }
}

/** How one venue renders a kline row and wraps a page of them. */
final case class ExchangeShape(name: String, id: Int, limit: Int,
    render: (Long, String, String, String, String, String, String) => String,
    wrap: (String, java.util.List[String]) => String)

object Fixture {
  val MinuteMs = 60000L
  val OutageMinutes = 30
  val InstType = 1

  private def join(rows: java.util.List[String]): String =
    String.join(",", rows)

  val Shapes: Seq[ExchangeShape] = Seq(
    // binance: top-level array of 12-element positional arrays
    ExchangeShape("binance", 1, 1000,
      (ts, o, h, l, c, v, q) =>
        s"""[$ts,"$o","$h","$l","$c","$v",${ts + MinuteMs - 1},"$q",7,"1","1","0"]""",
      (_, rows) => "[" + join(rows) + "]"),
    // okx: {code, msg, data: [[ts, o, h, l, c, confirm]]}, no volumes
    ExchangeShape("okx", 2, 300,
      (ts, o, h, l, c, _, _) => s"""["$ts","$o","$h","$l","$c","1"]""",
      (_, rows) => """{"code":"0","msg":"","data":[""" + join(rows) + "]}"),
    // bybit: rows under result.list, newest first like the live API
    ExchangeShape("bybit", 3, 1000,
      (ts, o, h, l, c, v, q) => s"""["$ts","$o","$h","$l","$c","$v","$q"]""",
      (sym, rows) => {
        val rev = new java.util.ArrayList[String](rows)
        java.util.Collections.reverse(rev)
        s"""{"retCode":"0","result":{"symbol":"$sym","category":"linear","list":[""" +
          join(rev) + "]}}"
      }))

  def price(ticks: Long): String =
    java.math.BigDecimal.valueOf(ticks, 4).toPlainString

  /** splitmix64 over the four inputs: cheap, seeded, well mixed. */
  def mix(seed: Long, a: Long, b: Long, c: Long): Long = {
    def sm(x0: Long): Long = {
      var z = x0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    sm(sm(sm(sm(seed) ^ a) ^ b) ^ c)
  }

  /** Parse `a=b&c=d` (values URL-decoded). */
  def query(q: String): Map[String, String] =
    Option(q).toSeq.flatMap(_.split('&')).filter(_.contains('=')).map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> URLDecoder.decode(kv.drop(i + 1), StandardCharsets.UTF_8)
    }.toMap
}

/** Loopback exchange on the JDK's built-in HTTP server. Serves
  * `/<venue>/klines?symbol=&start=&end=&limit=` from a [[Fixture#Cache]]
  * at the current fixture clock. Its worker pool is bounded by `threads`. */
final class FixtureServer(fixture: Fixture, cache: Fixture#Cache,
    threads: Int) {
  @volatile var clockMs: Long = fixture.startMs
  private val byName = fixture.exchanges.map(e => e.name -> e).toMap
  private val pool = Executors.newFixedThreadPool(threads)
  // without TCP_NODELAY a response's header and body writes meet the
  // client's delayed ACK and every request stalls ~40 ms on loopback
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(
    new InetSocketAddress("127.0.0.1", 0), 64)

  server.createContext("/", (x: HttpExchange) => {
    try {
      val venue = x.getRequestURI.getPath.split('/').filter(_.nonEmpty)
      val q = Fixture.query(x.getRequestURI.getRawQuery)
      val reply = (venue.headOption.flatMap(byName.get), q.get("symbol")) match {
        case (Some(ex), Some(sym)) =>
          200 -> cache.body(ex, sym, q("start").toLong, q("end").toLong,
            q.get("limit").map(_.toInt).getOrElse(ex.limit), clockMs)
        case _ => 404 -> """{"error":"unknown venue or symbol"}"""
      }
      val bytes = reply._2.getBytes(StandardCharsets.UTF_8)
      x.getResponseHeaders.add("Content-Type", "application/json")
      x.sendResponseHeaders(reply._1, bytes.length.toLong)
      val os = x.getResponseBody
      try os.write(bytes) finally os.close()
    } finally x.close()
  })
  server.setExecutor(pool)
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}
