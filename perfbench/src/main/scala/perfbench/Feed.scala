package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate}
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback gas-quality REST feed for the ingest workloads.
  *
  * Serves the envelope the chunked REST source parses,
  * `{"data":[{"applicableAt","site","metric","value"}, ...]}`, for
  * `GET /gas?from=YYYY-MM-DD&toExclusive=YYYY-MM-DD`: one row per
  * (day, hour, site, metric). Every value is [[Feed.value]] of those four
  * coordinates, so a row read back from the warehouse is checked against
  * the feed without keeping state. The counters are the `sources.*`
  * metrics, counted where the requests arrive.
  */
final class Feed(sites: IndexedSeq[String]) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(2)
  private val served = ConcurrentHashMap.newKeySet[String]()
  val requests = new AtomicLong
  val repeated = new AtomicLong
  val bytes = new AtomicLong
  val serveNs = new AtomicLong

  server.setExecutor(pool)
  server.createContext("/gas", (x: HttpExchange) => {
    val t0 = System.nanoTime()
    try {
      val params = Option(x.getRequestURI.getQuery).getOrElse("").split("&")
        .filter(_.contains("=")).map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
      val from = LocalDate.parse(params("from"))
      val to = LocalDate.parse(params("toExclusive"))
      requests.incrementAndGet()
      if (!served.add(s"$from/$to")) repeated.incrementAndGet()
      val body = Feed.envelope(sites, from, to).getBytes(StandardCharsets.UTF_8)
      x.getResponseHeaders.add("Content-Type", "application/json")
      x.sendResponseHeaders(200, body.length.toLong)
      val os = x.getResponseBody
      try os.write(body) finally os.close()
      bytes.addAndGet(body.length.toLong)
    } finally {
      x.close()
      serveNs.addAndGet(System.nanoTime() - t0)
    }
  })

  def start(): Feed = { server.start(); this }
  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/gas"
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

object Feed {
  val Metrics: IndexedSeq[String] = graft.sources.v2.ChunkedRestSource.Metrics.toIndexedSeq
  private val base = Array(48.0, 38.0, 0.55)
  private val span = Array(4.0, 3.0, 0.1)

  /** The feed's reading for one hour: a pure function of its coordinates,
    * rounded to three decimals. */
  def value(day: LocalDate, hour: Int, site: Int, metric: Int): Double = {
    var h = (day.toEpochDay * 24 + hour) * 1000003L + site * 7919L + metric * 104729L
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    val u = java.lang.Long.remainderUnsigned(h, 10000L) / 10000.0
    math.rint((base(metric) + u * span(metric)) * 1000) / 1000
  }

  def envelope(sites: IndexedSeq[String], from: LocalDate, toExclusive: LocalDate): String = {
    val sb = new java.lang.StringBuilder("{\"data\":[")
    var first = true
    var day = from
    while (day.isBefore(toExclusive)) {
      val midnight = day.toEpochDay * 86400L
      for (hour <- 0 until 24; s <- sites.indices; m <- Metrics.indices) {
        if (!first) sb.append(',')
        first = false
        sb.append("{\"applicableAt\":\"").append(Instant.ofEpochSecond(midnight + hour * 3600L))
          .append("\",\"site\":\"").append(sites(s))
          .append("\",\"metric\":\"").append(Metrics(m))
          .append("\",\"value\":").append(value(day, hour, s, m)).append('}')
      }
      day = day.plusDays(1)
    }
    sb.append("]}").toString
  }
}
