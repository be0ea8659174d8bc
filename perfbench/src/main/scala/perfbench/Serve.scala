package perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.serving.QueryServer
import graft.warehouse.Ingest
import graft.warehouse.Ingest.Warehouse

/** One finished client operation. `fail` is empty on success, else the
  * failure class (a Spark error class, `http_<status>`, or
  * `check_<route>` when the response was wrong). */
final case class Op(route: String, startNs: Long, endNs: Long, fail: String) {
  def ms: Double = (endNs - startNs) / 1e6
  def ok: Boolean = fail.isEmpty
}

/** What the request mix needs to know about the warehouse it reads. */
final case class Facts(series: IndexedSeq[String], firstDay: LocalDate,
                       days: Int, rows: Long, sites: Int)

/** A request of the read mix: its route name, its URL path and query,
  * and the check its response must pass (None = correct). */
final case class Req(route: String, path: String, check: Http.Resp => Option[String])

/** The seeded read mix over the reference's read routes. */
final class Mix(seed: Long, f: Facts) {
  private val rng = new java.util.Random(seed)
  private def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)
  private def series = f.series(rng.nextInt(f.series.size))
  private def day = f.firstDay.plusDays(rng.nextInt(f.days - 2).toLong)
  private def at(d: LocalDate) = d.atStartOfDay.toString + ":00"

  private val routes: Map[String, () => Req] = Map(
    "data_history" -> (() => { // one series' history over a 2-day window
      val (s, d) = (series, day)
      val (a, b) = (at(d), at(d.plusDays(2)))
      Req("data_history", s"/v2/data?series_id=${enc(s)}&start=$a&end=$b&limit=1000",
        Checks.page(limit = 1000, series = Some(s), start = Some(a), end = Some(b)))
    }),
    "data_page" -> (() => { // unfiltered page at a random offset
      val off = (rng.nextDouble() * (f.rows - 100)).toLong
      Req("data_page", s"/v2/data?limit=100&offset=$off", Checks.page(limit = 100, exact = true))
    }),
    "data_raw" -> (() => { // a series page with each point's landed payload
      val s = series
      Req("data_raw", s"/v2/data?series_id=${enc(s)}&include_raw=true&limit=50",
        Checks.page(limit = 50, series = Some(s), exact = true, raw = true))
    }),
    "data_bulk" -> (() => { // a page of up to 5000 rows: the dataset over one day
      val d = day
      val (a, b) = (at(d), at(d.plusDays(1)))
      Req("data_bulk", s"/v2/data?dataset_id=GAS_QUALITY&start=$a&end=$b&limit=5000",
        Checks.page(limit = 5000, dataset = Some("GAS_QUALITY"), start = Some(a), end = Some(b)))
    }),
    "export_csv" -> (() => { // CSV export of one series
      val s = series
      Req("export_csv", s"/v2/export/data.csv?series_id=${enc(s)}&limit=1000", Checks.csv(s, 1000))
    }),
    "discovery_fields" -> (() => Req("discovery_fields",
      "/v2/discovery/fields?dataset_id=GAS_QUALITY", Checks.fields)),
    "discovery_raw" -> (() => { // newest raw payloads of one site (JSON-path predicate)
      val site = rng.nextInt(f.sites)
      Req("discovery_raw", s"/v2/discovery/raw?dataset_id=GAS_QUALITY&site_id=$site&limit=20",
        Checks.rawSite(site, 20))
    }))

  // Every round of the mix holds each route once, in a shuffled order: the
  // routes have an equal share of the requests (the shares are assumed;
  // no source gives the reference's traffic by route).
  private val deck = Mix.RouteNames.toBuffer
  private var dealt = deck.size

  def next(): Req = {
    if (dealt == deck.size) {
      java.util.Collections.shuffle(deck.asJava, rng)
      dealt = 0
    }
    dealt += 1
    routes(deck(dealt - 1))()
  }
}

object Mix {
  val RouteNames: Seq[String] = Seq("data_history", "data_page", "data_raw", "data_bulk",
    "export_csv", "discovery_fields", "discovery_raw")
}

/** Response checks. Each returns None when the response is correct. */
object Checks {
  private def fail(route: String, why: String) = Some(s"check_$route: $why")

  def page(limit: Int, series: Option[String] = None, dataset: Option[String] = None,
           start: Option[String] = None, end: Option[String] = None,
           exact: Boolean = false, raw: Boolean = false)(r: Http.Resp): Option[String] = {
    val lo = start.map(s => LocalDateTime.parse(s).toInstant(ZoneOffset.UTC))
    val hi = end.map(s => LocalDateTime.parse(s).toInstant(ZoneOffset.UTC))
    val arr = Http.json(r.body)
    val keys = for {
      s <- arr.elements().asScala.toSeq
      p <- s.get("points").elements().asScala.toSeq
    } yield (s, p)
    val flat = keys.map { case (s, p) =>
      (s.get("series_id").asText, Instant.parse(p.get("timestamp").asText))
    }
    def ordered = flat.zip(flat.drop(1)).forall { case ((s1, t1), (s2, t2)) =>
      s1 < s2 || (s1 == s2 && t1.isBefore(t2))
    }
    if (flat.isEmpty) fail("data", "empty page")
    else if (flat.size > limit || (exact && flat.size != limit))
      fail("data", s"${flat.size} rows for limit $limit")
    else if (!ordered) fail("data", "rows out of (series_id, observation_time) order")
    else if (series.exists(s => flat.exists(_._1 != s))) fail("data", "series_id filter")
    else if (dataset.exists(d => arr.elements().asScala.exists(_.get("dataset_id").asText != d)))
      fail("data", "dataset_id filter")
    else if (flat.exists { case (_, t) => lo.exists(t.isBefore) || hi.exists(t.isAfter) })
      fail("data", "time filter")
    else if (raw && keys.exists { case (s, p) =>
      val payload = p.get("raw_payload")
      val sid = s.get("series_id").asText
      val metric = s.get("description").asText
      payload == null || !payload.isObject || payload.get(metric) == null ||
        !sid.contains(payload.get("site").asText) ||
        payload.get(metric).asDouble != p.get("value").asDouble
    }) fail("data", "raw_payload does not match its point")
    else None
  }

  def csv(series: String, limit: Int)(r: Http.Resp): Option[String] = {
    val lines = r.body.split("\n").toSeq
    val rows = lines.drop(1).map(_.split(",", -1))
    val times = rows.map(_(1))
    if (lines.head != "series_id,observation_time,value,quality_flag") fail("csv", "header")
    else if (rows.isEmpty || rows.size > limit) fail("csv", s"${rows.size} rows")
    else if (rows.exists(_(0) != series)) fail("csv", "series_id filter")
    else if (times.zip(times.drop(1)).exists { case (a, b) => a >= b }) fail("csv", "order")
    else None
  }

  def fields(r: Http.Resp): Option[String] = {
    val names = Http.json(r.body).elements().asScala.map(_.get("field").asText).toSet
    val want = Set("ts", "site", "siteId", "WOBBE", "CV", "SG")
    if (want.subsetOf(names)) None else fail("fields", s"missing ${want -- names}")
  }

  def rawSite(site: Int, limit: Int)(r: Http.Resp): Option[String] = {
    val ps = Http.json(r.body).elements().asScala.toSeq
    if (ps.size != limit) fail("raw", s"${ps.size} payloads for limit $limit")
    else if (ps.exists(p => p.get("siteId") == null || p.get("siteId").asText != site.toString))
      fail("raw", "site_id filter")
    else None
  }
}

/** The serving workloads: a warehouse built by the program's ingest DAG,
  * served by its QueryServer, driven by closed-loop clients. */
object Serve {
  val Dataset = "GAS_QUALITY"
  val Sites: IndexedSeq[String] = (0 until 40).map(i => f"SITE_$i%02d")
  /** The requests an ingest cycle makes. */
  val IngestRoutes: Seq[String] = Seq("ingest_post", "job_poll", "data_readback")

  /** Build the warehouse `n` times from empty and keep the last; returns
    * the per-build seconds. An untimed build of a 1000-row slice first
    * takes the JIT's first pass over the ingest DAG. */
  def setup(spark: SparkSession, o: Opts, n: Int): (Warehouse, Seq[Double]) = {
    val wide = spark.read.parquet(s"${o.data}/wide.parquet")
    val first = Warehouse(s"${o.work}/warehouse_0")
    Ingest.ingestWide(spark, first, wide.limit(1000), Dataset, "ts", Seq("site"))
    Main.deleteTree(new java.io.File(first.root))
    val times = (1 to n).map { i =>
      val wh = Warehouse(s"${o.work}/warehouse_$i")
      val t0 = System.nanoTime()
      Ingest.ingestWide(spark, wh, wide, Dataset, "ts", Seq("site"))
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < n) Main.deleteTree(new java.io.File(wh.root))
      dt
    }
    (Warehouse(s"${o.work}/warehouse_$n"), times)
  }

  /** The warehouse's shape for the read mix, and its decimal value sum. */
  def facts(spark: SparkSession, wh: Warehouse): (Facts, java.math.BigDecimal) = {
    val obs = spark.read.parquet(wh.observations)
    val agg = obs.agg(count(lit(1)), sum(col("value").cast("decimal(18,4)")),
      min(col("observation_time")), max(col("observation_time"))).first()
    val series = obs.select("series_id").distinct().collect().map(_.getString(0)).sorted
    def day(i: Int) = agg.getTimestamp(i).toInstant.atZone(ZoneOffset.UTC).toLocalDate
    val days = java.time.temporal.ChronoUnit.DAYS.between(day(2), day(3)).toInt + 1
    (Facts(series.toIndexedSeq, day(2), days, agg.getLong(0), Sites.size), agg.getDecimal(1))
  }

  /** Run `readers` closed-loop read clients and, if `ingest`, one
    * closed-loop ingest client (at least `minCycles` cycles) against a
    * started server until `deadlineNs`. Every finished operation lands in
    * `ops`. */
  def drive(server: QueryServer, f: Facts, seed: Long, readers: Int, ingest: Boolean,
            deadlineNs: Long, tracer: Tracer, ops: ConcurrentLinkedQueue[Op],
            ingestStep: java.util.concurrent.atomic.AtomicInteger, minCycles: Int = 0): Unit = {
    val threads = (0 until readers).map { k =>
      new Thread(() => {
        val mix = new Mix(seed * 1000 + k, f)
        while (System.nanoTime() < deadlineNs) ops.add(read(server.url, mix.next(), tracer, 0L, -1L))
      }, s"perfbench-reader-$k")
    } ++ (if (ingest) Seq(new Thread(() => {
      val rng = new java.util.Random(seed * 1000 + 999)
      var cycles = 0
      while (System.nanoTime() < deadlineNs || cycles < minCycles) {
        cycles += 1
        ops.addAll(ingestCycle(server.url, f, ingestStep.getAndIncrement(), rng, tracer).asJava)
      }
    }, "perfbench-ingest")) else Nil)
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** Time one request. `rootStart` is the start of the ingest cycle the
    * request belongs to, or -1 for a top-level request. */
  private def timed(route: String, tracer: Tracer, parent: Long, rootStart: Long)
                   (call: => Http.Resp)(check: Http.Resp => Option[String]): (Op, Http.Resp) = {
    val id = tracer.newId()
    val t0 = System.nanoTime()
    val (resp, fail) =
      try {
        val r = call
        (r, if (!r.ok) Http.failure(r) else check(r).getOrElse(""))
      } catch {
        case e: Exception => (Http.Resp(-1, ""), s"io_${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    val t1 = System.nanoTime()
    tracer.span(id, parent, route, t0, t1, if (fail.isEmpty) "ok" else fail,
      if (rootStart >= 0) rootStart else t0)
    (Op(route, t0, t1, fail), resp)
  }

  def read(base: String, q: Req, tracer: Tracer, parent: Long, rootStart: Long): Op =
    timed(q.route, tracer, parent, rootStart)(Http.get(base + q.path)) { r =>
      try q.check(r) catch { case e: Exception => Some(s"check_${q.route}: unparseable ($e)") }
    }._1

  /** One ingest cycle: POST a 2-day window (the second half of the
    * previous window plus one new day), poll the job until it ends, then
    * read the window's newest row of one series back through /v2/data and
    * compare it with the feed. The returned `ingest` op spans POST sent
    * to row visible; the requests it made are returned after it. */
  def ingestCycle(base: String, f: Facts, step: Int, rng: java.util.Random,
                  tracer: Tracer): Seq[Op] = {
    val id = tracer.newId()
    val from = f.firstDay.plusDays(10L + step)
    val to = from.plusDays(1)
    val t0 = System.nanoTime()
    val reqs = Seq.newBuilder[Op]
    def finish(fail: String): Seq[Op] = {
      val t1 = System.nanoTime()
      tracer.span(id, 0L, "ingest", t0, t1, if (fail.isEmpty) "ok" else fail, t0)
      Op("ingest", t0, t1, fail) +: reqs.result()
    }
    val (post, pr) = timed("ingest_post", tracer, id, t0)(
      Http.post(s"$base/v2/ingest/gas?from_date=$from&to_date=$to"))(_ => None)
    reqs += post
    if (!post.ok) return finish(post.fail)
    val job = Http.json(pr.body).get("job_id").asLong
    var state = "accepted"
    while (state == "accepted" || state == "running") {
      val (poll, r) =
        timed("job_poll", tracer, id, t0)(Http.get(s"$base/v2/ingest/jobs/$job"))(_ => None)
      reqs += poll
      if (!poll.ok) return finish(poll.fail)
      state = Http.json(r.body).get("status").asText
      if (state == "accepted" || state == "running") Thread.sleep(10)
    }
    if (state != "done")
      return finish(s"${Http.errorClass(state).getOrElse("ingest_job_failed")}: ${state.take(300)}")
    val site = rng.nextInt(f.sites)
    val metric = rng.nextInt(Feed.Metrics.size)
    val sid = s"NG_${Dataset}_${Sites(site)}_${Feed.Metrics(metric)}"
    val at = to.atTime(23, 0).toString + ":00"
    val want = Feed.value(to, 23, site, metric)
    val back = read(base, Req("data_readback",
      s"/v2/data?series_id=$sid&start=$at&end=$at&limit=10", { r =>
        val pts = Http.json(r.body).elements().asScala.toSeq.flatMap(_.get("points").elements().asScala)
        if (pts.size != 1) Some(s"check_readback: ${pts.size} rows at $at")
        else if (pts.head.get("value").asDouble != want)
          Some(s"check_readback: ${pts.head.get("value").asDouble} != feed $want")
        else None
      }), tracer, id, t0)
    reqs += back
    finish(back.fail)
  }
}
