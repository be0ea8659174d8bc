package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.serving.QueryServer

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      data: String, batchData: String, work: String, out: String)

/** The benchmark's JVM side: one Spark session, one workload, one result
  * file. run.py generates the inputs, launches this, checks what it
  * reports and prints the result line.
  *
  * {{{
  * perfbench.Main --workload serve_read --seed 1 --seconds 15 --trace 1 \
  *   --data <inputs dir> --batch-data <probe inputs dir> --work <scratch dir> \
  *   --out <result.json>
  * }}}
  */
object Main {
  val Workloads: Seq[String] = Seq("serve_read", "ingest_fresh", "ingest_under_read")

  /** Per-route serving metrics are reported for these routes. */
  val Routes: Seq[String] = Mix.RouteNames ++ Serve.IngestRoutes

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("data"), kv.getOrElse("batch-data", ""), kv("work"), kv("out"))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    val res = new Result
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local(Runtime.getRuntime.availableProcessors.toString,
      s"perfbench-${o.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    res.info("session_s", (System.nanoTime() - t0) / 1e9)
    val tracer = new Tracer(spark, o.trace)
    try {
      o.workload match {
        case "serve_read" => serve(spark, o, tracer, res, readers = 4, ingest = false)
        case "ingest_fresh" => serve(spark, o, tracer, res, readers = 0, ingest = true)
        case "ingest_under_read" => serve(spark, o, tracer, res, readers = 3, ingest = true)
      }
      tracer.close()
      // memory before a traced run's batch probe adds its own
      Memory.report(res)
      if (o.trace) {
        layers(tracer, res)
        tracer.writeSpans(s"${o.work}/spans.jsonl")
        probe(spark, o, res)
      }
    } finally spark.stop()
    res.write(o.out)
  }

  // ----------------------------------------------------------- serving

  private def serve(spark: SparkSession, o: Opts, tracer: Tracer, res: Result,
                    readers: Int, ingest: Boolean): Unit = {
    val (wh, setups) = Serve.setup(spark, o, 3)
    res.metric("setup_s", Stats.median(setups))
    res.info("setup_runs_s", setups.mkString("[", ",", "]"))
    val (facts, sum) = Serve.facts(spark, wh)
    res.info("warehouse_rows", facts.rows)
    res.info("warehouse_value_sum", sum.toPlainString)
    res.info("series", facts.series.size)
    res.info("retained_after_setup_mb", Memory.settle())

    val feed = new Feed(Serve.Sites).start()
    val server = new QueryServer(spark, wh, restUrl = Some(feed.url)).start()
    val step = new AtomicInteger(-1)
    val ops = new ConcurrentLinkedQueue[Op]
    try {
      // warm-up, untimed: the same clients for as long as the window, the
      // ingest client for at least ten cycles. Both paths keep getting faster
      // (JIT) for the first ~10 ingest cycles and the first ~100 reads.
      val warm = new ConcurrentLinkedQueue[Op]
      Serve.drive(server, facts, o.seed + 7777, readers, ingest,
        System.nanoTime() + o.seconds * 1000000000L, tracer, warm, step, minCycles = 10)
      res.count(warm.asScala.toSeq.filter(topLevel))

      val fed0 = (feed.requests.get, feed.repeated.get, feed.bytes.get, feed.serveNs.get)
      val start = System.nanoTime()
      val deadline = start + o.seconds * 1000000000L
      val toggler = slices(tracer, start, deadline)
      Serve.drive(server, facts, o.seed, readers, ingest, deadline, tracer, ops, step)
      toggler.foreach(_.join())
      tracer.off()
      val end = System.nanoTime()
      res.info("retained_after_window_mb", Memory.settle())
      val all = ops.asScala.toSeq
      res.count(all.filter(topLevel))
      val primary = all.filter(op => if (ingest) op.route == "ingest" else Mix.RouteNames.contains(op.route))
      endToEnd(res, primary, (end - start) / 1e9)
      if (ingest) {
        val reads = all.filter(op => Mix.RouteNames.contains(op.route) && op.ok).map(_.ms)
        if (reads.nonEmpty) {
          res.info("read_p50_ms", Stats.pct(reads, 50))
          res.info("read_p90_ms", Stats.pct(reads, 90))
          res.info("read_n", reads.size)
        }
      }
      if (o.trace) {
        res.metric("trace.overhead_frac", overhead(tracer, primary))
        // the feed's work over the window, per ingest cycle of the window
        val cycles = all.count(_.route == "ingest")
        def perIngest(v: Double) = if (cycles > 0) v / cycles else 0.0
        res.metric("sources.chunk_requests_per_ingest", perIngest(feed.requests.get - fed0._1))
        res.metric("sources.retried_requests_per_ingest", perIngest(feed.repeated.get - fed0._2))
        res.metric("sources.bytes_served_per_ingest", perIngest(feed.bytes.get - fed0._3))
        res.metric("sources.serve_ms_per_ingest", perIngest((feed.serveNs.get - fed0._4) / 1e6))
        warehouse(spark, wh, facts.rows, step.get + 1, tracer, res)
      }
    } finally {
      server.stop()
      feed.stop()
    }
  }

  /** Reads and ingest cycles; an ingest cycle's own requests are its parts. */
  private def topLevel(op: Op): Boolean = !Serve.IngestRoutes.contains(op.route)

  /** In a traced run the window alternates untraced and traced quarters. */
  private def slices(tracer: Tracer, start: Long, deadline: Long): Option[Thread] =
    if (!tracer.enabled) None
    else {
      val t = new Thread(() => {
        val q = (deadline - start) / 4
        for (i <- 0 until 4) {
          if (i % 2 == 1) tracer.on() else tracer.off()
          val until = start + q * (i + 1)
          while (System.nanoTime() < until) Thread.sleep(math.max(1L, (until - System.nanoTime()) / 1000000L))
        }
        tracer.off()
      }, "perfbench-trace-slices")
      t.start()
      Some(t)
    }

  private def overhead(tracer: Tracer, primary: Seq[Op]): Double = {
    val (on, off) = primary.filter(_.ok).partition(op => tracer.wasTraced(op.startNs))
    if (on.isEmpty || off.isEmpty) 0.0
    else Stats.median(on.map(_.ms)) / Stats.median(off.map(_.ms)) - 1
  }

  /** `rows0` observations after setup, `allCycles` ingest cycles since
    * (warm-up included). */
  private def warehouse(spark: SparkSession, wh: graft.warehouse.Ingest.Warehouse,
                        rows0: Long, allCycles: Int, tracer: Tracer, res: Result): Unit = {
    val spans = tracer.spans
    val cycles = spans.filter(s => s.name == "ingest" && s.status == "ok")
    val jobMs = cycles.flatMap { c =>
      spans.filter(s => s.parent == c.id && s.name == "job_poll").map(_.endNs).maxOption
        .map(e => (e - c.startNs) / 1e6)
    }
    val lagMs = cycles.flatMap(c =>
      spans.filter(s => s.parent == c.id && s.name == "data_readback").map(_.durNs / 1e6))
    res.metric("warehouse.ingest_job_ms", Stats.median(jobMs))
    res.metric("warehouse.visible_lag_ms", Stats.median(lagMs))
    val rowsAfter = spark.read.parquet(wh.observations).count()
    res.info("obs_rows_after", rowsAfter)
    res.metric("warehouse.obs_rows_added_per_ingest",
      if (allCycles > 0) (rowsAfter - rows0).toDouble / allCycles else 0.0)
    // the last ingest's files: everything in the table newer than its POST
    val lastPost = cycles.map(_.startNs).maxOption
    val files = Option(new File(wh.observations).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    val tableBytes = files.map(_.length).sum.toDouble
    val written = lastPost.map { ns =>
      val cutoffMs = System.currentTimeMillis() - (System.nanoTime() - ns) / 1000000L
      files.filter(_.lastModified >= cutoffMs - 1000).map(_.length).sum.toDouble
    }.getOrElse(0.0)
    res.metric("warehouse.obs_bytes_written_per_ingest", written)
    res.metric("warehouse.rewrite_frac", if (tableBytes > 0) written / tableBytes else 0.0)
  }

  // ------------------------------------------------------------- batch

  /** The batch probe of a traced run, after the window and with its own
    * tracer: a warm pass writes each probe query's result for the oracle
    * compare (staged artifacts are built here), then one traced pass forces
    * each query with count() under its own job group. It gives the
    * streaming, queries and Stage layers; the serving workloads do not
    * exercise them. */
  private def probe(spark: SparkSession, o: Opts, res: Result): Unit = {
    val results = s"${o.work}/results"
    val t0 = System.nanoTime()
    Batch.warm(spark, Batch.Probe, o.batchData, results)
    res.info("probe_warm_s", (System.nanoTime() - t0) / 1e9)
    writeOracles(Batch.Probe, s"$results/oracle_sql.json")
    val tmp = new File(sys.props("java.io.tmpdir"))
    val staged0 = Batch.stagedDirs(tmp)
    val tracer = new Tracer(spark, enabled = true)
    tracer.on()
    val pass = Batch.pass(spark, Batch.Probe, o.batchData, tracer)
    tracer.close()
    res.count(pass.map(_._1))
    res.info("row_counts", pass.map { case (op, n) => s""""${op.route}":$n""" }
      .mkString("{", ",", "}"), raw = true)
    res.metric("stage.new_dirs", (Batch.stagedDirs(tmp) -- staged0).size.toDouble)
    val spans = tracer.spans
    Batch.Probe.foreach { q =>
      res.metric(s"queries.${q}_s", spans.filter(_.name == q).map(_.durNs / 1e9).sum)
    }
    val drains = spans.filter(s => graft.queries.Parity.drainBackedQueries.contains(s.name))
    res.metric("streaming.drain_s", drains.map(_.durNs).sum / 1e9)
    res.metric("streaming.jobs", drains.map(s => tracer.jobsUnder(s, tracer.jobs).size).sum.toDouble)
    val self = Trace.selfNs(tracer)
    res.metric("selftime.query_ms_per_query",
      if (spans.isEmpty) 0.0 else spans.map(s => self(s.id)).sum / 1e6 / spans.size)
    tracer.writeSpans(s"${o.work}/probe_spans.jsonl")
  }

  private def writeOracles(names: Seq[String], path: String): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.print(names.filter(sql.contains).map(q => s"${Result.str(q)}:${Result.str(sql(q))}")
      .mkString("{", ",", "}"))
    finally w.close()
  }

  // ----------------------------------------------------------- metrics

  private def endToEnd(res: Result, primary: Seq[Op], seconds: Double): Unit = {
    val ok = primary.filter(_.ok).map(_.ms)
    res.metric("op_p50_ms", Stats.pct(ok, 50))
    res.metric("op_p90_ms", Stats.pct(ok, 90))
    res.metric("ops_per_s", ok.size / seconds)
    res.info("ops", primary.size)
    if (primary.size <= 40) res.info("op_ms", primary.map(_.ms).mkString("[", ",", "]"))
    res.info("window_s", seconds)
    // the median of each half of the window: a falling second half means
    // the warm-up was too short
    if (ok.size >= 4) {
      val starts = primary.map(_.startNs)
      val (early, late) = primary.filter(_.ok).partition(_.startNs < (starts.min + starts.max) / 2)
      res.info("op_p50_halves_ms",
        Seq(early, late).map(h => Stats.median(h.map(_.ms))).mkString("[", ",", "]"))
    }
    res.info("ops_failed", primary.count(!_.ok))
  }

  /** The per-layer metrics of a traced run, over its traced slices. */
  private def layers(t: Tracer, res: Result): Unit = {
    val spans = t.spans
    val top = spans.filter(_.parent == 0L)
    val byName = spans.groupBy(_.name)
    Routes.foreach { r =>
      val ss = byName.getOrElse(r, Nil)
      val ms = ss.map(_.durNs / 1e6)
      res.metric(s"serving.$r.p50_ms", Stats.pct(ms, 50))
      res.metric(s"serving.$r.p95_ms", Stats.pct(ms, 95))
      res.metric(s"serving.$r.n", ss.size.toDouble)
      res.metric(s"serving.$r.fail", ss.count(_.status != "ok").toDouble)
    }
    // totals over the traced slices, per top-level op that started in them
    // (a read or an ingest cycle): a faster program fits more ops into the
    // slices, so the totals themselves would rise
    val ops = top.size
    def perOp(v: Double) = if (ops > 0) v / ops else 0.0
    val actions = t.actions.get
    val planMs = t.analysisMs.get + t.optimizationMs.get + t.planningMs.get
    res.metric("catalyst.actions_per_op", perOp(actions))
    res.metric("catalyst.analysis_ms_per_op", perOp(t.analysisMs.get))
    res.metric("catalyst.optimization_ms_per_op", perOp(t.optimizationMs.get))
    res.metric("catalyst.planning_ms_per_op", perOp(t.planningMs.get))
    res.metric("catalyst.plan_ms_per_action", if (actions > 0) planMs.toDouble / actions else 0.0)
    val jobs = t.jobs
    val tracedMs = t.tracedNs / 1e6
    val busyMs = Trace.covered(jobs.map(j => (j.startNs, j.endNs))) / 1e6
    val onlyMs = math.max(0.0, tracedMs - busyMs)
    res.metric("driver.jobs_per_op", perOp(jobs.size))
    res.metric("driver.busy_ms_per_op", perOp(busyMs))
    res.metric("driver.only_ms_per_op", perOp(onlyMs))
    res.metric("driver.only_share", if (tracedMs > 0) onlyMs / tracedMs else 0.0)
    res.metric("executor.stages_per_op", perOp(t.stages.get))
    res.metric("executor.tasks_per_op", perOp(t.tasks.get))
    res.metric("executor.run_ms_per_op", perOp(t.runMs.get))
    res.metric("executor.cpu_ms_per_op", perOp(t.cpuNs.get / 1e6))
    res.metric("executor.gc_ms_per_op", perOp(t.gcMs.get))
    res.metric("executor.input_bytes_per_op", perOp(t.inputBytes.get))
    res.metric("executor.shuffle_write_bytes_per_op", perOp(t.shuffleWriteBytes.get))
    res.metric("executor.shuffle_fetch_wait_ms_per_op", perOp(t.fetchWaitMs.get))
    res.metric("executor.spill_bytes_per_op", perOp(t.spillBytes.get))
    val self = Trace.selfNs(t)
    def selfMs(p: Span => Boolean) = spans.filter(p).map(s => self(s.id)).sum / 1e6
    res.metric("selftime.serving_ms_per_op", perOp(selfMs(s => Routes.contains(s.name))))
    res.metric("selftime.ingest_ms_per_op", perOp(selfMs(_.name == "ingest")))
    res.metric("selftime.jobs_ms_per_op", perOp(busyMs))
    // layers the workload does not exercise did no work
    Seq("sources.chunk_requests_per_ingest", "sources.retried_requests_per_ingest",
      "sources.bytes_served_per_ingest", "sources.serve_ms_per_ingest",
      "warehouse.ingest_job_ms", "warehouse.visible_lag_ms",
      "warehouse.obs_rows_added_per_ingest", "warehouse.obs_bytes_written_per_ingest",
      "warehouse.rewrite_frac").foreach(res.metricIfAbsent(_, 0.0))
    res.metric("trace.spans", spans.size.toDouble)
    res.metric("trace.traced_s", tracedMs / 1000)
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** The JVM's memory figures. `heap_retained_mb` is the program's own: the
  * heap still in use after a full collection, the largest of those taken
  * after setup and after the window (never inside it). The process
  * high-water mark and the pools' peaks depend on how much heap the
  * collector chose to touch, and are per-layer figures. */
object Memory {
  import java.lang.management.{ManagementFactory, MemoryType}

  private val retained = new java.util.concurrent.atomic.AtomicLong

  /** Collect twice, half a second apart: the first collection lets Spark's
    * ContextCleaner release the shuffle and broadcast blocks of collected
    * jobs, the second frees them. Returns the heap in use, in MB. */
  def settle(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    retained.accumulateAndGet(used, math.max)
    used / 1048576.0
  }

  def report(res: Result): Unit = {
    res.metric("heap_retained_mb", retained.get / 1048576.0)
    res.metric("jvm.peak_rss_mb", peakRssMb())
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    def peakMb(t: MemoryType) = pools.filter(_.getType == t).map(_.getPeakUsage.getUsed).sum / 1048576.0
    res.metric("jvm.heap_peak_mb", peakMb(MemoryType.HEAP))
    res.metric("jvm.nonheap_peak_mb", peakMb(MemoryType.NON_HEAP))
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

object Stats {
  /** The p-th percentile as the Harrell-Davis estimate: a Beta-weighted
    * mean of all order statistics (0 for no samples). The read mix's routes
    * have separate latency clusters, and the plain sample median sits where
    * two of them meet, so it can jump from one to the other between runs;
    * the weighted estimate moves smoothly with the mix. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        p / 100 * (n + 1), (1 - p / 100) * (n + 1))
      val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
      s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** What the JVM reports to run.py: metrics by name, informational values,
  * and the operations attempted and failed, by failure class. */
final class Result {
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val infos = mutable.LinkedHashMap.empty[String, String]
  private val classes = mutable.TreeMap.empty[String, Int]
  private val examples = mutable.TreeMap.empty[String, String]
  private var attempted = 0
  private var failed = 0

  def metric(k: String, v: Double): Unit = metrics(k) = v
  def metricIfAbsent(k: String, v: Double): Unit = if (!metrics.contains(k)) metrics(k) = v
  def info(k: String, v: Any, raw: Boolean = false): Unit = infos(k) = v match {
    case s: String if !raw && !s.startsWith("[") => Result.str(s)
    case x => x.toString
  }
  def count(ops: Seq[Op]): Unit = {
    attempted += ops.size
    ops.filterNot(_.ok).foreach { op =>
      failed += 1
      val cls = op.fail.takeWhile(_ != ':')
      classes(cls) = classes.getOrElse(cls, 0) + 1
      if (!examples.contains(cls)) examples(cls) = s"${op.route}: ${op.fail}".take(300)
    }
  }

  def write(path: String): Unit = {
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s"${Result.str(k)}:$v" }.mkString("{", ",", "}")
    val json = obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failure_classes" -> obj(classes.map { case (k, v) => k -> v.toString }),
      "failure_examples" -> obj(examples.map { case (k, v) => k -> Result.str(v) }),
      "metrics" -> obj(metrics.map { case (k, v) => k -> (if (v.isNaN || v.isInfinite) "null" else v.toString) }),
      "info" -> obj(infos)))
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(json) finally w.close()
  }
}

object Result {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
