package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.http.GraftHttpServer
import graft.store.Store

import Gen.{Panel, Push, Req}

/** Serving benchmark harness: starts the program in this JVM (store build
  * on a fresh root, then the HTTP frontend on an ephemeral port), drives
  * one workload over real sockets, checks every response and prints the
  * metrics. `run.py` builds and launches it; see README.md.
  */
object Main {
  val DefaultSeed = 1L
  val Workloads = Seq("dashboard_read", "push_ingest", "mixed_rw")

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, goldens: String, writeGoldens: Boolean,
      traceOut: String)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("goldens"), kv.get("write-goldens").contains("1"),
      kv.getOrElse("trace-out", s"${need("work")}/spans.jsonl"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sparkStartS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val (json, ok) =
      try new Bench(spark, a, cores, sparkStartS).run()
      finally spark.stop()
    println(json)
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }
}

/** One timed operation as the client saw it. */
final case class Sample(kind: String, family: String, key: String, rid: String,
    dueNs: Long, sentNs: Long, doneNs: Long, bytes: Long, ok: Boolean,
    rows: Int = 0) {
  /** Latency; from the due time in open loop (dueNs > 0). */
  def latencyS: Double =
    (if (dueNs > 0) Stats.openLoopLatencyNs(dueNs, sentNs, doneNs)
     else doneNs - sentNs) / 1e9
}

final class Bench(spark: SparkSession, a: Main.Args, cores: Int,
    sparkStartS: Double) {
  import Bench._

  private val rec = new Recorder
  private val sparkTrace = if (a.trace) Some(SparkTrace.install(spark, rec)) else None
  private val goldensPath = Paths.get(a.goldens)
  private val checks = new Checks(
    if (a.seed == Main.DefaultSeed && !a.writeGoldens) Checks.load(goldensPath)
    else Map.empty)
  private val samples = new ConcurrentLinkedQueue[Sample]()
  private val rids = new AtomicLong
  private val storeRoot = Paths.get(Store.storeRoot)

  private val pushes = a.workload != "dashboard_read"
  private val queries = a.workload != "push_ingest"
  private val ruled = a.workload != "dashboard_read"
  private val panels: IndexedSeq[Panel] = Gen.Panels(a.seed)

  /** Request id of a traced request. In a traced run every other gated
    * operation is traced (a read-back follows its push), so traced and
    * untraced requests share the same process, time and load.
    */
  private def rid(kind: String, traced: Boolean): Option[String] =
    if (rec.enabled && traced) Some(s"$kind-${rids.incrementAndGet()}") else None
  private val opNo = new AtomicLong
  private def alternate(): Boolean = opNo.getAndIncrement() % 2 == 1

  // ---- operations ------------------------------------------------------------

  private def query(c: Client, r: Req, dueNs: Long = 0L): Sample = {
    val id = rid(r.family, alternate())
    val s = try {
      val (st, body, t0, t1) = c.send(r, id)
      Sample("query", r.family, r.key, id.getOrElse(""), dueNs, t0, t1, body.length,
        checks.response(r, st, body))
    } catch { case e: Exception =>
      checks.attempted.incrementAndGet()
      checks.fail(s"${r.key} -> $e")
      Sample("query", r.family, r.key, id.getOrElse(""), dueNs, System.nanoTime(), System.nanoTime(), 0, ok = false)
    }
    samples.add(s)
    s
  }

  private def push(c: Client, p: Push, dueNs: Long = 0L): Sample = {
    val id = rid("push", alternate())
    val s = try {
      val (st, body, t0, t1) = c.send(p.req, id)
      Sample("push", p.format, p.req.key, id.getOrElse(""), dueNs, t0, t1, p.req.body.length,
        checks.ack(p, st, body), p.rows)
    } catch { case e: Exception =>
      checks.attempted.incrementAndGet()
      checks.fail(s"push ${p.k} -> $e")
      Sample("push", p.format, p.req.key, id.getOrElse(""), dueNs, System.nanoTime(), System.nanoTime(), 0, ok = false)
    }
    samples.add(s)
    s
  }

  /** Read a push back; the first read-back of a push records a `visible`
    * sample (push sent → the first response that holds all of its rows).
    */
  private val readBacks = new AtomicInteger
  private def readBack(c: Client, p: Push, pushed: Sample, dueNs: Long = 0L,
      repeat: Boolean = false): Boolean = {
    if (!repeat) readBacks.incrementAndGet()
    val id = rid("readback", pushed.rid.nonEmpty)
    try {
      val (st, body, t0, t1) = c.send(p.readBack, id)
      val ok = checks.readBack(p, st, body)
      samples.add(Sample("readback", p.format, p.readBack.key, id.getOrElse(""), dueNs, t0, t1,
        body.length, ok))
      if (!repeat) samples.add(Sample("visible", p.format, "", "", 0L, pushed.sentNs, t1, 0, ok))
      ok
    } catch { case e: Exception =>
      checks.attempted.incrementAndGet()
      checks.fail(s"read-back ${p.k} -> $e")
    }
  }

  private val maintains = new ConcurrentLinkedQueue[(Double, Int)]()
  private val maintainNo = new AtomicInteger

  private def maintain(dir: String): Unit = {
    val g = s"maintain-${maintainNo.incrementAndGet()}"
    val t0 = System.nanoTime()
    val n = SparkTrace.inGroup(spark, g) {
      rec.span[Int]("store.maintain", g)(Store.maintain(spark, dir))
    }
    maintains.add(((System.nanoTime() - t0) / 1e9, n))
  }

  // ---- set-up ----------------------------------------------------------------

  private final case class Served(dir: String, server: GraftHttpServer, base: String)

  private val rulerClockNs = new AtomicLong((Gen.T0S + 10 * 86400L) * Gen.NsPerS)
  private lazy val ruler = new graft.streaming.RulerScheduler(spark, _served.dir,
    () => rulerClockNs.get())
  private var _served: Served = _
  private val ticks = new ConcurrentLinkedQueue[Double]()
  private val tickNo = new AtomicInteger

  private def rulerTick(): Unit = {
    rulerClockNs.addAndGet(60L * Gen.NsPerS)
    val g = s"ruler-${tickNo.incrementAndGet()}"
    val t0 = System.nanoTime()
    SparkTrace.inGroup(spark, g)(rec.span[Long]("streaming.ruler_tick", g)(ruler.tick()))
    ticks.add((System.nanoTime() - t0) / 1e9)
  }

  private def writeData(dir: String): Unit =
    if (a.workload == "push_ingest")
      Gen.writeEvents(spark, dir, a.seed, BaseEvents, Users, _ % 17 == 0)
    else Gen.writeEvents(spark, dir, a.seed, BaseEvents, Users)

  /** Set-up: store build on a fresh root, server start, rule registration
    * (when the workload ticks the ruler) and one warm-up pass over every
    * query template and push format the workload uses, run on `cores`
    * client threads. Returns the store build time.
    */
  private def setup(dir: String): Double = {
    val t0 = System.nanoTime()
    Store.ensure(spark, dir)
    val ensureS = (System.nanoTime() - t0) / 1e9
    val server = new TracedFrontend(spark, dir, rec).start(0)
    _served = Served(dir, server, s"http://127.0.0.1:${server.getAddress.getPort}")
    def warm(ok: Boolean, what: => String): Unit =
      if (!ok) throw new IllegalStateException(s"warm-up failed: $what")
    def text(b: Array[Byte]) = new String(b, "UTF-8").take(300)
    val tasks: Seq[Client => Unit] =
      (if (queries) panels.map { p => (c: Client) =>
        val (st, body, _, _) = c.send(p.at(0), None)
        warm(st == 200, s"${p.at(0).key} -> $st ${text(body)}")
      } else Nil) ++
      (if (pushes) Gen.Formats.indices.map { f => (c: Client) =>
        val p = Gen.push(a.seed, WarmK + f, RowsPerPush)
        val (st, body, _, _) = c.send(p.req, None)
        warm(st / 100 == 2, s"push ${p.format} -> $st ${text(body)}")
        val (rs, rb, _, _) = c.send(p.readBack, None)
        warm(rs == 200 && checks.readBackRows(p, new String(rb, "UTF-8")).contains(p.rows),
          s"read-back ${p.format} -> $rs ${text(rb)}")
      } else Nil) ++
      (if (ruled) Seq((c: Client) => {
        val (st, body, _, _) = c.send(Req("rules", "/loki/api/v1/rules/perfbench", "",
          "POST", RulesYaml.getBytes("UTF-8"), "application/yaml"), None)
        warm(st / 100 == 2, s"rules -> $st ${text(body)}")
      }) else Nil)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      val clients = new ThreadLocal[Client] { override def initialValue() = new Client(_served.base) }
      tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = t(clients.get())
      })).foreach { f =>
        try f.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdown()
    ensureS
  }

  // ---- workloads ---------------------------------------------------------------

  /** Closed loop over the panels, refreshed round-robin. Runs whole rounds:
    * once the window is over, the round in progress is finished, so every
    * run measures each panel equally often.
    */
  private def dashboardRead(until: Long): Unit = {
    var next = 0L
    // the next request index, or None once a new round would start after
    // the window: the round in progress is always finished
    def take(): Option[Long] = synchronized {
      if (next % panels.size == 0 && System.nanoTime() >= until) None
      else { next += 1; Some(next - 1) }
    }
    val threads = (0 until DashboardClients).map { _ =>
      new Thread(() => {
        val c = new Client(_served.base)
        var n = take()
        while (n.isDefined) {
          query(c, panels((n.get % panels.size).toInt).at((n.get / panels.size).toInt))
          n = take()
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
  }

  private val pushNo = new AtomicInteger

  /** Wall and CPU time of the maintenance passes and ruler ticks the
    * push_ingest client runs between its requests (nothing else runs then).
    */
  private val inlineWallNs = new AtomicLong
  private val inlineCpuNs = new AtomicLong

  /** Closed loop, one client: push, read the push back twice (the second
    * answer must be byte-identical, and the read-back median gets six
    * samples a cycle); after every cycle of one push per format, one
    * maintenance pass and one ruler tick. Runs whole cycles, so every run
    * pushes each format equally often.
    */
  private def pushIngest(until: Long): Unit = {
    val c = new Client(_served.base)
    while (System.nanoTime() < until) {
      for (_ <- Gen.Formats.indices) {
        val p = Gen.push(a.seed, pushNo.getAndIncrement(), RowsPerPush)
        val s = countingFiles(push(c, p))
        if (s.ok && readBack(c, p, s)) readBack(c, p, s, repeat = true)
      }
      val (t0, cpu0) = (System.nanoTime(), processCpuNs)
      maintain(_served.dir)
      rulerTick()
      inlineWallNs.addAndGet(System.nanoTime() - t0)
      inlineCpuNs.addAndGet(processCpuNs - cpu0)
    }
  }

  /** In the traced run, the parquet files one traced push adds. */
  private val filesPerPush = new ConcurrentLinkedQueue[Double]()
  private def countingFiles(op: => Sample): Sample = {
    val before = if (rec.enabled) storeFiles()._1 else 0L
    val s = op
    if (s.rid.nonEmpty) filesPerPush.add((storeFiles()._1 - before).toDouble)
    s
  }

  private def mixedRw(until: Long): Unit = {
    val t0 = System.nanoTime()
    val acked = new java.util.concurrent.LinkedBlockingDeque[(Push, Sample)]()
    val bg = java.util.concurrent.Executors.newSingleThreadScheduledExecutor()
    val ms = java.util.concurrent.TimeUnit.MILLISECONDS
    bg.scheduleWithFixedDelay(() => maintain(_served.dir), MaintainIntervalMs, MaintainIntervalMs, ms)
    bg.scheduleWithFixedDelay(() => rulerTick(), TickIntervalMs, TickIntervalMs, ms)
    def openLoop(rate: Double)(op: (Client, Long, Long) => Unit): Thread =
      new Thread(() => {
        val c = new Client(_served.base)
        var i = 0L
        var due = t0
        while (due < until) {
          val now = System.nanoTime()
          if (due > now) Thread.sleep((due - now) / 1000000L, ((due - now) % 1000000L).toInt)
          op(c, i, due)
          i += 1
          due = Stats.dueNs(t0, rate, i)
        }
      })
    val pusher = openLoop(PushRate) { (c, i, due) =>
      val p = Gen.push(a.seed, i.toInt, RowsPerPush)
      pushNo.incrementAndGet()
      val s = push(c, p, due)
      if (s.ok) acked.add((p, s))
    }
    val reader = openLoop(QueryRate) { (c, i, due) =>
      if (i % 2 == 0) query(c, panels(((i / 2) % panels.size).toInt).at((i / 2 / panels.size).toInt), due)
      else Option(acked.pollFirst()) match {
        case Some((p, s)) => readBack(c, p, s, due)
        case None => query(c, panels(((i / 2) % panels.size).toInt).at(1), due)
      }
    }
    pusher.start(); reader.start(); pusher.join(); reader.join()
    bg.shutdown(); bg.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS)
    // pushes acknowledged after the last scheduled read are still read back
    val c = new Client(_served.base)
    acked.asScala.foreach { case (p, s) => readBack(c, p, s) }
  }

  /** Runs one window; returns its wall time in seconds, whole rounds or
    * cycles included (maintenance passes and ruler ticks too).
    */
  private def runWindow(seconds: Int): Double = {
    val t0 = System.nanoTime()
    val until = t0 + (seconds * 1e9).toLong
    a.workload match {
      case "dashboard_read" => dashboardRead(until)
      case "push_ingest" => pushIngest(until)
      case "mixed_rw" => mixedRw(until)
    }
    (System.nanoTime() - t0) / 1e9
  }

  // ---- store inspection --------------------------------------------------------

  /** (parquet files, bytes, files in the fullest leaf dir) under the store. */
  private def storeFiles(): (Long, Long, Long) = {
    if (!Files.exists(storeRoot)) return (0L, 0L, 0L)
    val walk = Files.walk(storeRoot)
    val files = try walk.iterator().asScala.filter(p => Files.isRegularFile(p)).toList
      finally walk.close()
    val data = files.filter(_.getFileName.toString.endsWith(".parquet"))
    val bytes = files.map(Files.size).sum
    val perLeaf = data.groupBy(_.getParent).values.map(_.size.toLong)
    (data.size.toLong, bytes, if (perLeaf.isEmpty) 0L else perLeaf.max)
  }

  // ---- run ---------------------------------------------------------------------

  def run(): (String, Boolean) = {
    val dir = s"${a.work}/data"
    writeData(dir)
    val t0 = System.nanoTime()
    val ensureS = setup(dir)
    val setupS = sparkStartS + (System.nanoTime() - t0) / 1e9
    ticks.clear(); maintains.clear()
    val bytesBefore = storeFiles()._2

    // a traced run measures two windows: half its requests are traced
    rec.enabled = a.trace
    val cpu0 = processCpuNs
    val jit0 = jitMs; val gc0 = gcMs
    val wallS = runWindow(a.seconds) + (if (a.trace) runWindow(a.seconds) else 0.0)
    val cpuS = (processCpuNs - cpu0) / 1e9
    // request rate and CPU per request count the time the clients' requests
    // take, not the maintenance passes and ruler ticks push_ingest runs in
    // between (their cost varies with the seeded data the rules match; it
    // is measured on its own as store.maintain_s and streaming.ruler_tick_s)
    val reqWallS = wallS - inlineWallNs.get() / 1e9
    val reqCpuS = cpuS - inlineCpuNs.get() / 1e9
    val jitS = (jitMs - jit0) / 1e3
    val gcS = (gcMs - gc0) / 1e3
    val window = samples.asScala.toSeq

    if (pushes) maintain(_served.dir)
    val (files, bytesAfter, leafMax) = storeFiles()
    val tracedLayers = if (!a.trace) None else {
      val l = layers(window.filter(_.rid.isEmpty), window.filter(_.rid.nonEmpty),
        files, bytesAfter, leafMax, ensureS)
      val out = Paths.get(a.traceOut)
      Files.createDirectories(out.getParent)
      rec.writeJsonl(out)
      println(s"# spans written to $out")
      Some(l)
    }
    rec.enabled = false
    _served.server.stop(0)
    if (a.writeGoldens)
      Checks.save(goldensPath, Checks.load(goldensPath) ++ checks.digests)

    val acked = samples.asScala.count(s => s.kind == "push" && s.ok)
    val verified = readBacks.get()
    if (verified != acked) checks.fail(s"${acked - verified} acknowledged pushes were not read back")
    val e2e = endToEnd(window, setupS, bytesAfter - bytesBefore, reqCpuS, reqWallS)
    println(s"# workload ${a.workload} seed ${a.seed} cores $cores seconds ${a.seconds} " +
      s"trace ${if (a.trace) 1 else 0}")
    println(f"# set-up: spark start $sparkStartS%.2f s, store build $ensureS%.2f s, total $setupS%.2f s")
    println(f"# window: wall $wallS%.2f s, CPU $cpuS%.2f s (JIT compilation $jitS%.2f s, GC pauses " +
      f"$gcS%.2f s); in maintenance and ruler ticks between requests: wall ${wallS - reqWallS}%.2f s, " +
      f"CPU ${cpuS - reqCpuS}%.2f s")
    println(s"# ${checks.failed.get()} of ${checks.attempted.get()} operations failed; " +
      s"${checks.goldenChecked.get()} responses checked against a golden digest")
    if (!maintains.isEmpty || !ticks.isEmpty)
      println(s"# maintenance passes (s): ${maintains.asScala.map(x => f"${x._1}%.2f").mkString(" ")}; " +
        s"ruler ticks (s): ${ticks.asScala.map(x => f"$x%.2f").mkString(" ")}")
    for (k <- Seq("query", "readback", "push")) {
      val ls = window.filter(s => s.kind == k && s.ok).map(_.latencyS)
      if (ls.nonEmpty) println(s"# $k latencies (s): ${ls.map(x => f"$x%.2f").mkString(" ")}")
    }
    checks.report.foreach(m => println(s"# FAILED: $m"))
    val all = e2e ++ tracedLayers.getOrElse(Map.empty)
    all.toSeq.sortBy(_._1).foreach { case (k, (v, u)) => println(f"$k%-40s $v%.6f $u") }
    val reported = tracedLayers.getOrElse(e2e.filter(kv => Gated.contains(kv._1)))
    val ok = checks.failed.get() == 0
    val metrics = reported.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    (s"""{"correct": $ok, "attempted": ${checks.attempted.get()}, """ +
      s""""failed": ${checks.failed.get()}, "metrics": {$metrics}}""", ok)
  }

  // ---- metrics -------------------------------------------------------------------

  private def lat(ss: Seq[Sample]): Seq[Double] = ss.filter(_.ok).map(_.latencyS)

  /** Workload-level metrics. The gated ones ([[Bench.Gated]]) exist on
    * every workload; the rest exist where the workload pushes, or (p95)
    * where at least 10 samples lie beyond the quantile.
    */
  private def endToEnd(ss: Seq[Sample], setupS: Double, storeGrowth: Long,
      cpuS: Double, wallS: Double): Map[String, (Double, String)] = {
    val qs = ss.filter(s => s.kind == "query" || s.kind == "readback")
    val ps = ss.filter(_.kind == "push")
    val vs = ss.filter(_.kind == "visible")
    val reqs = qs ++ ps
    val m = Map.newBuilder[String, (Double, String)]
    m += "setup_s" -> (setupS, "s")
    m += "query_p50_s" -> (Stats.median(lat(qs)), "s")
    m += "requests_per_s" -> (reqs.count(_.ok) / wallS, "1/s")
    m += "cpu_s_per_request" -> (cpuS / math.max(1, reqs.count(_.ok)), "s")
    m += "rss_peak_mb" -> (rssPeakMb, "MB")
    Stats.tailQuantile(lat(qs), 0.95).foreach(v => m += "query_p95_s" -> (v, "s"))
    m += "queries_per_s" -> (qs.count(_.ok) / wallS, "1/s")
    if (ps.nonEmpty) {
      m += "push_p50_s" -> (Stats.median(lat(ps)), "s")
      Stats.tailQuantile(lat(ps), 0.95).foreach(v => m += "push_p95_s" -> (v, "s"))
      m += "ingest_rows_per_s" -> (ps.filter(_.ok).map(_.rows).sum / wallS, "rows/s")
      m += "store_bytes_per_input_byte" -> (storeGrowth.toDouble / ps.map(_.bytes).sum, "ratio")
    }
    if (vs.nonEmpty) {
      m += "visible_p50_s" -> (Stats.median(lat(vs)), "s")
      Stats.tailQuantile(lat(vs), 0.95).foreach(v => m += "visible_p95_s" -> (v, "s"))
    }
    m += "failed_ratio" -> (checks.failed.get().toDouble / math.max(1L, checks.attempted.get()), "ratio")
    m += "query_samples" -> (qs.size.toDouble, "count")
    m.result()
  }

  /** CPU time of this JVM, all threads (server, Spark tasks, JIT, GC). */
  private def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Time the JIT compiler threads spent compiling, summed over them. */
  private def jitMs: Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  private def rssPeakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  /** Per-layer metrics of the traced half (see README.md for each). */
  private def layers(untraced: Seq[Sample], traced: Seq[Sample], files: Long,
      bytes: Long, leafMax: Long, ensureS: Double): Map[String, (Double, String)] =
    Layers.compute(spark, this.a, traced, untraced, rec, sparkTrace.get, panels,
      Layers.StoreState(files, bytes, leafMax, maintains.asScala.toSeq,
        ticks.asScala.toSeq, filesPerPush.asScala.toSeq), _served.dir, cores, ensureS,
      if (pushes) (0 until 9).map(Gen.push(a.seed, _, RowsPerPush)) else Nil)
}

object Bench {
  /** End-to-end metrics every workload reports (the JSON of an untraced run). */
  val Gated = Seq("setup_s", "query_p50_s", "requests_per_s", "cpu_s_per_request")
  /** Base events: 1/10 of the sf0.1 events table over the same 30 days and
    * 1500 users; the push fixture keeps users with `user_id % 17 == 0`.
    */
  val BaseEvents = 10000
  val Users = 1500
  val DashboardClients = 1
  val RowsPerPush = 160
  val WarmK = 100000
  val PushRate = 0.2
  val QueryRate = 0.5
  val MaintainIntervalMs = 5000L
  val TickIntervalMs = 5000L

  val RulesYaml: String =
    """name: perfbench
      |interval: 1m
      |rules:
      |  - record: perfbench:clicks:count5m
      |    expr: "sum by (level) (count_over_time({event_type=\"click\"}[5m]))"
      |  - alert: PerfbenchErrors
      |    expr: "sum(count_over_time({level=\"error\"}[5m])) > 0"
      |    for: 2m
      |""".stripMargin

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
