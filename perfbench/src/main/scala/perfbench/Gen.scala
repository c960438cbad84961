package perfbench

import java.io.ByteArrayOutputStream
import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Everything the program receives — the events
  * table its store is built from, the query parameters and the push
  * bodies — is made here from the workload seed; the same seed gives
  * byte-identical inputs.
  */
object Gen {
  val NsPerS = 1000000000L
  /** 2024-01-01T00:00:00Z: the base data covers [T0, T0 + 30 d). */
  val T0S = 1704067200L
  val Days = 30
  val DataEndS: Long = T0S + Days * 86400L
  /** Pushed data lands after the base data, so it never changes what the
    * dashboard panels (all windows inside the base data) return.
    */
  val PushBaseS: Long = DataEndS + 86400L
  /** Each push owns one slot of this many seconds; read-backs query it. */
  val SlotS = 60L

  val EventTypes = Seq("click", "view", "signup", "purchase", "error")

  /** Events table in the shape the store derives everything from
    * (`event_id, ts, user_id, event_type, value, props`), `ts` as epoch ns.
    * `keep` filters users, e.g. the `user_id % 17 == 0` push fixture.
    */
  def writeEvents(spark: SparkSession, dir: String, seed: Long, n: Int,
      users: Int, keep: Long => Boolean = _ => true): Int = {
    val rnd = new java.util.Random(seed * 7919L + 17L)
    val spanNs = Days * 86400L * NsPerS
    val rows = (0 until n).map { i =>
      val ts = T0S * NsPerS + (spanNs.toDouble * i / n).toLong +
        (rnd.nextDouble() * (spanNs / n)).toLong / 1000L * 1000L
      val user = rnd.nextInt(users).toLong
      val et = EventTypes(rnd.nextInt(EventTypes.size))
      val v = math.round(-math.log(1.0 - rnd.nextDouble()) * 5000.0) / 100.0
      Row(i.toLong, ts, user, et, v, s"""{"k": ${rnd.nextInt(100)}}""")
    }.filter(r => keep(r.getLong(2)))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    rows.size
  }

  // ---- dashboard panels ------------------------------------------------------

  /** One HTTP request: GET path + query string, or POST with a body. */
  final case class Req(family: String, path: String, query: String,
      method: String = "GET", body: Array[Byte] = Array.emptyByteArray,
      contentType: String = "") {
    def key: String = s"$method $path?$query"
  }

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)
  private def qs(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${enc(k)}=${enc(v)}" }.mkString("&")

  private val Windows = Seq(3600L, 86400L, Days * 86400L)

  /** A dashboard panel: a request template over a window; `at(k)` is the
    * k-th refresh, whose window end slides by one step per refresh and
    * wraps after `Slides` refreshes, so refreshes repeat exactly.
    */
  final case class Panel(windowS: Long, endS: Long, build: (Long, Long, Long) => Req) {
    val stepS: Long = math.max(1L, windowS / 250)
    def at(k: Int): Req = {
      val end = endS - (Panels.Slides - 1 - k % Panels.Slides) * stepS
      build(end - windowS, end, stepS)
    }
  }

  object Panels {
    val Slides = 3
    /** Nine panels: LogQL metric ×3, LogQL log ×1, PromQL range and instant
      * ×2, TraceQL ×1, series ×1, pyroscope ×1. Panel i looks at window
      * i mod 3 (1 h, 1 d, 30 d), so every seed has the same mix of query
      * kinds and window sizes in the same order; the seed picks label
      * values and the windows' end times, all drawn here, so a refresh
      * depends only on the seed and the refresh number.
      */
    def apply(seed: Long): IndexedSeq[Panel] = {
      val rnd = new java.util.Random(seed * 31L + 5L)
      def et() = EventTypes(rnd.nextInt(EventTypes.size))
      def ns(s: Long) = s"${s}000000000"
      val made = new java.util.concurrent.atomic.AtomicInteger
      def panel(b: (Long, Long, Long) => Req): Panel = {
        val w = Windows(made.getAndIncrement() % Windows.size)
        val end =
          if (w >= Days * 86400L) DataEndS
          else T0S + w + rnd.nextInt(((Days * 86400L - w) / 3600L).toInt) * 3600L
        Panel(w, end, b)
      }
      def logql(q: String, extra: (String, String)) = panel { (s, e, st) =>
        Req("logql", "/loki/api/v1/query_range", qs("query" -> q, "start" -> ns(s),
          "end" -> ns(e), extra._1 -> (if (extra._2.isEmpty) s"${st}s" else extra._2)))
      }
      val (t1, t2, t3, t4, k) = (et(), et(), et(), et(), rnd.nextInt(10))
      IndexedSeq(
        logql(s"""sum by (level) (count_over_time({event_type="$t1"}[5m]))""", "step" -> ""),
        logql(s"""sum(rate({event_type="$t2"}[5m]))""", "step" -> ""),
        logql(s"""topk(3, sum by (event_type) (count_over_time({event_type=~"$t3|$t4"} |= "k" [15m])))""",
          "step" -> ""),
        logql(s"""{event_type="$t1"} |= "$k" | json | k > ${k * 10}""", "limit" -> "50"),
        panel { (s, e, st) =>
          Req("promql", "/api/v1/query_range", qs("query" ->
            s"""histogram_quantile(0.9, sum by (le) (rate(events_bucket{event_type="$t2"}[30m])))""",
            "start" -> s.toString, "end" -> e.toString, "step" -> st.toString))
        },
        panel { (_, e, _) =>
          Req("promql", "/api/v1/query", qs("query" ->
            s"""sum by (event_type) (increase(events_total{event_type="$t3"}[1h]))""",
            "time" -> e.toString))
        },
        { val (svc, ms) = (rnd.nextInt(5), rnd.nextInt(50) + 20)
          panel { (s, e, _) =>
            Req("traceql", "/api/search", qs("q" ->
              s"""{ .service_name="svc$svc" && duration > ${ms}ms }""",
              "start" -> ns(s), "end" -> ns(e), "limit" -> "20"))
          }
        },
        panel { (s, e, _) =>
          Req("labels", "/loki/api/v1/series", qs("match[]" -> s"""{event_type="$t4"}""",
            "start" -> ns(s), "end" -> ns(e)))
        },
        { val svc = rnd.nextInt(5)
          panel { (s, e, _) =>
            Req("prof", "/pyroscope/render", qs("query" ->
              s"""process_cpu:cpu:nanoseconds{service_name="svc$svc"}""",
              "from" -> s"${s}000", "until" -> s"${e}000"))
          }
        })
    }
  }

  // ---- push bodies -----------------------------------------------------------

  /** One push: its wire body and what the generator put in it. */
  final case class Push(k: Int, req: Req, format: String, rows: Int,
      readBack: Req, marker: String)

  val Formats = Seq("loki", "remote_write", "otlp_traces")

  /** Fixed batch shape per format. `streams` label sets per batch, of which
    * `newStreams` have never been pushed before (dictionary misses).
    */
  val Streams = 8
  val NewStreams = 2

  def slotS(k: Int): Long = PushBaseS + k * SlotS

  /** The k-th push of a run: the format rotates, each push owns time slot k
    * and carries the marker `m<seed>x<k>` (in its log lines and as a span
    * attribute; samples are found by their slot).
    */
  def push(seed: Long, k: Int, rowsPerPush: Int): Push = {
    val fmt = Formats(k % Formats.size)
    val rnd = new java.util.Random(seed * 1000003L + k)
    val marker = s"m${seed}x$k"
    val t0Ms = slotS(k) * 1000L
    def streamLabels(i: Int): Seq[(String, String)] =
      if (i < Streams - NewStreams) Seq("job" -> "perfbench", "stream" -> s"s$i")
      else Seq("job" -> "perfbench", "stream" -> s"n${seed}x${k}x$i")
    fmt match {
      case "loki" =>
        val per = rowsPerPush / Streams
        val streams = (0 until Streams).map { i =>
          val labels = streamLabels(i).map { case (a, b) => s""""$a":"$b"""" }
            .mkString("{", ",", "}")
          val values = (0 until per).map { j =>
            val tsNs = (t0Ms + 1 + i * per + j) * 1000000L
            s"""["$tsNs","$marker line=$j v=${rnd.nextInt(1000)}"]"""
          }.mkString("[", ",", "]")
          s"""{"stream":$labels,"values":$values}"""
        }
        val body = s"""{"streams":${streams.mkString("[", ",", "]")}}"""
        val s = slotS(k)
        Push(k, Req("push", "/loki/api/v1/push", "", "POST",
          body.getBytes(UTF_8), "application/json"), fmt, per * Streams,
          Req("readback", "/loki/api/v1/query_range", qs(
            "query" -> """{job="perfbench"}""", "start" -> s"${s}000000000",
            "end" -> s"${s + SlotS}000000000", "limit" -> (rowsPerPush * 2).toString,
            "direction" -> "forward")), marker)
      case "remote_write" =>
        val per = rowsPerPush / Streams
        val series = (0 until Streams).map { i =>
          val labels = ("__name__" -> "perfbench_value") +: streamLabels(i)
          labels -> (0 until per).map(j =>
            (t0Ms + 1 + i * per + j, rnd.nextInt(10000) / 100.0))
        }
        val s = slotS(k)
        Push(k, Req("push", "/api/v1/prom/remote/write", "", "POST",
          writeRequest(series), "application/x-protobuf"), fmt, per * Streams,
          Req("readback", "/api/v1/query", qs(
            "query" -> s"""sum(count_over_time(perfbench_value{job="perfbench"}[${SlotS}s]))""",
            "time" -> (s + SlotS).toString)), marker)
      case _ =>
        val traces = math.max(1, rowsPerPush / 40)
        val per = rowsPerPush / traces
        val rs = (0 until traces).map { t =>
          val tid = f"${seed & 0xffffL}%08x${k}%012x${t}%012x"
          val spans = (0 until per).map { j =>
            val st = (t0Ms + 1 + t * per + j) * 1000000L
            val parent = if (j == 0) "" else f""","parentSpanId":"${t}%08x${j - 1}%08x""""
            f"""{"traceId":"$tid","spanId":"${t}%08x$j%08x"$parent,""" +
              s""""name":"op${j % 4}","startTimeUnixNano":"$st",""" +
              s""""endTimeUnixNano":"${st + 1000L * (1 + rnd.nextInt(900))}",""" +
              s""""attributes":[{"key":"marker","value":{"stringValue":"$marker"}}]}"""
          }
          val svc = s"pb${t % 2}"
          s"""{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"$svc"}}]},""" +
            s""""scopeSpans":[{"spans":${spans.mkString("[", ",", "]")}}]}"""
        }
        val body = s"""{"resourceSpans":${rs.mkString("[", ",", "]")}}"""
        val s = slotS(k)
        Push(k, Req("push", "/v1/traces", "", "POST", body.getBytes(UTF_8),
          "application/json"), fmt, per * traces,
          Req("readback", "/api/search", qs(
            "q" -> s"""{ .marker="$marker" }""", "start" -> s"${s}000000000",
            "end" -> s"${s + SlotS}000000000", "limit" -> "100")), marker)
    }
  }

  /** Prometheus remote-write body: a snappy-compressed `WriteRequest`
    * protobuf (timeseries = 1 {labels = 1 {name 1, value 2}, samples = 2
    * {value 1 double, timestamp 2 int64 ms}}), encoded here by hand.
    */
  def writeRequest(series: Seq[(Seq[(String, String)], Seq[(Long, Double)])]): Array[Byte] = {
    def varint(o: ByteArrayOutputStream, v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { o.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      o.write(v.toInt)
    }
    def field(o: ByteArrayOutputStream, num: Int, bytes: Array[Byte]): Unit = {
      varint(o, (num << 3 | 2).toLong); varint(o, bytes.length.toLong); o.write(bytes)
    }
    val req = new ByteArrayOutputStream()
    for ((labels, samples) <- series) {
      val ts = new ByteArrayOutputStream()
      for ((n, v) <- labels.sortBy(_._1)) {
        val l = new ByteArrayOutputStream()
        field(l, 1, n.getBytes(UTF_8)); field(l, 2, v.getBytes(UTF_8))
        field(ts, 1, l.toByteArray)
      }
      for ((tMs, v) <- samples) {
        val s = new ByteArrayOutputStream()
        varint(s, 1 << 3 | 1)
        s.write(java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putDouble(v).array())
        varint(s, 2 << 3); varint(s, tMs)
        field(ts, 2, s.toByteArray)
      }
      field(req, 1, ts.toByteArray)
    }
    org.xerial.snappy.Snappy.compress(req.toByteArray)
  }
}
