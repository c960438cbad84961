package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.http.Params
import graft.logql.{EvalParams, LogQLApi, LogQLCompiler, LogQLParser}
import graft.logql.LogQLAst.LogExpr
import graft.promql.{PromParams, PromQLCompiler}
import graft.traceql.{TraceQLCompiler, TraceQLParser}

import Gen.{Panel, Req}

/** Per-layer metrics of a traced run. Each layer is measured from outside:
  * route spans from the wrapped frontend, Spark job/stage/phase spans from
  * the benchmark's listeners, and two extra passes that call the engines'
  * public compile entry points and the ingest decoders directly.
  */
object Layers {
  final case class StoreState(files: Long, bytes: Long, leafMax: Long,
      maintains: Seq[(Double, Int)], ticks: Seq[Double], filesPerPush: Seq[Double])

  private def ns(s: String): Long = if (s.length >= 16) s.toLong else s.toLong * Gen.NsPerS

  /** Calls the engine entry point the route for `r` calls, without
    * executing the plan. Returns the engine name.
    */
  def compile(spark: SparkSession, dir: String, r: Req): String = {
    val p = Params.fromQuery(r.query)
    def step(k: String, dflt: String) = {
      val s = p.first(k).getOrElse(dflt)
      if (s.endsWith("s")) s.dropRight(1).toLong else s.toLong
    }
    r.path match {
      case "/loki/api/v1/query_range" =>
        val q = p.required("query")
        val c = new LogQLCompiler(spark, dir, EvalParams(ns(p.required("start")),
          ns(p.required("end")), step("step", "15s")))
        LogQLParser.parseOrThrow(q) match {
          case LogExpr(_, _) => c.compileLogQuery(q, p.first("limit").map(_.toInt),
            p.first("direction").contains("forward"))
          case _ => c.compile(q)
        }
        "logql"
      case "/loki/api/v1/series" =>
        LogQLApi.series(spark, dir, EvalParams(ns(p.required("start")),
          ns(p.required("end")), 15L), p.all("match[]"))
        "logql"
      case "/api/v1/query_range" =>
        new PromQLCompiler(spark, dir, PromParams(ns(p.required("start")),
          ns(p.required("end")), step("step", "15"))).compile(p.required("query"))
        "promql"
      case "/api/v1/query" =>
        val t = ns(p.required("time"))
        new PromQLCompiler(spark, dir, PromParams(t, t, 15L)).compile(p.required("query"))
        "promql"
      case "/api/search" =>
        new TraceQLCompiler(spark, dir, ns(p.required("start")), ns(p.required("end")))
          .traceMeta(TraceQLParser.parseOrThrow(p.required("q")).expr)
        "traceql"
      case "/pyroscope/render" =>
        val q = p.required("query")
        val i = q.indexOf('{')
        graft.prof.Profiles.mergeTreeQuery(spark, dir, q.take(i),
          graft.prof.Profiles.parseSelector(q.drop(i)),
          p.required("from").toLong / 1000 * Gen.NsPerS,
          p.required("until").toLong / 1000 * Gen.NsPerS + 1)
        "prof"
    }
  }

  /** The decoder the push route runs, materialised to a no-op sink. */
  def decode(spark: SparkSession, r: Req, format: String): Unit = {
    import spark.implicits._
    val df: DataFrame = format match {
      case "loki" => graft.ingest.LokiPush.decodeRows(
        Seq(new String(r.body, "UTF-8")).toDF("body"))
      case "remote_write" => graft.ingest.PromRemoteWrite.decode(Seq(r.body).toDF("body"))
      case _ => graft.ingest.WireFormats.decodeOtlpTraces(
        Seq(new String(r.body, "UTF-8")).toDF("body"))
    }
    df.write.format("noop").mode("overwrite").save()
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  val Families = Seq("logql", "promql", "traceql", "prof", "labels", "push", "readback")
  val Engines = Seq("logql", "promql", "traceql", "prof")

  def compute(spark: SparkSession, a: Main.Args, traced: Seq[Sample],
      untraced: Seq[Sample], rec: Recorder, st: SparkTrace, panels: Seq[Panel],
      store: StoreState, dir: String, cores: Int, ensureS: Double,
      pushesOf: Seq[Gen.Push]): Map[String, (Double, String)] = {
    // ---- extra passes: engine compile per template, decoder per format
    val readBacks = pushesOf.groupBy(_.format).toSeq.sortBy(_._1).map(_._2.head)
    val templates: Seq[Req] =
      (if (a.workload != "push_ingest") panels.map(_.at(0)) else Nil) ++ readBacks.map(_.readBack)
    val compiles = templates.zipWithIndex.map { case (r, i) =>
      val g = s"compile-$i"
      val t0 = rec.nowNs
      val engine = SparkTrace.inGroup(spark, g)(compile(spark, dir, r))
      val t1 = rec.nowNs
      rec.add(Span(rec.nextId(), s"$engine.compile", t0, t1, -1L, g))
      (g, engine, t0, t1)
    }
    val decodeS: Map[String, Double] = pushesOf.groupBy(_.format).map { case (f, ps) =>
      f -> Stats.median(ps.take(3).map { p =>
        val g = s"decode-${p.k}"
        val t0 = rec.nowNs
        SparkTrace.inGroup(spark, g)(decode(spark, p.req, f))
        val t1 = rec.nowNs
        rec.add(Span(rec.nextId(), "ingest.decode", t0, t1, -1L, g))
        (t1 - t0) / 1e9
      })
    }
    st.drain()
    st.resolve()

    val spans = rec.all.groupBy(_.req)
    def named(req: String, prefix: String) =
      spans.getOrElse(req, Nil).filter(_.name.startsWith(prefix))
    def route(rid: String) = named(rid, "http.route").headOption

    // compile time the planning phases and jobs do not already cover
    val compileRows = compiles.map { case (g, engine, t0, t1) =>
      val covered = Stats.unionLength(Stats.clip(
        (named(g, "spark.job") ++ named(g, "spark.plan.")).map(_.interval), t0, t1))
      (engine, (t1 - t0) / 1e9, math.max(0L, t1 - t0 - covered), named(g, "spark.job").size)
    }
    val nPanels = templates.size - readBacks.size
    val keyToTemplate: Map[String, Int] =
      (0 until nPanels).flatMap(i => (0 until Gen.Panels.Slides).map(k => panels(i).at(k).key -> i)).toMap
    def templateOf(s: Sample): Option[Int] =
      if (s.kind == "readback") Some(nPanels + readBacks.indexWhere(_.format == s.family)).filter(_ >= nPanels)
      else keyToTemplate.get(s.key)

    // ---- per query request: route = self + compile + plan + exec
    val qs = traced.filter(s => (s.kind == "query" || s.kind == "readback") && s.ok)
    final case class Part(route: Long, self: Long, compile: Long, plan: Long,
        exec: Long, socket: Long, jobs: Int, stages: Int, tasks: Double,
        runMs: Double, input: Double, shuffle: Double, bytes: Long)
    val parts = qs.flatMap { s => route(s.rid).map { r =>
      val jobs = named(s.rid, "spark.job")
      val stages = named(s.rid, "spark.stage")
      val (self, comp, plan, exec) = Stats.routeParts(r.startNs, r.endNs,
        jobs.map(_.interval), named(s.rid, "spark.plan.").map(_.interval),
        templateOf(s).map(i => compileRows(i)._3).getOrElse(0L))
      def sum(k: String) = stages.map(_.attrs.getOrElse(k, 0.0)).sum
      Part(r.durNs, self, comp, plan, exec,
        math.max(0L, (s.doneNs - s.sentNs) - r.durNs), jobs.size, stages.size,
        sum("tasks"), sum("run_ms"), sum("input_bytes"), sum("shuffle_bytes"), s.bytes)
    } }
    def pm(f: Part => Double) = med(parts.map(f))
    def pa(f: Part => Double) = mean(parts.map(f))

    val m = Map.newBuilder[String, (Double, String)]
    for (f <- Families) {
      val rs = traced.filter(s => s.ok && (f match {
        case "push" | "readback" => s.kind == f
        case _ => s.kind == "query" && s.family == f
      })).flatMap(s => route(s.rid)).map(_.durNs / 1e9)
      m += s"http.route_s.$f" -> (med(rs), "s")
    }
    m += "http.self_s" -> (pm(_.self / 1e9), "s")
    m += "http.socket_s" -> (pm(_.socket / 1e9), "s")
    m += "http.response_bytes" -> (pm(_.bytes.toDouble), "bytes")
    m += "bench.route_accounted_ratio" ->
      (if (parts.isEmpty) 0.0 else parts.map(p => (p.self + p.compile + p.plan + p.exec).toDouble).sum /
        parts.map(_.route.toDouble).sum, "ratio")
    for (e <- Engines) {
      val rows = compileRows.filter(_._1 == e)
      m += s"$e.compile_s" -> (med(rows.map(_._2)), "s")
      m += s"$e.eager_jobs" -> (mean(rows.map(_._4.toDouble)), "count")
    }
    m += "spark.plan_s" -> (pm(_.plan / 1e9), "s")
    m += "spark.exec_s" -> (pm(_.exec / 1e9), "s")
    m += "spark.jobs_per_request" -> (pa(_.jobs.toDouble), "count")
    m += "spark.stages_per_request" -> (pa(_.stages.toDouble), "count")
    m += "spark.tasks_per_request" -> (pa(_.tasks), "count")
    val execWall = parts.map(_.exec / 1e9).sum
    m += "spark.core_busy_ratio" ->
      (if (execWall <= 0) 0.0 else parts.map(_.runMs / 1e3).sum / (execWall * cores), "ratio")
    m += "spark.input_bytes_per_request" -> (pa(_.input), "bytes")
    m += "spark.shuffle_bytes_per_request" -> (pa(_.shuffle), "bytes")
    m += "spark.spill_bytes" -> (rec.all.filter(_.name == "spark.stage")
      .map(_.attrs.getOrElse("spill_bytes", 0.0)).sum, "bytes")

    // ---- ingest + store
    val ps = traced.filter(s => s.kind == "push" && s.ok)
    val maintainSpans = rec.all.filter(_.name == "store.maintain")
    m += "ingest.decode_s" -> (med(decodeS.values.toSeq), "s")
    m += "ingest.body_bytes" -> (med(ps.map(_.bytes.toDouble)), "bytes")
    m += "store.ensure_s" -> (ensureS, "s")
    m += "store.append_s" -> (med(ps.flatMap(s => route(s.rid).map(r =>
      math.max(0.0, r.durNs / 1e9 - decodeS.getOrElse(s.family, 0.0))))), "s")
    m += "store.append_jobs" -> (mean(ps.map(s => named(s.rid, "spark.job").size.toDouble)), "count")
    m += "store.files_per_push" -> (mean(store.filesPerPush), "count")
    m += "store.append_blocked_s" -> (mean(ps.flatMap(s => route(s.rid).map(r =>
      Stats.unionLength(Stats.clip(maintainSpans.map(_.interval), r.startNs, r.endNs)) / 1e9))), "s")
    m += "store.maintain_s" -> (med(store.maintains.map(_._1)), "s")
    m += "store.maintain_jobs" -> (mean(maintainSpans.map(s => named(s.req, "spark.job").size.toDouble)), "count")
    m += "store.maintain_tables_compacted" -> (store.maintains.map(_._2.toDouble).sum, "count")
    m += "store.leaf_files_max" -> (store.leafMax.toDouble, "count")
    m += "store.leaf_files_total" -> (store.files.toDouble, "count")
    m += "store.bytes_on_disk" -> (store.bytes.toDouble, "bytes")

    // ---- ruler
    val tickSpans = rec.all.filter(_.name == "streaming.ruler_tick")
    m += "streaming.ruler_tick_s" -> (med(store.ticks), "s")
    m += "streaming.ruler_jobs_per_tick" -> (mean(tickSpans.map(s => named(s.req, "spark.job").size.toDouble)), "count")

    // ---- the benchmark itself
    val late = (untraced ++ traced).filter(_.dueNs > 0).map(s => Stats.latenessNs(s.dueNs, s.sentNs) / 1e9)
    m += "bench.gen_late_p95_s" -> (if (late.isEmpty) 0.0
      else Stats.tailQuantile(late, 0.95).getOrElse(late.max), "s")
    val gated = if (a.workload == "push_ingest") "push" else "query"
    def p50(ss: Seq[Sample]) = med(ss.filter(s => s.kind == gated && s.ok).map(_.latencyS))
    m += "bench.trace_overhead_ratio" -> (p50(traced) / math.max(1e-9, p50(untraced)), "ratio")
    m.result()
  }
}
