package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One recorded interval. Times are wall-clock ns; `req` is the request (or
  * background pass) the interval belongs to. `parent` is -1 for the root
  * span of a request and 0 for spans whose parent is that root.
  */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, req: String, attrs: Map[String, Double] = Map.empty) {
  def durNs: Long = endNs - startNs
  def interval: (Long, Long) = (startNs, endNs)
}

/** In-memory span recorder. Disabled, `span` only runs its body; enabled,
  * it also records one [[Span]]. Spark's own events arrive through
  * [[SparkTrace]], keyed by the job group each request sets.
  */
final class Recorder {
  @volatile var enabled = false
  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]()
  // nanoTime for our own spans, pinned to the wall clock Spark stamps
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + offsetNs

  def add(s: Span): Unit = if (enabled) spans.add(s): Unit
  def nextId(): Long = ids.incrementAndGet()

  /** Times `body` as the root span of `req`. */
  def span[T](name: String, req: String,
      attrs: T => Map[String, Double] = (_: T) => Map.empty[String, Double])(body: => T): T = {
    if (!enabled) body
    else {
      val id = nextId()
      val t0 = nowNs
      val r = body
      add(Span(id, name, t0, nowNs, -1L, req, attrs(r)))
      r
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Spans as JSON lines, one per span. A span's parent is the root span
    * (route, maintenance pass, ruler tick, compile call) of its request.
    */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val spans = all.sortBy(_.startNs)
    val roots = spans.filter(_.parent < 0).map(s => s.req -> s.id).toMap
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val parent = if (s.parent < 0) 0L else roots.getOrElse(s.req, 0L)
      val attrs = s.attrs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      w.write(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":$parent,"req":"${s.req}","attrs":{$attrs}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Spark listeners the benchmark registers itself: job and stage intervals
  * (with task counts, executor run time, input/shuffle/spill bytes) and
  * QueryExecution planning phases, all keyed by the job group of the
  * thread that ran them. Phases carry an execution id, which the SQL
  * execution-start event maps to a group; [[resolve]] joins the two after
  * the listener bus drains.
  */
final class SparkTrace(rec: Recorder) extends SparkListener {
  private val jobGroup = TrieMap[Int, String]()
  private val jobStartMs = TrieMap[Int, Long]()
  private val stageGroup = TrieMap[Int, String]()
  private val execGroup = TrieMap[Long, String]()
  private val phases = new ConcurrentLinkedQueue[(Long, String, Long, Long)]()
  private val started = new AtomicLong
  private val ended = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val p = Option(e.properties)
    val g = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    ended.incrementAndGet()
    val g = jobGroup.getOrElse(e.jobId, "")
    val t0 = jobStartMs.getOrElse(e.jobId, e.time)
    rec.add(Span(rec.nextId(), "spark.job", t0 * 1000000L, e.time * 1000000L, 0L, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val g = stageGroup.getOrElse(si.stageId, "")
    val m = si.taskMetrics
    val attrs =
      if (m == null) Map("tasks" -> si.numTasks.toDouble)
      else Map(
        "tasks" -> si.numTasks.toDouble,
        "run_ms" -> m.executorRunTime.toDouble,
        "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
        "shuffle_bytes" -> (m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten).toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    for (s <- si.submissionTime; c <- si.completionTime)
      rec.add(Span(rec.nextId(), "spark.stage", s * 1000000L, c * 1000000L, 0L, g, attrs))
  }

  /** SQL executions: the start event carries the job group of the thread
    * that started them, the end event their QueryExecution, whose tracker
    * holds the planning phases. (`qe` is not public API; it is read
    * reflectively.)
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(g => execGroup.putIfAbsent(s.executionId, g))
    case s: SparkListenerSQLExecutionEnd if rec.enabled =>
      s.getClass.getMethod("qe").invoke(s) match {
        case qe: QueryExecution =>
          qe.tracker.phases.foreach { case (phase, ps) =>
            phases.add((s.executionId, phase, ps.startTimeMs, ps.endTimeMs))
          }
        case _ =>
      }
    case _ =>
  }

  /** Wait until every started job has ended (the bus is asynchronous). */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (ended.get() < started.get() && System.currentTimeMillis() < until)
      Thread.sleep(20)
    Thread.sleep(200)
  }

  /** Planning-phase spans (analysis, optimization, planning), attributed to
    * the job group of their execution.
    */
  def resolve(): Unit = {
    phases.asScala.foreach { case (exec, phase, s, e) =>
      execGroup.get(exec).foreach { g =>
        rec.add(Span(rec.nextId(), s"spark.plan.$phase", s * 1000000L,
          math.max(e, s) * 1000000L, 0L, g))
      }
    }
  }
}

object SparkTrace {
  def install(spark: SparkSession, rec: Recorder): SparkTrace = {
    val t = new SparkTrace(rec)
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Run `body` with every Spark job it starts tagged with `group`. */
  def inGroup[T](spark: SparkSession, group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}
