package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import Gen.{Push, Req}

/** Output checks. Every operation is attempted once and fails on a
  * non-2xx status, a transport error, a body of the wrong shape, a body
  * that differs from an earlier response to the same request, a body whose
  * digest differs from the committed golden (default seed only) or a
  * read-back whose counts differ from what the generator pushed.
  */
final class Checks(goldens: Map[String, String]) {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  val goldenChecked = new AtomicLong
  private val seen = TrieMap[String, String]()
  private val messages = new ConcurrentLinkedQueue[String]()

  def fail(msg: String): Boolean = {
    failed.incrementAndGet()
    if (messages.size < 20) messages.add(msg)
    false
  }

  def report: Seq[String] = messages.asScala.toSeq
  /** Request key → body digest of every response seen (for goldens). */
  def digests: Map[String, String] = seen.toMap

  private def shapeOk(r: Req, body: String): Boolean = r.path match {
    case "/api/search" => body.startsWith("{\"traces\":")
    case "/pyroscope/render" => body.contains("\"flamebearer\"")
    case _ => body.startsWith("{\"status\":\"success\"")
  }

  /** Check one query response; returns whether it passed. */
  def response(r: Req, status: Int, body: Array[Byte]): Boolean = {
    attempted.incrementAndGet()
    val text = new String(body, java.nio.charset.StandardCharsets.UTF_8)
    if (status / 100 != 2) fail(s"${r.key} -> HTTP $status: ${text.take(200)}")
    else if (!shapeOk(r, text)) fail(s"${r.key} -> unexpected body ${text.take(200)}")
    else {
      val d = Http.sha256(body)
      val prev = seen.putIfAbsent(r.key, d)
      if (prev.exists(_ != d)) fail(s"${r.key} -> body differs from an earlier response")
      else goldens.get(r.key) match {
        case Some(g) =>
          goldenChecked.incrementAndGet()
          g == d || fail(s"${r.key} -> digest $d differs from golden $g")
        case None => true
      }
    }
  }

  /** Check a push acknowledgement. */
  def ack(p: Push, status: Int, body: Array[Byte]): Boolean = {
    attempted.incrementAndGet()
    status / 100 == 2 || fail(s"push ${p.k} (${p.format}) -> HTTP $status: " +
      new String(body, java.nio.charset.StandardCharsets.UTF_8).take(200))
  }

  /** Rows of push `p` found in its read-back body, or None if the body is
    * not a read-back answer at all.
    */
  def readBackRows(p: Push, text: String): Option[Int] = p.format match {
    case "loki" =>
      Some(s"\"${p.marker} line=".r.findAllMatchIn(text).size)
    case "remote_write" =>
      if (!text.startsWith("{\"status\":\"success\"")) None
      else Some(""""value":\[[0-9.]+,"([0-9.]+)"\]""".r.findFirstMatchIn(text)
        .map(_.group(1).toDouble.toInt).getOrElse(0))
    case _ =>
      if (!text.startsWith("{\"traces\":")) None
      else Some(""""spanCount":([0-9]+)""".r.findAllMatchIn(text)
        .map(_.group(1).toInt).sum)
  }

  /** Check a read-back: exactly the rows the generator pushed. */
  def readBack(p: Push, status: Int, body: Array[Byte]): Boolean = {
    val text = new String(body, java.nio.charset.StandardCharsets.UTF_8)
    if (!response(p.readBack, status, body)) false
    else readBackRows(p, text) match {
      case Some(n) if n == p.rows => true
      case n => fail(s"read-back of push ${p.k} (${p.format}): ${n.getOrElse("no")} rows, pushed ${p.rows}")
    }
  }
}

object Checks {
  /** Goldens file: one `key<TAB>digest` line per request. */
  def load(path: java.nio.file.Path): Map[String, String] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else java.nio.file.Files.readAllLines(path).asScala.toSeq
      .filter(_.contains('\t'))
      .map { l => val i = l.lastIndexOf('\t'); l.take(i) -> l.drop(i + 1) }
      .toMap

  def save(path: java.nio.file.Path, m: Map[String, String]): Unit =
    java.nio.file.Files.write(path, m.toSeq.sorted
      .map { case (k, v) => s"$k\t$v" }.asJava)
}
