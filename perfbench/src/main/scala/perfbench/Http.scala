package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession

import graft.http.{Frontend, HttpResult, Params}

import Gen.Req

/** One client connection: a JDK HttpClient pinned to HTTP/1.1. */
final class Client(base: String) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  /** Sends `r` (tagged with request id `rid` when tracing) and returns
    * (status, body, sentNs, doneNs): request sent → last byte received.
    */
  def send(r: Req, rid: Option[String]): (Int, Array[Byte], Long, Long) = {
    val q = (r.query +: rid.map(x => s"rid=$x").toSeq).filter(_.nonEmpty).mkString("&")
    val uri = URI.create(base + r.path + (if (q.isEmpty) "" else "?" + q))
    val b = HttpRequest.newBuilder(uri)
    val req =
      if (r.method == "GET") b.GET().build()
      else b.header("Content-Type", r.contentType)
        .POST(HttpRequest.BodyPublishers.ofByteArray(r.body)).build()
    val t0 = System.nanoTime()
    val res = http.send(req, HttpResponse.BodyHandlers.ofByteArray())
    val t1 = System.nanoTime()
    (res.statusCode(), res.body(), t0, t1)
  }
}

object Http {
  def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString
}

/** The program's frontend, wrapped from outside: a request the client
  * tagged with a request id (`rid`, traced runs only) becomes an
  * `http.route` span and runs under a job group named after it, so the
  * Spark listeners can attribute jobs, stages and planning phases to it.
  */
final class TracedFrontend(spark: SparkSession, dir: String, rec: Recorder)
    extends Frontend(spark, dir) {
  override def routeRaw(path: String, p: Params, method: String,
      bytes: Array[Byte], org: Option[String]): HttpResult =
    p.first("rid") match {
      case Some(rid) =>
        SparkTrace.inGroup(spark, rid) {
          rec.span("http.route", rid,
            attrs = (r: HttpResult) => Map("status" -> r.status.toDouble)) {
            super.routeRaw(path, p, method, bytes, org)
          }
        }
      case _ => super.routeRaw(path, p, method, bytes, org)
    }
}
