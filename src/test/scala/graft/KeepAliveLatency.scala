package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest}
import java.net.http.HttpResponse.BodyHandlers

/** Per-request latency a polling client sees once its connection is open:
  * `n` GETs of one URL over a single keep-alive HTTP/1.1 connection.
  */
object KeepAliveLatency {

  /** The median milliseconds of the `n` timed GETs and each one's status.
    * One untimed GET first opens the connection and warms the path.
    */
  def medianMs(url: String, n: Int = 20): (Double, Seq[Int]) = {
    val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val req = HttpRequest.newBuilder(URI.create(url)).GET().build()
    client.send(req, BodyHandlers.discarding())
    val timed = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      val code = client.send(req, BodyHandlers.ofString()).statusCode()
      ((System.nanoTime() - t0) / 1e6, code)
    }
    (timed.map(_._1).sorted.apply(n / 2), timed.map(_._2))
  }
}
