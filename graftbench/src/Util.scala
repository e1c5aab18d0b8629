package graftbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Process- and host-level counters read around the measured window. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  }
  private def statusKb(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith(key + ":") => l.split("\\s+")(1).toDouble }
      .getOrElse(0.0)
  def rssPeakMb: Double = statusKb("VmHWM") / 1024.0

  /** Host CPU ticks so far, summed over all CPUs (USER_HZ = 100): the
    * ticks this machine ran (user, nice, system, irq, softirq) and the
    * ticks the hypervisor stole while it wanted to run.
    */
  final case class Ticks(busy: Long, stolen: Long)
  def ticks: Ticks =
    try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
      if (f.length > 8) Ticks(Seq(1, 2, 3, 6, 7).map(f(_).toLong).sum, f(8).toLong) else Ticks(0, 0)
    } catch { case _: Exception => Ticks(0, 0) }

  /** Host CPU steal so far, in seconds. */
  def stealS: Double = ticks.stolen / 100.0

  /** The share of the CPU time this machine wanted between two readings
    * that the hypervisor stole. Every runnable thread then progresses at
    * (1 - share) of its rate, so a wall time times (1 - share) is the wall
    * time the same work takes when nothing is stolen.
    */
  def stolenShare(a: Ticks, b: Ticks): Double = {
    val busy = b.busy - a.busy
    val stolen = b.stolen - a.stolen
    if (busy + stolen <= 0) 0.0 else stolen.toDouble / (busy + stolen)
  }

  /** `body`'s result, its wall seconds, and the stolen share over it. */
  def measure[T](body: => T): (T, Double, Double) = {
    val h = ticks
    val t = System.nanoTime()
    val r = body
    val s = (System.nanoTime() - t) / 1e9
    (r, s, stolenShare(h, ticks))
  }

  /** Host CPU pressure ("some" stall) so far, in seconds. */
  def cpuPressureS: Double =
    try {
      scala.io.Source.fromFile("/proc/pressure/cpu").getLines()
        .collectFirst { case l if l.startsWith("some") =>
          l.split("\\s+").find(_.startsWith("total=")).map(_.drop(6).toDouble / 1e6).getOrElse(0.0)
        }.getOrElse(0.0)
    } catch { case _: Exception => 0.0 }

  /** Live heap after a full collection, in MB. */
  def heapLiveMb: Double = {
    System.gc(); System.gc()
    val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }
}

/** One keep-alive HTTP/1.1 connection, as a dashboard or scraper holds. */
final class Http(base: String) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  def get(pathAndQuery: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + pathAndQuery)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
  def post(pathAndQuery: String, body: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + pathAndQuery))
      .header("Content-Type", "text/plain; version=0.0.4")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }
}

object Http {
  def enc(s: String): String = java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
  def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }
}

object Json {
  private val mapper = new ObjectMapper()
  def parse(s: String): JsonNode = mapper.readTree(s)
  def write(v: Any): String = mapper.writeValueAsString(toJava(v))
  private def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Seq[_] =>
      val out = new java.util.ArrayList[Any]()
      s.foreach(x => out.add(toJava(x)))
      out
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }

  /** `{label → value}` of a PromQL vector response, keyed by the labels
    * the caller names (e.g. `job`).
    */
  def vector(body: String, key: String): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val root = parse(body)
    require(root.path("status").asText() == "success", s"query failed: ${body.take(200)}")
    root.path("data").path("result").elements().asScala.map { e =>
      e.path("metric").path(key).asText() -> e.path("value").get(1).asText().toDouble
    }.toMap
  }

  /** `{(label, t) → value}` of a PromQL matrix response. */
  def matrix(body: String, key: String): Map[(String, Long), Double] = {
    import scala.jdk.CollectionConverters._
    val root = parse(body)
    require(root.path("status").asText() == "success", s"query failed: ${body.take(200)}")
    root.path("data").path("result").elements().asScala.flatMap { e =>
      val k = e.path("metric").path(key).asText()
      e.path("values").elements().asScala.map(p => (k, p.get(0).asLong()) -> p.get(1).asText().toDouble)
    }.toMap
  }
}
