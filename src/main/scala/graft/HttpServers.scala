package graft

import java.net.InetSocketAddress

import com.sun.net.httpserver.HttpServer

/** The one way graft creates a JDK `HttpServer`: the PromQL query API
  * ([[graft.promql.PromQlHttp]]) and the scrape endpoint
  * ([[graft.streaming.Prometheus.startPullServer]]) both start here.
  *
  * The JDK server writes a response's headers and its body as two TCP
  * writes. Without `TCP_NODELAY`, Nagle's algorithm holds the body until
  * the client's delayed ACK of the headers, about 40 ms later, on every
  * keep-alive request whose body is small. The JDK's own
  * `sun.net.httpserver.nodelay` turns `TCP_NODELAY` on for accepted
  * sockets; `sun.net.httpserver.ServerConfig` reads it once, when the
  * first server in the JVM is created, so it is set here, before that.
  * `putIfAbsent` lets an operator's explicit `-D` value win.
  */
object HttpServers {

  System.getProperties.putIfAbsent("sun.net.httpserver.nodelay", "true")

  /** A loopback server on `port` (0 = pick a free one), not yet started. */
  def create(port: Int): HttpServer =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
}
