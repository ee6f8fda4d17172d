package graft

import java.net.InetSocketAddress

import com.sun.net.httpserver.HttpServer

/** How every loopback HTTP server here binds: 127.0.0.1, an ephemeral
  * port, and Nagle's algorithm off on each accepted socket.
  *
  * The JDK server writes a response's headers and its body as two
  * writes. With Nagle's algorithm on, the body waits until the client
  * ACKs the headers, and a client in steady traffic on a kept-alive
  * connection delays that ACK (40 ms on Linux): each such response came
  * about 40 ms late, a catalog hit 44 ms instead of 2. The JDK reads
  * `sun.net.httpserver.nodelay` once, when its first server is made, so
  * it is set here before any server is; a value set beforehand is kept.
  */
object Loopback {
  private val NoDelay = "sun.net.httpserver.nodelay"

  def bind(): HttpServer = {
    if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")
    HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  }
}
