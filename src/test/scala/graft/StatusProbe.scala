package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.server.GraftHttpServer

/** Wire latency of the HTTP front alone: 30 keep-alive `GET /d/status`
  * round trips (status touches no Spark job) after one warm-up, from
  * `java.net.http.HttpClient` and from `HttpURLConnection`. Prints one JSON
  * line per client with the median and the slowest round trip in ms.
  *
  *   sbt "Test/runMain graft.StatusProbe"                 # the server's default
  *   sbt "Test/runMain graft.StatusProbe nodelay=false"   # as if -D...nodelay=false
  */
object StatusProbe {
  private val Trips = 30

  def main(args: Array[String]): Unit = {
    args.collectFirst { case s"nodelay=$v" => v }
      .foreach(System.setProperty("sun.net.httpserver.nodelay", _))
    val srv = new GraftHttpServer(TestSpark.spark, Map.empty).start()
    val url = s"http://127.0.0.1:${srv.boundPort}/d/status"
    try {
      val client = HttpClient.newHttpClient()
      val req = HttpRequest.newBuilder(URI.create(url)).GET().build()
      report("HttpClient", () =>
        client.send(req, HttpResponse.BodyHandlers.ofByteArray()).body().length)
      report("HttpURLConnection", () => {
        val c = URI.create(url).toURL.openConnection()
        val in = c.getInputStream
        try in.readAllBytes().length finally in.close() // keeps the connection
      })
    } finally srv.stop()
  }

  private def report(client: String, trip: () => Int): Unit = {
    trip()
    val ms = (1 to Trips).map { _ =>
      val t0 = System.nanoTime()
      trip()
      (System.nanoTime() - t0) / 1e6
    }.sorted
    println(f"""{"client":"$client","nodelay":"${System.getProperty("sun.net.httpserver.nodelay")}",""" +
      f""""n":$Trips,"p50_ms":${ms(Trips / 2)}%.2f,"max_ms":${ms.last}%.2f}""")
  }
}
