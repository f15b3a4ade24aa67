package graft.serve

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.sources.ShardService

/** What every graft HTTP server gets from [[HttpServers]]: responses
  * that do not wait on the client's delayed ACK, and no thread that
  * keeps the JVM alive after `stop`. */
class HttpServersSpec extends SparkSpec {

  /** Median wall time of 30 sequential calls after one warm-up call. */
  private def medianMs(call: => Unit): Double = {
    call
    val ms = (1 to 30).map { _ =>
      val t0 = System.nanoTime()
      call
      (System.nanoTime() - t0) / 1e6
    }.sorted
    ms(15)
  }

  test("keep-alive round trips stay far below the 40 ms delayed-ACK stall") {
    // Without TCP_NODELAY every response holds its body until the
    // client's delayed ACK (~44 ms per round trip); with it a loopback
    // round trip takes 1–2 ms. Neither request below runs a Spark job.
    val dir = Files.createTempDirectory("graft_http_rtt").toString
    val shards = ShardService.start(dir, nShards = 2)
    val edge = QueryEdge.start(spark, "no_such_table")
    val client = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    val notFound = HttpRequest.newBuilder(URI.create(
      s"http://127.0.0.1:${edge.getAddress.getPort}/users/u/movements/x")).build()
    try {
      val shardMs = medianMs(ShardService.Client.get(
        s"http://127.0.0.1:${shards.getAddress.getPort}/describe"))
      val edgeMs = medianMs {
        val r = client.send(notFound, HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode == 404)
      }
      assert(shardMs < 15.0, s"ShardService /describe median $shardMs ms")
      assert(edgeMs < 15.0, s"QueryEdge 404 median $edgeMs ms")
    } finally { edge.stop(0); shards.stop(0) }
  }

  test("no non-daemon thread outlives stop") {
    def nonDaemon(): Set[Thread] =
      Thread.getAllStackTraces.keySet.asScala
        .filter(t => t.isAlive && !t.isDaemon).toSet
    val before = nonDaemon()
    val dir = Files.createTempDirectory("graft_http_threads").toString
    (1 to 3).foreach { _ =>
      val server = ShardService.start(dir, nShards = 2)
      // a request, so the server's handler pool starts a thread
      try ShardService.Client.get(
        s"http://127.0.0.1:${server.getAddress.getPort}/describe")
      finally server.stop(0)
    }
    val leaked = nonDaemon() -- before
    assert(leaked.isEmpty, s"left running: ${leaked.map(_.getName)}")
  }
}
