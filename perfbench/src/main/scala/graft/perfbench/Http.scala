package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

object Http {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(5))
    .build()

  val TimeoutS = 20

  def get(url: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(TimeoutS)).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode, resp.body)
  }

  def post(url: String, body: Array[Byte], headers: (String, String)*): Int = {
    val b = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(TimeoutS))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.discarding()).statusCode
  }
}
