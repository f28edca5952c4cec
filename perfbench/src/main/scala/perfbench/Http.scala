package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** One keep-alive HTTP/1.1 connection's worth of client: each load
  * thread owns one, so the process never opens more connections than it
  * has threads. */
final class Http(base: String) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  private def send(req: HttpRequest.Builder): (Int, String) = {
    val r = client.send(req.timeout(Duration.ofSeconds(60)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  def get(path: String): (Int, String) =
    send(HttpRequest.newBuilder(URI.create(base + path)).GET())

  def post(path: String, body: String,
      contentType: String = "text/plain"): (Int, String) =
    send(HttpRequest.newBuilder(URI.create(base + path))
      .header("Content-Type", contentType)
      .POST(HttpRequest.BodyPublishers.ofString(body)))
}

object Http {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Parses `body` as one complete JSON document, or None. */
  def json(body: String): Option[com.fasterxml.jackson.databind.JsonNode] =
    try {
      val p = mapper.getFactory.createParser(body)
      val n: com.fasterxml.jackson.databind.JsonNode = mapper.readTree(p)
      if (n == null || p.nextToken() != null) None else Some(n)
    } catch { case _: Exception => None }
}
