package graft.api

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import graft.SparkTestSession
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The service's bodies for the edge requests `tools/request_gen.py`
  * writes to `requests/edge/`, pinned: each route's body must be the
  * golden in `golden/responses/` token for token (key order and number
  * text count, whitespace does not). Regenerate the goldens with
  * `Test/runMain graft.api.ResponseGoldens` only when a change is meant
  * to change what the service answers. */
class ResponseGoldenSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("edge requests: every route answers its golden body") {
    val bodies = ResponseGoldens.bodies(spark)
    for (((name, route), (code, body)) <- bodies) {
      assert(code == 200, s"$name $route: $code ${body.take(300)}")
      val golden = ResponseGoldens.read(s"/golden/responses/$name.$route.json")
      val (got, want) = (ResponseGoldens.tokens(body), ResponseGoldens.tokens(golden))
      val at = got.zip(want).indexWhere { case (a, b) => a != b }
      assert(at < 0 && got.length == want.length,
        s"$name $route differs at token $at: ${got.lift(at)} vs golden ${want.lift(at)}")
    }
  }
}

object ResponseGoldens {
  val requests = Seq("edge_grains", "edge_short", "edge_types", "edge_logistic")
  val routes = Seq("analyze" -> "/analyze", "saturating" -> "/saturating-growth",
                   "single" -> "/saturating-growth/single")

  private val factory = new JsonFactory()

  /** A body's JSON tokens with their text: equal sequences mean equal
    * JSON with the same key order and number text. */
  def tokens(json: String): Vector[(JsonToken, String)] = {
    val p = factory.createParser(json)
    try Iterator.continually(p.nextToken()).takeWhile(_ != null).map(t => t -> p.getText).toVector
    finally p.close()
  }

  def read(resource: String): String = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"resource $resource missing")
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** (request, route) -> (status, body), each request posted to every
    * route of a shell on an ephemeral port. */
  def bodies(spark: SparkSession): Seq[((String, String), (Int, String))] = {
    val server = HttpShell.start(spark, 0)
    val client = HttpClient.newHttpClient()
    try for (name <- requests; (route, path) <- routes) yield {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${server.getAddress.getPort}$path"))
          .POST(HttpRequest.BodyPublishers.ofString(read(s"/requests/edge/$name.json"))).build(),
        HttpResponse.BodyHandlers.ofString())
      (name, route) -> (r.statusCode(), r.body())
    } finally HttpShell.stop(server)
  }

  /** Write every golden into `src/test/resources/golden/responses/`. */
  def main(args: Array[String]): Unit = {
    val dir = Files.createDirectories(Paths.get("src/test/resources/golden/responses"))
    for (((name, route), (code, body)) <- bodies(SparkTestSession.spark)) {
      require(code == 200, s"$name $route: $code $body")
      Files.write(dir.resolve(s"$name.$route.json"), (body + "\n").getBytes(UTF_8))
    }
  }
}
