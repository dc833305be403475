package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkTestSession
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, explode}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The driver reader of `RequestParser.parse` against the reference
  * reader it replaced: `spark.read.json` of the body, then
  * `explode(documents.<name>.data)` + `r.*` per document. Both must give
  * the same document names, schemas and rows, or both fail with an
  * error the service answers with a 422. */
class RequestReaderSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** The reference reader. */
  private def reference(body: String): Map[String, DataFrame] = {
    val s = spark
    import s.implicits._
    val env = spark.read.option("multiLine", "true").json(Seq(body).toDS())
    val docsType = env.schema("documents").dataType.asInstanceOf[StructType]
    docsType.fieldNames.map { name =>
      name -> env.select(explode(col(s"documents.`$name`.data")).as("r")).select("r.*")
    }.toMap
  }

  private type Read = Either[Throwable, Map[String, (StructType, Seq[Row])]]

  private def read(docs: => Map[String, DataFrame]): Read =
    Try(docs.map { case (n, df) => n -> (df.schema, df.collect().toSeq) }).toEither

  /** Failures the service answers with a 422. */
  private def is422(e: Throwable): Boolean =
    e.isInstanceOf[IllegalArgumentException] || e.isInstanceOf[AnalysisException]

  private def assertSameRead(what: String, body: String): Read = {
    val want = read(reference(body))
    val got = read(RequestParser.parse(spark, body).documents)
    (want, got) match {
      case (Right(w), Right(g)) =>
        assert(g.keySet == w.keySet, what)
        for ((name, (schema, rows)) <- w) {
          assert(g(name)._1 == schema, s"$what $name: schema")
          assert(g(name)._2 == rows, s"$what $name: rows")
        }
      case (Left(w), Left(g)) =>
        assert(is422(w) && is422(g), s"$what: $w / $g")
      case _ => fail(s"$what: reference read $want, driver read $got")
    }
    got
  }

  private def correlations(doc: String) =
    s""""analyticsOptions": {"correlations": [{"id": "c1", "fromData": "$doc",
       | "fromIndex": "v", "toData": "$doc", "toIndex": "v"}]}""".stripMargin

  test("every in-repo request reads the same as spark.read.json + explode") {
    val root = Paths.get(getClass.getResource("/requests").toURI)
    val files = Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".json")).toSeq
    assert(files.size >= 6, files)
    for (f <- files) {
      val got = assertSameRead(f.toString, Files.readString(f))
      assert(got.exists(_.values.forall(_._2.nonEmpty)), s"$f: $got")
    }
  }

  test("small envelopes read the same: empty data, no data, mixed numbers, numbers as strings") {
    val day = (d: Int) => s""""date": "2024-03-0${d}T00:00:00Z""""
    val envelopes = Seq(
      "empty data" -> s"""{"documents": {"m": {"data": [{${day(1)}, "v": 1}]},
                         | "e": {"description": "none", "data": []}}, ${correlations("m")}}""",
      "no data" -> s"""{"documents": {"m": {"description": "x"}}, ${correlations("m")}}""",
      "ints and floats" -> s"""{"documents": {"m": {"data": [{${day(1)}, "v": 1},
                              | {${day(2)}, "v": 2.5}, {${day(3)}, "v": -3}]}}, ${correlations("m")}}""",
      "numbers as strings" -> s"""{"documents": {"m": {"data": [{${day(1)}, "v": "1.50"},
                                 | {${day(2)}, "v": "2"}, {${day(3)}, "v": 7}]}}, ${correlations("m")}}""",
      "nested, sparse and null elements" ->
        s"""{"documents": {"m": {"data": [{${day(1)}, "v": {"a": 1, "b": [1, 2]}},
           | null, {${day(2)}, "v": {"b": [], "c": true}}, {"v": {"a": 12345678901234567890}}]},
           | "n": {"data": [{${day(3)}, "w": null}]}}, ${correlations("m")}}""",
      "data key in another case" -> s"""{"documents": {"m": {"Data": [{${day(1)}, "v": 1}]}},
                                      | ${correlations("m")}}""",
      "names equal but for case" -> s"""{"documents": {"m": {"data": [{${day(1)}, "v": 1}]},
                                      | "M": {"data": [{${day(1)}, "v": 2}]}}, ${correlations("m")}}""")
    for ((what, body) <- envelopes) assertSameRead(what, body.stripMargin)
    // the mixed and string-typed values come through as the reference
    // types them: doubles, and strings with the number's text
    val mixed = RequestParser.parse(spark, envelopes(2)._2.stripMargin).documents("m")
    assert(mixed.collect().map(_.getAs[Double]("v")).toSeq == Seq(1.0, 2.5, -3.0))
    val strings = RequestParser.parse(spark, envelopes(3)._2.stripMargin).documents("m")
    assert(strings.collect().map(_.getAs[String]("v")).toSeq == Seq("1.50", "2", "7"))
  }

  test("a root that is an array or has no documents object is a 422 with a JSON detail") {
    val server = HttpShell.start(spark, 0)
    val client = HttpClient.newHttpClient()
    try {
      val port = server.getAddress.getPort
      for (body <- Seq(s"""[{"documents": {"m": {"data": [{"v": 1}]}}, ${correlations("m")}}]""",
                       s"""{${correlations("m")}}""",
                       s"""{"documents": 5, ${correlations("m")}}""",
                       s"""{"documents": {}, ${correlations("m")}}""",
                       "[]", "7")) {
        val r = client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port/analyze"))
                              .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
                            HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 422, s"<$body>: ${r.body().take(200)}")
        val detail = new ObjectMapper().readTree(r.body()).get("detail")
        assert(detail != null && detail.isTextual && detail.asText.nonEmpty, r.body())
      }
    } finally HttpShell.stop(server)
  }
}
