package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkTestSession
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** S1/S4 end-to-end over real HTTP: the dev shell serves the
  * reference's routes with its status/body conventions. */
class HttpShellSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private lazy val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path")).GET().build(),
                HttpResponse.BodyHandlers.ofString())

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
                  .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
                HttpResponse.BodyHandlers.ofString())

  private def requestOf(month: Int, value: Int => Double): String = {
    val rows = (1 to 20).map(d =>
      s"""{"date": "2024-${f"$month%02d"}-${f"$d%02d"}T00:00:00Z", "v": ${value(d)}}""")
      .mkString("[", ",", "]")
    s"""{"documents": {"m": {"description": null, "data": $rows}},
       |  "analyticsOptions": {"correlations": [{
       |    "id": "c1", "type": "prophet",
       |    "fromData": "m", "fromIndex": "v", "toData": "m", "toIndex": "v",
       |    "dataSetGranularity": "D", "unitsToForecast": 3}]}}""".stripMargin
  }

  private val request = requestOf(3, d => 100.0 + 3 * d)

  test("health + analyze + saturating single + 422 on garbage, over HTTP") {
    val server = HttpShell.start(spark, 0) // ephemeral port
    try {
      val port = server.getAddress.getPort

      val health = get(port, "/health")
      assert(health.statusCode() == 200 && health.body() == "null")
      assert(get(port, "/analyze").statusCode() == 405) // GET on a POST route

      val analyzed = post(port, "/analyze", request)
      assert(analyzed.statusCode() == 200, analyzed.body().take(200))
      assert(analyzed.body().contains("\"c1\"") &&
             analyzed.body().contains("futureForecasts") &&
             analyzed.body().contains("autocorrelations"))

      val single = post(port, "/saturating-growth/single", request)
      assert(single.statusCode() == 200, single.body().take(200))
      assert(single.body().contains("\"growth\": \"linear\"") &&
             single.body().contains("\"bounds\""))

      // §3.2 pair route: nested ForecastingOptions defaults -> logistic
      // (an empty toIndex struct would be pruned by schema inference —
      // carry one real field so ForecastingOptions survives the parse)
      val pair = post(port, "/saturating-growth",
        request.replace("\"unitsToForecast\": 3",
          "\"unitsToForecast\": 3, " +
          "\"ForecastingOptions\": {\"toIndex\": {\"changepointPriorScale\": 0.5}}"))
      assert(pair.statusCode() == 200, pair.body().take(200))
      assert(pair.body().contains("\"growth\": \"logistic\""))

      assert(post(port, "/analyze", "{not json").statusCode() == 422)
      val missing = post(port, "/analyze", request.replace("\"toData\": \"m\", ", ""))
      assert(missing.statusCode() == 422 && missing.body().contains("toData"))

      // the declared type enum over the wire: granger adds its block,
      // an unknown type is a pydantic-style 422
      val granger = post(port, "/analyze",
        request.replace("\"type\": \"prophet\"", "\"type\": \"granger\""))
      assert(granger.statusCode() == 200, granger.body().take(200))
      assert(granger.body().contains("\"type\": \"granger\"") &&
             granger.body().contains("grangerCausality"))
      val badType = post(port, "/analyze",
        request.replace("\"type\": \"prophet\"", "\"type\": \"arima\""))
      assert(badType.statusCode() == 422 && badType.body().contains("arima"))
    } finally HttpShell.stop(server)
  }

  test("concurrent analyze posts are served in parallel, not serialized") {
    val server = HttpShell.start(spark, 0)
    try {
      val port = server.getAddress.getPort
      // Two slow POSTs in flight plus a health probe: with the default
      // (null) executor the probe would queue behind both analyses on
      // the single dispatch thread; with the pool it answers while they
      // run. Assert both that the probe overlaps an in-flight analysis
      // and that both analyses complete correctly (cache lifecycle under
      // concurrency).
      import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
      val pool = Executors.newFixedThreadPool(2)
      val started = new CountDownLatch(1)
      val analyses = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[HttpResponse[String]] {
          override def call(): HttpResponse[String] = {
            started.countDown()
            post(port, "/analyze", request)
          }
        })
      }
      assert(started.await(10, TimeUnit.SECONDS))
      Thread.sleep(300) // let both POSTs reach the server before probing
      val t0 = System.nanoTime()
      val health = get(port, "/health")
      val healthSec = (System.nanoTime() - t0) / 1e9
      assert(health.statusCode() == 200 && health.body() == "null")
      val bodies = analyses.map(_.get(120, TimeUnit.SECONDS))
      bodies.foreach { r =>
        assert(r.statusCode() == 200, r.body().take(200))
        assert(r.body().contains("futureForecasts"))
      }
      // an /analyze on this box takes seconds; a serialized shell would
      // have held the probe behind at least one full analysis
      assert(healthSec < 2.0,
             f"health probe took $healthSec%.1f s — requests look serialized")
      pool.shutdown()
    } finally HttpShell.stop(server)
  }

  test("inSession gives a bare thread the session and its conf, then clears it") {
    // a clone with a runtime conf the shared session does not have, run
    // on a thread that inherits no thread-locals (like a pool thread)
    val session = spark.newSession()
    val key = SQLConf.SHUFFLE_PARTITIONS.key
    session.conf.set(key, "7")
    assert(spark.conf.get(key) != "7")
    // read after join(), which orders these writes before the reads
    var before, inside, after, afterThrow: Option[SparkSession] = None
    var conf = ""
    val t = new Thread(null, () => {
      before = SparkSession.getActiveSession
      HttpShell.inSession(session) {
        inside = SparkSession.getActiveSession
        conf = SQLConf.get.getConfString(key)
      }
      after = SparkSession.getActiveSession
      try HttpShell.inSession(session)(throw new IllegalStateException("boom"))
      catch { case _: IllegalStateException => }
      afterThrow = SparkSession.getActiveSession
    }, "t", 0, false)
    t.start()
    t.join(30000)
    assert(!t.isAlive)
    assert(before.isEmpty)
    assert(inside.exists(_ eq session))
    assert(conf == "7")
    assert(after.isEmpty && afterThrow.isEmpty)
  }

  test("a second request of the same shape compiles no new classes") {
    // request values and dates must never reach generated code (e.g. as
    // an inlined literal): then every later request reuses the classes
    // the first one compiled. Served with AQE off: AQE re-plans stages as
    // they finish, and about one request in ten, whatever its data,
    // compiled one stage again, which would make this count flaky
    val session = spark.newSession()
    session.conf.set(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key, "false")
    val server = HttpShell.start(session, 0)
    try {
      val port = server.getAddress.getPort
      val warm = post(port, "/analyze", request)
      assert(warm.statusCode() == 200, warm.body().take(200))
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val second = post(port, "/analyze", requestOf(5, d => 40.0 + 7 * d * d))
      assert(second.statusCode() == 200, second.body().take(200))
      assert(second.body() != warm.body())
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
             "the second request compiled new classes")
    } finally HttpShell.stop(server)
  }

  test("422 bodies are valid JSON for paths with control characters") {
    val server = HttpShell.start(spark, 0)
    try {
      val port = server.getAddress.getPort
      val mapper = new ObjectMapper()
      for ((escaped, raw) <- Seq("\\t" -> "\t", "\\r" -> "\r")) {
        val bad = post(port, "/analyze",
          request.replace("\"fromIndex\": \"v\"", "\"fromIndex\": \"v" + escaped + "x\""))
        assert(bad.statusCode() == 422, bad.body().take(200))
        val detail = mapper.readTree(bad.body()).get("detail").asText
        assert(detail.contains("v" + raw + "x"), detail)
      }
    } finally HttpShell.stop(server)
  }

  test("two correlations without an id are a 422 naming the shared id, not one merged series") {
    val server = HttpShell.start(spark, 0)
    try {
      val port = server.getAddress.getPort
      val noId = """{"type": "prophet", "fromData": "m", "fromIndex": "v",
                   | "toData": "m", "toIndex": "v", "unitsToForecast": 3}""".stripMargin
      val body = request.substring(0, request.indexOf("\"analyticsOptions\"")) +
        s""""analyticsOptions": {"correlations": [$noId, $noId]}}"""
      for (route <- Seq("/analyze", "/saturating-growth/single")) {
        val r = post(port, route, body)
        assert(r.statusCode() == 422, s"$route: ${r.body().take(200)}")
        val detail = new ObjectMapper().readTree(r.body()).get("detail").asText
        assert(detail.contains("duplicate correlation id: c0"), detail)
      }
    } finally HttpShell.stop(server)
  }

  test("a body that is not JSON is a 422 with a JSON detail") {
    val server = HttpShell.start(spark, 0)
    try {
      val port = server.getAddress.getPort
      for (route <- Seq("/analyze", "/saturating-growth", "/saturating-growth/single");
           body <- Seq("{not json", "", "[1, 2"))  {
        val r = post(port, route, body)
        assert(r.statusCode() == 422, s"$route <$body>: ${r.body().take(200)}")
        val detail = new ObjectMapper().readTree(r.body()).get("detail")
        assert(detail != null && detail.isTextual && detail.asText.nonEmpty, r.body())
      }
    } finally HttpShell.stop(server)
  }

  /** Counts the jobs and stages started in job group `group`. */
  private final class JobCounter(group: String) extends SparkListener {
    val jobs, stages, ended = new java.util.concurrent.atomic.AtomicInteger
    private val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private def ours(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (ours(e.properties)) { started.add(e.jobId); jobs.incrementAndGet() }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (started.contains(e.jobId)) ended.incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (ours(e.properties)) stages.incrementAndGet()
  }

  /** `f`'s (jobs, stages), run in a job group of its own on this thread.
    * Listener events arrive asynchronously: wait until every job seen
    * started has ended. */
  private def jobsAndStages(f: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val group = s"count-${System.nanoTime()}"
    val counter = new JobCounter(group)
    sc.addSparkListener(counter)
    try {
      sc.setJobGroup(group, "job count", interruptOnCancel = false)
      try f finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 20000000000L
      while (System.nanoTime() < deadline && counter.ended.get < counter.jobs.get) Thread.sleep(20)
      Thread.sleep(200)
      (counter.jobs.get, counter.stages.get)
    } finally sc.removeSparkListener(counter)
  }

  test("a warm /analyze runs 1 job and 1 stage; parse none") {
    for (file <- Seq("/requests/daily_nested.json", "/requests/edge/edge_grains.json")) {
      val body = ResponseGoldens.read(file)
      val server = HttpShell.start(spark, 0)
      val warm = try post(server.getAddress.getPort, "/analyze", body)
                 finally HttpShell.stop(server)
      assert(warm.statusCode() == 200, warm.body().take(200))
      // the handler's steps, on this thread so the job group covers them
      var parsed: RequestParser.ParsedRequest = null
      assert(jobsAndStages { parsed = RequestParser.parse(spark, body) } == (0, 0),
             s"$file: parse() ran Spark jobs")
      var result: AnalyzePipeline.AnalyzeResult = null
      assert(jobsAndStages {
        result = AnalyzePipeline.analyze(parsed.documents, parsed.correlations)
      } == (0, 0), s"$file: analyze() ran Spark jobs")
      val (jobs, stages) = jobsAndStages {
        val p = RequestParser.parse(spark, body)
        ResponseAssembly.toJson(AnalyzePipeline.analyze(p.documents, p.correlations), p.correlations)
      }
      assert((jobs, stages) == (1, 1), s"$file: one /analyze ran $jobs jobs and $stages stages")
      assert(ResponseAssembly.toJson(result, parsed.correlations) == warm.body())
    }
  }

  /** A raw HTTP/1.1 POST to /analyze: `head` names the body's framing
    * and `body` is sent as is. Returns the status and the body read. */
  private def rawPost(port: Int, head: String, body: Array[Byte]): (Int, String) = {
    val socket = new java.net.Socket("localhost", port)
    try {
      socket.setSoTimeout(60000)
      val out = socket.getOutputStream
      out.write(s"POST /analyze HTTP/1.1\r\nHost: localhost\r\n$head\r\n\r\n".getBytes("UTF-8"))
      out.write(body)
      out.flush()
      val in = new java.io.DataInputStream(socket.getInputStream)
      val headers = Iterator.continually(readLine(in)).takeWhile(_.nonEmpty).toList
      val length = headers.collectFirst {
        case h if h.toLowerCase.startsWith("content-length:") => h.drop(15).trim.toInt
      }.get
      val bytes = new Array[Byte](length)
      in.readFully(bytes)
      (headers.head.split(' ')(1).toInt, new String(bytes, "UTF-8"))
    } finally socket.close()
  }

  private def readLine(in: java.io.InputStream): String = {
    val line = new StringBuilder
    var c = in.read()
    while (c != '\n' && c != -1) { if (c != '\r') line += c.toChar; c = in.read() }
    line.toString
  }

  test("a body over the size limit is a 413 with a JSON detail, unparsed") {
    val server = HttpShell.start(spark, 0)
    try {
      val port = server.getAddress.getPort
      val limit = HttpShell.MaxBodyBytes
      def detail(r: (Int, String)): String = {
        assert(r._1 == 413, r._2.take(200))
        new ObjectMapper().readTree(r._2).get("detail").asText
      }
      // a declared length over the limit is refused before any body is read
      assert(detail(rawPost(port, s"Content-Length: ${limit + 1L}", Array.emptyByteArray))
        .contains(limit.toString))
      // a chunked body declares no length: reading stops one byte past the limit
      val chunk = Array.fill[Byte](1 << 20)('x')
      val chunked = new java.io.ByteArrayOutputStream()
      def writeChunk(b: Array[Byte]): Unit = {
        chunked.write(s"${b.length.toHexString}\r\n".getBytes("UTF-8"))
        chunked.write(b)
        chunked.write("\r\n".getBytes("UTF-8"))
      }
      (0 until limit / chunk.length).foreach(_ => writeChunk(chunk))
      writeChunk(chunk.take(1024))
      chunked.write("0\r\n\r\n".getBytes("UTF-8"))
      assert(detail(rawPost(port, "Transfer-Encoding: chunked", chunked.toByteArray))
        .contains(limit.toString))
      // a body at the limit is read and parsed: this one is not JSON
      val atLimit = post(port, "/analyze", "x" * limit)
      assert(atLimit.statusCode() == 422, atLimit.body().take(200))
    } finally HttpShell.stop(server)
  }

  test("stop shuts down the executor pool (no idle-pool accumulation)") {
    val server = HttpShell.start(spark, 0)
    HttpShell.stop(server)
    assert(server.getExecutor.asInstanceOf[java.util.concurrent.ExecutorService].isShutdown)
  }
}
