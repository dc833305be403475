package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api.{AnalyzePipeline, HttpShell, RequestParser, ResponseAssembly}
import graft.forecast.StructuralTS
import java.net.{HttpURLConnection, URI}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The serving workload: closed-loop clients POSTing generated request
  * bodies to `HttpShell`. A round is a fixed run of consecutive manifest
  * entries and every phase runs whole rounds, so the share of malformed
  * requests is the same in every run. */
object Serve {

  final case class Req(id: Int, route: String, path: String,
                       wellFormed: Boolean, body: Array[Byte])

  /** One answered request. `ok` is the client-side verdict: 200 for a
    * well-formed request (its body is checked afterwards), a 422 whose
    * body is valid JSON for a malformed one. */
  final case class Sample(id: Int, phase: String, wellFormed: Boolean, status: Int,
                          ms: Double, ok: Boolean, error: String)

  private val mapper = new ObjectMapper()

  /** The manifest's requests, in rounds of the manifest's round size. */
  def load(inputs: Path): Rounds[Req] = {
    val m = mapper.readTree(inputs.resolve("manifest.json").toFile)
    val reqs = m.get("requests").elements().asScala.map { r =>
      Req(r.get("id").asInt, r.get("route").asText,
          r.get("path").asText, r.get("wellFormed").asBoolean,
          Files.readAllBytes(inputs.resolve(r.get("file").asText)))
    }.toSeq
    new Rounds(reqs.toIndexedSeq.lift, m.get("roundSize").asInt)
  }

  private def post(port: Int, req: Req): (Int, Array[Byte], Double) = {
    val t0 = System.nanoTime()
    val c = URI.create(s"http://127.0.0.1:$port${req.path}").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setRequestProperty("Content-Type", "application/json")
    c.setFixedLengthStreamingMode(req.body.length)
    c.setReadTimeout(170000)
    val out = c.getOutputStream
    out.write(req.body)
    out.close()
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val bytes = if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close()
    (status, bytes, (System.nanoTime() - t0) / 1e6)
  }

  /** Client-side verdict on one response; `None` means ok. */
  private def verdict(req: Req, status: Int, body: Array[Byte]): Option[String] =
    if (req.wellFormed) {
      if (status == 200) None else Some(s"status $status: ${new String(body, "UTF-8").take(300)}")
    } else if (status != 422) Some(s"malformed request answered $status, expected 422")
    else try {
      val node = mapper.readTree(body)
      if (node != null && node.isObject && node.has("detail")) None
      else Some("422 body is not a JSON object with a detail field")
    } catch {
      case e: Exception => Some(s"422 body is not valid JSON: ${e.getMessage.takeWhile(_ != '\n')}")
    }

  /** Send `r` and record the answer; a 200 body goes to `respDir`. */
  private def send(phase: String, port: Int, r: Req, respDir: Path): Sample = {
    val (status, body, ms) = post(port, r)
    val err = verdict(r, status, body)
    if (r.wellFormed && status == 200)
      Files.write(respDir.resolve(s"resp-${r.id}.json"), body)
    Sample(r.id, phase, r.wellFormed, status, ms, err.isEmpty, err.orNull)
  }

  final case class Outcome(metrics: Map[String, Double], samples: Seq[Sample],
                           poolExhausted: Boolean, stealShare: Double)

  /** Round times on the reference host (README): with `cores` clients a
    * round's four requests run side by side, with one client in turn. */
  val loadedRoundS = 6.5
  val singleRoundS = 7.5

  /** Untraced run. Set-up ends when the first timed request is sent: it
    * covers the session, the server and a one-client warm-up round, which
    * pays the cold JVM's codegen and JIT. Then a `cores`-client phase and a
    * one-client phase (last, on the warmest JVM), each a fixed number of
    * rounds set by `seconds`. */
  def run(spark: SparkSession, inputs: Path, out: Path, seconds: Double, cores: Int,
          setupStartMs: Long): Outcome = {
    val rounds = load(inputs)
    val server = HttpShell.start(spark, 0)
    try {
      val port = server.getAddress.getPort
      // the health route proves the server is up
      val h = URI.create(s"http://127.0.0.1:$port/health").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      require(h.getResponseCode == 200, "health check failed")
      h.getInputStream.readAllBytes(); h.getInputStream.close()
      val respDir = Files.createDirectories(out.resolve("responses"))
      def phase(name: String, clients: Int, n: Int, budgetSec: Double) =
        rounds.phase(clients, n, capSec = 3 * budgetSec)((_, r) => send(name, port, r, respDir))
      val (warm, _) = phase("warmup", 1, 1, Double.MaxValue)
      val setupS = (System.currentTimeMillis() - setupStartMs) / 1000.0
      val ticks = Jvm.hostTicks
      val (loaded, loadedWall) =
        phase("loaded", cores, Rounds.count(seconds * 0.4, loadedRoundS, 2), seconds * 0.4)
      val (single, _) =
        phase("single", 1, Rounds.count(seconds * 0.6, singleRoundS, 3), seconds * 0.6)
      def ok(s: Seq[Sample]) = s.filter(x => x.wellFormed && x.ok)
      // a request's route is its position in the round
      def p50(s: Seq[Sample]) = Stats.medianOfKinds(ok(s).map(x => (x.id % rounds.roundSize, x.ms)))
      // a pass is one round; one client sends its requests back to back
      def passS(s: Seq[Sample]) = s.groupBy(_.id / rounds.roundSize).values.map(_.map(_.ms).sum / 1000.0)
      val metrics = Map(
        "setup_s" -> setupS,
        "req_p50_ms" -> p50(single),
        "loaded_p50_ms" -> p50(loaded),
        "req_per_s" -> ok(loaded).length / loadedWall,
        "pass_s" -> Stats.median(passS(single).toSeq))
      Outcome(metrics, warm ++ loaded ++ single, rounds.exhausted, Jvm.stealShareSince(ticks))
    } finally HttpShell.stop(server)
  }

  /** `HttpShell`'s handler, called in process: parse, analyze, assemble,
    * close, in the handler's order. */
  private def handle(spark: SparkSession, req: Req, layer: Layer): String = {
    val parsed = layer("parse")(RequestParser.parse(spark, new String(req.body, "UTF-8")))
    val result = layer("analyze")(
      if (req.route == "single") AnalyzePipeline.analyzeSingle(parsed.documents, parsed.correlations)
      else AnalyzePipeline.analyze(parsed.documents, parsed.correlations))
    try layer("assemble")(
      if (req.route == "analyze") ResponseAssembly.toJson(result, parsed.correlations)
      else ResponseAssembly.toJsonSaturating(result,
        parsed.correlations.map(c => c.id -> c.growth).toMap))
    finally layer("close")(result.close())
  }

  /** Target series of a request's first correlation as daily sums, the
    * way the request asks, as (epoch sec, y). */
  private def targetSeries(body: Array[Byte]): (Array[Double], Array[Double]) = {
    val root = mapper.readTree(body)
    val c = root.get("analyticsOptions").get("correlations").get(0)
    val docs = root.get("documents").get(c.get("toData").asText).get("data")
    val path = c.get("toIndex").asText.split('.')
    val buckets = scala.collection.mutable.TreeMap.empty[Long, Double]
    docs.elements().asScala.foreach { r =>
      val day = Math.floorDiv(java.time.Instant.parse(r.get("date").asText).getEpochSecond,
                              86400L) * 86400L
      buckets(day) = buckets.getOrElse(day, 0.0) + path.foldLeft(r: JsonNode)(_ get _).asDouble
    }
    (buckets.keys.map(_.toDouble).toArray, buckets.values.toArray)
  }

  /** Traced run, one client, for `seconds` (and at least six rounds)
    * after the cold round: whole rounds in turn run [[handle]] with a span
    * per layer, [[handle]] without spans, or the HTTP route, so the tracing
    * and HTTP overheads are measured in the same run. Malformed requests
    * always go over HTTP. */
  def traced(spark: SparkSession, inputs: Path, out: Path, seconds: Double, cores: Int,
             ledger: Ledger): (Map[String, Double], Seq[Sample], Seq[Span], Spans) = {
    val rounds = load(inputs)
    val spans = new Spans(spark.sparkContext)
    val server = HttpShell.start(spark, 0)
    val port = server.getAddress.getPort
    val respDir = Files.createDirectories(out.resolve("responses"))

    final case class Traced(spanIds: Map[String, Int], reqSpan: Int, gcMs: Long,
                            jitMs: Long, codegens: Long,
                            reqKb: Double, respKb: Double, cacheLeft: Int)
    val tracedReqs = ArrayBuffer.empty[Traced]
    // (mode, route) -> latencies of well-formed requests
    val modeMs = scala.collection.mutable.Map.empty[(String, String), ArrayBuffer[Double]]
    val samples = ArrayBuffer.empty[Sample]

    def tracedHandle(req: Req): String = {
      val (gc0, jit0, cg0) = (Jvm.gcMs, Jvm.jitMs, Jvm.codegens)
      val ids = scala.collection.mutable.Map.empty[String, Int]
      val opId = s"req-${req.id}"
      var body = ""
      val reqSpan = spans("request", opId) { root =>
        body = handle(spark, req, new Layer {
          def apply[T](name: String)(f: => T): T =
            spans(name, opId, root) { id => ids(name) = id; f }
        })
        root
      }
      tracedReqs += Traced(ids.toMap, reqSpan, Jvm.gcMs - gc0, Jvm.jitMs - jit0,
                           Jvm.codegens - cg0, req.body.length / 1024.0,
                           body.getBytes("UTF-8").length / 1024.0, graft.queries.cachedIndexCount)
      body
    }

    val cold = try {
      val (cold, _) = rounds.phase(1, 1)((_, r) =>
        send("cold", port, r, respDir))
      // rounds cycle through three modes in mirrored order (traced,
      // untraced, HTTP, HTTP, untraced, traced), so a JVM that is still
      // warming up favours none of them
      val t0 = System.nanoTime()
      var round = 0
      def mayOpen: Boolean =
        if (round < 6 || (System.nanoTime() - t0) / 1e9 < seconds) { round += 1; true }
        else false
      var req = rounds.take(mayOpen)
      while (req.isDefined) {
        val r = req.get._2
        val mode = Seq(0, 1, 2, 2, 1, 0)((round - 1) % 6)
        if (!r.wellFormed || mode == 2) {
          val sample = send("http", port, r, respDir)
          if (r.wellFormed && sample.ok)
            modeMs.getOrElseUpdate(("http", r.route), ArrayBuffer.empty) += sample.ms
          samples += sample
        } else {
          val name = if (mode == 0) "traced" else "untraced"
          val s0 = System.nanoTime()
          val body = if (mode == 0) tracedHandle(r) else handle(spark, r, Layer.none)
          val ms = (System.nanoTime() - s0) / 1e6
          modeMs.getOrElseUpdate((name, r.route), ArrayBuffer.empty) += ms
          Files.write(respDir.resolve(s"resp-${r.id}.json"), body.getBytes("UTF-8"))
          samples += Sample(r.id, name, true, 200, ms, true, null)
          if (mode == 0) {
            // the forecast kernel alone, on the request's target series
            val (tSec, y) = targetSeries(r.body)
            val model = spans("fit", s"req-${r.id}")(_ =>
              StructuralTS.fit(tSec, y, None, StructuralTS.FitSpec()))
            spans("predict", s"req-${r.id}")(_ => StructuralTS.predict(model, tSec, None))
          }
        }
        req = rounds.take(mayOpen)
      }
      cold
    } finally HttpShell.stop(server)

    ledger.drain()
    val all = spans.all
    val byId = all.map(s => s.id -> s).toMap
    def med(f: Traced => Double): Double = Stats.median(tracedReqs.map(f).toSeq)
    def layerMs(layer: String)(r: Traced): Double = byId(r.spanIds(layer)).ms
    def jobsOf(layer: String)(r: Traced): Double = ledger.sum(Seq(r.spanIds(layer))).jobs.get
    def reqCounters(r: Traced): Counters = ledger.sum(r.spanIds.values)
    def spanMs(name: String): Double = Stats.median(all.filter(_.name == name).map(_.ms))
    // latency difference between two modes, route by route (the route mix
    // of a few samples would otherwise dominate), median over routes
    def overMs(mode: String, base: String): Double = Stats.median(
      modeMs.keys.filter(_._1 == mode).map(_._2).toSeq.flatMap { route =>
        modeMs.get((base, route)).map(b =>
          Stats.median(modeMs((mode, route)).toSeq) - Stats.median(b.toSeq))
      })
    val metrics = Map(
      "api.parse_ms" -> med(layerMs("parse")),
      "api.analyze_ms" -> med(layerMs("analyze")),
      "api.assemble_ms" -> med(layerMs("assemble")),
      "api.close_ms" -> med(layerMs("close")),
      "api.parse_jobs" -> med(jobsOf("parse")),
      "api.analyze_jobs" -> med(jobsOf("analyze")),
      "api.assemble_jobs" -> med(jobsOf("assemble")),
      "api.http_overhead_ms" -> overMs("http", "untraced"),
      "api.req_kb" -> med(_.reqKb),
      "api.resp_kb" -> med(_.respKb),
      "api.cache_entries_left" -> tracedReqs.map(_.cacheLeft.toDouble).max,
      "spark.jobs_per_req" -> med(r => reqCounters(r).jobs.get.toDouble),
      "spark.stages_per_req" -> med(r => reqCounters(r).stages.get.toDouble),
      "spark.tasks_per_req" -> med(r => reqCounters(r).tasks.get.toDouble),
      "spark.task_cpu_ms_per_req" -> med(r => reqCounters(r).cpuNs.get / 1e6),
      "spark.shuffle_kb_per_req" -> med(r => reqCounters(r).shuffleBytes.get / 1024.0),
      "spark.slot_busy_share" -> med(r => reqCounters(r).runMs.get / (byId(r.reqSpan).ms * cores)),
      "forecast.fit_ms" -> spanMs("fit"),
      "forecast.predict_ms" -> spanMs("predict"),
      "jvm.gc_ms_per_req" -> med(_.gcMs.toDouble),
      "jvm.jit_ms_per_req" -> med(_.jitMs.toDouble),
      "spark.codegen_per_req" -> med(_.codegens.toDouble),
      "trace.overhead_ms" -> overMs("traced", "untraced"))
    (metrics, cold ++ samples, all, spans)
  }
}
