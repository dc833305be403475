package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.GraftSession
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession

/** Minimal HTTP service shell (S1 + S4, the last SURVEY §2.1 cells):
  * the reference's four routes served over the JDK's built-in
  * `com.sun.net.httpserver` — zero added dependencies, dev-grade by
  * design (the engine is a library; a production service would front it
  * with a real server). Mirrors `app.py`:
  *
  *   GET  /health                    → 200 `null` (FastAPI returns None,
  *                                     `app.py:25-28`)
  *   POST /analyze                   → §3.1 pipeline (`app.py:96-250`)
  *   POST /saturating-growth         → §3.2 pair    (`app.py:490-559`)
  *   POST /saturating-growth/single  → §3.3 single  (`app.py:562-609`)
  *
  * Run: `runMain graft.api.HttpShell [port]` then e.g.
  * `curl -s localhost:8080/health` and
  * `curl -s -XPOST localhost:8080/analyze -d @src/test/resources/requests/daily_nested.json`.
  *
  * A POST body over [[MaxBodyBytes]] is a 413, refused before it is
  * parsed. Any other body is parsed on the driver with no Spark job
  * ([[RequestParser]]), and the request is one keyed pass
  * ([[AnalyzePipeline]]) over those driver rows, which the response
  * collects once: one Spark job of one stage and one task
  * (HttpShellSpec pins this). It caches nothing, so a long-running shell
  * leaves the CacheManager and the persistent RDDs as it found them
  * (CacheLifecycleSpec pins this).
  *
  * Every handler runs with the service's session active ([[inSession]]).
  * The pool's threads have none of their own, and on such a thread
  * Spark's `SQLConf.get` returns the defaults instead of the session's
  * conf. That matters most for the compiled-class cache, which Spark sizes
  * once from `SQLConf.get` on whichever thread compiles first: sized from
  * the defaults (100 entries) it is smaller than one round of the routes
  * (about 165 entries), so the LRU evicts every class before the next
  * request could reuse it and each request recompiled 70-80 classes. */
object HttpShell {

  /** Run `f` with `spark` as the thread's active session, then clear it:
    * pool threads are reused, so no session may outlive the request. */
  private[api] def inSession[T](spark: SparkSession)(f: => T): T = {
    SparkSession.setActiveSession(spark)
    try f finally SparkSession.clearActiveSession()
  }

  /** The largest request body served, in bytes: over 100 times the
    * largest in-repo request (`hourly_flat.json`, 124 KB). A parsed body
    * is held as driver rows, so a larger one is refused unparsed. */
  val MaxBodyBytes: Int = 16 << 20

  /** The request body, or None when it is over [[MaxBodyBytes]]: a
    * declared `Content-Length` over the limit is refused unread, and no
    * more than one byte past the limit is ever read. */
  private def readBody(ex: HttpExchange): Option[String] =
    if (Option(ex.getRequestHeaders.getFirst("Content-Length"))
          .flatMap(_.trim.toLongOption).exists(_ > MaxBodyBytes)) None
    else {
      val bytes = ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
      Option.when(bytes.length <= MaxBodyBytes)(new String(bytes, UTF_8))
    }

  private def handler(spark: SparkSession)(route: String): HttpHandler =
    new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val (code, body) =
          try inSession(spark) {
            route match {
              case "health" if ex.getRequestMethod == "GET" => (200, "null")
              case _ if route == "health" || ex.getRequestMethod != "POST" =>
                (405, ResponseAssembly.errorJson("Method Not Allowed"))
              case which => readBody(ex) match {
                case None =>
                  (413, ResponseAssembly.errorJson(s"request body is over $MaxBodyBytes bytes"))
                case Some(req) =>
                  val parsed = RequestParser.parse(spark, req)
                  val result = which match {
                    case "single" => AnalyzePipeline.analyzeSingle(parsed.documents, parsed.correlations)
                    case _        => AnalyzePipeline.analyze(parsed.documents, parsed.correlations)
                  }
                  (200, which match {
                    case "analyze" => ResponseAssembly.toJson(result, parsed.correlations)
                    case _ => ResponseAssembly.toJsonSaturating(result,
                      parsed.correlations.map(c => c.id -> c.growth).toMap)
                  })
              }
            }
          } catch {
            // FastAPI status split: request-shaped failures are
            // pydantic 422s (`app.py:31-67`); anything else is a 500
            case e: Exception =>
              val code = e match {
                case _: IllegalArgumentException => 422 // bad spec/path/grain
                case _: org.apache.spark.sql.AnalysisException => 422 // unparseable envelope
                case _: NoSuchElementException => 422 // missing required field
                case _ => 500
              }
              (code, ResponseAssembly.errorJson(
                Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
          }
        val bytes = body.getBytes(UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(code, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    }

  def start(spark: SparkSession, port: Int): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    // A real executor: HttpServer's default (null) executor dispatches
    // on the server thread, so one slow /analyze would serialize every
    // request — the reference runs 3 uvicorn replicas behind a load
    // balancer (docker-compose.yaml), i.e. concurrent service is part of
    // the S1 contract. Spark sessions are thread-safe for concurrent
    // actions, so a small fixed pool is all the shell needs.
    // Daemon threads as a backstop only: HttpServer.stop() does not shut
    // down a caller-provided executor, so [[stop]] below shuts the pool
    // down explicitly — repeated start/stop cycles must not accumulate
    // idle pools (specs start/stop servers repeatedly).
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, Runtime.getRuntime.availableProcessors()),
      (r: Runnable) => { val t = new Thread(r, "graft-http"); t.setDaemon(true); t }))
    server.createContext("/health", handler(spark)("health"))
    server.createContext("/analyze", handler(spark)("analyze"))
    // more-specific path registered too: HttpServer matches the longest
    // prefix, mirroring FastAPI's two distinct saturating routes
    server.createContext("/saturating-growth", handler(spark)("saturating"))
    server.createContext("/saturating-growth/single", handler(spark)("single"))
    server.start()
    server
  }

  /** Stop a server started by [[start]], including its executor pool
    * (which `HttpServer.stop` leaves running for caller-provided
    * executors). `delaySeconds` mirrors `HttpServer.stop`'s drain. */
  def stop(server: HttpServer, delaySeconds: Int = 0): Unit = {
    val ex = server.getExecutor
    server.stop(delaySeconds)
    ex match {
      case p: java.util.concurrent.ExecutorService => p.shutdown()
      case _ =>
    }
  }

  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8080)
    val builder = GraftSession.builder.appName("graft-http-shell")
    // a master URL is a deployment address, so it stays settable
    sys.env.get("SPARK_GRAFT_MASTER").foreach(builder.master)
    val spark = builder.getOrCreate()
    start(spark, port)
    println(s"graft shell listening on :$port (GET /health, POST /analyze, " +
      "POST /saturating-growth[/single]) — Ctrl-C to stop")
    Thread.currentThread.join()
  }
}
