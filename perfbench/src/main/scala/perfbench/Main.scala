package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` generates the inputs,
  * launches this with
  *
  *   --workload serve_daily|registry --inputs DIR --out DIR
  *   --seconds S --trace 0|1 --cores N
  *
  * and checks the outputs it leaves in `--out`: `result.json` (metrics,
  * one record per operation), the response bodies or query results, and
  * for a traced run `spans.json`. */
object Main {

  private val mapper = new ObjectMapper()

  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // as graft.Bench: a compiled-class cache large enough for every
      // query shape the workload repeats
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // bounded single-partition windows log one WARN per plan (see
    // graft.Bench.silenceBoundedWindowWarn)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val inputs = Paths.get(opts("inputs"))
    val out = Files.createDirectories(Paths.get(opts("out")))
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt
    val setupStartMs = Jvm.startMs

    val spark = session(cores)
    val ledger = if (trace) { val l = new Ledger; spark.sparkContext.addSparkListener(l); Some(l) } else None
    val res = mapper.createObjectNode()
    res.put("workload", workload)
    try {
      val (metrics, serveOps, registryOps) = (workload, trace) match {
        case ("registry", false) =>
          val o = Registry.run(spark, inputs.toString, out.resolve("results"), seconds, cores,
                               setupStartMs)
          res.put("stealShare", o.stealShare)
          (o.metrics + ("footprint_mb" -> Jvm.footprintMb), Nil, o.samples)
        case ("registry", true) =>
          val (m, samples, spans, rec) = Registry.traced(spark, inputs.toString, seconds, cores, ledger.get)
          writeSpans(out.resolve("spans.json"), spans, rec)
          (m, Nil, samples)
        case (_, false) =>
          val o = Serve.run(spark, inputs, out, seconds, cores, setupStartMs)
          res.put("poolExhausted", o.poolExhausted)
          res.put("stealShare", o.stealShare)
          (o.metrics + ("footprint_mb" -> Jvm.footprintMb), o.samples, Nil)
        case (_, true) =>
          val (m, samples, spans, rec) = Serve.traced(spark, inputs, out, seconds, cores, ledger.get)
          writeSpans(out.resolve("spans.json"), spans, rec)
          (m, samples, Nil)
      }
      putMetrics(res, metrics)
      val arr = res.putArray("operations")
      serveOps.foreach { s =>
        arr.addObject().put("id", s.id).put("phase", s.phase).put("wellFormed", s.wellFormed)
          .put("status", s.status).put("ms", s.ms).put("ok", s.ok).put("error", s.error)
      }
      if (workload == "registry") {
        // an untraced run wrote the results in its warm-up pass
        val checks = if (!trace) Nil else Registry.classes.map(_._1).map(q =>
          Registry.dumpOne(spark, inputs.toString, out.resolve("results"), q, "check"))
        (registryOps ++ checks).foreach { s =>
          arr.addObject().put("query", s.query).put("phase", s.phase).put("ms", s.ms)
            .put("ok", s.error == null).put("error", s.error)
        }
        val oracles = res.putObject("oracleSql")
        val cls = res.putObject("classes")
        Registry.classes.foreach { case (q, c) =>
          cls.put(q, c)
          graft.SparkEntry.oracleSql.get(q).foreach(sql => oracles.put(q, sql))
        }
      }
    } finally {
      spark.stop()
    }
    mapper.writeValue(out.resolve("result.json").toFile, res)
  }

  private def putMetrics(res: ObjectNode, m: Map[String, Double]): Unit = {
    val node = res.putObject("metrics")
    m.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
  }

  private def writeSpans(path: Path, spans: Seq[Span], rec: Spans): Unit = {
    val arr = mapper.createArrayNode()
    spans.sortBy(_.startNs).foreach { s =>
      arr.addObject().put("id", s.id).put("parent", s.parent).put("name", s.name)
        .put("op", s.op).put("start_ns", s.startNs).put("end_ns", s.endNs)
        .put("ms", s.ms).put("self_ms", rec.selfMs(s, spans))
    }
    mapper.writeValue(path.toFile, arr)
  }
}
