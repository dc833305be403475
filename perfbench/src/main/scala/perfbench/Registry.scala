package perfbench

import graft.SparkEntry
import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** The registry workload: registry queries over generated parquet tables,
  * each materialized through the `noop` sink as `graft.Bench` does. A pass
  * runs every query once; a warm-up pass runs first on a fresh session,
  * then a `cores`-client phase and a one-client phase. */
object Registry {

  /** Query -> bottleneck class: one query per class keeps a pass short
    * enough for repeated runs (see the README for the choice). */
  val classes: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "relational",
    "q46_forecast_multiseries" -> "forecast",
    "q292_bootstrap_ci" -> "single_task",
    "q192_pagerank" -> "iterative",
    "q256_spearman" -> "grid",
    "q66_dup_clusters" -> "memo")

  val classNames: Seq[String] = classes.map(_._2).distinct

  /** The tables the queries above read; a traced run reads each once
    * before its cold pass, so the pass's spans hold no table listing. */
  val tables = Seq("lineitem", "orders", "events", "documents")

  final case class Sample(query: String, phase: String, ms: Double, error: String)

  def tableWarmup(spark: SparkSession, dir: String): Unit =
    tables.foreach(t => graft.queries.t(spark, dir, t).limit(1).count())

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timeQuery(spark: SparkSession, dir: String, q: String): (Double, String) = {
    val t0 = System.nanoTime()
    val err = try { materialize(SparkEntry.queries(q)(spark, dir)); null }
    catch { case e: Exception => s"${e.getClass.getName}: ${e.getMessage}".take(500) }
    ((System.nanoTime() - t0) / 1e6, err)
  }

  final case class Outcome(metrics: Map[String, Double], samples: Seq[Sample],
                           stealShare: Double)

  /** Pass times on the reference host (README): with `cores` clients
    * sharing passes, and with one client. */
  val loadedPassS = 2.4
  val singlePassS = 3.7

  /** Untraced run. Set-up ends when the first timed query starts: it
    * covers the session and a one-client warm-up pass, which reads the
    * tables, pays codegen, JIT and the once-per-session index builds, and
    * writes every query's result to `results` for the output checks.
    * Then a
    * `cores`-client phase and a one-client phase, each a fixed number of
    * passes set by `seconds`. */
  def run(spark: SparkSession, dir: String, results: Path, seconds: Double, cores: Int,
          setupStartMs: Long): Outcome = {
    // one round is one pass over the query list; clients share the pass
    val names = classes.map(_._1)
    val rounds = new Rounds[String](i => Some(names(i % names.length)), names.length)
    val (warm, _) = rounds.phase(1, 1)((_, q) => dumpOne(spark, dir, results, q, "warmup"))
    val setupS = (System.currentTimeMillis() - setupStartMs) / 1000.0
    // a phase's samples, wall time and each pass's summed query time (its
    // wall time with one client)
    def phase(name: String, clients: Int, passes: Int, budgetSec: Double) = {
      val (res, wall) = rounds.phase(clients, passes, capSec = 3 * budgetSec) { (i, q) =>
        val (ms, err) = timeQuery(spark, dir, q)
        i / names.length -> Sample(q, name, ms, err)
      }
      (res.map(_._2), wall, res.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2.ms).sum))
    }
    val ticks = Jvm.hostTicks
    val (loaded, loadedWall, _) =
      phase("loaded", cores, Rounds.count(seconds * 0.4, loadedPassS, 3), seconds * 0.4)
    val (single, _, passes) =
      phase("single", 1, Rounds.count(seconds * 0.6, singlePassS, 3), seconds * 0.6)
    def ok(s: Seq[Sample]) = s.filter(_.error == null)
    def p50(s: Seq[Sample]) = Stats.medianOfKinds(ok(s).map(x => (x.query, x.ms)))
    Outcome(Map(
      "setup_s" -> setupS,
      "req_p50_ms" -> p50(single),
      "loaded_p50_ms" -> p50(loaded),
      "req_per_s" -> ok(loaded).length / loadedWall,
      "pass_s" -> Stats.median(passes) / 1000.0), warm ++ loaded ++ single,
      Jvm.stealShareSince(ticks))
  }

  /** Write query `q`'s result as parquet for the output checks. */
  def dumpOne(spark: SparkSession, dir: String, out: Path, q: String, phase: String): Sample = {
    val t0 = System.nanoTime()
    val err = try {
      SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(out.resolve(q).toString)
      null
    } catch { case e: Exception => s"${e.getClass.getName}: ${e.getMessage}".take(500) }
    Sample(q, phase, (System.nanoTime() - t0) / 1e6, err)
  }

  /** Build, plan and execute one query; `layer` wraps each of the three. */
  private def runQuery(spark: SparkSession, dir: String, q: String, layer: Layer): Unit = {
    val df = layer("build")(SparkEntry.queries(q)(spark, dir))
    layer("plan")(df.queryExecution.executedPlan)
    layer("exec")(materialize(df))
  }

  /** Traced run: a traced cold pass, then for `seconds` (and at least four
    * passes) steady passes, traced and untraced. Every pass forces each
    * query's executed plan before the write, so both kinds do the same
    * work. */
  def traced(spark: SparkSession, dir: String, seconds: Double, cores: Int,
             ledger: Ledger): (Map[String, Double], Seq[Sample], Seq[Span], Spans) = {
    tableWarmup(spark, dir)
    val spans = new Spans(spark.sparkContext)
    final case class Q(cls: String, pass: Int, root: Int, ids: Map[String, Int])
    val tracedQs = ArrayBuffer.empty[Q]
    val samples = ArrayBuffer.empty[Sample]
    val passMs = Map(true -> ArrayBuffer.empty[Double], false -> ArrayBuffer.empty[Double])
    def pass(p: Int, traced: Boolean): Unit = {
      val p0 = System.nanoTime()
      classes.foreach { case (q, cls) =>
        val q0 = System.nanoTime()
        if (!traced) runQuery(spark, dir, q, Layer.none)
        else {
          val ids = scala.collection.mutable.Map.empty[String, Int]
          val root = spans("query", s"$q#$p") { root =>
            runQuery(spark, dir, q, new Layer {
              def apply[T](name: String)(f: => T): T =
                spans(name, s"$q#$p", root) { id => ids(name) = id; f }
            })
            root
          }
          tracedQs += Q(cls, p, root, ids.toMap)
        }
        val phase = if (p == 0) "cold" else if (traced) "traced" else "untraced"
        samples += Sample(q, phase, (System.nanoTime() - q0) / 1e6, null)
      }
      passMs(traced) += (System.nanoTime() - p0) / 1e6
    }
    val t0 = System.nanoTime()
    pass(0, traced = true)
    // mirrored order (traced, untraced, untraced, traced), so a JVM still
    // warming up favours neither kind
    var p = 1
    while (p <= 4 || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass(p, traced = Seq(true, false, false, true)((p - 1) % 4))
      p += 1
    }
    ledger.drain()
    val all = spans.all
    val byId = all.map(s => s.id -> s).toMap
    def secs(step: String)(qs: Seq[Q]): Double = qs.map(q => byId(q.ids(step)).ms / 1000.0).sum
    def counters(qs: Seq[Q]): Counters = ledger.sum(qs.flatMap(_.ids.values))
    val (cold, steady) = tracedQs.toSeq.partition(_.pass == 0)
    val perClass = classNames.flatMap { c =>
      // per-class sums within each traced steady pass, then the median pass
      val passes = steady.filter(_.cls == c).groupBy(_.pass).values.toSeq
      def med(f: Seq[Q] => Double): Double = Stats.median(passes.map(f))
      Seq(
        s"registry.$c.build_s" -> med(secs("build")),
        s"registry.$c.plan_s" -> med(secs("plan")),
        s"registry.$c.exec_s" -> med(secs("exec")),
        s"registry.$c.jobs" -> med(counters(_).jobs.get.toDouble),
        s"registry.$c.tasks" -> med(counters(_).tasks.get.toDouble),
        s"registry.$c.task_cpu_s" -> med(counters(_).cpuNs.get / 1e9),
        s"registry.$c.shuffle_mb" -> med(counters(_).shuffleBytes.get / 1048576.0),
        s"registry.$c.slot_busy_share" -> med(qs =>
          counters(qs).runMs.get / (qs.map(q => byId(q.root).ms).sum * cores)))
    }
    val metrics = perClass.toMap ++ Map(
      "registry.cold.build_s" -> secs("build")(cold),
      "registry.cold.exec_s" -> secs("exec")(cold),
      "registry.cold.jobs" -> counters(cold).jobs.get.toDouble,
      // the cold pass is traced too; steady passes only
      "trace.overhead_ms" -> (Stats.median(passMs(true).drop(1).toSeq) -
        Stats.median(passMs(false).toSeq)))
    (metrics, samples.toSeq, all, spans)
  }
}
