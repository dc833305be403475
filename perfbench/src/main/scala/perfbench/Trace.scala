package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval of the traced run. `op` names the request or query
  * the span belongs to; `parent` is the id of the enclosing span (-1 for
  * a root). Times are `System.nanoTime` readings. */
final case class Span(id: Int, parent: Int, name: String, op: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Each span also names a Spark job group, so the
  * [[Ledger]] can attribute every job, stage and task to the span that
  * caused it. Spans are written out once, when the run ends. */
final class Spans(sc: SparkContext) {
  private val done = ArrayBuffer.empty[Span]
  private val nextId = new AtomicInteger(0)

  /** Run `body` as span `name` of operation `op`; its Spark jobs run in
    * job group `group(id)`. Single-threaded use: the traced run runs one
    * operation at a time. */
  def apply[T](name: String, op: String, parent: Int = -1)(body: Int => T): T = {
    val id = nextId.getAndIncrement()
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(Spans.group(id), s"$op/$name", interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body(id)
    finally {
      val t1 = System.nanoTime()
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setLocalProperty("spark.jobGroup.id", prevGroup)
      done.synchronized { done += Span(id, parent, name, op, t0, t1) }
    }
  }

  def all: Seq[Span] = done.synchronized(done.toList)

  /** Self time: a span's duration minus the part of it its children cover. */
  def selfMs(s: Span, spans: Seq[Span]): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((a, b) <- kids) {
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (kids.nonEmpty) covered += curE - curS
    s.ms - covered / 1e6
  }
}

/** Wraps each layer call of one operation: a span in a traced pass, the
  * bare call otherwise. */
trait Layer { def apply[T](name: String)(f: => T): T }

object Layer {
  val none: Layer = new Layer { def apply[T](name: String)(f: => T): T = f }
}

object Spans {
  def group(spanId: Int): String = s"perfbench-span-$spanId"
  def spanOf(group: String): Option[Int] =
    if (group != null && group.startsWith("perfbench-span-"))
      Some(group.stripPrefix("perfbench-span-").toInt)
    else None
}

/** Spark counters of one job group. */
final class Counters {
  val jobs = new AtomicInteger
  val stages = new AtomicInteger
  val tasks = new AtomicInteger
  val runMs = new AtomicLong     // executor run time, ms
  val cpuNs = new AtomicLong     // executor CPU time, ns
  val shuffleBytes = new AtomicLong // shuffle read + write
  def +=(o: Counters): Unit = {
    jobs.addAndGet(o.jobs.get); stages.addAndGet(o.stages.get)
    tasks.addAndGet(o.tasks.get); runMs.addAndGet(o.runMs.get)
    cpuNs.addAndGet(o.cpuNs.get); shuffleBytes.addAndGet(o.shuffleBytes.get)
  }
}

/** A SparkListener that attributes jobs, stages and tasks to the span
  * whose job group started them. */
final class Ledger extends SparkListener {
  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val started = new AtomicInteger
  private val ended = new AtomicInteger
  private val taskEvents = new AtomicLong

  private def of(span: Int): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    Spans.spanOf(g).foreach { s =>
      of(s).jobs.incrementAndGet()
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => of(s).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    taskEvents.incrementAndGet()
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val c = of(s)
      c.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c.runMs.addAndGet(m.executorRunTime)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  /** Listener events arrive asynchronously: wait until every started job
    * has ended and no task event arrived for a short quiet period. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 20000000000L
    var last = -1L
    while (System.nanoTime() < deadline &&
           (started.get != ended.get || taskEvents.get != last)) {
      last = taskEvents.get
      Thread.sleep(100)
    }
  }

  /** Sum of the counters of the given spans. */
  def sum(spans: Iterable[Int]): Counters = {
    val c = new Counters
    spans.foreach(s => Option(bySpan.get(s)).foreach(c += _))
    c
  }
}

object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Memory the program needs, MB: the peak resident memory outside the
    * Java heap plus the heap that is still live after a full collection.
    * The heap is fixed and pre-touched, so it is resident in full and the
    * rest of `VmHWM` is memory outside it; how far G1 chose to grow a
    * heap would otherwise move the figure by a fifth from run to run. */
  def footprintMb: Double = {
    val outsideHeap = peakRssMb - Runtime.getRuntime.maxMemory / 1048576.0
    System.gc()
    outsideHeap + ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Time the JIT compilers spent so far, ms, summed over their threads. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Classes Spark's whole-stage codegen compiled so far (cache misses). */
  def codegens: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Clock ticks of all CPUs so far, (stolen, all), from /proc/stat. */
  def hostTicks: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  /** Share of the CPUs' time since `from` (a [[hostTicks]] reading) that
    * the host gave to other machines: a run that reads high ran on a
    * contended host. */
  def stealShareSince(from: (Long, Long)): Double = {
    val (s1, a1) = hostTicks
    if (a1 > from._2) (s1 - from._1).toDouble / (a1 - from._2) else 0.0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else (s((s.length - 1) / 2) + s(s.length / 2)) / 2
  }

  /** Median over kinds of each kind's median. A round mixes kinds whose
    * latencies differ several-fold, so a plain median would jump between
    * kinds as the sample counts shift; this one stays with the same kinds. */
  def medianOfKinds[K](xs: Seq[(K, Double)]): Double =
    median(xs.groupBy(_._1).values.map(v => median(v.map(_._2))).toSeq)
}
