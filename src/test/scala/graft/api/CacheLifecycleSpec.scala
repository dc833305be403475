package graft.api

import graft.SparkTestSession
import org.apache.spark.sql.execution.CacheManager
import org.scalatest.funsuite.AnyFunSuite

/** Request lifecycle: a long-lived session serving many DISTINCT
  * requests must not accumulate CacheManager entries or persistent RDDs.
  * A request is one uncached keyed pass, so answering it — `analyze`,
  * then the response, with or without `AnalyzeResult.close()` — leaves
  * both exactly as they were. */
class CacheLifecycleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def docs(seed: Int) = {
    import spark.implicits._
    val df = (1 to 30).map { d =>
      (f"2024-03-$d%02dT00:00:00Z", 100.0 + seed * 7 + d * (2.0 + seed))
    }.toDF("date", "v")
    Map("m" -> df)
  }

  private val spec = CorrelationSpec(
    id = "c1", fromData = "m", fromIndex = "v", toData = "m", toIndex = "v",
    grain = Some("D"), unitsToForecast = Some(4))

  /** The CacheManager's entries and the persistent RDD ids. Its entry
    * list has no public reader, so it is read by reflection. */
  private def cacheState(): (Seq[AnyRef], Set[Int]) = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val entries = classOf[CacheManager].getDeclaredMethod("cachedData")
    entries.setAccessible(true)
    (entries.invoke(cm).asInstanceOf[Seq[AnyRef]], spark.sparkContext.getPersistentRDDs.keySet.toSet)
  }

  test("analyze() then toJson leaves the caches as they were") {
    // closed or not, and with no growth across distinct requests; other
    // suites share the session: compare with this suite's own start
    val before = cacheState()
    for (seed <- 1 to 3; close <- Seq(true, false)) {
      val result = AnalyzePipeline.analyze(docs(seed), Seq(spec))
      assert(ResponseAssembly.toJson(result, Seq(spec)).contains("futureForecasts"))
      // the frames library callers read, too
      assert(result.targetForecasts.count() > 0 && result.diagnostics.count() > 0)
      if (close) result.close()
      assert(cacheState() == before, s"request $seed (close = $close) left a cache")
    }
  }

  test("analyzeSingle() leaves the caches as they were") {
    val before = cacheState()
    val result = AnalyzePipeline.analyzeSingle(docs(9), Seq(spec))
    assert(ResponseAssembly.toJsonSaturating(result, Map("c1" -> "linear"))
      .contains("futureForecasts"))
    assert(cacheState() == before)
    result.close()
    assert(cacheState() == before)
  }
}
