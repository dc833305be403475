package graft.api

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.scalatest.funsuite.AnyFunSuite

/** Both sides of the pass's partitioning choice: over a parsed request
  * (driver rows) the pass is planned on one partition and shuffles
  * nothing; over table documents it keeps its exchanges. */
class PassPlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = SparkTestSession.spark

  private def exchanges(df: DataFrame): Seq[Exchange] =
    collect(df.queryExecution.executedPlan) { case e: Exchange => e }

  test("the pass over parsed request documents has no exchange") {
    for (file <- Seq("/requests/daily_nested.json", "/requests/edge/edge_grains.json")) {
      val parsed = RequestParser.parse(spark, ResponseGoldens.read(file))
      for (result <- Seq(AnalyzePipeline.analyze(parsed.documents, parsed.correlations),
                         AnalyzePipeline.analyzeSingle(parsed.documents, parsed.correlations))) {
        val found = exchanges(result.pass.toDF())
        assert(found.isEmpty, s"$file: ${found.map(_.nodeName)}")
        assert(result.pass.rdd.getNumPartitions == 1, file)
      }
    }
  }

  test("the pass over table documents, as q41 builds them, keeps its exchanges") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-pass-plan").resolve("events").toString
    (0 until 60).map(i => (new java.sql.Timestamp(1709251200000L + i * 3600000L),
                           if (i % 3 == 0) "error" else "purchase", i * 1.5))
      .toDF("ts", "event_type", "value").write.parquet(dir)
    val events = spark.read.parquet(dir)
    val docs = Map(
      "errors" -> events.filter(col("event_type") === "error")
        .select(col("ts").as("date"), lit(1.0).as("n_errors")),
      "purchases" -> events.filter(col("event_type") === "purchase")
        .select(col("ts").as("date"), col("value")))
    val spec = CorrelationSpec(id = "x1", fromData = "errors", fromIndex = "n_errors",
      toData = "purchases", toIndex = "value", unitsToForecast = Some(3))
    val pass = AnalyzePipeline.analyze(docs, Seq(spec)).pass.toDF()
    val found = exchanges(pass)
    assert(found.size >= 2, found.map(_.nodeName))
    assert(pass.collect().nonEmpty)
  }
}
