package graft.streaming

import graft.SparkTestSession
import graft.ts.SeriesOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Batch/stream parity for the streaming Page–Hinkley gate: after any
  * stream prefix, every CLOSED day's emitted row equals the batch
  * ledger ([[graft.ts.SeriesOps.pageHinkley]]) over the closed-day
  * sums — identical truncating arithmetic, identical alarm flags. */
class StreamPageHinkleySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
  private val LAMBDA = 4000000L // small λ so the level shift alarms

  private def ev(series: String, day: Int, i: Int, v: Long) =
    (series, new java.sql.Timestamp(base + day * 86400000L + i * 1000L), v)

  /** Batch reference: day sums for days strictly before each series'
    * max (still-open) day → pageHinkley ledger. */
  private def wantRows(rows: Seq[(String, java.sql.Timestamp, Long)]) = {
    val daily = rows.toDF("series", "ts", "v")
      .groupBy(col("series"), to_date(date_trunc("day", col("ts"))).as("d"))
      .agg(sum(col("v")).as("y"))
    val lastDay = daily.groupBy(col("series")).agg(max(col("d")).as("mx"))
    val closed = daily.join(lastDay, Seq("series"))
      .filter(col("d") < col("mx"))
    SeriesOps.pageHinkley(closed, "series", "d", "y",
        deltaE6 = 0L, lambdaE6 = LAMBDA)
      .collect().map { r =>
        (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getLong(3),
         r.getLong(4), r.getLong(5))
      }.toSet
  }

  private def gotRows(table: String) =
    spark.table(table).collect().map { r =>
      (r.getString(0), new java.sql.Date(r.getLong(1) * 1000L).toString,
       r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    }.toSet

  test("single-batch stream equals the batch ledger on all closed days") {
    // series a: flat level 10 then a shift to 20 — upward drift must
    // alarm under the small λ; series b: falling level for the
    // downward flag and negative-truncation coverage
    val rows = Seq(
      ev("a", 0, 1, 10L), ev("a", 1, 1, 10L), ev("a", 2, 1, 10L),
      ev("a", 3, 1, 20L), ev("a", 4, 1, 20L), ev("a", 5, 1, 20L),
      ev("a", 6, 1, 20L), ev("a", 7, 1, 0L),
      ev("b", 0, 1, 50L), ev("b", 1, 1, 40L), ev("b", 2, 1, 10L),
      ev("b", 3, 1, 5L), ev("b", 4, 1, 1L))
    val dir = Files.createTempDirectory("graft-stream-ph").toString
    rows.toDF("series", "ts", "v").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.streamingPageHinkley(stream, "series", "ts", "v",
        deltaE6 = 0L, lambdaE6 = LAMBDA)
      .writeStream.outputMode("update").format("memory")
      .queryName("ph1").start()
    try {
      q.processAllAvailable()
      val got = gotRows("ph1")
      assert(got == wantRows(rows))
      // the planted shift actually alarms (not vacuous parity)
      assert(got.exists(r => r._1 == "a" && r._5 == 1L), s"$got")
      assert(got.exists(r => r._1 == "b" && r._6 == 1L), s"$got")
    } finally q.stop()
  }

  test("multi-batch appends keep parity; late events for closed days ignored") {
    val dir = Files.createTempDirectory("graft-stream-ph2").toString
    def write(rows: Seq[(String, java.sql.Timestamp, Long)]) =
      rows.toDF("series", "ts", "v").coalesce(1).write.mode("append").parquet(dir)
    val first = Seq(ev("a", 0, 1, 7L), ev("a", 1, 1, 9L),
                    ev("a", 2, 1, 30L))
    write(first)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.streamingPageHinkley(stream, "series", "ts", "v",
        deltaE6 = 0L, lambdaE6 = LAMBDA)
      .writeStream.outputMode("update").format("memory")
      .queryName("ph2").start()
    try {
      q.processAllAvailable()
      // a late event for day 0 (already closed) plus fresh days —
      // the late row must NOT perturb the carried state
      val second = Seq(ev("a", 0, 9, 999L), ev("a", 3, 1, 31L),
                       ev("a", 5, 1, 32L))
      write(second)
      q.processAllAvailable()
      // batch reference EXCLUDES the late event (closed days final)
      assert(gotRows("ph2") == wantRows(first ++
        Seq(ev("a", 3, 1, 31L), ev("a", 5, 1, 32L))))
    } finally q.stop()
  }
}
