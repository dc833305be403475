package graft.streaming

import graft.SparkTestSession
import graft.ts.ExpSmooth
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Batch/stream parity for the streaming MULTIPLICATIVE Holt–Winters
  * state: after any stream prefix, every CLOSED day's emitted row
  * equals the batch tripleExpSmoothMul row — including the guarded
  * divisions (seas ≤ 0 and level' ≤ 0 fragments) the ratio
  * seasonality needs. The still-open max day per series is the only
  * difference. */
class StreamHoltMulSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime

  private def ev(series: String, day: Int, i: Int, v: Long) =
    (series, new java.sql.Timestamp(base + day * 86400000L + i * 1000L), v)

  /** Batch reference: day-bucketed sums → tripleExpSmoothMul,
    * dropping each series' max (still-open) day. */
  private def wantRows(rows: Seq[(String, java.sql.Timestamp, Long)]) = {
    val daily = rows.toDF("series", "ts", "v")
      .groupBy(col("series"), to_date(date_trunc("day", col("ts"))).as("d"))
      .agg(sum(col("v")).as("y"))
    val sm = ExpSmooth.tripleExpSmoothMul(daily, "series", "d", "y", m = 3)
    val lastDay = daily.groupBy(col("series")).agg(max(col("d")).as("mx"))
    sm.join(lastDay, Seq("series")).filter(col("d") < col("mx"))
      .collect().map { r =>
        (r.getString(0), r.getDate(1).toString, r.getLong(2), r.getLong(3),
         r.getLong(4), r.getLong(5), r.getLong(6))
      }.toSet
  }

  private def gotRows(table: String) =
    spark.table(table).collect().map { r =>
      (r.getString(0), new java.sql.Date(r.getLong(1) * 1000L).toString,
       r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
    }.toSet

  test("single-batch stream equals batch multiplicative HW on all closed days") {
    // two growing series with a period-3 MULTIPLICATIVE rhythm (the
    // regime the additive fold under-corrects), plus a third series
    // that collapses toward zero so the level'-guard fragment runs
    val rows = (for {
      (s, off) <- Seq(("a", 200L), ("b", 500L))
      d <- 0 until 9
      i <- 1 to 3
    } yield ev(s, d, i, (off + d * 30L) * (10L + (d % 3) * 3L) / 10L + i)) ++
      (for (d <- 0 until 9; i <- 1 to 2)
        yield ev("c", d, i, math.max(1L, 80L - d * 25L)))
    val dir = Files.createTempDirectory("graft-stream-hwm").toString
    rows.toDF("series", "ts", "v").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.streamingHoltWintersMul(stream, "series", "ts", "v",
        m = 3)
      .writeStream.outputMode("update").format("memory")
      .queryName("hwm1").start()
    try {
      q.processAllAvailable()
      assert(gotRows("hwm1") == wantRows(rows))
    } finally q.stop()
  }

  test("multi-batch prefixes keep parity; late events for closed days are final") {
    val dir = Files.createTempDirectory("graft-stream-hwm2").toString
    def write(rows: Seq[(String, java.sql.Timestamp, Long)]) =
      rows.toDF("series", "ts", "v").coalesce(1).write.mode("append").parquet(dir)
    def mk(d: Int) = for (i <- 1 to 2)
      yield ev("a", d, i, (100L + d * 20L) * (10L + (d % 3) * 4L) / 10L + i)
    val first = (0 until 4).flatMap(mk)
    write(first)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.streamingHoltWintersMul(stream, "series", "ts", "v",
        m = 3)
      .writeStream.outputMode("update").format("memory")
      .queryName("hwm2").start()
    try {
      q.processAllAvailable()
      assert(gotRows("hwm2") == wantRows(first))
      val second = (4 until 7).flatMap(mk)
      write(second)
      q.processAllAvailable()
      assert(gotRows("hwm2") == wantRows(first ++ second),
        "closed-day rows must equal the batch fold across micro-batches")
      // a late event for long-closed day 1 must NOT re-emit or shift
      // state: the next closed day still matches the batch fold that
      // never saw the late event
      write(Seq(ev("a", 1, 9, 999L)))
      q.processAllAvailable()
      val third = mk(7)
      write(third)
      q.processAllAvailable()
      assert(gotRows("hwm2") == wantRows(first ++ second ++ third),
        "late event for a closed day must be ignored end to end")
    } finally q.stop()
  }
}
