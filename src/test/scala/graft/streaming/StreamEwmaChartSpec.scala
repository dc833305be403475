package graft.streaming

import graft.SparkTestSession
import graft.ts.ControlChart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Batch/stream parity for the streaming EWMA control chart: after
  * any stream prefix, every CLOSED day's emitted row equals the
  * batch chart ([[graft.ts.ControlChart.ewmaChart]]) over the
  * closed-day sums — identical floor-division recursion, identical
  * frozen limits and alarm flags. */
class StreamEwmaChartSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
  private val CAL = 3

  private def ev(series: String, day: Int, i: Int, v: Long) =
    (series, new java.sql.Timestamp(base + day * 86400000L + i * 1000L), v)

  /** Batch reference over each series' closed (non-max) days. */
  private def wantRows(rows: Seq[(String, java.sql.Timestamp, Long)]) = {
    val daily = rows.toDF("series", "ts", "v")
      .groupBy(col("series"), to_date(date_trunc("day", col("ts"))).as("ds"))
      .agg(sum(col("v")).as("y"))
    val lastDay = daily.groupBy(col("series")).agg(max(col("ds")).as("mx"))
    val closed = daily.join(lastDay, Seq("series"))
      .filter(col("ds") < col("mx"))
    ControlChart.ewmaChart(closed, "series", calDays = CAL)
      .collect().map { r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
         r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
      }.toSet
  }

  private def gotRows(table: String) =
    spark.table(table).collect().map { r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
       r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
    }.toSet

  test("single-batch stream equals the batch chart on all closed days") {
    // cal days 0-2 around level 10, then a sustained shift to 30 —
    // the EWMA must walk out of the band and alarm
    val rows = Seq(
      ev("a", 0, 1, 9L), ev("a", 1, 1, 11L), ev("a", 2, 1, 10L),
      ev("a", 3, 1, 30L), ev("a", 4, 1, 30L), ev("a", 5, 1, 30L),
      ev("a", 6, 1, 30L), ev("a", 7, 1, 0L))
    val dir = Files.createTempDirectory("graft-stream-ewma").toString
    rows.toDF("series", "ts", "v").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.streamingEwmaChart(stream, "series", "ts", "v",
        calDays = CAL)
      .writeStream.outputMode("update").format("memory")
      .queryName("ewma1").start()
    try {
      q.processAllAvailable()
      val got = gotRows("ewma1")
      assert(got == wantRows(rows))
      // the planted shift actually alarms (not vacuous parity)
      assert(got.exists(_._8 == 1L), s"$got")
    } finally q.stop()
  }

  test("multi-batch appends keep parity; late events for closed days ignored") {
    val dir = Files.createTempDirectory("graft-stream-ewma2").toString
    def write(rows: Seq[(String, java.sql.Timestamp, Long)]) =
      rows.toDF("series", "ts", "v").coalesce(1).write.mode("append").parquet(dir)
    val first = Seq(ev("a", 0, 1, 9L), ev("a", 1, 1, 11L),
                    ev("a", 2, 1, 10L), ev("a", 3, 1, 12L),
                    ev("a", 4, 1, 13L))
    write(first)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.streamingEwmaChart(stream, "series", "ts", "v",
        calDays = CAL)
      .writeStream.outputMode("update").format("memory")
      .queryName("ewma2").start()
    try {
      q.processAllAvailable()
      // a late event for day 1 (closed, inside calibration!) must
      // not shift the frozen limits; fresh days keep charting
      val second = Seq(ev("a", 1, 9, 999L), ev("a", 5, 1, 25L),
                       ev("a", 6, 1, 2L))
      write(second)
      q.processAllAvailable()
      assert(gotRows("ewma2") == wantRows(first ++
        Seq(ev("a", 5, 1, 25L), ev("a", 6, 1, 2L))))
    } finally q.stop()
  }
}
