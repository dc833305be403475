package graft.streaming

import graft.SparkTestSession
import graft.ts.Intermittent
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Batch/stream parity for the streaming Croston state: after any
  * stream prefix, every CLOSED demand day's emitted row equals the
  * batch croston row over the closed-day sums; non-event (zero-sum)
  * days emit nothing and touch no state. */
class StreamCrostonSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime

  private def ev(series: String, day: Int, i: Int, v: Long) =
    (series, new java.sql.Timestamp(base + day * 86400000L + i * 1000L), v)

  /** Batch reference: day sums for days strictly before each series'
    * max (still-open) day → croston. */
  private def wantRows(rows: Seq[(String, java.sql.Timestamp, Long)]) = {
    val daily = rows.toDF("series", "ts", "v")
      .groupBy(col("series"), to_date(date_trunc("day", col("ts"))).as("d"))
      .agg(sum(col("v")).as("y"))
    val lastDay = daily.groupBy(col("series")).agg(max(col("d")).as("mx"))
    val closed = daily.join(lastDay, Seq("series"))
      .filter(col("d") < col("mx"))
    Intermittent.croston(closed, "series", "d", "y")
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

  test("single-batch stream equals batch croston on all closed days") {
    // sparse demand: events on days 0, 3, 4, 9, 11; day 6 present
    // with ZERO demand (a non-event the batch filter drops); series b
    // offset to check key isolation
    val rows = Seq(
      ev("a", 0, 1, 5L), ev("a", 3, 1, 8L), ev("a", 3, 2, 2L),
      ev("a", 4, 1, 1L), ev("a", 6, 1, 0L), ev("a", 9, 1, 7L),
      ev("a", 11, 1, 3L),
      ev("b", 0, 1, 100L), ev("b", 7, 1, 50L), ev("b", 8, 1, 20L))
    val dir = Files.createTempDirectory("graft-stream-cr").toString
    rows.toDF("series", "ts", "v").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.streamingCroston(stream, "series", "ts", "v")
      .writeStream.outputMode("update").format("memory")
      .queryName("cr1").start()
    try {
      q.processAllAvailable()
      assert(gotRows("cr1") == wantRows(rows))
    } finally q.stop()
  }

  test("multi-batch stream keeps parity; zero-sum closed days never emit") {
    val dir = Files.createTempDirectory("graft-stream-cr2").toString
    def write(rows: Seq[(String, java.sql.Timestamp, Long)]) =
      rows.toDF("series", "ts", "v").coalesce(1).write.mode("append").parquet(dir)
    val first = Seq(ev("a", 0, 1, 9L), ev("a", 2, 1, 0L),
                    ev("a", 5, 1, 4L))
    write(first)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.streamingCroston(stream, "series", "ts", "v")
      .writeStream.outputMode("update").format("memory")
      .queryName("cr2").start()
    try {
      q.processAllAvailable()
      val second = Seq(ev("a", 8, 1, 6L), ev("a", 8, 2, 6L),
                       ev("a", 12, 1, 2L))
      write(second)
      q.processAllAvailable()
      assert(gotRows("cr2") == wantRows(first ++ second))
      // gap arithmetic rode event days only: day-2 zero demand is
      // not an event, so day 5's gap is 5 (not 3)
      val day5 = spark.table("cr2").collect()
        .find(r => r.getLong(1) == base / 1000L + 5 * 86400L).get
      assert(day5.getLong(3) == 5L, s"$day5")
    } finally q.stop()
  }
}
