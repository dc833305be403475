package graft.streaming

import graft.SparkTestSession
import graft.ts.Sprt
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Batch/stream parity for the streaming SPRT: after any prefix, the
  * LAST emitted row per series equals the batch ledger summary
  * ([[graft.ts.Sprt.sprtLedger]]) over the closed-day sums — same
  * cumulative counts, same exact-integer LLR, same frozen decision. */
class StreamSprtSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime

  private def ev(series: String, day: Int, i: Int, y: Long) =
    (series, new java.sql.Timestamp(base + day * 86400000L + i * 1000L), y)

  /** Batch summary over day sums strictly before each series' open
    * day. */
  private def want(rows: Seq[(String, java.sql.Timestamp, Long)]) = {
    val daily = rows.toDF("series", "ts", "y")
      .groupBy(col("series"), to_date(date_trunc("day", col("ts"))).as("d"))
      .agg(sum(col("y")).as("s"), count(lit(1)).as("n"))
    val lastDay = daily.groupBy(col("series")).agg(max(col("d")).as("mx"))
    val closed = daily.join(lastDay, Seq("series"))
      .filter(col("d") < col("mx"))
    Sprt.sprtLedger(closed, "series", "d", "s", "n", 0.5, 0.55)
      .collect().map { r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5),
          Option(r.getDate(6)).map(_.toString)))
      }.toMap
  }

  /** Last streaming row per series, normalized to the batch shape. */
  private def got(table: String) =
    spark.table(table).collect()
      .groupBy(_.getString(0)).map { case (k, rows) =>
        val r = rows.maxBy(_.getLong(1))
        k -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6),
          if (r.getLong(7) == Long.MinValue) None
          else Some(new java.sql.Date(r.getLong(7) * 1000L).toString)))
      }.toMap

  test("streaming SPRT matches the batch summary; the decision freezes") {
    // series up: heavy successes (crosses H1 fast, then stays frozen
    // while later days are balanced); series none: one closed
    // balanced day (still running)
    val rows = Seq(
      ev("up", 0, 1, 1L), ev("up", 0, 2, 1L), ev("up", 0, 3, 1L),
      ev("up", 0, 4, 1L)) ++
      (1 to 40).map(i => ev("up", 1, i, 1L)) ++
      Seq(ev("up", 2, 1, 1L), ev("up", 2, 2, 0L),
          ev("up", 3, 1, 0L),
          ev("none", 0, 1, 1L), ev("none", 0, 2, 0L),
          ev("none", 1, 1, 1L))
    val dir = Files.createTempDirectory("graft-stream-sprt").toString
    rows.toDF("series", "ts", "v").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.streamingSprt(stream, "series", "ts", "v",
        p0 = 0.5, p1 = 0.55)
      .writeStream.outputMode("update").format("memory")
      .queryName("sprt1").start()
    try {
      q.processAllAvailable()
      val g = got("sprt1")
      val w = want(rows)
      assert(g == w, s"\ngot  $g\nwant $w")
      assert(g("up")._5 == 1L)  // really decided H1
      assert(g("none")._5 == 0L) // still running
    } finally q.stop()
  }

  test("multi-batch appends keep parity; late events ignored; frozen stays frozen") {
    val dir = Files.createTempDirectory("graft-stream-sprt2").toString
    def write(rows: Seq[(String, java.sql.Timestamp, Long)]) =
      rows.toDF("series", "ts", "v").coalesce(1).write.mode("append").parquet(dir)
    // day 0: 25 failures — crosses H0 once day 1 arrives
    val first = (1 to 25).map(i => ev("a", 0, i, 0L)) :+ ev("a", 1, 1, 1L)
    write(first)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.streamingSprt(stream, "series", "ts", "v",
        p0 = 0.5, p1 = 0.55)
      .writeStream.outputMode("update").format("memory")
      .queryName("sprt2").start()
    try {
      q.processAllAvailable()
      // late event for closed day 0 + massive successes on new days
      val second = Seq(ev("a", 0, 99, 1L)) ++
        (1 to 60).map(i => ev("a", 2, i, 1L)) :+ ev("a", 5, 1, 1L)
      write(second)
      q.processAllAvailable()
      // batch reference excludes the late day-0 event
      val w = want(first ++ (1 to 60).map(i => ev("a", 2, i, 1L)) :+
        ev("a", 5, 1, 1L))
      assert(got("sprt2") == w)
      assert(got("sprt2")("a")._5 == -1L) // frozen at the H0 crossing
    } finally q.stop()
  }
}
