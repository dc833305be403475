package graft.streaming

import graft.SparkTestSession
import graft.forecast.AnalyzeSlice
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Batch/stream parity for the composed §3.1 analyze slice under the
  * WATERMARK day-close: once the union watermark (max union event
  * time − latenessDays) passes a day's end, that day's emitted row
  * equals the batch [[AnalyzeSlice.analyzeSlice]] row — day agg,
  * covariate splice (observed overrides h-step prediction),
  * alignment, and the target forecast state all in ONE streaming job.
  * Days the watermark has not passed are still open (no row yet).
  * The racing-source case is covered directly: a covariate running a
  * day ahead of the target no longer orphans the target's same-day
  * rows — lateness is a time contract, not an arrival-order one. */
class StreamAnalyzeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime

  private def ev(series: String, day: Int, i: Int, v: Long) =
    (series, new java.sql.Timestamp(base + day * 86400000L + i * 1000L), v)

  /** Batch reference: day-bucketed sums for both inputs →
    * analyzeSlice, keeping only days the watermark has CLOSED
    * (day index ≤ closedThrough). */
  private def wantRows(tgt: Seq[(String, java.sql.Timestamp, Long)],
                       cov: Seq[(String, java.sql.Timestamp, Long)],
                       closedThrough: Int) = {
    def daily(rows: Seq[(String, java.sql.Timestamp, Long)]) =
      rows.toDF("series", "ts", "v")
        .groupBy(col("series"), to_date(date_trunc("day", col("ts"))).as("d"))
        .agg(sum(col("v")).as("y"))
    val cutoff = new java.sql.Date(base + closedThrough * 86400000L)
    AnalyzeSlice.analyzeSlice(daily(tgt), daily(cov), "series", "d", "y",
        "y", m = 3)
      .filter(col("d") <= lit(cutoff))
      .collect().map { r =>
        (r.getString(0), r.getDate(1).toString, r.getLong(2),
         Option(r.get(3)).map(_.asInstanceOf[Long]),
         Option(r.get(4)).map(_.asInstanceOf[Long]),
         Option(r.get(5)).map(_.asInstanceOf[Long]),
         r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9))
      }.toSet
  }

  private def gotRows(table: String) =
    spark.table(table).collect().map { r =>
      (r.getString(0), new java.sql.Date(r.getLong(1) * 1000L).toString,
       r.getLong(2),
       Option(r.get(3)).map(_.asInstanceOf[Long]),
       Option(r.get(4)).map(_.asInstanceOf[Long]),
       Option(r.get(5)).map(_.asInstanceOf[Long]),
       r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9))
    }.toSet

  // target: 10 days with period-3 rhythm + drift; covariate: sparse
  // (skips days 2, 5, 6 — exercising the h-step prediction walk) and
  // starts AFTER the target (day 1 — exercising the null-pred phase)
  private def tgtRows(s: String, off: Long) =
    for (d <- 0 until 10; i <- 1 to 3)
      yield ev(s, d, i, off + d * 10L + (d % 3) * 7L + i)
  private def covRows(s: String, off: Long) =
    for (d <- Seq(1, 3, 4, 7, 8, 9); i <- 1 to 2)
      yield ev(s, d, i + 10, off + d * 5L + (d % 2) * 3L + i)

  private def startJob(tDir: String, cDir: String, name: String,
                       lateness: Int) = {
    val schema = spark.read.parquet(tDir).schema
    val ts = spark.readStream.schema(schema).parquet(tDir)
    val cs = spark.readStream.schema(schema).parquet(cDir)
    StreamAnalyze.streamingAnalyze(ts, cs, "series", "ts", "v", m = 3,
        latenessDays = lateness)
      .writeStream.outputMode("update").format("memory")
      .queryName(name).start()
  }

  test("single-batch stream equals the batch slice on watermark-closed days") {
    val tgt = tgtRows("a", 0L) ++ tgtRows("b", 100L)
    val cov = covRows("a", 0L) ++ covRows("b", 50L)
    val tDir = Files.createTempDirectory("graft-az-t").toString
    val cDir = Files.createTempDirectory("graft-az-c").toString
    tgt.toDF("series", "ts", "v").write.mode("overwrite").parquet(tDir)
    cov.toDF("series", "ts", "v").write.mode("overwrite").parquet(cDir)
    val q = startJob(tDir, cDir, "az1", lateness = 1)
    try {
      q.processAllAvailable()
      // newest day boundary = day 10 (day 9's end) → watermark =
      // day 9 (lateness 1 day) → days with end ≤ day 9, i.e. days
      // ≤ 8, are closed for BOTH series (the watermark is global)
      val want = wantRows(tgt, cov, closedThrough = 8)
      assert(want.nonEmpty && want.exists(_._4.isEmpty), "fixture sanity")
      assert(gotRows("az1") == want)
    } finally q.stop()
  }

  test("racing covariate cannot orphan target days; beyond-contract late is final") {
    val tDir = Files.createTempDirectory("graft-az-t2").toString
    val cDir = Files.createTempDirectory("graft-az-c2").toString
    val allT = tgtRows("a", 0L)
    // fixture covariate + a fabricated day-5 pair so the covariate can
    // race PAST the target's frontier
    val race = Seq(ev("a", 5, 21, 400L), ev("a", 5, 22, 410L))
    val allC = covRows("a", 0L) ++ race
    def dayOf(r: (String, java.sql.Timestamp, Long)): Int =
      ((r._2.getTime - base) / 86400000L).toInt
    def append(dir: String, rows: Seq[(String, java.sql.Timestamp, Long)]) =
      if (rows.nonEmpty)
        rows.toDF("series", "ts", "v").coalesce(1).write.mode("append").parquet(dir)
    append(tDir, allT.filter(dayOf(_) <= 3))
    append(cDir, allC.filter(dayOf(_) <= 3))
    val q = startJob(tDir, cDir, "az2", lateness = 2)
    try {
      q.processAllAvailable()
      // newest boundary = day 4 (day 3's end) → wm = day 2 (lateness
      // 2 days) → closed days ≤ 1
      assert(gotRows("az2") == wantRows(allT.filter(dayOf(_) <= 3),
        allC.filter(dayOf(_) <= 3), closedThrough = 1))
      // THE RACE: covariate jumps to days 4 and 5 while the target is
      // still at day 3 — newest boundary day 6 → wm = day 4, closing
      // days 2-3; day 4 (covariate-only so far) stays OPEN because
      // its end (day 5) is past the watermark
      append(cDir, allC.filter(r => dayOf(r) == 4 || dayOf(r) == 5))
      q.processAllAvailable()
      assert(gotRows("az2") == wantRows(allT.filter(dayOf(_) <= 3),
        allC.filter(dayOf(_) <= 5), closedThrough = 3))
      // target day-4 rows arrive AFTER the covariate raced past them —
      // the arrival-order device declared these late; under the time
      // contract they merge into the still-open day 4 (no emission yet:
      // the watermark has not passed day 4's end)
      append(tDir, allT.filter(dayOf(_) == 4))
      q.processAllAvailable()
      assert(gotRows("az2") == wantRows(allT.filter(dayOf(_) <= 3),
        allC.filter(dayOf(_) <= 5), closedThrough = 3))
      // drain the rest; newest boundary = day 10 → wm = day 8 →
      // closed ≤ 7 — and day 4's row must carry BOTH its target sum
      // and observed covariate (the race orphaned nothing)
      append(tDir, allT.filter(dayOf(_) >= 5))
      append(cDir, allC.filter(dayOf(_) >= 7))
      q.processAllAvailable()
      val want = wantRows(allT, allC, closedThrough = 7)
      assert(want.exists(r => r._2 == "2024-03-05" && r._4.nonEmpty),
        "fixture sanity: day 4 closed with observed covariate")
      assert(gotRows("az2") == want)
      // an event for CLOSED day 0 is beyond the lateness contract —
      // ignored, emitted history unchanged
      append(tDir, Seq(ev("a", 0, 9, 99999L)))
      q.processAllAvailable()
      assert(gotRows("az2") == want)
    } finally q.stop()
  }
}
