package graft.streaming

import graft.SparkTestSession
import graft.ts.RateSpike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Batch/stream parity for the rate-spike gate: with all data in one
  * micro-batch the emitted rows equal the batch rateSpikes. */
class StreamRateSpikeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("single-batch stream equals the batch spike ledger") {
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val rows = (0 until 12).flatMap { d =>
      val n = if (d == 11) 40 else 9
      (1 to n).map(i => ("err",
        new java.sql.Timestamp(base + d * 86400000L + i * 1000L)))
    }
    val batch = rows.toDF("event_type", "ts")
    val want = RateSpike.rateSpikes(batch, "event_type", "ts")
      .collect().map { r =>
        (r.getDate(1).toString, r.getAs[Long]("x"),
         r.getAs[Long]("base_sum"), r.getAs[Long]("base_n"),
         Option(r.getAs[Any]("z_e6")).map(_.asInstanceOf[Long]),
         r.getAs[Long]("is_spike"))
      }.toSet

    val dir = Files.createTempDirectory("graft-stream-spike").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val q = StreamOps.streamingRateSpikes(stream, "event_type", "ts")
      .writeStream.outputMode("update").format("memory")
      .queryName("spikes").start()
    try {
      q.processAllAvailable()
      val got = spark.table("spikes").collect().map { r =>
        (new java.sql.Date(r.getLong(1) * 1000L).toString,
         r.getLong(2), r.getLong(3), r.getLong(4),
         Option(r.get(5)).map(_.asInstanceOf[Long]), r.getLong(6))
      }.toSet
      assert(got == want, s"got=$got\nwant=$want")
    } finally q.stop()
  }

  test("two batches: the second day's update sees the first batch's baseline") {
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime
    // one file per append, committed by one rename: a micro-batch sees
    // all of an append or none of it (with one file per partition, a
    // batch could start between two file commits and see part of a day)
    def write(dir: String, rows: Seq[(String, java.sql.Timestamp)]) =
      rows.toDF("event_type", "ts").coalesce(1).write.mode("append").parquet(dir)
    val dir = Files.createTempDirectory("graft-stream-spike2").toString
    write(dir, (0 until 5).flatMap(d => (1 to 10).map(i => ("err",
      new java.sql.Timestamp(base + d * 86400000L + i * 1000L)))))
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.streamingRateSpikes(stream, "event_type", "ts")
      .writeStream.outputMode("update").format("memory")
      .queryName("spikes2").start()
    try {
      q.processAllAvailable()
      write(dir, (1 to 90).map(i => ("err",
        new java.sql.Timestamp(base + 5 * 86400000L + i * 1000L))))
      q.processAllAvailable()
      val last = spark.table("spikes2").orderBy(col("day_sec").desc)
        .collect().head
      assert(last.getLong(2) == 90L)   // x
      assert(last.getLong(3) == 50L)   // base over 5 prior days
      assert(last.getLong(6) == 1L)    // z = 80/sqrt(10) ~ 25 -> spike
    } finally q.stop()
  }
}
