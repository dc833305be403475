package graft.streaming

import graft.SparkTestSession
import graft.pipeline.TextDedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** [[StreamOps.streamingNearDupGate]] — the stateful admission gate
  * vs the batch band-route + agreement-confirm pair semantics: after
  * any arrival prefix, the gate's distinct (doc, earlier-doc) match
  * pairs equal the batch pairs restricted to earlier partners, with
  * "earlier" = arrival order (id-ascending inside a batch). Rejected
  * docs still serve as references (transitivity through rejected
  * members). */
class StreamNearDupGateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val N = 16
  private val B = 2
  private val AGREE = 8

  /** Plain-Scala replay of the batch semantics over an ARRIVAL-ORDERED
    * doc list: per band bucket, a pair (earlier, later) sharing the
    * bucket with signature agreement >= AGREE. */
  private def wantPairs(arrived: Seq[(String, String)]): Set[(String, String)] = {
    val df = arrived.toDF("id", "text")
    val signed = TextDedup.withRowMinhashSignature(df, "text", N, Nil)
    val rows = signed.select(col("id"),
        array((0 until N).map(i => col(s"h$i")): _*).as("sig"),
        TextDedup.bandHashArray(N, B).as("bands"))
      .collect()
      .map(r => (r.getString(0), r.getSeq[String](1), r.getSeq[String](2)))
    val order = arrived.map(_._1).zipWithIndex.toMap
    val out = for {
      (ia, sa, ba) <- rows
      (ib, sb, bb) <- rows
      if order(ia) < order(ib)
      if ba.exists(x => x != null && bb.contains(x))
      agree = sa.zip(sb).count { case (x, y) => x != null && x == y }
      if agree >= AGREE
    } yield (ib, ia)
    out.toSet
  }

  private def gotPairs(table: String): Set[(String, String)] =
    spark.table(table).select("doc_id", "matched_id").distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet

  // word-soup fixtures: x/y/v a near-dup chain (one word swapped per
  // step), w/z unrelated vocabularies
  private val x = ("d01", "alpha beta gamma delta epsilon zeta eta theta iota kappa")
  private val y = ("d02", "alpha beta gamma delta epsilon zeta eta theta iota lambda")
  private val v = ("d03", "alpha beta gamma delta epsilon zeta eta theta iota lambda mu")
  private val w = ("d04", "one two three four five six seven eight nine ten")
  private val z = ("d05", "red orange yellow green blue indigo violet cyan magenta white")

  test("single batch: planted near-dups match, distinct docs admit; pairs equal the batch replay") {
    val docs = Seq(x, y, w)
    val dir = Files.createTempDirectory("graft-ndgate").toString
    docs.toDF("id", "text").write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.streamingNearDupGate(stream, "id", "text", N, B,
        minAgree = AGREE)
      .writeStream.outputMode("update").format("memory")
      .queryName("nd1").start()
    try {
      q.processAllAvailable()
      val want = wantPairs(docs)
      assert(want.contains(("d02", "d01")), s"fixture sanity: $want")
      assert(!want.exists(p => p._1 == "d04" || p._2 == "d04"))
      assert(gotPairs("nd1") == want)
    } finally q.stop()
  }

  test("multi-batch: matches respect arrival order and rejected docs still block") {
    val dir = Files.createTempDirectory("graft-ndgate2").toString
    def write(rows: Seq[(String, String)]) =
      rows.toDF("id", "text").coalesce(1).write.mode("append").parquet(dir)
    write(Seq(x, z))
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = StreamOps.streamingNearDupGate(stream, "id", "text", N, B,
        minAgree = AGREE)
      .writeStream.outputMode("update").format("memory")
      .queryName("nd2").start()
    try {
      q.processAllAvailable()
      assert(gotPairs("nd2") == wantPairs(Seq(x, z)))
      // y arrives (rejected as dup of x), w arrives (admitted)
      write(Seq(y, w))
      q.processAllAvailable()
      assert(gotPairs("nd2") == wantPairs(Seq(x, z, y, w)))
      // v arrives: near-dups the REJECTED y (and x) — still flagged
      write(Seq(v))
      q.processAllAvailable()
      val want = wantPairs(Seq(x, z, y, w, v))
      assert(want.exists(_._1 == "d03"), s"fixture sanity: $want")
      assert(gotPairs("nd2") == want)
      // admission view: docs with no match row
      val flagged = gotPairs("nd2").map(_._1)
      assert(!flagged.contains("d01") && !flagged.contains("d04") &&
             !flagged.contains("d05"))
    } finally q.stop()
  }
}
