package graft.streaming

import graft.SparkTestSession
import graft.ts.Aggregations
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

/** Batch/stream parity: the streaming windowed aggregation must produce
  * exactly the batch groupByTime result on the same data. */
class StreamOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def sourceData = {
    val base = java.sql.Timestamp.valueOf("2024-03-04 00:00:00").getTime // Monday
    val rnd = new scala.util.Random(5)
    (0 until 500).map { i =>
      ("s" + (i % 3), new java.sql.Timestamp(base + rnd.nextInt(14 * 86400) * 1000L),
       rnd.nextInt(100).toDouble)
    }
  }

  private def runParity(grain: String): Unit = {
    val data = sourceData
    val batch = data.toDF("series", "ds", "y")
    val expected = Aggregations.groupByTime(batch, Some(grain), "sum", Seq("series"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet

    val dir = Files.createTempDirectory(s"graft-stream-$grain").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val agg = StreamOps.streamingGroupByTime(stream, grain, "sum", Seq("series"))
    val qname = s"parity_$grain"
    val q = agg.writeStream.outputMode("complete").format("memory").queryName(qname).start()
    try {
      q.processAllAvailable()
      val got = spark.table(qname).collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet
      assert(got == expected, s"grain $grain: stream != batch")
    } finally q.stop()
  }

  test("hourly windows match batch bucketing") { runParity("H") }
  test("daily windows match batch bucketing") { runParity("D") }
  test("weekly windows are Monday-aligned like date_trunc") { runParity("W") }

  test("stateless text-analysis ops run unchanged on a stream (batch parity)") {
    // the TextAnalysis surface is pure per-row projection (no state, no
    // time semantics), so the SAME calls must work on a readStream
    // frame in append mode — the streaming posture of the q50-q53 ops
    import graft.pipeline.TextAnalysis
    val docs = Seq(
      (1L, "the quick brown fox and the lazy dog"),
      (2L, "el perro y el gato es de la casa"),
      (3L, "x")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-stream-text").toString
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)

    def all(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.qualityScore(df, "doc_id", "text")
        .join(TextAnalysis.languageId(df, "doc_id", "text"), "doc_id")
        .join(TextAnalysis.fingerprint(df, "doc_id", "text"), "doc_id")

    val expected = all(docs).collect().map(_.toString).toSet
    val q = all(stream).writeStream.outputMode("append")
      .format("memory").queryName("text_parity").start()
    try {
      q.processAllAvailable()
      val got = spark.table("text_parity").collect().map(_.toString).toSet
      assert(got == expected)
    } finally q.stop()
  }

  test("chunker and inline classifier scoring run unchanged on a stream (batch parity)") {
    // both are pure per-row projections (explode / higher-order array
    // math, no state) — the append-mode streaming posture of the
    // q123/q124 serving paths
    import graft.pipeline.{Classifier, TextAnalysis}
    val docs = Seq(
      (1L, (1 to 80).map("t" + _).mkString(" ")),
      (2L, "short doc here"),
      (3L, "")).toDF("doc_id", "text")
    val model = Classifier.trainHashedLogistic(
      docs, "doc_id", "text", (col("doc_id") === 1L).cast("long"),
      dim = 16, iters = 2)
    val dir = Files.createTempDirectory("graft-stream-curate").toString
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)

    val cases: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "chunk" -> (df => TextAnalysis.chunkDocuments(df, "doc_id", "text")),
      "score" -> (df => Classifier.scoreHashedLogisticInline(
                    df, "doc_id", "text", lit(0L), model)))
    for ((name, op) <- cases) {
      val expected = op(docs).collect().map(_.toString).toSet
      val q = op(stream).writeStream.outputMode("append")
        .format("memory").queryName(s"curate_parity_$name").start()
      try {
        q.processAllAvailable()
        val got = spark.table(s"curate_parity_$name").collect().map(_.toString).toSet
        assert(got == expected, s"$name: stream != batch")
      } finally q.stop()
    }
  }

  test("mixture and DSIR gates stream arriving docs against static policy tables (batch parity)") {
    // both gates are pure per-row decisions against config-sized static
    // state (a per-group rate table / the trained bucket-score literal)
    // — the streaming posture of the q103/q115 sampling tier
    import graft.pipeline.TextAnalysis
    val docs = (0 until 60).map { i =>
      val src = if (i % 5 < 3) "big" else s"small${i % 2}"
      (i.toLong, src, s"alpha the beta of doc $i", if (i % 3 == 0) "en" else "fr")
    }.toDF("doc_id", "source", "text", "lang")
    val rates = TextAnalysis.mixtureRates(docs, "source", targetTotal = 20)
    val bucketScores = TextAnalysis.dsirBucketScores(
        docs, "doc_id", "text", col("lang") === "en", nBuckets = 128)
      .collect().map(r => r.getAs[Long]("b") -> r.getAs[Long]("d_e3")).toMap
    val table = (0L until 128L).map(bucketScores)

    val dir = Files.createTempDirectory("graft-stream-sample").toString
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)

    val mBits = 1 << 12
    val noveltyMask = graft.pipeline.CorpusSketch.packBloomBits(
      graft.pipeline.CorpusSketch.bloomBits(
        graft.pipeline.TextDedup.ngramShingles(docs, "doc_id", "text", 3)
          .select(col("bg")), "bg", mBits, 3),
      mBits)
    val cases: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "mixture" -> (df => StreamOps.streamingMixtureGate(df, rates, "doc_id", "source")),
      "dsir" -> (df => StreamOps.streamingDsirGate(df, "doc_id", "text", table)),
      "script" -> (df => StreamOps.streamingScriptGate(df, "doc_id", "text")),
      "charstats" -> (df => StreamOps.streamingCharGate(df, "doc_id", "text")),
      "novelty" -> (df => StreamOps.streamingNoveltyGate(df, "doc_id", "text",
                                                         noveltyMask, mBits)))
    for ((name, op) <- cases) {
      val expected = op(docs).collect().map(_.toString).toSet
      val q = op(stream).writeStream.outputMode("append")
        .format("memory").queryName(s"sample_gate_$name").start()
      try {
        q.processAllAvailable()
        val got = spark.table(s"sample_gate_$name").collect().map(_.toString).toSet
        assert(got == expected, s"$name: stream != batch")
      } finally q.stop()
    }
    // the batch op the mixture gate must agree with, end to end
    val viaGate = StreamOps.streamingMixtureGate(docs, rates, "doc_id", "source")
      .collect().map(_.toString).toSet
    val viaBatch = TextAnalysis.temperatureResample(docs, "doc_id", "source", 20)
      .collect().map(_.toString).toSet
    assert(viaGate == viaBatch)
    // DSIR gate ≡ batch dsirWeights on the training corpus (columns it shares)
    val servedSel = StreamOps.streamingDsirGate(docs, "doc_id", "text", table)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("logw_e3")).toMap
    val batchSel = TextAnalysis.dsirWeights(docs, "doc_id", "text",
        col("lang") === "en", nBuckets = 128)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("logw_e3")).toMap
    assert(servedSel == batchSel)
  }

  test("bpeDecode runs unchanged on a stream of id arrays (batch parity)") {
    // decode is a pure map-literal projection over (id, ids) — the
    // detokenization side of a serving path consumes token streams,
    // not documents, so the parity is pinned on the ID frame itself
    import graft.pipeline.Bpe
    val docs = Seq((1L, "low low lower newest"), (2L, "widest newest low"))
      .toDF("doc_id", "text")
    val rules = Bpe.rulesOf(Bpe.bpeTrain(docs, "doc_id", "text", 3))
    val vocab = Bpe.bpeVocabulary(docs, "doc_id", "text", rules, topK = 5)
    val vp = vocab.select(col("rank"), col("sym")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val enc = Bpe.bpeEncodeIds(docs, "doc_id", "text", rules, vocab)
      .select(col("doc_id"), col("ids"))
    val dir = Files.createTempDirectory("graft-stream-bpedec").toString
    enc.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(enc.schema).parquet(dir)
    val expected = Bpe.bpeDecode(enc, "doc_id", "ids", vp)
      .collect().map(_.toString).toSet
    val q = Bpe.bpeDecode(stream, "doc_id", "ids", vp)
      .writeStream.outputMode("append").format("memory")
      .queryName("bpedec_parity").start()
    try {
      q.processAllAvailable()
      val got = spark.table("bpedec_parity").collect().map(_.toString).toSet
      assert(got == expected && got.nonEmpty, "stream != batch for bpeDecode")
    } finally q.stop()
  }

  test("kmeansAssignInline streams vectors to trained clusters (batch parity)") {
    import graft.pipeline.Similarity
    val vecs = Seq(
      (0L, Seq(10.0, 0.0)), (1L, Seq(0.0, 10.0)), (2L, Seq(8.0, 1.0)),
      (3L, Seq(1.0, 9.0)), (4L, Seq(9.0, 2.0))
    ).toDF("vec_id", "v")
    val cents = Similarity.kmeansCentroids(vecs, 2, 2)
    // inline matches the batch ledger on its shared columns
    val batch = Similarity.kmeansAssign(vecs, cents)
      .select(col("vec_id"), col("cell"), col("cos"))
      .collect().map(_.toString).toSet
    val inline = Similarity.kmeansAssignInline(vecs, cents)
      .collect().map(_.toString).toSet
    assert(inline == batch, "inline != batch kmeans assignment")
    val dir = Files.createTempDirectory("graft-stream-kmeans").toString
    vecs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(vecs.schema).parquet(dir)
    val q = Similarity.kmeansAssignInline(stream, cents)
      .writeStream.outputMode("append").format("memory")
      .queryName("kmeans_parity").start()
    try {
      q.processAllAvailable()
      val got = spark.table("kmeans_parity").collect().map(_.toString).toSet
      assert(got == batch && got.nonEmpty, "stream != batch for kmeansAssignInline")
    } finally q.stop()
  }

  test("streaming perceptual gate: dup/new/undecodable verdicts, batch parity") {
    import graft.pipeline.Multimodal
    // corpus = images 1..3; ledger → (fp, keeper) index
    val corpus = Multimodal.imageTable(Seq(1L, 2L, 3L).toDF("doc_id"), "doc_id")
    val ledger = Multimodal.imagePerceptualDedup(corpus)
    val index = StreamOps.buildPerceptualIndex(ledger, "ahash")
    val corpusHashes = ledger.collect().map(_.getLong(1)).toSet
    // pick an id whose hash the corpus does NOT contain (exists: the
    // 4x4 ahash space carries ~16 values over these gradients)
    val newId = (4L to 600L).find { cand =>
      val h = graft.plans.ImageAhash.ahash(graft.plans.GenBmp.bmp(cand, 4, 4))
      h != null && !corpusHashes.contains(h.longValue())
    }.get
    // arrivals: id 257 renders id 1's exact pixels (perceptual dup),
    // newId carries an unseen hash, id -1 carries garbage bytes
    val arrivals = Multimodal.imageTable(Seq(257L, newId).toDF("doc_id"), "doc_id")
      .select(col("doc_id"), col("media"))
      .unionByName(Seq((-1L, Array[Byte](9, 9, 9))).toDF("doc_id", "media"))
    def gate(df: org.apache.spark.sql.DataFrame) =
      StreamOps.streamingPerceptualGate(df, "doc_id", "media",
        m => call_function("image_ahash", m), index)
    val batch = gate(arrivals).collect()
      .map(r => r.getLong(0) -> ((r.getString(3), Option(r.get(2))))).toMap
    assert(batch(257L)._1 == "perceptual_dup" && batch(257L)._2.contains(1L),
           s"257 must gate as a dup of keeper 1: $batch")
    assert(batch(newId)._1 == "new" && batch(-1L)._1 == "undecodable")
    // stream parity: the same call over a readStream source
    val dir = Files.createTempDirectory("graft-stream-media").toString
    arrivals.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(arrivals.schema).parquet(dir)
    val q = gate(stream).writeStream.outputMode("append")
      .format("memory").queryName("perc_gate").start()
    try {
      q.processAllAvailable()
      val got = spark.table("perc_gate").collect()
        .map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(got == batch.map { case (k, v) => k -> v._1 })
    } finally q.stop()
  }

  test("month grain has no fixed window duration") {
    intercept[IllegalArgumentException] { StreamOps.windowDuration("M") }
  }

  test("streaming near-dup routing matches the batch band join") {
    import graft.pipeline.TextDedup
    // corpus with planted near-dups; the stream replays the same docs,
    // so every batch candidate pair must be routed (both directions,
    // since routing is stream-doc -> corpus-doc, not a < b)
    val vocab = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
    val rnd = new scala.util.Random(23)
    val corpus = (0 until 30).flatMap { i =>
      val ws = Seq.fill(10)(vocab(rnd.nextInt(vocab.size)))
      Seq((i.toLong, ws.mkString(" ")),
          (i.toLong + 100, (ws.take(8) ++ Seq(s"xx$i", s"yy$i")).mkString(" ")))
    }.toDF("doc_id", "text")
    val corpusBands = TextDedup.lshBands(
      TextDedup.minhashSignature(TextDedup.bigramShingles(corpus, "doc_id", "text"), 16),
      16, 2)

    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      StreamOps.streamingNearDupCandidates(df, "doc_id", "text", corpusBands, 16, 2)
    val expected = pairsOf(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "no candidates routed — test corpus too sparse")
    // the batch band self-join (the q56 front half) must be a subset,
    // in both orientations, of what routing finds for replayed docs
    val batchPairs = TextDedup.candidatePairs(corpusBands).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchPairs.forall(p => expected(p) && expected(p.swap)))

    val dir = Files.createTempDirectory("graft-stream-neardup").toString
    corpus.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(corpus.schema).parquet(dir)
    val q = pairsOf(stream).writeStream.outputMode("append")
      .format("memory").queryName("neardup_route").start()
    try {
      q.processAllAvailable()
      val got = spark.table("neardup_route").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, "streamed routing != batch routing")
    } finally q.stop()
  }

  test("streaming simhash routing emits exactly the batch-confirmed near-dup pairs") {
    import graft.pipeline.TextDedup
    val vocab = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
    val rnd = new scala.util.Random(29)
    val corpus = (0 until 30).flatMap { i =>
      val ws = Seq.fill(10)(vocab(rnd.nextInt(vocab.size)))
      Seq((i.toLong, ws.mkString(" ")),
          (i.toLong + 100, (ws.take(9) :+ s"zz$i").mkString(" ")))
    }.toDF("doc_id", "text")
    val corpusBands = TextDedup.simhash64Bands(corpus, "doc_id", "text")

    def routed(df: org.apache.spark.sql.DataFrame) =
      StreamOps.streamingSimhashCandidates(df, "doc_id", "text", corpusBands)
    // batch reference: the production operator's confirmed pairs must
    // equal routed pairs for a replayed corpus, in both orientations
    // (routing is stream->corpus directed and multi-band; compare as
    // unordered distinct pairs)
    val batch = TextDedup.simhashNearDupPairs64(corpus, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "no near-dup pairs planted — corpus too sparse")
    val expected = routed(corpus).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
                 math.max(r.getLong(0), r.getLong(1)))).toSet
    assert(expected == batch, s"routed (batch frame) != batch operator: $expected vs $batch")

    val dir = Files.createTempDirectory("graft-stream-simhash").toString
    corpus.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(corpus.schema).parquet(dir)
    val q = routed(stream).writeStream.outputMode("append")
      .format("memory").queryName("simhash_route").start()
    try {
      q.processAllAvailable()
      val got = spark.table("simhash_route").collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)),
                   math.max(r.getLong(0), r.getLong(1)))).toSet
      assert(got == batch, "streamed simhash near-dups != batch operator pairs")
    } finally q.stop()
  }

  test("bloom pre-filter gates a stream: batch parity, planted copies seen, one row per arrival") {
    import graft.pipeline.CorpusSketch
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "an entirely different document about spark internals here"),
      (3L, "hello world tiny doc")).toDF("doc_id", "text")
    val arrivals = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // copy of 1
      (11L, "fresh unseen content with brand new words entirely"),
      (12L, "hello world tiny doc")).toDF("doc_id", "text")       // copy of 3
    val bits = CorpusSketch.bloomBits(existing, "text").cache()
    bits.count()
    def probe(df: org.apache.spark.sql.DataFrame) =
      CorpusSketch.bloomProbe(df, "doc_id", "text", bits)
    val expected = probe(arrivals).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(expected(10L) == 1L && expected(12L) == 1L,
           s"planted copies must probe seen (no false negatives): $expected")

    val dir = Files.createTempDirectory("graft-stream-bloom").toString
    arrivals.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(arrivals.schema).parquet(dir)
    val q = probe(stream).writeStream.outputMode("append")
      .format("memory").queryName("bloom_gate").start()
    try {
      q.processAllAvailable()
      val got = spark.table("bloom_gate").collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == expected, "streamed bloom verdicts != batch")
      assert(spark.table("bloom_gate").count() == arrivals.count(),
             "exactly one stateless verdict row per arriving doc")
    } finally q.stop()
  }

  test("streaming ingest gate: exact verdicts + estimate-confirmed near-dups match batch incrementalDedup") {
    import graft.pipeline.TextDedup
    // existing corpus with a planted exact-dup target and a near-dup
    // target; the stream is the NEW batch of incrementalDedup's test
    val existing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "an entirely different document about spark internals here"),
      (3L, "hello world tiny doc")).toDF("doc_id", "text")
    val batchDocs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),      // exact of 1
      (11L, "the quick brown fox jumps over the lazy dog tonight ok"), // near of 1
      (12L, "fresh unseen content with brand new words entirely")).toDF("doc_id", "text")
    // static indexes, built once like production ingest
    val exactIndex = existing.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val sig = TextDedup.minhashSignature(
      TextDedup.bigramShingles(existing, "doc_id", "text"), 16)
    val bands = TextDedup.lshBands(sig, 16, 2)

    def gate(df: org.apache.spark.sql.DataFrame) =
      StreamOps.streamingExactDupGate(df, "doc_id", "text", exactIndex)
    def near(df: org.apache.spark.sql.DataFrame) =
      StreamOps.streamingNearDupConfirmedEst(df, "doc_id", "text", bands, sig, 16, 2)

    // batch semantics of the same ops
    val expectGate = gate(batchDocs).collect()
      .map(r => r.getLong(0) -> (r.getString(2), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(expectGate(10L) == (("exact", 1L)) && expectGate(11L)._1 == "new" &&
           expectGate(12L)._1 == "new", s"gate batch semantics: $expectGate")
    val expectNear = near(batchDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet  // (stream_id, corpus_id)
    assert(expectNear.contains((11L, 1L)), s"near estimate must confirm (11,1): $expectNear")
    assert(!expectNear.exists(_._1 == 12L), "unique doc must not be confirmed")
    // agreement estimate at minAgree=8 tracks the batch EXACT confirm
    // for the planted pair (J = 9/11 >> 0.5)
    val batchVerdicts = TextDedup.incrementalDedup(
        existing.unionByName(batchDocs), "doc_id", "text",
        col("doc_id") >= 10L, maxDocFrac = 1.0)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(batchVerdicts(10L) == "exact" && batchVerdicts(11L) == "near" &&
           batchVerdicts(12L) == "unique")

    // streamed: same rows per doc as the batch application of each op
    val dir = Files.createTempDirectory("graft-stream-gate").toString
    batchDocs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batchDocs.schema).parquet(dir)
    val qg = gate(stream).writeStream.outputMode("append")
      .format("memory").queryName("ingest_gate").start()
    val qn = near(stream).writeStream.outputMode("append")
      .format("memory").queryName("ingest_near").start()
    try {
      qg.processAllAvailable(); qn.processAllAvailable()
      val gotGate = spark.table("ingest_gate").collect()
        .map(r => r.getLong(0) -> (r.getString(2), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(gotGate == expectGate, "streamed gate != batch gate")
      assert(spark.table("ingest_gate").count() == batchDocs.count(),
             "exactly one stateless verdict row per arriving doc")
      val gotNear = spark.table("ingest_near").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotNear == expectNear, "streamed near estimate != batch")
    } finally { qg.stop(); qn.stop() }
  }

  test("streaming ANN routing matches batch candidates; ranking them reproduces ivfTopK") {
    import graft.pipeline.Similarity
    val rnd = new scala.util.Random(31)
    val centers = Seq.fill(8)(Seq.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 120).map { i =>
      (i.toLong, centers(i % 8).map(_ + rnd.nextGaussian() * 0.2))
    }.toDF("vec_id", "v")
    val cents = vecs.filter(col("vec_id") < 8).orderBy("vec_id")
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toSeq)).toSeq
    val index = Similarity.ivfIndex(vecs, cents, nprobe = 2)

    def cands(df: org.apache.spark.sql.DataFrame) =
      StreamOps.streamingAnnCandidates(df, index, cents, nprobe = 2)
    val expected = cands(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet

    val dir = Files.createTempDirectory("graft-stream-ann").toString
    vecs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(vecs.schema).parquet(dir)
    val q = cands(stream).writeStream.outputMode("append")
      .format("memory").queryName("ann_route").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ann_route").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
      assert(got == expected, "streamed ANN candidates != batch candidates")
    } finally q.stop()

    // consumer-side rank of the candidates == the batch ivfTopK rows:
    // pins the documented "everything up to the top-k" equivalence
    val ranked = expected.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      rows.toSeq.sortBy { case (_, nid, cos) => (-cos, nid) }.take(3)
        .map { case (_, nid, _) => (qid, nid) }
    }.toSet
    val batchTopK = Similarity.ivfTopK(vecs, cents, 3, nprobe = 2).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(ranked == batchTopK, "ranked streamed candidates != batch ivfTopK")
  }

  test("streaming semantic-dup gate: batch parity, verdicts consistent with semanticDedup") {
    import graft.pipeline.Similarity
    val rnd = new scala.util.Random(47)
    val centers = Seq.fill(4)(Seq.fill(16)(rnd.nextGaussian()))
    // corpus: clustered vectors; stream: near-copies of corpus vectors 0-4
    // (tiny perturbation -> cos ~ 1) plus fresh unique vectors
    val corpus = (0 until 60).map { i =>
      (i.toLong, centers(i % 4).map(_ + rnd.nextGaussian() * 0.2))
    }.toDF("vec_id", "v")
    val corpusRows = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val arrivals = (0 until 5).map { i =>
      (100L + i, corpusRows(i.toLong).map(_ * 1.001))          // near-dups of 0-4
    } ++ (5 until 10).map { i => (100L + i, Seq.fill(16)(rnd.nextGaussian())) }
    val arrivalsDf = arrivals.toDF("vec_id", "v")
    val cents = corpus.filter(col("vec_id") < 4).orderBy("vec_id")
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toSeq)).toSeq
    val index = Similarity.ivfIndex(corpus, cents, nprobe = 1)

    def gate(df: org.apache.spark.sql.DataFrame) =
      StreamOps.streamingSemanticDupConfirmed(df, index, cents, tau = 0.98)
    val expected = gate(arrivalsDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    // every planted near-copy is confirmed against its original
    (0 until 5).foreach { i =>
      assert(expected.exists { case (s, c, _) => s == 100L + i && c == i.toLong },
             s"planted near-dup ${100 + i} must confirm against $i")
    }

    val dir = Files.createTempDirectory("graft-stream-sem").toString
    arrivalsDf.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(arrivalsDf.schema).parquet(dir)
    val q = gate(stream).writeStream.outputMode("append")
      .format("memory").queryName("sem_gate").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sem_gate").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
      assert(got == expected, "streamed semantic verdicts != batch")
    } finally q.stop()

    // consistency with the batch authority: every confirmed (arrival,
    // corpus) pair shares a cluster in semanticDedup over corpus+arrivals
    val clusters = Similarity.semanticDedup(corpus.unionByName(arrivalsDf), cents, 0.98)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    expected.foreach { case (s, c, _) =>
      assert(clusters(s) == clusters(c),
             s"gate pair ($s, $c) must share a semanticDedup cluster")
    }
  }

  test("streaming frame-routed ANN: superset of batch frame candidates, rank reproduces ivfTopKJoin") {
    import graft.pipeline.Similarity
    val rnd = new scala.util.Random(31)
    val centers = Seq.fill(8)(Seq.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 120).map { i =>
      (i.toLong, centers(i % 8).map(_ + rnd.nextGaussian() * 0.2))
    }.toDF("vec_id", "v")
    val cents = vecs.filter(col("vec_id") < 8).orderBy("vec_id")
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toSeq)).toSeq
    val frames = Similarity.framesOf(spark, Similarity.buildCoarseIndex(cents))
    val index = Similarity.ivfIndexJoin(vecs, frames, nprobe = 2, coarseProbe = 2)

    def cands(df: org.apache.spark.sql.DataFrame) =
      StreamOps.streamingAnnCandidatesFrames(df, index, frames, coarseProbe = 2)
    val expected = cands(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet

    val dir = Files.createTempDirectory("graft-stream-ann-frames").toString
    vecs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(vecs.schema).parquet(dir)
    val q = cands(stream).writeStream.outputMode("append")
      .format("memory").queryName("ann_frame_route").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ann_frame_route").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
      assert(got == expected, "streamed frame-routed candidates != batch application")
    } finally q.stop()

    // SUPERSET contract: the stream probes the FULL cell list of its
    // routed groups (no per-row nprobe window in streaming), so batch
    // frame-path candidates at equal coarseProbe must be contained
    val batchPairs = Similarity.ivfTopKJoin(vecs, frames, 200, nprobe = 2,
                                            coarseProbe = 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val streamPairs = expected.map { case (q2, n, _) => (q2, n) }
    assert(batchPairs.subsetOf(streamPairs),
           s"${(batchPairs -- streamPairs).size} batch frame pairs missing from the stream superset")

    // consumer-side rank == the batch frame path probing every cell of
    // the same groups (nprobe >= total cells makes the two probe sets
    // identical, so the documented rank equivalence is exact)
    val ranked = expected.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      rows.toSeq.sortBy { case (_, nid, cos) => (-cos, nid) }.take(3)
        .map { case (_, nid, _) => (qid, nid) }
    }.toSet
    val batchTopK = Similarity.ivfTopKJoin(vecs, frames, 3, nprobe = cents.size,
                                           coarseProbe = 2).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(ranked == batchTopK, "ranked frame-routed candidates != batch ivfTopKJoin")
  }

  test("index refresh: candidates follow the fresh index, cache count stays O(1) across cycles") {
    import graft.pipeline.Similarity
    val rnd = new scala.util.Random(41)
    val centers = Seq.fill(4)(Seq.fill(8)(rnd.nextGaussian()))
    def corpus(idBase: Long) = (0 until 40).map { i =>
      (idBase + i, centers(i % 4).map(_ + rnd.nextGaussian() * 0.2))
    }.toDF("vec_id", "v")
    val v1 = corpus(0L)
    val v2 = corpus(1000L)
    val v3 = corpus(2000L)
    val cents = centers.zipWithIndex.map { case (c, i) => i -> c.toSeq }
    // stream side: a handful of probe vectors near the centers
    val probes = (0 until 8).map(i =>
      (9000L + i, centers(i % 4).map(_ + rnd.nextGaussian() * 0.1))).toDF("vec_id", "v")
    val dir = Files.createTempDirectory("graft-stream-refresh").toString
    probes.write.mode("overwrite").parquet(dir)

    def routedAgainst(index: org.apache.spark.sql.DataFrame): Set[Long] = {
      val stream = spark.readStream.schema(probes.schema).parquet(dir)
      val name = s"refresh_route_${System.nanoTime()}"
      val q = StreamOps.streamingAnnCandidates(stream, index, cents, nprobe = 2)
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        spark.table(name).collect().map(_.getLong(1)).toSet
      } finally q.stop()
    }

    val idx1 = Similarity.ivfIndex(v1, cents, nprobe = 2)
    idx1.count()
    val n1 = graft.queries.cachedIndexCount
    val got1 = routedAgainst(idx1)
    assert(got1.nonEmpty && got1.forall(id => id >= 0L && id < 1000L),
           s"cycle 1 must route against corpus v1 only: $got1")

    // swap v1 -> v2: fresh index live before the old one is released,
    // and the registry does not grow
    val idx2 = StreamOps.refreshAnnIndex(v1, v2, cents, nprobe = 2)
    assert(graft.queries.cachedIndexCount == n1,
           "refresh must retire exactly the old corpus's index entries")
    val got2 = routedAgainst(idx2)
    assert(got2.nonEmpty && got2.forall(id => id >= 1000L && id < 2000L),
           s"cycle 2 must route against corpus v2 only: $got2")

    // and again v2 -> v3: O(1) across arbitrarily many cycles
    val idx3 = StreamOps.refreshAnnIndex(v2, v3, cents, nprobe = 2)
    assert(graft.queries.cachedIndexCount == n1,
           "cache count must stay flat across refresh cycles")
    val got3 = routedAgainst(idx3)
    assert(got3.nonEmpty && got3.forall(_ >= 2000L),
           s"cycle 3 must route against corpus v3 only: $got3")
    graft.queries.releaseIndexes(v3)
  }

  test("text index refresh: minhash routing follows the fresh index, cache count flat") {
    import graft.pipeline.TextDedup
    val vocab = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
    val rnd = new scala.util.Random(43)
    // one fixed text set shared by every corpus version, so the same
    // probe stream routes in every cycle (ids distinguish the version)
    val texts = (0 until 30).map(_ =>
      Seq.fill(10)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    def corpus(idBase: Long) =
      texts.zipWithIndex.map { case (t, i) => (idBase + i, t) }.toDF("doc_id", "text")
    val v1 = corpus(0L)
    val v2 = v1.unionByName(corpus(1000L)) // GROWING corpus: v2 ⊇ v1 (except-rule case)
    val v3 = corpus(2000L)
    val probes = texts.take(8).zipWithIndex
      .map { case (t, i) => (9000L + i, t) }.toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-text-refresh").toString
    probes.write.mode("overwrite").parquet(dir)

    def routedAgainst(index: org.apache.spark.sql.DataFrame): Set[Long] = {
      val stream = spark.readStream.schema(probes.schema).parquet(dir)
      val name = s"text_refresh_${System.nanoTime()}"
      val q = StreamOps.streamingNearDupCandidates(stream, "doc_id", "text", index, 16, 2)
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        spark.table(name).collect().map(_.getLong(1)).toSet
      } finally q.stop()
    }

    val idx1 = TextDedup.minhashBandIndex(v1, "doc_id", "text", 16, 2)
    idx1.count()
    val n1 = graft.queries.cachedIndexCount
    val got1 = routedAgainst(idx1)
    assert(got1.nonEmpty && got1.forall(id => id >= 0L && id < 1000L),
           s"cycle 1 must route against corpus v1 only: $got1")

    // v1 -> v2 (growth): the fresh index's plan CONTAINS v1, so the
    // except rule is what keeps it alive through the old release
    val idx2 = StreamOps.refreshMinhashIndex(v1, v2, "doc_id", "text", 16, 2)
    assert(graft.queries.cachedIndexCount == n1,
           "refresh must retire exactly the old corpus's index entries")
    assert(idx1.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
           "the old band index must be retired")
    val got2 = routedAgainst(idx2)
    assert(got2.exists(_ >= 1000L) && got2.exists(_ < 1000L),
           s"cycle 2 must route against old AND delta docs of v2: $got2")

    // v2 -> v3: flat across arbitrarily many cycles
    val idx3 = StreamOps.refreshMinhashIndex(v2, v3, "doc_id", "text", 16, 2)
    assert(graft.queries.cachedIndexCount == n1,
           "cache count must stay flat across refresh cycles")
    val got3 = routedAgainst(idx3)
    assert(got3.nonEmpty && got3.forall(_ >= 2000L),
           s"cycle 3 must route against corpus v3 only: $got3")
    graft.queries.releaseIndexes(v3)
  }

  test("text index refresh: simhash routing follows the fresh index across versions") {
    import graft.pipeline.TextDedup
    val vocab = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot")
    val rnd = new scala.util.Random(47)
    val texts = (0 until 20).map(_ =>
      Seq.fill(10)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    def corpus(idBase: Long) =
      texts.zipWithIndex.map { case (t, i) => (idBase + i, t) }.toDF("doc_id", "text")
    val v1 = corpus(0L)
    val v2 = v1.unionByName(corpus(1000L))
    val probes = texts.take(6).zipWithIndex
      .map { case (t, i) => (9000L + i, t) }.toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-simhash-refresh").toString
    probes.write.mode("overwrite").parquet(dir)

    def routedAgainst(index: org.apache.spark.sql.DataFrame): Set[Long] = {
      val stream = spark.readStream.schema(probes.schema).parquet(dir)
      val name = s"sh_refresh_${System.nanoTime()}"
      val q = StreamOps.streamingSimhashCandidates(stream, "doc_id", "text", index)
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        spark.table(name).collect().map(_.getLong(1)).toSet
      } finally q.stop()
    }

    val idx1 = TextDedup.simhash64BandIndex(v1, "doc_id", "text")
    idx1.count()
    val n1 = graft.queries.cachedIndexCount
    val got1 = routedAgainst(idx1)
    // probes replay corpus texts exactly → hamming-0 matches guaranteed
    assert(got1.nonEmpty && got1.forall(id => id >= 0L && id < 1000L),
           s"cycle 1 must route against corpus v1 only: $got1")

    val idx2 = StreamOps.refreshSimhashIndex(v1, v2, "doc_id", "text")
    assert(graft.queries.cachedIndexCount == n1,
           "simhash refresh must keep the cache count flat")
    assert(idx1.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
           "the old simhash band index must be retired")
    val got2 = routedAgainst(idx2)
    assert(got2.exists(_ >= 1000L) && got2.exists(_ < 1000L),
           s"cycle 2 must route against old AND delta docs of v2: $got2")
    graft.queries.releaseIndexes(v2)
  }

  test("streaming sq8 ANN routing matches its batch application (asymmetric scoring)") {
    import graft.pipeline.Similarity
    val rnd = new scala.util.Random(37)
    val centers = Seq.fill(8)(Seq.fill(16)(rnd.nextGaussian()))
    val vecs = (0 until 120).map { i =>
      (i.toLong, centers(i % 8).map(_ + rnd.nextGaussian() * 0.2))
    }.toDF("vec_id", "v")
    val cents = vecs.filter(col("vec_id") < 8).orderBy("vec_id")
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toSeq)).toSeq
    val index = Similarity.ivfIndexSq8(vecs, cents, nprobe = 2)

    def cands(df: org.apache.spark.sql.DataFrame) =
      StreamOps.streamingAnnCandidatesSq8(df, index, cents, nprobe = 2)
    val expected = cands(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(expected.nonEmpty)

    val dir = Files.createTempDirectory("graft-stream-sq8ann").toString
    vecs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(vecs.schema).parquet(dir)
    val q = cands(stream).writeStream.outputMode("append")
      .format("memory").queryName("sq8_ann_route").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sq8_ann_route").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
      assert(got == expected, "streamed sq8 ANN candidates != batch application")
    } finally q.stop()
    // asymmetric scores track the float-index scores closely (the ADC
    // property): compare against the float streaming route pairwise
    val floatIndex = Similarity.ivfIndex(vecs, cents, nprobe = 2)
    val exact = StreamOps.streamingAnnCandidates(vecs, floatIndex, cents, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val asym = expected.map { case (a, b, c) => (a, b) -> c }.toMap
    assert(asym.keySet == exact.keySet, "same candidate pairs under either index")
    val maxDelta = asym.map { case (k, c) => math.abs(c - exact(k)) }.max
    assert(maxDelta <= 0.02, s"asymmetric cos drifts $maxDelta from exact")
  }

  test("refresh keeps the fresh index when the new corpus CONTAINS the old (growth case)") {
    import graft.pipeline.Similarity
    import org.apache.spark.storage.StorageLevel
    val rnd = new scala.util.Random(43)
    val centers = Seq.fill(4)(Seq.fill(8)(rnd.nextGaussian()))
    val v1 = (0 until 30).map(i =>
      (i.toLong, centers(i % 4).map(_ + rnd.nextGaussian() * 0.2))).toDF("vec_id", "v")
    val delta = (1000 until 1010).map(i =>
      (i.toLong, centers(i % 4).map(_ + rnd.nextGaussian() * 0.2))).toDF("vec_id", "v")
    // the motivating scenario: the corpus GROWS, so the new frame's
    // plan contains the old one — plan-containment eviction must not
    // retire the replacement that was just materialized
    val v2 = v1.unionByName(delta)
    val cents = centers.zipWithIndex.map { case (c, i) => i -> c.toSeq }
    val idx1 = Similarity.ivfIndex(v1, cents, nprobe = 2)
    idx1.count()
    val idx2 = StreamOps.refreshAnnIndex(v1, v2, cents, nprobe = 2)
    assert(idx2.storageLevel != StorageLevel.NONE,
           "fresh index built over old ∪ delta must survive the old corpus's release")
    assert(idx1.storageLevel == StorageLevel.NONE, "the old index must be retired")
    assert(idx2.filter(col("vec_id") >= 1000L).count() == 10L,
           "the surviving index serves the grown corpus")
    graft.queries.releaseIndexes(v2)
  }

  test("month grain matches batch bucketing (derived event-time grouping)") {
    // ~4 calendar months of data, including month-length variation
    // (Feb 29 2024) — months can't be a fixed window() but group on
    // date_trunc('month', ds) with the watermark on the derived column
    val base = java.sql.Timestamp.valueOf("2024-01-05 00:00:00").getTime
    val rnd = new scala.util.Random(13)
    val data = (0 until 400).map { i =>
      ("s" + (i % 3), new java.sql.Timestamp(base + rnd.nextInt(110 * 86400) * 1000L),
       rnd.nextInt(100).toDouble)
    }
    val batch = data.toDF("series", "ds", "y")
    val expected = Aggregations.groupByTime(batch, Some("M"), "sum", Seq("series"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet

    val dir = Files.createTempDirectory("graft-stream-month").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val agg = StreamOps.streamingGroupByTime(stream, "M", "sum", Seq("series"))
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("parity_month").start()
    try {
      q.processAllAvailable()
      val got = spark.table("parity_month").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet
      assert(got == expected, s"month grain: stream != batch")
    } finally q.stop()
  }

  test("late rows within the watermark update their bucket across batches") {
    // two micro-batches: the second delivers a LATE row for day 1 (within
    // the 1-day watermark at that point) plus a day-3 row; the day-1
    // bucket must absorb the late row, and the final state must equal
    // the batch aggregation of all rows
    val rows1 = Seq(
      ("s1", Timestamp.valueOf("2024-03-04 10:00:00"), 10.0),
      ("s1", Timestamp.valueOf("2024-03-05 10:00:00"), 20.0))
    val rows2 = Seq(
      ("s1", Timestamp.valueOf("2024-03-05 02:00:00"), 7.0),  // late for day 2's max
      ("s1", Timestamp.valueOf("2024-03-06 01:00:00"), 30.0))
    val all = (rows1 ++ rows2).toDF("series", "ds", "y")
    val expected = Aggregations.groupByTime(all, Some("D"), "sum", Seq("series"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet

    val dir = Files.createTempDirectory("graft-stream-late").toString
    rows1.toDF("series", "ds", "y").write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(all.schema).parquet(dir)
    val agg = StreamOps.streamingGroupByTime(stream, "D", "sum", Seq("series"))
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("late").start()
    try {
      q.processAllAvailable()
      rows2.toDF("series", "ds", "y").coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val got = spark.table("late").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2))).toSet
      assert(got == expected, s"late row lost: $got vs $expected")
    } finally q.stop()
  }

  test("sliding windows: stream equals batch window() on the same data") {
    val data = sourceData
    val batch = data.toDF("series", "ds", "y")
    val expected = batch
      .groupBy(col("series"), window(col("ds"), "2 days", "1 day").as("w"))
      .agg(sum("y").as("y"))
      .select(col("series"), col("w.start").as("ds"), col("w.end").as("ds_end"), col("y"))
      .collect().map(_.toString).toSet

    val dir = Files.createTempDirectory("graft-stream-slide").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val out = StreamOps.streamingSlidingAgg(stream, "2 days", "1 day", "sum", Seq("series"))
    val q = out.writeStream.outputMode("complete").format("memory").queryName("slide").start()
    try {
      q.processAllAvailable()
      val got = spark.table("slide").collect().map(_.toString).toSet
      assert(got == expected)
      // every event lands in exactly 2 overlapping windows
      assert(spark.table("slide").agg(sum("y")).head().getDouble(0) ==
             batch.agg(sum("y") * 2).head().getDouble(0))
    } finally q.stop()
  }

  test("streaming dedup keeps one row per key, matching batch distinct") {
    // 200 rows over 40 distinct payload keys
    val base = java.sql.Timestamp.valueOf("2024-03-04 00:00:00").getTime
    val rnd = new scala.util.Random(7)
    val data = (0 until 200).map { i =>
      (s"payload-${rnd.nextInt(40)}",
       new java.sql.Timestamp(base + i * 60000L), rnd.nextInt(10).toDouble)
    }
    val batch = data.toDF("text", "ds", "y")
    val expectedKeys = batch.select("text").distinct().count()

    val dir = Files.createTempDirectory("graft-stream-dedup").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val out = StreamOps.streamingDedup(stream, md5(col("text")))
    val q = out.writeStream.outputMode("append").format("memory").queryName("dedup").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dedup")
      assert(got.count() == expectedKeys)
      assert(got.select("text").distinct().count() == expectedKeys)
    } finally q.stop()
  }

  test("streaming session windows match batch gaps-and-islands sessions") {
    val base = java.sql.Timestamp.valueOf("2024-03-04 00:00:00").getTime
    val rnd = new scala.util.Random(11)
    // bursts separated by > 30 min gaps per user
    val data = for {
      u <- 0 until 4
      burst <- 0 until 5
      i <- 0 until (1 + rnd.nextInt(4))
    } yield (s"u$u",
      new java.sql.Timestamp(base + u * 977000L + burst * 3600_000L + i * 60000L),
      rnd.nextInt(100).toDouble)
    val batch = data.toDF("user_id", "ds", "y")

    // batch oracle: gaps-and-islands with the same 30-minute gap
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ds")
    val sessions = batch
      .withColumn("new_s", when(col("ds").cast("long") -
        lag(col("ds").cast("long"), 1).over(w) > 1800 || lag(col("ds"), 1).over(w).isNull, 1)
        .otherwise(0))
      .withColumn("sid", sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(min("ds").as("session_start"), count(lit(1)).as("n_events"), sum("y").as("y_sum"))
    val expected = sessions.collect()
      .map(r => (r.getString(0), r.getAs[java.sql.Timestamp]("session_start"),
                 r.getAs[Long]("n_events"), r.getAs[Double]("y_sum"))).toSet

    val dir = Files.createTempDirectory("graft-stream-sess").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val out = StreamOps.streamingSessionize(stream, "30 minutes")
    val q = out.writeStream.outputMode("complete").format("memory").queryName("sess").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sess").collect()
        .map(r => (r.getString(0), r.getAs[java.sql.Timestamp]("session_start"),
                   r.getAs[Long]("n_events"), r.getAs[Double]("y_sum"))).toSet
      assert(got == expected, s"stream sessions != batch islands")
    } finally q.stop()
  }

  test("stateful running bounds track batch count/sum/min/max per series") {
    val data = sourceData
    val batch = data.toDF("series", "ds", "y")
    val expected = batch.groupBy("series")
      .agg(count("*").as("n"), sum("y").as("s"), min("ds"), max("ds"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
             r.getTimestamp(3).getTime / 1000, r.getTimestamp(4).getTime / 1000)).toMap

    val dir = Files.createTempDirectory("graft-stream-state").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)
    val q = StreamOps.runningBounds(stream)
      .writeStream.outputMode("update").format("memory").queryName("bounds").start()
    try {
      q.processAllAvailable()
      // last update per series carries the full-state aggregate
      val got = spark.table("bounds").orderBy(col("n").desc)
        .collect().groupBy(_.getString(0)).map { case (k, rows) =>
          val r = rows.maxBy(_.getLong(1))
          k -> (r.getLong(1), r.getDouble(2),
                r.getTimestamp(3).getTime / 1000, r.getTimestamp(4).getTime / 1000)
        }
      assert(got == expected)
    } finally q.stop()
  }

  test("sketch state is stream-ready: HLL registers and CMS counters equal batch in complete mode") {
    // The sketch aggregations are a stateless projection + a bounded
    // groupBy (max over 2^p registers / count over d·w cells), so the
    // SAME CorpusSketch calls run on a readStream frame: the streaming
    // state is the sketch itself — fixed-size forever, unlike a
    // streaming COUNT(DISTINCT) whose state grows with cardinality.
    import graft.pipeline.CorpusSketch
    val rows = (0 until 2000).map(i => (if (i % 2 == 0) "a" else "b", s"v${i % 700}"))
    val batch = rows.toDF("g", "v")
    val dir = Files.createTempDirectory("graft-stream-sketch").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)

    val wantRegs = CorpusSketch.hllRegisters(batch, "g", "v")
      .collect().map(_.toString).toSet
    val qr = CorpusSketch.hllRegisters(stream, "g", "v")
      .writeStream.outputMode("complete").format("memory").queryName("hll_regs").start()
    val wantCms = CorpusSketch.cmsCounters(batch, "v")
      .collect().map(_.toString).toSet
    val qc = CorpusSketch.cmsCounters(stream, "v")
      .writeStream.outputMode("complete").format("memory").queryName("cms_cnt").start()
    try {
      qr.processAllAvailable(); qc.processAllAvailable()
      assert(spark.table("hll_regs").collect().map(_.toString).toSet == wantRegs)
      assert(spark.table("cms_cnt").collect().map(_.toString).toSet == wantCms)
      // and the estimate is a BATCH read of the sink table — the
      // serving pattern: registers live in the sink, estimates on demand
      // each group sees the evens / odds of i % 700 → 350 distinct values
      val est = CorpusSketch.hllEstimate(spark.table("hll_regs"), "g")
        .select("est").as[Double].collect()
      assert(est.length == 2 && est.forall(e => math.abs(e - 350.0) / 350.0 < 0.15))
    } finally { qr.stop(); qc.stop() }
  }

  test("streaming checksum digests equal batch after every prefix (complete mode)") {
    // XOR/SUM/COUNT are commutative-associative, so the streaming
    // aggregate's sink table IS the replication digest of everything
    // ingested — the q200 audit maintained incrementally with one
    // state row per group
    val docs = (0 until 400)
      .map(i => (s"g${i % 3}", s"payload $i", (i % 50).toLong))
      .toDF("lang", "text", "n_chars")
    val want = StreamOps.streamingChecksum(docs, "lang", "text", "n_chars")
      .collect().map(_.toString).toSet
    val dir = Files.createTempDirectory("graft-stream-ck").toString
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = StreamOps.streamingChecksum(stream, "lang", "text", "n_chars")
      .writeStream.outputMode("complete").format("memory")
      .queryName("stream_ck").start()
    try {
      q.processAllAvailable()
      assert(spark.table("stream_ck").collect().map(_.toString).toSet == want)
    } finally q.stop()
  }

  test("composed ingest gate: bloom pre-gates the exact probe, verdicts follow the swapped index") {
    val corpusA = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "an entirely different document about spark internals here"),
      (3L, "hello world tiny doc sits here")).toDF("doc_id", "text")
    val arrivals = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),      // exact of 1
      (11L, "the quick brown fox jumps over the lazy dog tonight ok"), // near of 1
      (12L, "fresh unseen content with brand new words entirely"),     // new (vs A)
      (13L, "another genuinely novel piece of writing right here")     // new always
    ).toDF("doc_id", "text")

    val before = graft.queries.cachedIndexCount
    // maxDocFrac = 1.0: on a 3-doc corpus the default 0.1 prune would
    // mark EVERY shingle frequent (df > 0.3 means df >= 1) and blind
    // the near-dup signatures — same reason incrementalDedup's test
    // passes 1.0
    var gate = StreamOps.buildIngestGate(corpusA, "doc_id", "text",
                                         maxDocFrac = 1.0)

    def verdicts(g: StreamOps.IngestGateIndex) = {
      val out = StreamOps.streamingIngestGate(arrivals, "doc_id", "text", g)
      val gv = out.gate.collect().map(r =>
        r.getAs[Long]("stream_id") ->
          (r.getAs[String]("verdict"),
           if (r.isNullAt(r.fieldIndex("exact_match"))) -1L
           else r.getAs[Long]("exact_match"),
           r.getAs[Long]("maybe_seen"))).toMap
      val nv = out.nearDup.collect()
        .map(r => (r.getAs[Long]("stream_id"), r.getAs[Long]("corpus_id"))).toSet
      (gv, nv)
    }

    // cycle 1: gate over corpus A
    val (g1, n1) = verdicts(gate)
    assert(g1(10L)._1 == "exact" && g1(10L)._2 == 1L, s"exact copy gated: $g1")
    assert(g1(12L)._1 == "new" && g1(13L)._1 == "new", s"novel docs pass: $g1")
    // bloom keeps the exact probe batch-sized: definitely-new docs are
    // bloom-NEGATIVE, so they never consult the exact index (no false
    // negatives makes the skip sound); the planted copy is positive
    assert(g1(10L)._3 == 1L, "copy must be bloom-positive")
    assert(g1(13L)._3 == 0L, s"novel doc should be bloom-negative (pre-gated): $g1")
    assert(n1.contains((11L, 1L)), s"near-dup estimate confirmed: $n1")
    assert(!n1.exists(_._1 == 10L), "exact arrivals carry no near evidence")

    // the same pipeline runs AS A STREAM (stateless by construction)
    val dir = Files.createTempDirectory("graft-ingest-gate").toString
    arrivals.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(arrivals.schema).parquet(dir)
    val out = StreamOps.streamingIngestGate(stream, "doc_id", "text", gate)
    val qg = out.gate.writeStream.outputMode("append")
      .format("memory").queryName("cg_gate").start()
    val qn = out.nearDup.writeStream.outputMode("append")
      .format("memory").queryName("cg_near").start()
    try {
      qg.processAllAvailable(); qn.processAllAvailable()
      val sg = spark.table("cg_gate").collect().map(r =>
        r.getAs[Long]("stream_id") -> r.getAs[String]("verdict")).toMap
      assert(sg == g1.view.mapValues(_._1).toMap, "streamed gate != batch gate")
      assert(spark.table("cg_gate").count() == arrivals.count(),
             "one verdict row per arrival")
      val sn = spark.table("cg_near").collect()
        .map(r => (r.getAs[Long]("stream_id"), r.getAs[Long]("corpus_id"))).toSet
      assert(sn == n1, "streamed near evidence != batch")
    } finally { qg.stop(); qn.stop() }

    // cycle 2: the corpus GROWS by exactly doc 12's content (the
    // motivating newCorpus = old ∪ delta case); after the blue/green
    // swap, the previously-'new' arrival gates as an exact dup
    val corpusB = corpusA.unionByName(
      Seq((4L, "fresh unseen content with brand new words entirely"))
        .toDF("doc_id", "text"))
    gate = StreamOps.refreshIngestGate(gate, corpusB, "doc_id", "text")
    val (g2, _) = verdicts(gate)
    assert(g2(10L)._1 == "exact" && g2(10L)._2 == 1L, "old verdicts stable")
    assert(g2(12L)._1 == "exact" && g2(12L)._2 == 4L,
           s"verdicts must follow the swapped index: $g2")
    assert(g2(13L)._1 == "new", "still-novel doc still passes")

    // cycle 3: grow again; cache population stays O(live corpora)
    val corpusC = corpusB.unionByName(
      Seq((5L, "another genuinely novel piece of writing right here"))
        .toDF("doc_id", "text"))
    gate = StreamOps.refreshIngestGate(gate, corpusC, "doc_id", "text")
    val (g3, _) = verdicts(gate)
    assert(g3(13L)._1 == "exact" && g3(13L)._2 == 5L, "cycle-3 verdict follows")
    assert(graft.queries.cachedIndexCount <= before + 4,
           s"retired gate artifacts must be evicted each swap: " +
           s"${graft.queries.cachedIndexCount} vs baseline $before")
  }
}
