package graft

import graft.ScaleProbe.time
import graft.pipeline.{Similarity, TextDedup}
import org.apache.spark.sql.functions._

/** Dev utility: empirical scale-up probe for the training-data
  * pipelines. Synthesizes a deterministic corpus N× the bench size and
  * times the near-dup and ANN paths, to check the cost curves stay
  * ~linear (bucketed joins) rather than quadratic (all-pairs).
  * Usage: runMain graft.ScaleProbe [nDocs] [nVecs] [vocab]
  *
  * `vocab` (0 or absent = auto): the synthetic corpus' word-vocabulary
  * size. Auto scales it with the corpus (nDocs/25, floor 2000 — the
  * historical value at the 50k base decade) so per-word document
  * frequency stays CONSTANT across decades, the way a real growing
  * corpus behaves; a fixed vocabulary under a growing corpus instead
  * densifies shingle df ∝ n and measures an artifact, not the
  * algorithm. Pass an explicit value to reproduce fixed-vocab runs.
  */
object ScaleProbe {
  /** Runs `body` and prints its wall time after `label`; the stage
    * timer of every probe main and of [[Profile]]. */
  def time[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    println(f"$label%-52s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(50000)
    val nVecs = args.drop(1).headOption.map(_.toInt).getOrElse(20000)
    val vocab = args.drop(2).headOption.map(_.toInt).filter(_ > 0)
      .getOrElse(math.max(2000, nDocs / 25))
    val spark = GraftSession()
    import spark.implicits._

    // deterministic synthetic docs: 40-word texts from the vocabulary,
    // 5% exact duplicates — generated distributively from spark.range
    println(s"config: nDocs=$nDocs nVecs=$nVecs vocab=$vocab")
    val docs = spark.range(nDocs.toLong).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 40).map(j =>
        concat(lit("w"), pmod(hash(when(col("id") % 20 === 0, col("id") - 1)
          .otherwise(col("id")) * 37 + j), lit(vocab)))): _*).as("text"))
      .cache()
    time("docs materialize")(docs.count())

    // the production near-dup config: 16 hashes, 8 bands of 2, >10%-df
    // shingle prune feeding signatures
    val sh = TextDedup.bigramShingles(docs, "doc_id", "text")
    val sig = TextDedup.minhashSignature(TextDedup.pruneFrequentShingles(sh, 0.1), 16)
    val pairs = TextDedup.candidatePairs(TextDedup.lshBands(sig, 16, 2))
    val dup = TextDedup.jaccard(sh, pairs).filter(col("jaccard") >= 0.5).cache()
    println(s"near-dup pairs: ${time("near-dup pipeline")(dup.count())}")
    println(s"dup clusters: ${time("dup clusters")(
      TextDedup.dupClusters(docs.select(col("doc_id")), dup.select(col("da"), col("db")),
        onRound = (r, ch, s) => println(f"    round $r%2d: $ch%9d changed  $s%6.2f s"))
        .filter(col("is_keeper") === 0).count())} non-keepers")
    // diagnostic recount (re-runs the band join once, off the timers) —
    // the candidate and edge volumes are what separate a probe artifact
    // (volume growing superlinearly with n under a fixed vocab) from a
    // real per-round algorithmic cost
    println(s"diag: candidate pairs = ${pairs.count()}, confirmed edges = ${dup.count()}")

    // connected-components strategy crossover: broadcast union-find vs
    // the distributed loop at synthetic edge-list decades. Graph shape
    // is the adversarial one for propagation (diameter-4 chains — 4+
    // rounds) over 2x the edge count in vertices; both paths must
    // agree on the non-keeper count at every decade. The decades put
    // the default 1M-edge threshold's two sides on the record: below
    // it the union-find path is a near-constant-cost single job;
    // forcing the loop shows the O(rounds) driver-sync price it
    // replaces. (Vertex frame = spark.range; edge frame = shifted
    // ranges; nothing here depends on the near-dup pipeline above.)
    // the 4M decade sits PAST the default 1M threshold: the r11 sweep
    // pins the crossover the default encodes by timing both paths on
    // either side of it (below 1M the single-job union-find wins on
    // job-scheduling grounds alone; the default is a driver-MEMORY
    // bound — 4M edges ≈ 64 MB collected — so the probe reports where
    // wall-clock crosses, with the memory bound stated alongside)
    for (nEdges <- Seq(10000L, 100000L, 1000000L, 4000000L)) {
      val verts = spark.range(nEdges + nEdges / 4)
        .select(col("id").as("doc_id")).cache()
      // chains of length 5 vertices / 4 edges: edge (i, i+1) unless i
      // ends a chain (i % 5 == 4)
      val chainEdges = spark.range(nEdges + nEdges / 4 - 1)
        .filter(col("id") % 5 =!= 4)
        .select(col("id").as("da"), (col("id") + 1).as("db")).cache()
      verts.count(); val ne = chainEdges.count()
      val ufNk = time(f"cc union-find   ($ne%8d edges)")(
        TextDedup.dupClusters(verts, chainEdges)
          .filter(col("is_keeper") === 0).count())
      val loopNk = time(f"cc distributed  ($ne%8d edges)")(
        TextDedup.dupClusters(verts, chainEdges, broadcastEdgeMax = 0)
          .filter(col("is_keeper") === 0).count())
      assert(ufNk == loopNk, s"path divergence at $ne edges: $ufNk vs $loopNk")
      println(f"    non-keepers agree: $ufNk%d")
      verts.unpersist(); chainEdges.unpersist()
    }

    // UNHINTED VOCABULARY JOINS (r11): lmSurprisal / tfidfTopK score
    // against a table sized by the corpus's DISTINCT-token count —
    // unbounded at web scale, so the r10 forced-broadcast hints were
    // scale bugs. This sweep grows the distinct-token count a decade
    // (same corpus size) and checks (a) wall-clock stays ~flat — the
    // shuffled tok-keyed join costs the same regardless of vocabulary
    // skew — and (b) the executed plan carries NO broadcast of the
    // vocabulary-sized side once it exceeds the auto-broadcast
    // threshold (AQE may still broadcast SMALL vocabularies — that is
    // the point of dropping the hint rather than banning the strategy).
    // Driver memory is flat by construction: nothing vocabulary-sized
    // is collected or pinned to the plan.
    {
      import graft.pipeline.TextAnalysis
      for (vDec <- Seq(vocab, vocab * 10)) {
        val d2 = spark.range(nDocs.toLong).select(
          col("id").as("doc_id"),
          concat_ws(" ", (0 until 40).map(j =>
            concat(lit("w"), pmod(hash(col("id") * 53 + j), lit(vDec)))): _*).as("text"))
        val surp = TextAnalysis.lmSurprisal(d2, "doc_id", "text")
        time(f"lmSurprisal (vocab<=$vDec%8d)")(surp.count())
        val plan = surp.queryExecution.executedPlan.toString
        val nBhj = "BroadcastHashJoin".r.findAllIn(plan).length
        val nSmj = ("SortMergeJoin".r.findAllIn(plan).length
                    + "ShuffledHashJoin".r.findAllIn(plan).length)
        println(s"    plan joins: broadcast=$nBhj shuffled=$nSmj " +
                "(vocab side unhinted; AQE chooses)")
        val tk = TextAnalysis.tfidfTopK(d2, "doc_id", "text",
                                        Seq("w1", "w2", "w3"), 10)
        time(f"tfidfTopK   (vocab<=$vDec%8d)")(tk.count())
      }
    }

    // CURATION OPS (r11): the three claims the new operators make.
    // (a) span REMOVAL cost tracks the DUPLICATION RATE, not the
    //     corpus: the affected-doc short-circuit sends untouched docs
    //     through a pure projection, so quadrupling the dup rate at a
    //     fixed corpus should move the cost while the corpus-sized
    //     part stays put.
    // (b) KN bigram perplexity joins its (corpus-unbounded) bigram
    //     vocabulary UNHINTED — wall-clock ~flat across a vocab
    //     decade, no broadcast of the big side (the lmSurprisal
    //     lesson, one model order up).
    // (c) classifier training touches the corpus O(iters) times but
    //     ships only (dim+1)-row gradient frames and holds one
    //     (dim+1)-entry vector on the driver — per-iteration cost
    //     linear in corpus, state constant.
    {
      import graft.pipeline.{Classifier, TextAnalysis}
      for (dupPct <- Seq(5, 20)) {
        val dd = spark.range(nDocs.toLong).select(
          col("id").as("doc_id"),
          concat_ws(" ", (0 until 40).map(j =>
            concat(lit("w"), pmod(hash(when(col("id") % (100 / dupPct) === 0,
              col("id") - 1).otherwise(col("id")) * 37 + j), lit(vocab)))): _*)
            .as("text"))
        val out = TextDedup.removeDuplicatedSpans(dd, "doc_id", "text")
        val removed = time(f"span removal (dup=$dupPct%2d%%)")(
          out.agg(sum(when(col("n_removed") > 0, 1L).otherwise(0L))).head().getLong(0))
        println(s"    affected docs: $removed")
        graft.queries.releaseIndexes(dd)
      }
      for (vDec <- Seq(vocab, vocab * 10)) {
        val d2 = spark.range(nDocs.toLong).select(
          col("id").as("doc_id"),
          concat_ws(" ", (0 until 40).map(j =>
            concat(lit("w"), pmod(hash(col("id") * 71 + j), lit(vDec)))): _*).as("text"))
        val kn = TextAnalysis.knPerplexity(d2, "doc_id", "text")
        time(f"knPerplexity (vocab<=$vDec%8d)")(kn.count())
        val plan = kn.queryExecution.executedPlan.toString
        println(s"    plan joins: broadcast=${"BroadcastHashJoin".r.findAllIn(plan).length} " +
                s"shuffled=${"SortMergeJoin".r.findAllIn(plan).length +
                             "ShuffledHashJoin".r.findAllIn(plan).length} " +
                "(bigram side unhinted; AQE chooses)")
        graft.queries.releaseIndexes(d2)
      }
      val t0 = System.nanoTime()
      val model = Classifier.trainHashedLogistic(
        docs, "doc_id", "text", (col("doc_id") % 2 === 0).cast("long"),
        dim = 64, iters = 4)
      val perIter = (System.nanoTime() - t0) / 1e9 / 4
      println(f"classifier train: ${perIter}%.2f s/iteration " +
              f"(driver state = ${model.weightsE6.length + 1} longs at any corpus size)")
      graft.queries.releaseIndexes(docs)
    }

    // content-defined chunking + chunk-level dedup: a zero-shuffle scan
    // plus ONE hash-groupBy — expect linear in corpus bytes
    println(s"cdc distinct chunks: ${time("cdc chunk+dedup")(
      TextDedup.chunkDedup(TextDedup.cdcChunks(docs, "doc_id", "text")).count())}")

    // sketch statistics — the FIXED-STATE lesson: the HLL register
    // frame is ≤ 1024 rows and the CMS counter matrix exactly d·w =
    // 4096 cells at EVERY decade (map-side partials do the work; the
    // shuffle is constant-size), while the exact answers shuffle every
    // distinct value / vocabulary word. Expect sketch times ~flat vs
    // the growing exact-distinct cost, and the estimate within ~4% —
    // the 1.04/√1024 standard error doesn't depend on n either.
    import graft.pipeline.CorpusSketch
    val hllRows = time("hll sketch (m=1024)")(
      CorpusSketch.hllSketch(docs.select(lit("all").as("g"), col("text")),
                             "g", "text").collect())
    val exactDistinct = time("exact count(distinct text)")(
      docs.select("text").distinct().count())
    println(f"hll est=${hllRows.head.getAs[Double]("est")}%.0f vs exact=$exactDistinct " +
            f"(err ${math.abs(hllRows.head.getAs[Double]("est") - exactDistinct) * 100.0 / exactDistinct}%.1f%%)")
    val cmsCells = time("cms counters (4x1024)")(
      CorpusSketch.cmsCounters(
        docs.select(explode(split(col("text"), " ")).as("v")), "v").count())
    println(s"cms cells: $cmsCells (bounded by 4096 at any vocabulary)")

    // SimHash near-dup — the WIDTH lesson: candidate volume of the band
    // self-join at 16-bit vs 64-bit sketches (occupancy math, O(n) to
    // compute — the 16-bit join itself is n²/32-per-band and must never
    // be run at probe scale). 16 buckets/band saturate: expect the
    // 16-bit volume ~n²/32 per band at every decade, the 64-bit volume
    // 4096× lower. The production operator (64-bit, banded join +
    // popcount confirm) then runs for real.
    val c16 = time("simhash16 candidate volume")(
      TextDedup.simhashCandidateVolume(docs, "doc_id", "text", 16))
    val c64 = time("simhash64 candidate volume")(
      TextDedup.simhashCandidateVolume(docs, "doc_id", "text", 64))
    println(f"simhash candidates: width16=$c16%d width64=$c64%d ratio=${c16.toDouble / math.max(c64, 1L)}%.0f")
    println(s"simhash64 near-dup pairs: ${time("simhash64 near-dup (full)")(
      TextDedup.simhashNearDupPairs64(docs, "doc_id", "text").count())}")

    // deterministic synthetic embeddings (16-dim) via hash-derived doubles
    val dim = 16
    val vecs = spark.range(nVecs.toLong).select(
      col("id").as("vec_id"),
      array((0 until dim).map(j =>
        (pmod(hash(col("id") * 131 + j), lit(1000)).cast("double") / 500.0 - 1.0)): _*).as("v"))
      .cache()
    time("vecs materialize")(vecs.count())

    // THE 100 TB LESSON (measured here, rounds 4-5): with a FIXED index
    // (64 cells / 8 planes) cost per decade is ~30× — bucket occupancy
    // grows linearly with n, so the per-bucket self-join grows n².
    // ANN indexes must GROW with the corpus (Similarity.ivfCellCount):
    // cells = √n balances the flat quantizer's O(n·cells) assign pass
    // against the O(n²/cells) search pass (both O(n^1.5)), and planes =
    // log2(n/occupancy) holds LSH bucket occupancy constant. With the
    // TWO-LEVEL quantizer assignment is O(√cells) per row, so cells
    // grow as n^(2/3) — assign and search balance at O(n^(4/3)).
    // Round-5 measurement of that rule surfaced a SECOND lesson: with
    // the assignment descent composed from Spark HOFs (CodegenFallback
    // — interpreted per candidate), the quantizer scan dominated the
    // whole query (flat 143 s at 200k vecs) and growing cells made
    // queries SLOWER (18 → 41 s). After moving assignment into the
    // native ivf_assign expression (plans/IvfAssign.scala) the same
    // decade reads flat 12.7 s / hier-√n 9.0 s / hier-n^(2/3) 3.1 s —
    // the growth rule's config is now the fastest, and the decade ratio
    // at n^(2/3) cells is ~8× for 10× data (sub-linear per row).
    val nCells = math.max(64, Similarity.ivfCellCount(nVecs, hierarchical = false))
    val nPlanes = math.max(8, math.ceil(
      math.log(nVecs / 78.0) / math.log(2.0)).toInt)
    val cents = vecs.filter(col("vec_id") < nCells).orderBy("vec_id")
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toSeq)).toSeq
    println(s"ivf rows: ${time(s"ivf topk ($nCells cells)")(
      Similarity.ivfTopK(vecs, cents, 3).count())}")
    // two-level quantizer, same √n cells: isolates the assignment win
    // (O(cells) → O(√cells) dots per row) with search cost unchanged
    println(s"ivf-hier rows: ${time(s"ivf-hier topk ($nCells cells, coarse 2)")(
      Similarity.ivfTopK(vecs, cents, 3, nprobe = 1, coarseProbe = 2).count())}")
    // two-level quantizer at ITS OWN balance point, cells = n^(2/3):
    // cheap assignment buys smaller cells, cutting the n²/cells search
    // pass — the configuration the growth rule prescribes at scale
    val hCells = math.max(64, Similarity.ivfCellCount(nVecs, hierarchical = true))
    val hCents = vecs.filter(col("vec_id") < hCells).orderBy("vec_id")
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toSeq)).toSeq
    println(s"ivf-hier-n23 rows: ${time(s"ivf-hier topk ($hCells cells, coarse 2)")(
      Similarity.ivfTopK(vecs, hCents, 3, nprobe = 1, coarseProbe = 2).count())}")
    // three-level quantizer tree at ITS balance point, cells = n^(3/4):
    // O(k^(1/3)) assignment buys cells smaller still, cutting the
    // n²/cells search pass below the 2-level optimum — the rung past
    // n^(4/3) (total O(n^(5/4)))
    val tCells = math.max(64, Similarity.ivfCellCount(nVecs, tree = true))
    val tCents = vecs.filter(col("vec_id") < tCells).orderBy("vec_id")
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toSeq)).toSeq
    println(s"ivf-tree rows: ${time(s"ivf-tree topk ($tCells cells, top 2, coarse 2)")(
      Similarity.ivfTopK(vecs, tCents, 3, nprobe = 1, coarseProbe = 2, topProbe = 2)
        .count())}")
    // the SQ8-compressed index at the 2-level growth config: same
    // cells/search join, 8-bit codes instead of floats — expect time
    // parity with the float form (the join dominates; scoring is one
    // codegen'd fold either way) at ~6.4× less resident index memory
    println(s"ivf-hier-sq8 rows: ${time(s"ivf-hier-sq8 topk ($hCells cells, coarse 2)")(
      Similarity.ivfTopKSq8(vecs, hCents, 3, nprobe = 1, coarseProbe = 2).count())}")
    val planes = vecs.filter(col("vec_id") < nPlanes).orderBy("vec_id")
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
    println(s"lsh rows: ${time(s"lsh topk (${1L << nPlanes} buckets)")(
      Similarity.lshBucketTopK(vecs, planes, 3).count())}")

    // Sampled recall@3 at THIS decade (100 queries vs exact brute force
    // — 100·n dots, cheap at any probed n): the timed nprobe=1 config
    // and a recall config, so the nprobe knob's effect is measured at
    // scale rather than asserted from the small-corpus suite tests.
    // The hash-derived synthetic vectors are near-isotropic — the
    // ADVERSARIAL case for any partitioned ANN (no cluster structure to
    // exploit); real embedding corpora sit far above these floors.
    val exact = Similarity.cosineTopK(vecs, col("vec_id") < 100, 3)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (nprobe, coarseProbe) sweep: BOTH are recall levers — nprobe
    // widens the fine-cell probe list, coarseProbe widens the set of
    // coarse groups those fine cells may come from; on isotropic data
    // fine probing saturates quickly under a narrow coarse beam, so a
    // recall-tuned config raises the two together
    for ((np, cp) <- Seq((1, 2), (4, 2), (4, 8))) {
      val approx = Similarity.ivfTopK(vecs, hCents, 3, nprobe = np, coarseProbe = cp)
        .filter(col("query_id") < 100)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"recall@3 hier-n23 nprobe=$np coarseProbe=$cp (100 queries): ${
        (exact & approx).size / exact.size.toDouble}%.3f")
    }
    for ((np, cp, tp) <- Seq((1, 2, 2), (4, 8, 4))) {
      val approx = Similarity.ivfTopK(vecs, tCents, 3, nprobe = np,
                                      coarseProbe = cp, topProbe = tp)
        .filter(col("query_id") < 100)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"recall@3 tree-n34 nprobe=$np coarseProbe=$cp topProbe=$tp (100 queries): ${
        (exact & approx).size / exact.size.toDouble}%.3f")
    }

    // FRAME-VS-LITERAL serving at plan-scale k (the de-literalization
    // evidence): the literal path ships all k fine centroids through a
    // typedLit → analysis-time fold → task binary, so its cost grows
    // with k on the DRIVER/PLAN side; the frame path's plan holds only
    // the √k coarse literal and joins a k-row frame. Identical descent
    // semantics (parity test-pinned), so any timing gap is pure plan
    // machinery. Both sides get the SAME synthetic grouping, built
    // outside the timers; the literal timer necessarily includes
    // expression construction — that IS the cost being measured.
    // args(3) overrides the probed k (0 skips the section).
    val kProbe = args.drop(3).headOption.map(_.toInt).getOrElse(100000)
    if (kProbe > 0) {
      def synth(cid: Int): Seq[Double] = (0 until dim).map(j =>
        (((cid.toLong * 1315423911L + j * 2654435761L) % 1000 + 1000) % 1000) / 500.0 - 1.0)
      val coarseKP = math.ceil(math.sqrt(kProbe.toDouble)).toInt
      val subK = (kProbe + coarseKP - 1) / coarseKP
      val groupsP = (0 until coarseKP).map(g =>
        (g * subK until math.min((g + 1) * subK, kProbe)).map(c => c -> synth(c)))
        .filter(_.nonEmpty)
      val idxP = Similarity.CoarseIndex(groupsP.indices.map(g => synth(kProbe + g)),
                                        groupsP)
      val nrmC = sqrt(Similarity.dot(col("v"), col("v")))
      println(s"literal-assign rows: ${time(s"literal hier assign (k=$kProbe)")(
        vecs.select(col("vec_id"),
            Similarity.ivfCellsOfHier(col("v"), nrmC, idxP, 1, 2).as("cells"))
          .count())}")
      val framesP = Similarity.framesOf(spark, idxP)
      framesP.fine.count() // index build, outside the serving timer
      println(s"frame-assign rows: ${time(s"frame-join assign (k=$kProbe)")(
        Similarity.ivfCellsJoinFrame(vecs, framesP, 1, 2).count())}")
      // What a local session CANNOT show: the literal quantizer is a
      // reference-passed object in one JVM here, but on a cluster it is
      // the task binary — java-serialized and shipped to EVERY executor
      // (and resident per JVM). Measure that payload directly; the
      // frame path ships only the √k coarse literal and moves the k
      // fine rows as ordinary (columnar, partitioned) shuffle/broadcast
      // data. THIS, plus driver heap for the nested Seq literal, is the
      // ceiling the frame path removes — not local wall-clock, where
      // the in-JVM literal stays cheaper (measured above, by design).
      val q = graft.plans.IvfAssign.Quantizer(
        idxP.coarse.map(_.toArray).toArray,
        idxP.groups.map(_.map(_._2.toArray).toArray).toArray,
        idxP.groups.map(_.map(_._1).toArray).toArray, 1, 2)
      val t0 = System.nanoTime()
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(q); oos.close()
      val serS = (System.nanoTime() - t0) / 1e9
      val coarseBytes = idxP.coarse.size * dim * 8
      println(f"literal task payload (k=$kProbe): ${bos.size / 1048576.0}%.1f MB, " +
              f"serialized in $serS%.2f s (ships per executor); " +
              f"frame-path plan literal: ${coarseBytes / 1024.0}%.1f KB coarse only")
    }

    // SEMANTIC DEDUP end-to-end at this decade (SemDeDup shape): the
    // √n-cell quantizer bounds the within-cell pairwise join at
    // O(n²/cells) = O(n^1.5) — the same candidate-volume arithmetic
    // the IVF search pays, so expect this row to track the flat-ivf
    // row; cluster resolution rides the adaptive union-find (confirmed
    // pairs on isotropic data are sparse). The tau is deliberately
    // high: hash-derived vectors are near-isotropic, so the probe
    // measures the JOIN cost honestly (few pairs survive the confirm),
    // not a degenerate all-pairs cluster.
    println(s"semantic-dedup rows: ${time(s"semanticDedup ($nCells cells, tau 0.9)")(
      Similarity.semanticDedup(vecs, cents, 0.9).filter(col("is_keeper") === 0).count())
      } non-keepers")

    // SEMANTIC DEDUP PAST THE LITERAL CEILING (r11): the frame-backed
    // form at ≥ 10^4 cells — the k ∝ n regime SemDeDup actually runs
    // at (k here would be a ~10 MB plan literal on the deprecated
    // path; the frame path's plan holds only the √k coarse literal).
    // nprobe = 2 adds the straddle mitigation; candidate volume is the
    // explicit nprobe²·n²/k — with k = 10⁴ over these n the join is
    // SMALLER than the √n-cell literal row above, which is the point:
    // growing cells with the corpus is what keeps SemDeDup linear-ish.
    val sdK = math.max(10000, Similarity.ivfCellCount(nVecs, hierarchical = true))
    val sdFrames = Similarity.buildIvfFramesDistributed(vecs, sdK)
    println(s"semantic-dedup-frames rows: ${
      time(s"semanticDedupFrames (k=$sdK, nprobe 2, tau 0.9)")(
        Similarity.semanticDedupFrames(vecs, sdFrames, 0.9, nprobe = 2,
                                       coarseProbe = 2)
          .filter(col("is_keeper") === 0).count())} non-keepers " +
      s"(fine cells: ${sdFrames.fine.count()})")

    // MULTI-PROBE CANDIDATE VOLUME (r12): put the documented
    // nprobe²·n²/k cost model and the straddle-recall gain on the
    // record at this decade. The candidate count is the pre-confirm
    // meet-in-any-probed-cell pair volume (the exact join
    // semanticDedupFrames runs, counted before the cosine filter);
    // the non-keeper counts show nprobe=2 finding ≥ the pairs
    // nprobe=1 finds (recall is monotone in nprobe — boundary pairs
    // fuse, nothing un-fuses).
    for (np <- Seq(1, 2)) {
      val celledP = Similarity.ivfIndexJoin(vecs, sdFrames, np, 2, 1)
      val ap = celledP.select(col("vec_id").as("da"), explode(col("cells")).as("pc"))
      val bp = celledP.select(col("vec_id").as("db"), explode(col("cells")).as("pc"))
      val cand = time(f"  multi-probe candidates (nprobe=$np)")(
        ap.join(bp, Seq("pc")).filter(col("da") < col("db")).count())
      val nk = Similarity.semanticDedupFrames(vecs, sdFrames, 0.9, nprobe = np,
                                              coarseProbe = 2)
        .filter(col("is_keeper") === 0).count()
      println(f"  nprobe=$np: candidates=$cand%,d (model ~ ${
        np.toLong * np * nVecs.toLong * nVecs / (2L * sdK)}%,d) non-keepers=$nk")
    }

    // DRIVER-FREE pipeline at this decade: corpus → trained frames →
    // served index with NO k-sized driver object anywhere (seeded
    // k-means coarse, per-group distributed Lloyd, frame-join
    // assignment). The timer covers the whole build + full-corpus
    // assignment; driver memory stays O(√k) by construction, so the
    // row that matters is that this completes at decades where the
    // literal quantizer would be a multi-GB plan object.
    val kAuto = Similarity.ivfCellCount(nVecs, hierarchical = true)
    val (framesA, idxA) = Similarity.ivfIndexAuto(vecs, nprobe = 1, coarseProbe = 2)
    println(s"auto-index rows: ${time(s"ivfIndexAuto (driver-free, k=$kAuto)")(
      idxA.count())} (fine cells: ${framesA.fine.count()}, " +
      s"coarse literal: ${framesA.coarse.size})")

    // PERCEPTUAL NEAR-DEDUP over the DISTINCT-fingerprint graph (r12):
    // perceptual hashes collide BY DESIGN, so the asset-level banded
    // join squares every popular fingerprint's copy count (measured
    // 15-18 s per modality at just 5k assets before the rewrite). The
    // shipped plan bands/joins/clusters distinct fps — ≤ min(n,
    // 2^width) graph nodes no matter the corpus — and expands to
    // assets by one keyed join + min-doc aggregation, so this row must
    // stay ~linear in n at ANY copy ratio. The synthetic universe is
    // 4096 fp values on a 16-bit width: n/4096 copies each, the
    // heavy-collision regime that melted the doc-level form.
    {
      val fps = spark.range(nDocs.toLong).select(
        col("id").as("doc_id"),
        pmod(hash(col("id") * 97), lit(4096)).cast("long").as("fp")).cache()
      fps.count()
      println(s"near-dedup assets: ${
        time(f"perceptual near-dedup (n=$nDocs%d, |fp|<=4096, h=2)")(
          graft.pipeline.Multimodal.perceptualNearDedup(fps, widthBits = 16,
                                                        maxHamming = 2)
            .filter(col("is_keeper") === 0).count())} non-keepers " +
        s"(distinct fps: ${fps.select(col("fp")).distinct().count()})")
      fps.unpersist()
    }

    // ORACLE-REPLAYABLE K-MEANS at this decade (r12): integer-grid
    // Lloyd — per iteration one zero-shuffle native assignment pass +
    // one keyed (cell, coord) aggregation whose output is k·dim longs;
    // driver state stays hyperparameter-sized, so the decade cost must
    // track the assignment scan ~linearly in n.
    {
      val kmVecs = spark.range(nVecs.toLong).select(
        col("id").as("vec_id"),
        array((0 until 16).map(j =>
          (pmod(hash(col("id") * 31 + j), lit(2001)) - 1000)
            .cast("double")): _*).as("v")).cache()
      kmVecs.count()
      val kmC = time(s"kmeansCentroids (k=64, 2 iters, n=$nVecs)")(
        Similarity.kmeansCentroids(kmVecs, 64, 2))
      println(s"    driver state: ${kmC.size} centroids x ${kmC.head._2.size} coords")
      println(s"    assigned rows: ${time("kmeansAssign full pass")(
        Similarity.kmeansAssign(kmVecs, kmC).count())}")
      kmVecs.unpersist()
    }
    spark.stop()
  }
}

/** Standalone decade probe for the DRIVER-FREE index build: corpus →
  * [[graft.pipeline.Similarity.ivfIndexAuto]] at sizes where the rest
  * of ScaleProbe's ANN suite would dominate the wall-clock. Usage:
  * runMain graft.ScaleProbeAuto [nVecs] [k0] — k0 = 0 uses the 2-level
  * growth rule; pass the tree rule's n^(3/4) (≈ 70k at 2.5M vecs) to
  * exercise the regime the distributed trainer exists for. */
object ScaleProbeAuto {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toInt).getOrElse(2500000)
    val k0 = args.drop(1).headOption.map(_.toInt).getOrElse(0)
    val spark = GraftSession()
    val dim = 16
    val vecs = spark.range(nVecs.toLong).select(
      col("id").as("vec_id"),
      array((0 until dim).map(j =>
        (pmod(hash(col("id") * 131 + j), lit(1000)).cast("double") / 500.0 - 1.0)): _*).as("v"))
      .cache()
    vecs.count()
    val k = if (k0 > 0) k0 else Similarity.ivfCellCount(nVecs, hierarchical = true)
    val t0 = System.nanoTime()
    val (frames, idx) = Similarity.ivfIndexAuto(vecs, k0 = k, nprobe = 1, coarseProbe = 2)
    val rows = idx.count()
    println(f"ivfIndexAuto n=$nVecs k=$k: ${(System.nanoTime() - t0) / 1e9}%.1f s, " +
            s"$rows rows indexed, ${frames.fine.count()} fine cells, " +
            s"${frames.coarse.size} coarse (driver-held) centers")
    spark.stop()
  }
}

/** Standalone decade probe for the r12 sampling/selection tier:
  *  - [[graft.pipeline.TextAnalysis.sourceQuotaCap]] on a DELIBERATELY
  *    skewed corpus (one domain owns 90% of documents): the two-phase
  *    sharded top-q vs the naive single-window rank — the probe that
  *    shows why the mega-domain window partition must not exist;
  *  - [[graft.pipeline.TextAnalysis.perplexityBuckets]]' score-grid
  *    rank vs its single-window form under one corpus-sized language;
  *  - [[graft.pipeline.TextAnalysis.dsirScoreServe]] per-row serving
  *    cost across the decade (expected ~linear rows/s, no shuffle).
  * Usage: runMain graft.ScaleProbeSampling [nDocs]
  */
object ScaleProbeSampling {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(200000)
    val spark = GraftSession()
    import graft.pipeline.TextAnalysis
    import org.apache.spark.sql.expressions.Window

    // 90% of docs in domain d0; 30-word texts over a scaling vocabulary
    val vocab = math.max(2000, nDocs / 25)
    val docs = spark.range(nDocs.toLong).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(10)) < 9, lit("d0"))
        .otherwise(concat(lit("d"), pmod(col("id"), lit(97)))).as("source"),
      lit("en").as("lang"),
      concat_ws(" ", (0 until 30).map(j =>
        concat(lit("w"), pmod(hash(col("id") * 37 + j), lit(vocab)))): _*).as("text"))
      .cache()
    time("docs materialize")(docs.count())

    val capped = time(s"sourceQuotaCap two-phase (q=100, skew 90%)")(
      TextAnalysis.sourceQuotaCap(docs, "doc_id", "text", "source", 100).count())
    println(s"  kept rows: $capped")
    time("sourceQuotaCap NAIVE single-window") {
      val scored = docs.select(col("doc_id"), col("source"))
        .join(TextAnalysis.qualityScore(docs, "doc_id", "text")
                .select(col("doc_id"), col("quality_score")), Seq("doc_id"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("quality_score").desc, col("doc_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 100).count()
    }

    time("perplexityBuckets grid rank (1 lang = whole corpus)")(
      TextAnalysis.perplexityBuckets(docs, "doc_id", "text", "lang").count())

    val scores = TextAnalysis.dsirBucketScores(docs.limit(20000), "doc_id",
        "text", pmod(col("doc_id"), lit(2)) === 0)
      .collect().map(r => r.getAs[Long]("b") -> r.getAs[Long]("d_e3")).toMap
    val table = (0L until 1024L).map(b => scores.getOrElse(b, 0L))
    time("dsirScoreServe per-row serving, full corpus")(
      TextAnalysis.dsirScoreServe(docs, "doc_id", "text", table).count())

    spark.stop()
  }
}

/** Dev utility: decade probe for the round-12 containment-dedup bound
  * prune and the Zipf grid-rank decomposition.
  * Synthesizes nDocs 40-word docs over a corpus-scaled vocabulary with
  * every 20th doc a 12-word PREFIX of its predecessor (true containment
  * 1.0 — the regime the operator exists for), then reports the stage
  * volumes the COVERAGE claims cite: inverted-index candidate pairs,
  * bound-prune survivors, final pairs, wall time — plus the distinct
  * frequency-value count backing zipfFit's O(√Σc) grid claim.
  * Usage: runMain graft.ScaleProbeContainment [nDocs] */
object ScaleProbeContainment {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(50000)
    val spark = GraftSession()

    val vocab = math.max(2000, nDocs / 25)
    println(s"config: nDocs=$nDocs vocab=$vocab")
    def word(idExpr: org.apache.spark.sql.Column, j: Int) =
      concat(lit("w"), pmod(hash(idExpr * 37 + j), lit(vocab)))
    val docs = spark.range(nDocs.toLong).select(
      col("id").as("doc_id"),
      when(col("id") % 20 === 0 && col("id") > 0,
        concat_ws(" ", (0 until 12).map(j => word(col("id") - 1, j)): _*))
      .otherwise(
        concat_ws(" ", (0 until 40).map(j => word(col("id"), j)): _*))
      .as("text")).cache()
    time("docs materialize")(docs.count())

    // end-to-end operator timing (the registry path)
    val out = time("containmentPairs end-to-end")(
      TextDedup.containmentPairs(docs, "doc_id", "text",
                                 tau = 0.8, n = 3, maxDf = 64).count())
    println(s"  final directed pairs: $out")

    // stage volumes, mirroring the operator's internals
    val sh = graft.queries.cacheOnce(
      TextDedup.ngramShingles(docs, "doc_id", "text", 3))
    val dfreq = sh.groupBy(col("bg")).agg(count(lit(1)).as("df"))
    val rare = sh.join(dfreq.filter(col("df") <= 64), Seq("bg"))
      .select(col("id"), col("bg"))
    val candRare = rare.select(col("id").as("da"), col("bg"))
      .join(rare.select(col("id").as("db"), col("bg")), Seq("bg"))
      .filter(col("da") =!= col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("i_rare"))
    val nCand = time("candidate pairs (inverted index)")(candRare.count())
    val counts = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val rareCounts = rare.groupBy(col("id")).agg(count(lit(1)).as("n_rare"))
    val docStats = counts.join(rareCounts, Seq("id"), "left")
      .select(col("id"), col("n_sh"),
              (col("n_sh") - coalesce(col("n_rare"), lit(0L))).as("n_capped"))
    val nBounded = time("bound-prune survivors")(candRare
      .join(docStats.select(col("id").as("da"), col("n_sh").as("n_contained"),
                            col("n_capped").as("cap_a")), Seq("da"))
      .join(docStats.select(col("id").as("db"), col("n_sh").as("n_container"),
                            col("n_capped").as("cap_b")), Seq("db"))
      .filter(least(col("i_rare") + least(col("cap_a"), col("cap_b")),
                    least(col("n_contained"), col("n_container")))
                >= lit(0.8 - 1e-6) * col("n_contained"))
      .count())
    println(s"  candidates=$nCand survivors=$nBounded " +
      f"(${100.0 * nBounded / math.max(1, nCand)}%.3f%% reach confirm)")

    // Zipf grid claim: distinct frequency VALUES vs vocabulary size
    val freq = docs.select(explode(split(trim(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "").groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val nTypes = freq.count()
    val nFreqVals = freq.select(col("c")).distinct().count()
    println(s"  zipf grid: n_types=$nTypes distinct_freq_values=$nFreqVals")

    spark.stop()
  }
}

/** Decade probe for the winnowing clone tier: fingerprint density, the
  * stop-fingerprint df cutoff's effect on candidate volume, and the
  * edit-confirm survivor funnel — measured at two corpus sizes to
  * separate linear stages from super-linear ones. */
object ScaleProbeWinnow {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(20000)
    val spark = GraftSession()

    val vocab = math.max(2000, nDocs / 25)
    println(s"config: nDocs=$nDocs vocab=$vocab")
    def word(idExpr: org.apache.spark.sql.Column, j: Int) =
      concat(lit("w"), pmod(hash(idExpr * 37 + j), lit(vocab)))
    // every 20th doc clones its predecessor with a one-word edit —
    // the planted near-dup population the clone tier must find
    val docs = spark.range(nDocs.toLong).select(
      col("id").as("doc_id"),
      when(col("id") % 20 === 0 && col("id") > 0,
        concat_ws(" ", (0 until 39).map(j => word(col("id") - 1, j)) :+
                       lit("edited"): _*))
      .otherwise(
        concat_ws(" ", (0 until 40).map(j => word(col("id"), j)): _*))
      .as("text")).cache()
    time("docs materialize")(docs.count())

    val fps = graft.queries.cacheOnce(
      TextDedup.winnowFingerprints(docs, "doc_id", "text"))
    val nFps = time("winnow fingerprints (k=8, w=16)")(fps.count())
    println(f"  fps/doc = ${nFps.toDouble / nDocs}%.1f " +
      f"(density ${nFps.toDouble / nDocs / 233}%.3f of grams; theory 2/(w+1)=0.118)")

    val dfreq = fps.select(col("doc_id"), col("fp_hash")).distinct()
      .groupBy(col("fp_hash")).agg(count(lit(1)).as("df"))
    for (cap <- Seq(4, 20, 1 << 30)) {
      val kept = dfreq.filter(col("df") <= cap)
      val candVol =
        kept.agg(sum((col("df") * (col("df") - 1)).cast("long"))).first().getLong(0) / 2
      println(s"  df<=$cap: hashes kept=${kept.count()} candidate pair volume=$candVol")
    }

    val pairs = time("winnowClonePairs end-to-end (df<=20)")(
      TextDedup.winnowClonePairs(docs, "doc_id", "text").count())
    // minSim 0.8: this corpus's shared vocabulary makes unrelated docs
    // ~0.5 char-similar, so the default 0.4 would confirm everything —
    // the tight threshold shows the verifier separating planted clones
    val confirmed = time("editConfirmedClones end-to-end (minSim=0.8)")(
      TextDedup.editConfirmedClones(docs, "doc_id", "text", minSim = 0.8).count())
    println(s"  candidate pairs=$pairs edit-confirmed=$confirmed " +
      s"(planted=${nDocs / 20 - 1})")

    spark.stop()
  }
}

/** Dev utility: decade probe for the round-12 graph tier.
  * Synthesizes a co-occurrence-shaped directed graph (constant average
  * degree, so edges scale with nodes — the regime where per-iteration
  * cost must track EDGES, not nodes²) and reports:
  *  - [[graft.graphs.PageRank.pageRank]] wall time per iteration at two
  *    node decades (packed-adjacency form: node-sized join + explode
  *    projection + keyed sum per iteration);
  *  - teleport-mass conservation (Σ rank ≈ n·1e6 — the integer-grid
  *    invariant truncation can only leak DOWN from);
  *  - [[graft.pipeline.CorpusSketch.hllRollingDistinct]] at two corpus
  *    decades under constant days: register rows stay days×1024 while
  *    the scan grows — the window/estimate stage must stay flat.
  * Usage: runMain graft.ScaleProbeGraph [nodes] [avgDeg] [rows]
  */
object ScaleProbeGraph {
  def main(args: Array[String]): Unit = {
    val nodes0 = args.headOption.map(_.toInt).getOrElse(20000)
    val avgDeg = args.drop(1).headOption.map(_.toInt).getOrElse(60)
    val rows0 = args.drop(2).headOption.map(_.toInt).getOrElse(500000)
    val spark = GraftSession()
    for (n <- Seq(nodes0, nodes0 * 10)) {
      // deterministic pseudo-random edges: avgDeg per source node
      val edges = spark.range(n.toLong * avgDeg).select(
        (col("id") % n).as("src"),
        pmod(hash(col("id") * 2654435761L), lit(n)).cast("long").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      val ne = edges.count()
      val t0 = System.nanoTime()
      val ranks = graft.graphs.PageRank.pageRank(edges, "src", "dst", 5)
      val agg = ranks.agg(count(lit(1)), sum(col("rank_e6"))).first()
      val total = (System.nanoTime() - t0) / 1e9
      val (nn, mass) = (agg.getLong(0), agg.getLong(1))
      println(f"pagerank n=$n%,d edges=$ne%,d: $total%.2f s total, " +
        f"${total / 5}%.2f s/iteration, mass=${mass / 1e6}%.0f vs n=$nn%,d " +
        f"(leak ${100.0 * (nn * 1000000L - mass) / (nn * 1000000.0)}%.2f%%)")
    }

    for (rows <- Seq(rows0, rows0 * 10)) {
      val days = 30
      val ev = spark.range(rows.toLong).select(
        date_add(to_date(lit("2024-01-01")), (col("id") % days).cast("int")).as("d"),
        pmod(hash(col("id") * 31L), lit(rows / 10)).cast("long").as("user_id"))
      time(f"hllRollingDistinct rows=$rows%,d days=$days w=7")(
        graft.pipeline.CorpusSketch
          .hllRollingDistinct(ev, "d", "user_id", windowDays = 7).count())
    }

    spark.stop()
  }
}

/** Decade probe for the round-12 stats/graph additions: k-core
  * peeling (cost should track the SHRINKING edge list, not rounds ×
  * original edges), exact sliding-window distinct (cost linear in
  * presence rows — the whole point of the gaps-and-islands
  * decomposition vs the w-way window self-join), and the KS test
  * (cost tracks the value GRID, so a bounded value domain keeps the
  * corpus decade near-flat in the window stage).
  * Usage: runMain graft.ScaleProbeStats [nodes] [rows] */
object ScaleProbeStats {
  def main(args: Array[String]): Unit = {
    val nodes0 = args.headOption.map(_.toInt).getOrElse(20000)
    val rows0 = args.drop(1).headOption.map(_.toInt).getOrElse(500000)
    val spark = GraftSession()
    for (n <- Seq(nodes0, nodes0 * 10)) {
      val avgDeg = 60
      val edges = spark.range(n.toLong * avgDeg).select(
        (col("id") % n).as("src"),
        pmod(hash(col("id") * 2654435761L), lit(n)).cast("long").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      val ne = edges.count()
      time(f"kCore k=32 peels=4 n=$n%,d edges=$ne%,d")(
        graft.graphs.KCore.kCore(edges, "src", "dst", k = 32, peels = 4)
          .count())
    }

    for (rows <- Seq(rows0, rows0 * 10)) {
      val days = 120
      val ev = spark.range(rows.toLong).select(
        (col("id") % 5L).as("k"),
        date_add(to_date(lit("2024-01-01")),
          pmod(hash(col("id") * 7L), lit(days)).cast("int")).as("d"),
        pmod(hash(col("id") * 31L), lit(rows / 50)).cast("long").as("u"))
      time(f"slidingDistinct rows=$rows%,d days=$days w=7")(
        graft.ts.SeriesOps.slidingDistinct(ev, "k", "d", "u", windowDays = 7)
          .count())
    }

    for (rows <- Seq(rows0, rows0 * 10)) {
      // bounded value domain (10k grid cells per group): the corpus
      // decade should pay only the first keyed aggregate, the grid
      // windows stay constant-size
      val obs = spark.range(rows.toLong).select(
        (col("id") % 5L).as("grp"),
        (col("id") % 2L).as("arm"),
        pmod(hash(col("id") * 13L), lit(10000)).cast("long").as("v"))
      time(f"ksTest rows=$rows%,d grid=10k groups=5")(
        graft.stats.Hypothesis.ksTest(obs, "grp", "arm", "v").count())
    }

    // r13: the distributed grid prefix across a distinct-value decade —
    // the path that replaced the single-task Window.orderBy in
    // exactNtile / quantileNormalize / kaplanMeier. EVERY value
    // distinct (the cents-valued-metric worst case the r12 verdict
    // flagged); cost should track the grid ~linearly with no
    // unpartitioned sort anywhere
    for (nVals <- Seq(2000000L, 20000000L)) {
      val grid = spark.range(nVals).select(
        col("id").as("v"),
        (pmod(hash(col("id")), lit(5)) + 1).cast("long").as("c"))
      time(f"GridPrefix.prefixSums distinct-values=$nVals%,d")(
        graft.scale.GridPrefix.prefixSums(grid, "v", "c")
          .agg(max(col("cum"))).collect())
    }

    // r13: the GROUP-KEYED twin across a decade, with ONE group owning
    // ~all distinct values (the wide-group worst case that a
    // Window.partitionBy(group) would sort in a single task) plus many
    // narrow groups riding along in the same pass
    for (nVals <- Seq(2000000L, 20000000L)) {
      val grid = spark.range(nVals).select(
        when(col("id") % 100L === 0L,
          concat(lit("narrow_"), (col("id") % 7L).cast("string")))
          .otherwise(lit("wide")).as("g"),
        col("id").as("v"),
        (pmod(hash(col("id")), lit(5)) + 1).cast("long").as("c"))
      time(f"GridPrefix.groupedPrefixSums wide-group vals=$nVals%,d")(
        graft.scale.GridPrefix.groupedPrefixSums(grid, "g", "v", Seq("c"))
          .agg(max(col("cum_c"))).collect())
    }

    // r15: the Anderson–Darling dense (group × grid) frame across a
    // grid decade — q331's documented k·L claim measured. Every row a
    // distinct value (worst case: dense frame = k·L cells, two grid
    // prefixes, decimal(38) cell arithmetic); a 10× grid should cost
    // ~10×, not k²· or L²·anything
    for (rows <- Seq(200000L, 2000000L)) {
      val obs = spark.range(rows).select(
        (col("id") % 5L + 1L).as("grp"),
        // id is unique → every value distinct (grid L = rows)
        col("id").as("v"))
      time(f"andersonDarlingK rows=$rows%,d grid=L=rows k=5")(
        graft.stats.Hypothesis.andersonDarlingK(obs, "grp", "v").count())
    }

    // r16: Cramér–von Mises across a grid decade — every value
    // distinct (worst case: per-group grid ≈ rows/5), closed-form
    // tie-block squares over one grouped prefix; a 10× grid should
    // cost ~10×
    for (rows <- Seq(200000L, 2000000L)) {
      val obs = spark.range(rows).select(
        (col("id") % 5L + 1L).as("grp"),
        (col("id") % 2L).as("arm"),
        col("id").as("v"))
      time(f"cramerVonMises rows=$rows%,d grid=L=rows k=5")(
        graft.stats.Hypothesis.cramerVonMises(obs, "grp", "arm", "v")
          .count())
    }

    // r16: Hodges–Lehmann across a GROUP decade at the documented
    // bounded-grid contract (fixed 100×100 value grids per group —
    // the calendar-bucketed shape); cost should track groups
    // linearly, the per-group cross staying constant
    for (groups <- Seq(1000L, 10000L)) {
      val obs = spark.range(groups * 200L).select(
        (col("id") % groups).as("grp"),
        (col("id") % 2L).as("arm"),
        pmod(hash(col("id") * 17L), lit(100)).cast("long").as("v"))
      time(f"hodgesLehmannShift groups=$groups%,d grid=100x100")(
        graft.stats.Hypothesis.hodgesLehmannShift(obs, "grp", "arm", "v")
          .count())
    }

    spark.stop()
  }
}

/** Round-13 probe: BPE training at production merge counts.
  *  - [[graft.pipeline.Bpe.bpeTrainBatched]] driven to ≥64 merges
  *    (the r11/r12 "done" criterion's missing measurement): per-MERGE
  *    cost should fall ~batchSize-fold vs the sequential trainer and
  *    stay near-constant as the pass count grows;
  * (The incremental-trainer comparison this probe also ran in
  * r13/r14 was removed in r15 with the trainer itself — the batched
  * recount won every training regime; see ScaleProbeBpeAppend for
  * the append-ingestion measurement.)
  * The synthetic corpus is a Zipf-ish mix over a fixed word alphabet
  * with long words, so merges keep finding support deep into the run.
  * Usage: runMain graft.ScaleProbeBpe [nDocs] [passes] [batch] [nWords]
  */
/** APPEND-REGIME probe (VERDICT r14 next-#5): the r14 crossover
  * verdict left the incremental machinery scoped to append ingestion
  * — "the delta is the CORPUS batch, not the merge" — but that claim
  * was never measured either. This probe settles it: train once,
  * build ingestion state, then APPEND a small doc batch two ways —
  *  - [[graft.pipeline.Bpe.bpeIngestAppend]]: maintained tables,
  *    only the batch's new word types are ever segmented;
  *  - [[graft.pipeline.Bpe.bpeIngestState]] over corpus ∪ batch: the
  *    full recount (re-encode every word type + corpus window).
  * Equality of the resulting pair-count tables is asserted (the
  * BpeSpec append-parity contract at probe scale).
  * Usage: runMain graft.ScaleProbeBpeAppend [nDocs] [batchPct] [nWords]
  */
object ScaleProbeBpeAppend {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(200000)
    val batchPct = args.drop(1).headOption.map(_.toInt).getOrElse(2)
    val nWords = args.drop(2).headOption.map(_.toInt).getOrElse(50000)
    val spark = GraftSession()
    // same deterministic corpus family as ScaleProbeBpe; the batch
    // is EXTRA doc ids past the corpus (new mix of mostly-known word
    // types + the alphabet's unseen tail)
    def mkCorpus(fromDoc: Long, toDoc: Long) = {
      val letters = "etaoinshrdlu"
      val wordTbl = spark.range(nWords.toLong).select(
        col("id").as("wid"),
        concat((0 until 14).map { c =>
          when(lit(c) < pmod(hash(col("id") * 131), lit(9)) + 6,
               substring(lit(letters),
                         (pmod(hash(col("id") * 17 + c * 3), lit(12)) + 1).cast("int"),
                         lit(1)))
            .otherwise(lit(""))
        }: _*).as("word"))
      spark.range(fromDoc * 12, toDoc * 12).select(
        (col("id") / 12).cast("long").as("doc_id"),
        pmod(col("id"), lit(12)).as("p"),
        pmod(hash(col("id") * 31).cast("long") *
               (pmod(hash(col("id") + 7), lit(64)).cast("long") + 1L),
             lit(nWords.toLong)).as("wid"))
        .join(broadcast(wordTbl), Seq("wid"))
        .groupBy(col("doc_id"))
        .agg(array_join(transform(array_sort(collect_list(
               struct(col("p"), col("word")))), s => s.getField("word")), " ")
             .as("text"))
        .cache()
    }
    val corpus = mkCorpus(0L, nDocs.toLong); corpus.count()
    val nBatch = nDocs.toLong * batchPct / 100
    val batch = mkCorpus(nDocs.toLong, nDocs.toLong + nBatch); batch.count()

    val merges = time(f"train (batched, 12 passes x 8) docs=$nDocs%,d")(
      graft.pipeline.Bpe.bpeTrainBatched(corpus, "doc_id", "text",
        nPasses = 12, batchSize = 8, minPairFreq = 2L))
    val st0 = time("bpeIngestState (initial, corpus only)")(
      { val s = graft.pipeline.Bpe.bpeIngestState(corpus, "doc_id", "text",
          merges); s.pairCounts.count(); s })
    val app = time(f"APPEND path: bpeIngestAppend batch=$nBatch%,d docs ($batchPct%%)")(
      { val s = graft.pipeline.Bpe.bpeIngestAppend(st0, batch, "doc_id",
          "text"); s.pairCounts.count(); s })
    val rec = time(f"RECOUNT path: bpeIngestState corpus+batch")(
      { val s = graft.pipeline.Bpe.bpeIngestState(
          corpus.unionByName(batch), "doc_id", "text", merges)
        s.pairCounts.count(); s })
    val diff = app.pairCounts.unionByName(
        rec.pairCounts.select(col("l"), col("r"), (-col("cnt")).as("cnt")))
      .groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("d"))
      .filter(col("d") =!= 0L).count()
    println(s"  pair-count tables differ in $diff cells (must be 0)")
    st0.release(); app.release(); rec.release()
    spark.stop()
  }
}

object ScaleProbeBpe {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(100000)
    val passes = args.drop(1).headOption.map(_.toInt).getOrElse(16)
    val batch = args.drop(2).headOption.map(_.toInt).getOrElse(8)
    val nWords = args.drop(3).headOption.map(_.toInt).getOrElse(4000)
    val spark = GraftSession()

    // deterministic corpus: 12 words/doc drawn zipf-ish from a 4000-word
    // alphabet of 6-14 char words built from 12 letters — enough shared
    // substructure that hundreds of merges have frequency support. The
    // word dimension is built separately (4000 rows) and joined in, so
    // the per-doc expression stays codegen-sized.
    val letters = "etaoinshrdlu"
    val wordTbl = spark.range(nWords.toLong).select(
      col("id").as("wid"),
      concat((0 until 14).map { c =>
        when(lit(c) < pmod(hash(col("id") * 131), lit(9)) + 6,
             substring(lit(letters),
                       (pmod(hash(col("id") * 17 + c * 3), lit(12)) + 1).cast("int"),
                       lit(1)))
          .otherwise(lit(""))
      }: _*).as("word"))
    val corpus = spark.range(nDocs.toLong * 12).select(
      (col("id") / 12).cast("long").as("doc_id"),
      pmod(col("id"), lit(12)).as("p"),
      pmod(hash(col("id") * 31).cast("long") *
             (pmod(hash(col("id") + 7), lit(64)).cast("long") + 1L),
           lit(nWords.toLong)).as("wid"))
      .join(broadcast(wordTbl), Seq("wid"))
      .groupBy(col("doc_id"))
      .agg(array_join(transform(array_sort(collect_list(
             struct(col("p"), col("word")))), s => s.getField("word")), " ")
           .as("text"))
      .cache()
    corpus.count()

    val log = (name: String) => (p: Int, nRules: Int, sec: Double) =>
      println(f"  $name pass $p%2d: $nRules%4d rules total, $sec%6.1f s")
    val st1 = time(f"bpeTrainBatched docs=$nDocs%,d passes=$passes batch=$batch")(
      graft.pipeline.Bpe.bpeTrainBatchedState(corpus, "doc_id", "text",
        nPasses = passes, batchSize = batch, minPairFreq = 2L,
        onPass = log("batched")))
    val nM = st1.merges.count()
    st1.wordSegs.unpersist()
    println(s"  -> $nM merges learned")

    // (incremental-trainer half removed in r15 with the trainer —
    // the append regime is measured by ScaleProbeBpeAppend above)
    spark.stop()
  }
}
