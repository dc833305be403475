package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (north-star ops; SURVEY §7.4).
  *
  * Two paths, same output shape:
  *  - [[cosineTopK]]: exact brute force — broadcast the (small) query
  *    set against the full corpus; O(|Q|·n), the correctness baseline.
  *  - [[lshBucketTopK]]: random-hyperplane LSH — bucket every vector by
  *    the sign pattern of `nPlanes` projections, then search only within
  *    buckets. The pair generation is a hash-join on the bucket key, so
  *    cost is O(Σ bucket²) ≈ n²/2^planes — the 100 TB path (more planes
  *    or multi-probe as n grows).
  *
  * The dot product is [[graft.plans.VecDot]], a native Catalyst
  * expression with a tight codegen'd loop — measured several× faster
  * than the `aggregate(zip_with(...))` higher-order form (HOFs are
  * CodegenFallback: one interpreted lambda call per element). Same
  * sequential summation order, so results match the DuckDB oracle's
  * `list_sum(list_transform(...))` bit-for-bit.
  */
object Similarity extends org.apache.spark.internal.Logging {

  /** Sequential-fold dot product over array<double> columns (native
    * expression [[graft.plans.VecDot]]). */
  def dot(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Norms are precomputed once per vector (not once per PAIR — at n
    * vectors × q queries that's 2/3 of all flops saved); the cosine per
    * pair is then one dot product and one division. `sqrt(dot(v,v))`
    * yields bit-identical values either way, so oracles are unaffected. */
  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Exact top-k cosine neighbors for each query vector. `emb` needs
    * (vec_id, v: array<double>); queries are `emb` rows matching
    * `queryPred`. */
  def cosineTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val normed = withNorm(emb)
    val q = normed.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val joined = broadcast(q).crossJoin(normed.select(col("vec_id"), col("v"), col("nrm")))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** MATRYOSHKA truncation evaluation — how much top-k quality
    * survives serving only the first `dims` embedding components
    * (MRL-style nested representations: the production question
    * behind every "can we serve at d=16 instead of 64" memory/latency
    * trade). For each query and each prefix length, the truncated
    * top-k is recomputed EXACTLY ([[cosineTopK]] semantics over the
    * sliced vectors) and compared with the full-dimension top-k:
    * one row per (query_id, dims) with the overlap count — k·|dims|
    * integers per query, the whole readout broadcastable.
    *
    * Scale shape: one [[cosineTopK]] scan per rung (query-side
    * broadcast × corpus scan — the established exact-tier shape);
    * overlap via a (query, neighbor)-keyed semi join; no new
    * machinery. */
  def matryoshkaEval(emb: DataFrame, queryPred: Column, k: Int,
                     prefixDims: Seq[Int]): DataFrame = {
    require(prefixDims.nonEmpty && prefixDims.forall(_ >= 1),
            "prefixDims must be positive")
    val full = graft.queries.cacheOnce(
      cosineTopK(emb, queryPred, k)
        .select(col("query_id"), col("neighbor_id")))
    val qs = full.select(col("query_id")).distinct()
    prefixDims.map { d =>
      val truncated = emb.select(col("vec_id"),
        slice(col("v"), 1, d).as("v"))
      val top = cosineTopK(truncated, queryPred, k)
        .select(col("query_id"), col("neighbor_id"))
      val hits = top
        .join(full, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_overlap"))
      // zero-overlap queries keep a row — a rung that loses a query
      // ENTIRELY is the headline finding, not a dropped row
      qs.join(hits, Seq("query_id"), "left")
        .select(col("query_id"), lit(d.toLong).as("dims"),
                coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
    }.reduce(_.unionByName(_))
  }

  /** SQ8-compressed exact-scan top-k: [[cosineTopK]] over an index
    * that holds ONLY the 8-bit codes (+ per-vector range params) — the
    * memory rung of the ANN family (see [[graft.plans.Sq8Encode]]:
    * ~6.4× smaller than the float64 index, no trained codebook, pure
    * per-row arithmetic). The scan encodes once into a cached index;
    * scoring reconstructs on the fly inside one codegen'd fold
    * ([[graft.plans.Sq8Dot]]) — the original float column is never
    * touched again after encode, which is the point: at corpus scale
    * the codes fit where the floats spill. Cosine of reconstructions ≈
    * cosine of originals to ~1e-2 at 8 bits over zero-mean data
    * (recall parity is test-pinned; q79 hash-checks the whole
    * encode→reconstruct→score→rank path against SQL).
    * `queryPred` must reference `vec_id` (the float column is gone
    * from the index). Composes with IVF: partition by cell first, then
    * sq8-score within cells — the search-join shape is orthogonal to
    * how vectors are stored. */
  def sq8TopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val enc = graft.queries.cacheOnce(
      emb.select(col("vec_id"), call_function("sq8_encode", col("v")).as("q8"))
        .withColumn("nrm", sqrt(call_function("sq8_dot", col("q8"), col("q8")))))
    val q = enc.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("q8").as("qq8"), col("nrm").as("qn"))
    val joined = broadcast(q).crossJoin(enc.select(col("vec_id"), col("q8"), col("nrm")))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              round(call_function("sq8_dot", col("qq8"), col("q8")) /
                    (col("qn") * col("nrm")), 4).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Train PQ codebooks ([[graft.plans.PqOps]]): per subspace, seeded
    * Spark ML k-means over the corpus' sub-vector slices. The result
    * is ksub·dim doubles (~128 KB at dim 64 / ksub 256) — plan-literal
    * and driver safe at ANY corpus size, which is what makes PQ the
    * rung past SQ8: the training is data-adaptive but the artifact
    * stays tiny. `m` must tile the dimension exactly. */
  def trainPqCodebooks(emb: DataFrame, m: Int, ksub: Int,
                       seed: Long = 42L): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && ksub >= 1 && ksub <= 256, s"pq m=$m ksub=$ksub")
    val dim = emb.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"m=$m must divide the dimension $dim")
    val dsub = dim / m
    (0 until m).map { s =>
      val sub = emb.select(slice(col("v"), s * dsub + 1, dsub).as("v"))
      trainCentroids(sub, ksub, seed + s).map(_._2)
    }
  }

  /** PQ-compressed exact-scan top-k — [[sq8TopK]]'s shape over `m`-byte
    * product-quantization codes (~64× smaller than float64 at dim 64 /
    * m 8 vs SQ8's 6.4×). Scoring is the symmetric table form
    * ([[graft.plans.PqDot]]); `nrm` is the reconstruction's norm so
    * cosines are internally consistent, and the float column is gone
    * from the index after encode. `codebooks` come from
    * [[trainPqCodebooks]] (production) or a fixed sample (the q89
    * oracle replays the fixed-codebook form in SQL). */
  def pqTopK(emb: DataFrame, queryPred: Column, k: Int,
             codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val cbLit = typedLit(codebooks)
    val enc = graft.queries.cacheOnce(
      emb.select(col("vec_id"),
                 call_function("pq_encode", col("v"), cbLit).as("pqc"))
        .withColumn("nrm", sqrt(call_function("pq_dot", col("pqc"), col("pqc"), cbLit))))
    val q = enc.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("pqc").as("qpq"), col("nrm").as("qn"))
    val joined = broadcast(q).crossJoin(enc.select(col("vec_id"), col("pqc"), col("nrm")))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              round(call_function("pq_dot", col("qpq"), col("pqc"), cbLit) /
                    (col("qn") * col("nrm")), 4).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** PQ-compressed IVF index — [[ivfIndexSq8]] with the codes swapped
    * for PQ: cell assignment still runs on the exact floats (partition
    * quality unchanged), the cache holds (m-byte code, cells, norm). */
  def ivfIndexPq(emb: DataFrame, centroids: Seq[(Int, Seq[Double])],
                 codebooks: Seq[Seq[Seq[Double]]], nprobe: Int = 1,
                 coarseProbe: Int = 0, topProbe: Int = 0): DataFrame = {
    require(centroids.nonEmpty, "ivfIndexPq needs at least one centroid")
    val cbLit = typedLit(codebooks)
    val probeCells = probeCellsFor(centroids, nprobe, coarseProbe, topProbe)
    graft.queries.cacheOnce(withNorm(emb).select(
      col("vec_id"), call_function("pq_encode", col("v"), cbLit).as("pqc"),
      element_at(probeCells, 1).as("cell"),
      probeCells.as("cells"))
      .withColumn("nrm", sqrt(call_function("pq_dot", col("pqc"), col("pqc"), cbLit))))
  }

  /** Shared PQ search tail (probe explode → home-cell hash join →
    * symmetric-table score → per-query rank) — one definition for the
    * literal and frame index paths, mirroring [[searchTopK]]. */
  private def searchTopKPq(celled: DataFrame, cbLit: Column, k: Int): DataFrame = {
    val a = celled.select(
        col("vec_id").as("query_id"), col("pqc").as("qpq"), col("nrm").as("qn"),
        explode(col("cells")).as("cell"))
    val b = celled.select(col("vec_id").as("neighbor_id"), col("pqc"), col("nrm"),
                          col("cell"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cell"),
              round(call_function("pq_dot", col("qpq"), col("pqc"), cbLit) /
                    (col("qn") * col("nrm")), 4).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** [[ivfTopK]] over the PQ-compressed index (IVF-PQ — the FAISS
    * IVFPQ composition): identical candidate generation to the float
    * and SQ8 forms (same cells, assigned on exact floats), scores from
    * the symmetric code tables. Recall-vs-float parity on clustered
    * data and the ~64× memory ratio are test-pinned. */
  def ivfTopKPq(emb: DataFrame, centroids: Seq[(Int, Seq[Double])],
                codebooks: Seq[Seq[Seq[Double]]], k: Int, nprobe: Int = 1,
                coarseProbe: Int = 0, topProbe: Int = 0): DataFrame = {
    searchTopKPq(ivfIndexPq(emb, centroids, codebooks, nprobe, coarseProbe,
                            topProbe), typedLit(codebooks), k)
  }

  /** SQ8 re-rank tail shared by the refine compositions: score the
    * (query_id, neighbor_id [, extra]) shortlist with 1-byte-per-dim
    * SQ8 codes and keep the top `k` per query. The refine joins are
    * shortlist-sized, not candidate-sized, and floats are never
    * touched after encode. */
  private def sq8RefineTail(emb: DataFrame, short: DataFrame, k: Int,
                            extraCols: Seq[String] = Nil): DataFrame = {
    val enc = graft.queries.cacheOnce(
      emb.select(col("vec_id"), call_function("sq8_encode", col("v")).as("q8"))
        .withColumn("nrm", sqrt(call_function("sq8_dot", col("q8"), col("q8")))))
    val keep = (Seq("query_id", "neighbor_id") ++ extraCols).map(col)
    val scored = short
      .join(enc.select(col("vec_id").as("query_id"), col("q8").as("qq8"),
                       col("nrm").as("qn")), Seq("query_id"))
      .join(enc.select(col("vec_id").as("neighbor_id"), col("q8"), col("nrm")),
            Seq("neighbor_id"))
      .select(keep :+ round(call_function("sq8_dot", col("qq8"), col("q8")) /
                            (col("qn") * col("nrm")), 4).as("cos"): _*)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** PQ shortlist + SQ8 REFINE — the FAISS refinement pattern
    * (IVFPQ + IndexRefine): the m-byte PQ codes are too coarse to
    * order same-cluster neighbors (their reconstructions collapse
    * toward shared centroids — measured recall@3 0.23 at ksub = 16
    * direct, while CLUSTER fidelity is 1.0), so PQ does the job it is
    * built for — cheap candidate scoring into a `shortlist` — and the
    * 1-byte-per-dim SQ8 codes re-rank only those shortlist rows.
    * Serving memory stays compressed end to end (m + dim bytes per
    * vector; floats are never touched after encode), and the refine
    * join is shortlist-sized, not candidate-sized. Measured on
    * clustered data: recall@3 0.92 at ksub = 128 / shortlist 10 vs
    * 0.48 direct. */
  def ivfTopKPqRefine(emb: DataFrame, centroids: Seq[(Int, Seq[Double])],
                      codebooks: Seq[Seq[Seq[Double]]], k: Int, shortlist: Int,
                      nprobe: Int = 1, coarseProbe: Int = 0,
                      topProbe: Int = 0): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    val short = ivfTopKPq(emb, centroids, codebooks, shortlist,
                          nprobe, coarseProbe, topProbe)
      .select(col("query_id"), col("neighbor_id"), col("cell"))
    sq8RefineTail(emb, short, k, Seq("cell"))
  }

  /** Exact-scan PQ shortlist + SQ8 refine (the FAISS Flat+Refine
    * composition, quantizer-free): [[pqTopK]]'s full scan generates the
    * shortlist, SQ8 re-ranks it. This is the refine form whose ENTIRE
    * path is SQL-expressible with fixed codebooks — the q93 oracle
    * replays PQ encode → symmetric score → shortlist rank → SQ8
    * encode/reconstruct → re-score → final rank in one DuckDB
    * statement, pinning the composition's arithmetic end to end. */
  def pqTopKRefine(emb: DataFrame, queryPred: Column, k: Int, shortlist: Int,
                   codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    val short = pqTopK(emb, queryPred, shortlist, codebooks)
      .select(col("query_id"), col("neighbor_id"))
    sq8RefineTail(emb, short, k)
  }

  /** Sign-pattern LSH bucket id from the given projection vectors. */
  def bucketOf(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(v, typedLit(p)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate top-k: only vectors sharing an LSH bucket are compared.
    * `planes` are the hyperplane normals (deterministic; callers pass a
    * fixed set, e.g. the first few corpus vectors).
    *
    * `multiProbe = true` additionally probes every Hamming-1 neighbor
    * bucket on the QUERY side — the sign-LSH analogue of IVF's nprobe
    * (same explode pattern as [[ivfTopK]]): a true near neighbor that
    * landed one plane-flip away is recovered at the cost of scanning
    * `nPlanes` extra buckets per query, while the corpus side is still
    * hashed and shuffled exactly once. No recall is bought with more
    * planes (which would shrink buckets and LOWER recall); the probe
    * set is the knob. Each corpus vector lives in exactly one bucket
    * and the probe list is distinct, so a (query, neighbor) pair can
    * match at most once — no dedup step needed. The emitted `bucket`
    * is the MATCHED (neighbor's home) bucket, mirroring ivfTopK's
    * matched-cell semantics. */
  def lshBucketTopK(emb: DataFrame, planes: Seq[Seq[Double]], k: Int,
                    multiProbe: Boolean = false): DataFrame = {
    // the bucket assignment is the LSH index — materialize once so the
    // plane projections run one pass, not once per join side
    val bucketed = graft.queries.cacheOnce(
      withNorm(emb).select(col("vec_id"), col("v"), col("nrm"),
                           bucketOf(col("v"), planes).as("bucket")))
    val probes =
      if (!multiProbe) array(col("bucket"))
      else array(col("bucket") +: planes.indices.map(i =>
        col("bucket").bitwiseXOR(lit(1L << i))): _*)
    val a = bucketed.select(col("vec_id").as("query_id"), col("v").as("qv"),
                            col("nrm").as("qn"), explode(probes).as("bucket"))
    val b = bucketed.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"), col("bucket"))
    val pairs = a.join(b, Seq("bucket")) // hash join on bucket — the scale path
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("bucket"),
              round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** All quantizer assignment routes through [[graft.plans.IvfAssign]],
    * a native expression: one codegen'd pass over primitive centroid
    * arrays per row, candidates ranked (cos rounded to 4 desc, cid asc)
    * by bounded insertion. Earlier rounds composed this from
    * `transform`/`array_sort` over centroid literals; HOFs are
    * CodegenFallback and ScaleProbe measured the interpreted assignment
    * scan DOMINATING the 200k-vec ANN queries (flat 143 s → the plan's
    * cost ceiling was the quantizer, not the search join). Pure
    * map-side either way — no shuffle to assign a 100 TB corpus; `nrm`
    * is the caller's precomputed ‖v‖. */
  private def probeCellsCol(v: Column, nrm: Column, coarse: Seq[Seq[Double]],
                            groups: Seq[Seq[(Int, Seq[Double])]],
                            nprobe: Int, coarseProbe: Int): Column =
    call_function("ivf_assign", v, nrm,
                  typedLit(coarse), typedLit(groups.map(_.map(_._2))),
                  typedLit(groups.map(_.map(_._1))), lit(nprobe), lit(coarseProbe))

  /** IVF cell id: quantize `v` to its nearest centroid by cosine
    * (rounded to 4 decimals; ties to the LOWEST centroid id). */
  def ivfCellOf(v: Column, nrm: Column, centroids: Seq[(Int, Seq[Double])]): Column = {
    require(centroids.nonEmpty, "ivfCellOf needs at least one centroid")
    element_at(ivfCellsOf(v, nrm, centroids, 1), 1)
  }

  /** The `nprobe` nearest cell ids, best first (flat scan of every
    * centroid = the single-group special case of the native
    * expression); [[ivfCellOf]]'s result is always element 1. */
  def ivfCellsOf(v: Column, nrm: Column, centroids: Seq[(Int, Seq[Double])],
                 nprobe: Int): Column = {
    require(centroids.nonEmpty, "ivfCellsOf needs at least one centroid")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    probeCellsCol(v, nrm, Seq(centroids.head._2), Seq(centroids), nprobe, 1)
  }

  /** Two-level (coarse → fine) quantizer structure: fine centroids
    * grouped under coarse centroids by nearest-coarse assignment. Built
    * driver-side with a tiny pure-Scala k-means over the centroid
    * vectors themselves (deterministic: initial coarse centers are
    * evenly-spaced fine centroids, fixed iteration count, no RNG).
    * Driver-side is right for k up to ~10^5 (5 Lloyd rounds × k·√k
    * cosines — sub-second); past that,
    * [[buildCoarseIndexDistributed]] trains the coarse level with
    * seeded Spark ML k-means over the centroid frame
    * ([[buildCoarseIndexAuto]] switches at [[DriverLloydMaxK]]). */
  case class CoarseIndex(coarse: Seq[Seq[Double]],
                         groups: Seq[Seq[(Int, Seq[Double])]])

  def buildCoarseIndex(centroids: Seq[(Int, Seq[Double])],
                       coarseK0: Int = 0): CoarseIndex = {
    require(centroids.nonEmpty, "buildCoarseIndex needs centroids")
    val k = centroids.size
    val coarseK = math.max(1, math.min(
      if (coarseK0 > 0) coarseK0 else math.ceil(math.sqrt(k.toDouble)).toInt, k))
    def cosSim(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.max(math.sqrt(na) * math.sqrt(nb), 1e-300)
    }
    // init: evenly spaced fine centroids; refine with 5 Lloyd rounds.
    // The assign step is embarrassingly parallel per centroid (each
    // reads the coarse array, writes its own slot) and runs on a
    // parallel IntStream — bit-identical to the serial loop (same
    // maxBy per element, order-independent writes), which matters
    // because the q70 oracle replays this construction exactly. The
    // serial form made the k ≈ 4·10^4 tree-index build the dominant
    // cost of the whole probed query (~200M cosines single-threaded).
    val cents = centroids.toIndexedSeq
    var coarse: IndexedSeq[Seq[Double]] =
      (0 until coarseK).map(i => cents(i * k / coarseK)._2).toIndexedSeq
    var assign: IndexedSeq[Int] = IndexedSeq.empty
    for (_ <- 0 until 5) {
      val cur = coarse
      val out = new Array[Int](k)
      java.util.stream.IntStream.range(0, k).parallel().forEach { m =>
        out(m) = (0 until coarseK).maxBy(g => (cosSim(cents(m)._2, cur(g)), -g))
      }
      assign = out.toIndexedSeq
      coarse = (0 until coarseK).map { g =>
        val members = cents.indices.filter(assign(_) == g)
        if (members.isEmpty) coarse(g)
        else {
          val dim = cents.head._2.length
          val mean = new Array[Double](dim)
          members.foreach(m => cents(m)._2.indices.foreach(i => mean(i) += cents(m)._2(i)))
          mean.map(_ / members.size).toSeq
        }
      }.toIndexedSeq
    }
    // every group non-empty: empty groups keep their (unused) coarse
    // center but must not appear as probe targets — drop them, keeping
    // group order stable
    val grouped = (0 until coarseK).map(g =>
      centroids.indices.filter(assign(_) == g).map(centroids).toSeq)
    val kept = grouped.zipWithIndex.filter(_._1.nonEmpty)
    CoarseIndex(kept.map { case (_, g) => coarse(g) }, kept.map(_._1))
  }

  /** Distributed escalation of [[buildCoarseIndex]]: past the
    * documented ~10⁵-centroid driver bound (5 Lloyd rounds × k·√k
    * cosines on one thread pool — at the tree rule's k ≈ 5.6M fine
    * centroids for n = 10⁹ that is ~10¹³ driver-side cosines), the
    * coarse centers are trained with seeded Spark ML k-means over the
    * centroid FRAME — the same production path [[trainCentroids]]
    * provides for the fine level over the corpus — and the fine→coarse
    * assignment runs as one native `ivf_assign` pass over that frame
    * (the coarse array is the only expression literal: √k vectors,
    * driver-safe by the growth rules). Only (cid, group) id pairs are
    * collected — two ints per fine centroid, not the Lloyd working set.
    *
    * Semantics: a valid CoarseIndex with the same structural contract
    * as the driver form (groups partition the centroids, empty groups
    * dropped, order stable) but NOT the same centers — k-means init
    * differs, which is fine: the hierarchy changes COST, not
    * correctness (exhaustive probing reproduces the flat assignment
    * under ANY grouping — test-pinned for both builders). The
    * oracle-replayed queries (q70/q74) pin the DRIVER construction;
    * this path exists for k past what those queries ever build. */
  def buildCoarseIndexDistributed(centroids: Seq[(Int, Seq[Double])],
                                  coarseK0: Int = 0, seed: Long = 42L): CoarseIndex = {
    require(centroids.nonEmpty, "buildCoarseIndexDistributed needs centroids")
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    val k = centroids.size
    val coarseK = math.max(1, math.min(
      if (coarseK0 > 0) coarseK0 else math.ceil(math.sqrt(k.toDouble)).toInt, k))
    val cf = centroids.toDF("cid", "v")
    val coarse = trainCentroids(cf, coarseK, seed)
    val assigned = cf.select(col("cid"),
        element_at(ivfCellsOf(col("v"), sqrt(dot(col("v"), col("v"))), coarse, 1), 1)
          .as("g"))
      .collect().map(r => r.getInt(0) -> r.getLong(1).toInt).toMap
    // one O(k) grouping pass (order-preserving) — a per-group
    // centroids.filter would re-scan all k centroids coarseK times:
    // O(k^1.5) sequential driver work at exactly the k this function
    // exists to escape
    val byGroup = centroids.groupBy(c => assigned(c._1))
    val grouped = coarse.flatMap { case (g, gv) =>
      byGroup.get(g).map(gv -> _)
    }
    CoarseIndex(grouped.map(_._1), grouped.map(_._2))
  }

  /** The documented driver-Lloyd safety bound (see
    * [[buildCoarseIndex]]): below it the deterministic driver
    * construction (what the q70/q74 oracles replay); above it the
    * distributed k-means escalation. */
  val DriverLloydMaxK = 100000

  def buildCoarseIndexAuto(centroids: Seq[(Int, Seq[Double])],
                           coarseK0: Int = 0): CoarseIndex =
    if (centroids.size <= DriverLloydMaxK) buildCoarseIndex(centroids, coarseK0)
    else buildCoarseIndexDistributed(centroids, coarseK0)

  /** Hierarchical cell probe: score the √k coarse centers, descend into
    * the best `coarseProbe` groups, and take the `nprobe` best fine
    * cells among their members — O(√k + coarseProbe·k/√k) dot products
    * per row instead of the flat quantizer's O(k). Same tie rule as
    * [[ivfCellsOf]] (cos desc, lower cid), so with every group probed
    * the result is EXACTLY the flat assignment (pinned by test); with
    * fewer probed groups it is the standard hierarchical-ANN
    * approximation. */
  def ivfCellsOfHier(v: Column, nrm: Column, index: CoarseIndex,
                     nprobe: Int, coarseProbe: Int = 2): Column = {
    require(nprobe >= 1 && coarseProbe >= 1, s"nprobe=$nprobe coarseProbe=$coarseProbe")
    probeCellsCol(v, nrm, index.coarse, index.groups, nprobe, coarseProbe)
  }

  /** Three-level quantizer tree — the rung [[ivfCellCount]]'s Scaladoc
    * promises past n^(4/3): `top` centers (∛k of them) partition the
    * coarse centers, so assignment scores O(∛k + topProbe·∛k +
    * coarseProbe·k^(1/3)) = O(k^(1/3)) dots per row, moving the
    * assign/search balance to k = n^(3/4) (total O(n^(5/4))). Built by
    * applying [[buildCoarseIndex]]'s Lloyd grouping TWICE: fine cells
    * under k^(2/3) coarse centers, those under √(k^(2/3)) = k^(1/3)
    * top centers. Same tie rules at every level, so exhaustive probing
    * (topProbe = #top, coarseProbe = #coarse) reproduces the flat
    * assignment EXACTLY (test-pinned). */
  case class TreeIndex(fine: CoarseIndex, top: Seq[Seq[Double]],
                       topGroups: Seq[Seq[Int]])

  def buildTreeIndex(centroids: Seq[(Int, Seq[Double])]): TreeIndex = {
    require(centroids.nonEmpty, "buildTreeIndex needs centroids")
    val k = centroids.size
    val coarseK = math.max(1, math.ceil(math.pow(k.toDouble, 2.0 / 3.0)).toInt)
    // auto: the tree rule is exactly where k outgrows the driver bound
    // (k = n^(3/4) passes 10^5 near n = 4.6·10^6 vectors), so the fine
    // grouping escalates to the distributed builder past it
    val fine = buildCoarseIndexAuto(centroids, coarseK)
    // group the (kept) coarse centers themselves; member "ids" are
    // coarse POSITIONS, which is what the descent's restricted pass
    // needs — the builder assigns every member exactly once, so
    // the top groups partition the coarse level
    val coarseAsCentroids = fine.coarse.zipWithIndex.map { case (v, i) => i -> v }
    val topIdx = buildCoarseIndexAuto(coarseAsCentroids)
    TreeIndex(fine, topIdx.coarse, topIdx.groups.map(_.map(_._1)))
  }

  /** Tree cell probe: [[ivfCellsOfHier]] with the extra top level. */
  def ivfCellsOfTree(v: Column, nrm: Column, index: TreeIndex,
                     nprobe: Int, coarseProbe: Int = 2, topProbe: Int = 2): Column = {
    require(nprobe >= 1 && coarseProbe >= 1 && topProbe >= 1,
            s"nprobe=$nprobe coarseProbe=$coarseProbe topProbe=$topProbe")
    call_function("ivf_assign", v, nrm,
                  typedLit(index.fine.coarse),
                  typedLit(index.fine.groups.map(_.map(_._2))),
                  typedLit(index.fine.groups.map(_.map(_._1))),
                  lit(nprobe), lit(coarseProbe),
                  typedLit(index.top), typedLit(index.topGroups), lit(topProbe))
  }

  /** Index-growth rule (the 100 TB lesson ScaleProbe measured: FIXED
    * cell counts die — per-cell occupancy n/k grows linearly with the
    * corpus and the within-cell self-join returns to n²).
    *
    * Flat quantizer: assignment costs O(n·k) dots, search O(n²/k); the
    * total is minimized at k = √n, where both terms are O(n^1.5) —
    * ~31×/decade.
    *
    * Two-level quantizer ([[ivfCellsOfHier]]): assignment drops to
    * O(√k) dots per row, so the balance moves to k = n^(2/3), where
    * assign O(n·√k) and search O(n²/k) are both O(n^(4/3)) —
    * the residual superlinearity is n^(1/3), i.e. ~2.2× beyond the 10×
    * the scans themselves pay per decade. FAISS scales nlist the same
    * way (its guidelines: nlist between 4√n and 16√n flat, more with a
    * cheap coarse stage). Beyond n^(4/3), the next rung is a deeper
    * quantizer tree — implemented since round 6 as the three-level
    * [[TreeIndex]] (O(k^(1/3)) assign → balance k = n^(3/4), total
    * O(n^(5/4))); `tree = true` selects its growth rule. The limiting
    * form is O(log k) assignment with k ≈ n/log n. */
  def ivfCellCount(n: Long, hierarchical: Boolean = true,
                   tree: Boolean = false): Int = {
    require(n > 0, s"corpus size must be positive, got $n")
    val k = if (tree) math.pow(n.toDouble, 3.0 / 4.0)
            else if (hierarchical) math.pow(n.toDouble, 2.0 / 3.0)
            else math.sqrt(n.toDouble)
    math.max(1, math.min(math.ceil(k), n.toDouble).toInt)
  }

  /** Recall-knob sizing from the PROBED-CORPUS-FRACTION invariant (the
    * round-6 tree-recall lesson: deeper quantizers shrink cells, so
    * matched probe COUNTS buy less corpus — the fraction of the corpus
    * a query scans, nprobe/k, is what recall actually follows, and the
    * coarse/top beams must be wide enough to REACH that many fine
    * cells). Returns (nprobe, coarseProbe, topProbe) for `k` cells at
    * the given depth:
    *  - nprobe = ceil(fraction·k) — fixes the probed corpus fraction
    *    regardless of how the growth rule scales k with n;
    *  - each coarse group holds ~k/√k' cells (k' = coarse count), so
    *    coarseProbe = ceil(nprobe·coarseK/k) × 2 — the ×2 slack covers
    *    group-size imbalance and the descent pruning the beam BEFORE
    *    fine ranking;
    *  - topProbe scales the same way one level up.
    * FAISS sizes nprobe against nlist with the same fraction logic.
    * Probing fraction ~1/8 reproduces the suite's recall ≥ 0.9 configs
    * at every depth (test-pinned). */
  def ivfProbeConfig(k: Int, fraction: Double, hierarchical: Boolean = true,
                     tree: Boolean = false): (Int, Int, Int) = {
    require(k >= 1 && fraction > 0 && fraction <= 1,
            s"ivfProbeConfig k=$k fraction=$fraction")
    val nprobe = math.max(1, math.ceil(fraction * k).toInt)
    if (!hierarchical && !tree) return (nprobe, 0, 0)
    val coarseK = if (tree) math.ceil(math.pow(k.toDouble, 2.0 / 3.0)).toInt
                  else math.ceil(math.sqrt(k.toDouble)).toInt
    val coarseProbe = math.min(coarseK,
      math.max(2, math.ceil(nprobe.toDouble * coarseK / k).toInt * 2))
    if (!tree) return (nprobe, coarseProbe, 0)
    val topK = math.ceil(math.sqrt(coarseK.toDouble)).toInt
    val topProbe = math.min(topK,
      math.max(2, math.ceil(coarseProbe.toDouble * topK / coarseK).toInt * 2))
    (nprobe, coarseProbe, topProbe)
  }

  /** Persist trained centroids as a tiny parquet table (cid, v) — the
    * operational form a 100 TB deployment needs: k-means over the
    * corpus is the expensive build step, and every downstream job
    * (batch top-k, streaming routing, index refresh) should REUSE the
    * same quantizer rather than retrain — not least because two
    * independently trained quantizers assign the same vector to
    * different cells (stream and corpus sides MUST share centroids).
    * The frame is centroids-sized (k rows), never corpus-sized. */
  def saveCentroids(spark: org.apache.spark.sql.SparkSession,
                    centroids: Seq[(Int, Seq[Double])], path: String): Unit = {
    import spark.implicits._
    centroids.toDF("cid", "v").repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadCentroids(spark: org.apache.spark.sql.SparkSession,
                    path: String): Seq[(Int, Seq[Double])] =
    spark.read.parquet(path).select(col("cid"), col("v"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq)
      .sortBy(_._1).toSeq

  /** Train IVF centroids with Spark ML k-means (seeded → deterministic
    * given fixed data and parallelism). This is the production path for
    * [[ivfTopK]]'s coarse quantizer; the oracle-checked query uses
    * fixed sample-vector centroids instead because k-means is not
    * DuckDB-expressible, but the assign/search plumbing downstream is
    * identical for either source of centroids. */
  def trainCentroids(emb: DataFrame, k: Int, seed: Long = 42L,
                     maxIter: Int = 5): Seq[(Int, Seq[Double])] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feats = emb.select(array_to_vector(col("v")).as("features"))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .fit(feats)
    val centers = model.clusterCenters.zipWithIndex
      .map { case (c, i) => i -> c.toArray.toSeq }.toSeq
    if (centers.size < k)
      logWarning(
        s"k-means returned ${centers.size} < k=$k centers (degenerate data); " +
        "IVF recall tuning assumes k distinct cells")
    centers
  }

  /** IVF-style approximate NN (the data-adaptive sibling of
    * [[lshBucketTopK]]): assign every vector to an inverted-file cell
    * (nearest centroid), then search only within the query's cell
    * (nprobe = 1). Queries additionally probe their `nprobe` nearest
    * cells — the recall knob (nprobe = #cells ⇒ exact search); the probe
    * explode multiplies only the QUERY side, the corpus is still scanned
    * and shuffled once. Pair generation is a hash-join on the cell id —
    * identical scale path to LSH, but regions follow the data rather
    * than random hyperplanes. `centroids` are caller-supplied: a
    * production index trains them with k-means; the assign/partition/
    * search plumbing here is unchanged by how they were produced. */
  /** The materialized inverted-file index: every vector with its norm,
    * home cell, and probed cells (element 1 of `cells` IS the home cell
    * under either quantizer — same tie rule — so one assignment scan
    * feeds both columns). Idempotent cache (MEMORY_AND_DISK — spills at
    * scale): the quantizer scoring runs one pass instead of once per
    * join side, the way production ANN systems persist the index rather
    * than re-running the quantizer per probe. Public so stream-static
    * consumers ([[graft.streaming.StreamOps.streamingAnnCandidates]])
    * join incoming vectors against the same index the batch top-k uses.
    * coarseProbe > 0 selects the two-level quantizer. */
  /** Quantizer dispatch shared by the float and SQ8 index builders —
    * ONE definition so the two can never desynchronize (ivfTopKSq8's
    * recall-parity contract rests on identical candidate generation). */
  private def probeCellsFor(centroids: Seq[(Int, Seq[Double])], nprobe: Int,
                            coarseProbe: Int, topProbe: Int): Column =
    if (topProbe > 0)
      ivfCellsOfTree(col("v"), col("nrm"), buildTreeIndex(centroids),
                     nprobe, math.max(coarseProbe, 1), topProbe)
    else if (coarseProbe <= 0) ivfCellsOf(col("v"), col("nrm"), centroids, nprobe)
    else ivfCellsOfHier(col("v"), col("nrm"), buildCoarseIndexAuto(centroids),
                        nprobe, coarseProbe)

  def ivfIndex(emb: DataFrame, centroids: Seq[(Int, Seq[Double])],
               nprobe: Int = 1, coarseProbe: Int = 0,
               topProbe: Int = 0): DataFrame = {
    require(centroids.nonEmpty, "ivfIndex needs at least one centroid")
    val probeCells = probeCellsFor(centroids, nprobe, coarseProbe, topProbe)
    graft.queries.cacheOnce(withNorm(emb).select(
      col("vec_id"), col("v"), col("nrm"),
      element_at(probeCells, 1).as("cell"),
      probeCells.as("cells")))
  }

  /** SQ8-compressed IVF index: the [[ivfIndex]] shape with the float
    * column REPLACED by 8-bit codes — cell assignment still runs on
    * the exact floats (one pass at build time, so partition quality is
    * unchanged), but what the cache HOLDS per vector is (codes, range
    * params, cells): ~6.4× less memory than the float index, which at
    * corpus scale is the difference between a resident index and one
    * that spills per probe. Scoring downstream reconstructs inside
    * [[graft.plans.Sq8Dot]]; `nrm` is the RECONSTRUCTION's norm so
    * cosines are internally consistent. The search join is orthogonal
    * to vector storage — [[ivfTopKSq8]] is [[ivfTopK]] with the score
    * expression swapped. */
  def ivfIndexSq8(emb: DataFrame, centroids: Seq[(Int, Seq[Double])],
                  nprobe: Int = 1, coarseProbe: Int = 0,
                  topProbe: Int = 0): DataFrame = {
    require(centroids.nonEmpty, "ivfIndexSq8 needs at least one centroid")
    val probeCells = probeCellsFor(centroids, nprobe, coarseProbe, topProbe)
    val q8 = call_function("sq8_encode", col("v"))
    graft.queries.cacheOnce(withNorm(emb).select(
      col("vec_id"), q8.as("q8"),
      element_at(probeCells, 1).as("cell"),
      probeCells.as("cells"))
      .withColumn("nrm", sqrt(call_function("sq8_dot", col("q8"), col("q8")))))
  }

  /** [[ivfTopK]] over the SQ8-compressed index — identical candidate
    * generation (same cells, assigned on exact floats), scores from
    * reconstructions. Recall parity with the float index is
    * test-pinned on clustered data. */
  def ivfTopKSq8(emb: DataFrame, centroids: Seq[(Int, Seq[Double])], k: Int,
                 nprobe: Int = 1, coarseProbe: Int = 0,
                 topProbe: Int = 0): DataFrame =
    searchTopKSq8(ivfIndexSq8(emb, centroids, nprobe, coarseProbe, topProbe), k)

  /** Shared SQ8 search tail — one definition for the literal and frame
    * index paths (same contract as [[searchTopK]]). */
  private def searchTopKSq8(celled: DataFrame, k: Int): DataFrame = {
    val a = celled.select(
        col("vec_id").as("query_id"), col("q8").as("qq8"), col("nrm").as("qn"),
        explode(col("cells")).as("cell"))
    val b = celled.select(col("vec_id").as("neighbor_id"), col("q8"), col("nrm"),
                          col("cell"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cell"),
              round(call_function("sq8_dot", col("qq8"), col("q8")) /
                    (col("qn") * col("nrm")), 4).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  def ivfTopK(emb: DataFrame, centroids: Seq[(Int, Seq[Double])], k: Int,
              nprobe: Int = 1, coarseProbe: Int = 0,
              topProbe: Int = 0): DataFrame =
    // see ivfIndex for the materialization/quantizer rationale; with
    // the hierarchical quantizer, home and probed cells come from the
    // SAME descent, so a neighbor is matched iff its (hier) home cell
    // is among the query's probes — consistent approximation on both
    // sides
    searchTopK(ivfIndex(emb, centroids, nprobe, coarseProbe, topProbe), k)

  /** FRAME-BACKED quantizer — the de-literalized serving path.
    *
    * The native `ivf_assign` descent embeds every fine centroid in the
    * expression tree ([[probeCellsCol]]'s `typedLit`s): the right call
    * up to ~10⁵ centroids (broadcast-sized task binary), but a hard
    * O(k) driver/plan ceiling at the k ≈ 5.6M regime the tree growth
    * rule prescribes for 10⁹-vector corpora — the plan literal and the
    * driver Seq both scale with k, so the distributed TRAINER could
    * build what the serving path could not hold. This family removes
    * that ceiling: only the UPPER levels stay literals (coarse = √k
    * vectors, plus the ∛k-sized top level when present — both
    * driver-safe under every growth rule), while the k-sized fine
    * level lives in a DataFrame and fine scoring runs as a keyed JOIN:
    *
    *   route:  explode the best `coarseProbe` coarse groups per row
    *           (one `ivf_assign` pass over the SMALL literal levels)
    *   score:  join routed rows against the fine frame on the group
    *           key — Spark broadcasts the frame while it is small and
    *           degrades to a shuffle hash join at frame sizes no
    *           literal could ship
    *   rank:   window per vec_id by (round-4 cos desc, cid asc),
    *           keep `nprobe` — EXACTLY the descent's insert order, so
    *           join-path cells ≡ literal-path cells (test-pinned, and
    *           q86-q88 run the q65/q70/q74 oracles over this path)
    *
    * Shuffle account at scale: routing is map-side; the fine join
    * shuffles (vec_id, v) once on √k group keys; the rank windows once
    * on vec_id. That is the price of unbounded k — below the literal
    * ceiling the embedded-quantizer path stays the cheaper plan, which
    * is why both exist. */
  case class IvfFrames(coarse: Seq[Seq[Double]],
                       top: Seq[Seq[Double]],
                       topGroups: Seq[Seq[Int]],
                       fine: DataFrame)

  /** Fine frame (cid, g, cv, cnrm) from driver-side groups — the
    * norm is precomputed ONCE per centroid (cacheOnce'd with the
    * frame), not once per joined row pair. */
  private def fineFrameOf(spark: org.apache.spark.sql.SparkSession,
                          groups: Seq[Seq[(Int, Seq[Double])]]): DataFrame = {
    import spark.implicits._
    val rows = groups.zipWithIndex.flatMap { case (members, g) =>
      members.map { case (cid, cv) => (cid.toLong, g.toLong, cv) }
    }
    graft.queries.cacheOnce(
      rows.toDF("cid", "g", "cv")
        .withColumn("cnrm", sqrt(dot(col("cv"), col("cv")))))
  }

  /** Flat quantizer as frames: one group holding every centroid (the
    * single-group special case, mirroring [[ivfCellsOf]]). */
  def framesFlat(spark: org.apache.spark.sql.SparkSession,
                 centroids: Seq[(Int, Seq[Double])]): IvfFrames = {
    require(centroids.nonEmpty, "framesFlat needs at least one centroid")
    IvfFrames(Seq(centroids.head._2), Nil, Nil,
              fineFrameOf(spark, Seq(centroids)))
  }

  /** Two-level frames from a driver-built [[CoarseIndex]] (the
    * oracle/parity bridge: same grouping, same tie rules). */
  def framesOf(spark: org.apache.spark.sql.SparkSession,
               index: CoarseIndex): IvfFrames =
    IvfFrames(index.coarse, Nil, Nil, fineFrameOf(spark, index.groups))

  /** Three-level frames from a driver-built [[TreeIndex]]: top AND
    * coarse stay literals (∛k + k^(2/3) vectors — still driver-safe),
    * only the k fine cells move to the frame. */
  def framesOfTree(spark: org.apache.spark.sql.SparkSession,
                   index: TreeIndex): IvfFrames =
    IvfFrames(index.fine.coarse, index.top, index.topGroups,
              fineFrameOf(spark, index.fine.groups))

  /** Coarse-group routing column: the literal-level descent emitting
    * the best `coarseProbe` GROUP indices (best first). With a top
    * level this is the tree's first two passes expressed as the
    * existing 2-level expression over (top → coarse positions) —
    * ranking (cos desc, global coarse position asc) at the lower pass,
    * exactly the 3-level descent's coarse selection. */
  private def routeGroupsCol(frames: IvfFrames, coarseProbe: Int,
                             topProbe: Int): Column =
    if (frames.top.nonEmpty)
      ivfCellsOfHier(col("v"), col("nrm"),
        CoarseIndex(frames.top,
                    frames.topGroups.map(_.map(p => p -> frames.coarse(p)))),
        nprobe = coarseProbe, coarseProbe = topProbe)
    else
      ivfCellsOf(col("v"), col("nrm"),
                 frames.coarse.zipWithIndex.map { case (cv, g) => g -> cv },
                 coarseProbe)

  /** Public routing column (the literal-levels descent emitting coarse
    * GROUP indices, best first) — stateless and streaming-safe, used
    * by [[graft.streaming.StreamOps.streamingAnnCandidatesFrames]] for
    * probe-side routing past the literal ceiling. Expects (v, nrm). */
  def routeGroups(frames: IvfFrames, coarseProbe: Int, topProbe: Int = 1): Column =
    routeGroupsCol(frames, coarseProbe, topProbe)

  /** Probe cells per vector via the frame join — (vec_id, cells), with
    * `cells` the best `nprobe` fine cell ids best-first, identical to
    * the literal descent's output (parity test-pinned). */
  def ivfCellsJoinFrame(emb: DataFrame, frames: IvfFrames, nprobe: Int,
                        coarseProbe: Int = 1, topProbe: Int = 1): DataFrame = {
    require(nprobe >= 1 && coarseProbe >= 1 && topProbe >= 1,
            s"nprobe=$nprobe coarseProbe=$coarseProbe topProbe=$topProbe")
    val routed = withNorm(emb).select(
      col("vec_id"), col("v"), col("nrm"),
      explode(routeGroupsCol(frames, coarseProbe, topProbe)).as("g"))
    val scored = routed.join(frames.fine, Seq("g"))
      .select(col("vec_id"), col("cid"),
              round(dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 4).as("cs"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cs").desc, col("cid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= nprobe)
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("rn"), col("cid")))),
                     x => x.getField("cid")).as("cells"))
  }

  /** [[ivfIndex]] built through the frame join — same (vec_id, v, nrm,
    * cell, cells) shape, cacheOnce'd, so every downstream consumer
    * (batch top-k, streaming routing, refresh) is path-agnostic. */
  def ivfIndexJoin(emb: DataFrame, frames: IvfFrames, nprobe: Int = 1,
                   coarseProbe: Int = 1, topProbe: Int = 1): DataFrame = {
    val cells = ivfCellsJoinFrame(emb, frames, nprobe, coarseProbe, topProbe)
    graft.queries.cacheOnce(withNorm(emb)
      .join(cells, Seq("vec_id"), "left")
      .select(col("vec_id"), col("v"), col("nrm"),
              element_at(col("cells"), 1).as("cell"), col("cells")))
  }

  /** Shared float-index search tail (probe explode → home-cell hash
    * join → per-query rank) — ONE definition for the literal and frame
    * index paths, so the two can never desynchronize. */
  private def searchTopK(celled: DataFrame, k: Int): DataFrame = {
    val a = celled.select(
        col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(col("cells")).as("cell"))
    val b = celled.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm"),
                          col("cell"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cell"),
              round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** [[ivfTopK]] over the frame-backed index — the serving path with
    * no O(k) driver or plan object anywhere. */
  def ivfTopKJoin(emb: DataFrame, frames: IvfFrames, k: Int, nprobe: Int = 1,
                  coarseProbe: Int = 1, topProbe: Int = 1): DataFrame =
    searchTopK(ivfIndexJoin(emb, frames, nprobe, coarseProbe, topProbe), k)

  /** SQ8-compressed frame-backed index: [[ivfIndexJoin]]'s assignment
    * (exact floats, so partition quality is unchanged) with
    * [[ivfIndexSq8]]'s storage — the memory rung and the
    * past-the-literal-ceiling rung COMPOSE, which is exactly the
    * 100 TB configuration: k beyond any plan literal AND an index
    * ~6.4× smaller than the floats. Same (vec_id, q8, nrm, cell,
    * cells) shape as ivfIndexSq8, so downstream consumers are
    * path-agnostic. */
  def ivfIndexJoinSq8(emb: DataFrame, frames: IvfFrames, nprobe: Int = 1,
                      coarseProbe: Int = 1, topProbe: Int = 1): DataFrame = {
    val cells = ivfCellsJoinFrame(emb, frames, nprobe, coarseProbe, topProbe)
    graft.queries.cacheOnce(
      emb.select(col("vec_id"), call_function("sq8_encode", col("v")).as("q8"))
        .join(cells, Seq("vec_id"), "left")
        .select(col("vec_id"), col("q8"),
                element_at(col("cells"), 1).as("cell"), col("cells"))
        .withColumn("nrm", sqrt(call_function("sq8_dot", col("q8"), col("q8")))))
  }

  /** [[ivfTopKSq8]] over the frame-backed SQ8 index. */
  def ivfTopKJoinSq8(emb: DataFrame, frames: IvfFrames, k: Int, nprobe: Int = 1,
                     coarseProbe: Int = 1, topProbe: Int = 1): DataFrame =
    searchTopKSq8(ivfIndexJoinSq8(emb, frames, nprobe, coarseProbe, topProbe), k)

  /** PQ-compressed frame-backed index — the deepest-compression rung
    * composed with the past-the-literal-ceiling assignment path. The
    * codebook literal is O(ksub·dim) doubles (≤ 256·dim regardless of
    * corpus size or cell count k), so unlike the centroid literal it
    * never grows with the index — safe in the plan at any scale. */
  def ivfIndexJoinPq(emb: DataFrame, frames: IvfFrames,
                     codebooks: Seq[Seq[Seq[Double]]], nprobe: Int = 1,
                     coarseProbe: Int = 1, topProbe: Int = 1): DataFrame = {
    val cbLit = typedLit(codebooks)
    val cells = ivfCellsJoinFrame(emb, frames, nprobe, coarseProbe, topProbe)
    graft.queries.cacheOnce(
      emb.select(col("vec_id"), call_function("pq_encode", col("v"), cbLit).as("pqc"))
        .join(cells, Seq("vec_id"), "left")
        .select(col("vec_id"), col("pqc"),
                element_at(col("cells"), 1).as("cell"), col("cells"))
        .withColumn("nrm", sqrt(call_function("pq_dot", col("pqc"), col("pqc"), cbLit))))
  }

  /** [[ivfTopKPq]] over the frame-backed PQ index (parity test-pinned
    * against the literal IVF-PQ path). */
  def ivfTopKJoinPq(emb: DataFrame, frames: IvfFrames,
                    codebooks: Seq[Seq[Seq[Double]]], k: Int, nprobe: Int = 1,
                    coarseProbe: Int = 1, topProbe: Int = 1): DataFrame =
    searchTopKPq(ivfIndexJoinPq(emb, frames, codebooks, nprobe, coarseProbe,
                                topProbe), typedLit(codebooks), k)

  /** [[ivfTopKPqRefine]] over the frame-backed PQ index: the full
    * 100 TB serving stack in one call — assignment past the literal
    * ceiling, m-byte candidate scoring, SQ8 re-rank of the shortlist. */
  def ivfTopKJoinPqRefine(emb: DataFrame, frames: IvfFrames,
                          codebooks: Seq[Seq[Seq[Double]]], k: Int,
                          shortlist: Int, nprobe: Int = 1, coarseProbe: Int = 1,
                          topProbe: Int = 1): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    val short = ivfTopKJoinPq(emb, frames, codebooks, shortlist, nprobe,
                              coarseProbe, topProbe)
      .select(col("query_id"), col("neighbor_id"), col("cell"))
    sq8RefineTail(emb, short, k, Seq("cell"))
  }

  /** Deterministic local Lloyd over a (small) in-memory vector set —
    * the per-group trainer of [[buildIvfFramesDistributed]]. Same
    * semantics family as [[buildCoarseIndex]]'s rounds (init = evenly
    * spaced inputs, 5 rounds, full-precision cosine with ties to the
    * lower center, member-order means, empty centers kept), run
    * SERIALLY because groups already parallelize across executors. */
  private[pipeline] def localLloyd(vs: IndexedSeq[Seq[Double]],
                                   kk: Int): IndexedSeq[Seq[Double]] = {
    require(vs.nonEmpty && kk >= 1 && kk <= vs.length,
            s"localLloyd needs 1 <= k <= n, got k=$kk n=${vs.length}")
    def cosSim(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.max(math.sqrt(na) * math.sqrt(nb), 1e-300)
    }
    val m = vs.length
    var centers: IndexedSeq[Seq[Double]] =
      (0 until kk).map(j => vs(j * m / kk)).toIndexedSeq
    for (_ <- 0 until 5) {
      val cur = centers
      val assign = vs.map(v => (0 until kk).maxBy(c => (cosSim(v, cur(c)), -c)))
      centers = (0 until kk).map { c =>
        val members = vs.indices.filter(assign(_) == c)
        if (members.isEmpty) cur(c)
        else {
          val dim = vs.head.length
          val mean = new Array[Double](dim)
          members.foreach(i => vs(i).indices.foreach(d => mean(d) += vs(i)(d)))
          mean.map(_ / members.size).toSeq
        }
      }.toIndexedSeq
    }
    centers
  }

  /** DRIVER-FREE distributed index build — corpus → [[IvfFrames]] with
    * driver memory O(√k) at every step (the escalation
    * [[buildCoarseIndexDistributed]] could train but the literal path
    * could not serve, and whose (cid, group) collect was still O(k)):
    *
    *  1. train the √k COARSE centers with seeded Spark ML k-means
    *     (the only collect: √k cluster centers);
    *  2. route every corpus vector to its home coarse group — one
    *     map-side `ivf_assign` pass over the √k literal;
    *  3. per group, train its fine centers with a deterministic local
    *     Lloyd inside `flatMapGroups` — each group's share is
    *     proportional to its population (⌈m·k/n⌋ bounded to [1, m]),
    *     training reads at most `maxTrainPerGroup` members (lowest
    *     vec_id first — deterministic under any shuffle order), and
    *     the emitted fine rows (cid = g·k + j, g, center) never touch
    *     the driver;
    *  4. drop coarse groups that received no corpus rows (mirroring
    *     [[buildCoarseIndex]]'s empty-group rule) — the kept-group
    *     list is ≤ √k, driver-safe.
    *
    * Executor-memory bound (documented, not hidden): step 3
    * materializes one group — n/√k vectors — per task; at n = 10⁹ and
    * the tree rule's k ≈ 5.6M that is ~420k vectors/task (~220 MB at
    * 64 dims), within a standard executor. `maxTrainPerGroup` bounds
    * the LLOYD working set independently of group size. */
  def buildIvfFramesDistributed(emb: DataFrame, k: Int, seed: Long = 42L,
                                maxTrainPerGroup: Int = 100000): IvfFrames = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = emb.sparkSession
    import spark.implicits._
    val n = emb.count()
    require(n > 0, "buildIvfFramesDistributed needs a non-empty corpus")
    val coarseK = math.max(1, math.min(math.ceil(math.sqrt(k.toDouble)).toInt, k))
    val coarse = trainCentroids(emb, coarseK, seed).map(_._2)
    val kL = k.toLong
    val routed = withNorm(emb).select(
        col("vec_id").cast("long"),
        element_at(ivfCellsOf(col("v"), col("nrm"),
                   coarse.zipWithIndex.map { case (cv, g) => g -> cv }, 1), 1).as("g"),
        col("v"))
      .as[(Long, Long, Seq[Double])]
    val fine0 = routed.groupByKey(_._2).flatMapGroups { (g, it) =>
      val members = it.toArray.sortBy(_._1)
      val m = members.length
      val subK = math.max(1, math.min(m,
        math.round(m.toDouble * kL / n).toInt))
      val train = members.iterator.take(maxTrainPerGroup).map(_._3).toIndexedSeq
      localLloyd(train, math.min(subK, train.length)).zipWithIndex.map {
        case (cv, j) => (g * kL + j, g, cv)
      }.iterator
    }.toDF("cid", "g", "cv")
    // kept-group rebase: groups with no corpus rows never emitted fine
    // rows; drop them from the ROUTING literal too (a probe spent on a
    // memberless group finds nothing) and re-base positions stably —
    // the same empty-group rule as the driver builder. ≤ √k values.
    val present = fine0.select(col("g")).distinct()
      .collect().map(_.getLong(0)).sorted
    val keptCoarse = present.map(g => coarse(g.toInt)).toSeq
    val fine =
      if (present.length == coarse.length) fine0
      else {
        val pos = present.zipWithIndex.map { case (g, p) => (g, p.toLong) }
          .toSeq.toDF("g", "gp")
        fine0.join(broadcast(pos), Seq("g"))
          .select(col("cid"), col("gp").as("g"), col("cv"))
      }
    IvfFrames(keptCoarse, Nil, Nil, graft.queries.cacheOnce(
      fine.withColumn("cnrm", sqrt(dot(col("cv"), col("cv"))))))
  }

  /** Corpus → served ANN index with NO k-sized driver or plan object
    * anywhere in the chain: distributed frame build
    * ([[buildIvfFramesDistributed]]) + frame-join assignment
    * ([[ivfIndexJoin]]). `k0 = 0` sizes cells by the two-level growth
    * rule n^(2/3) (the frame path's balance: routing scans the √k
    * literal, fine scoring joins coarseProbe·√k candidates per row).
    * Returns (frames, index) — the frames are the reusable quantizer
    * (batch top-k, streaming routing, refresh all share them). */
  def ivfIndexAuto(emb: DataFrame, k0: Int = 0, seed: Long = 42L,
                   nprobe: Int = 1, coarseProbe: Int = 2): (IvfFrames, DataFrame) = {
    val n = emb.count()
    val k = if (k0 > 0) k0 else ivfCellCount(n, hierarchical = true)
    val frames = buildIvfFramesDistributed(emb, k, seed)
    (frames, ivfIndexJoin(emb, frames, nprobe, coarseProbe))
  }

  /** Embedding-cosine near-duplicate pairs (the dedup-family member):
    * LSH buckets generate candidates, cosine ≥ `minCos` confirms.
    * Unordered pairs (a < b), no ranking — feeds a dedup keep/drop
    * decision downstream. */
  def nearDupPairs(emb: DataFrame, planes: Seq[Seq[Double]], minCos: Double): DataFrame = {
    // same materialized-index pattern as ivfTopK/lshBucketTopK
    val bucketed = graft.queries.cacheOnce(
      withNorm(emb).select(col("vec_id"), col("v"), col("nrm"),
                           bucketOf(col("v"), planes).as("bucket")))
    val a = bucketed.select(col("vec_id").as("da"), col("v").as("va"), col("nrm").as("na"),
                            col("bucket"))
    val b = bucketed.select(col("vec_id").as("db"), col("v").as("vb"), col("nrm").as("nb"),
                            col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
              round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4).as("cos"))
      .filter(col("cos") >= minCos)
  }

  // ---------------------------------------------- random projection (JL)

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Deterministic ±1 Johnson-Lindenstrauss matrix: entry (j, i) is the
    * parity of the md5-derived hash of `salt|j|i` — the SAME
    * construction any engine can replay (the q100/q101 oracles rebuild
    * it in SQL), so the projection itself is hash-checkable, unlike a
    * seeded RNG whose stream is engine-private. ±1 entries (Achlioptas)
    * carry the JL guarantee with the cheapest possible row dot. */
  def jlMatrix(outDim: Int, inDim: Int, salt: String = "jl"): Seq[Seq[Double]] =
    (0 until outDim).map { j =>
      (0 until inDim).map { i =>
        val h = java.lang.Long.parseLong(md5Hex(s"$salt|$j|$i").substring(0, 8), 16)
        if (h % 2 == 0) 1.0 else -1.0
      }
    }

  /** Project `v` (inDim) to `vp` (outDim): one native dot per output
    * dimension against a matrix-row literal — a pure codegen'd
    * projection, zero shuffle, O(outDim·inDim) per row. The matrix
    * literal is outDim·inDim doubles regardless of corpus size (the
    * de-literalization rule is about O(corpus) payloads, not O(1)
    * configs — same status as the PQ codebooks). Unscaled: the JL
    * 1/√outDim factor cancels in cosine, which is the only consumer. */
  def jlProject(emb: DataFrame, inDim: Int, outDim: Int,
                salt: String = "jl"): DataFrame = {
    val m = jlMatrix(outDim, inDim, salt)
    emb.withColumn("vp", array(m.map(row => dot(col("v"), typedLit(row))): _*))
  }

  /** Reduced-dimension ANN: shortlist by cosine over the PROJECTED
    * vectors (outDim/inDim of the scan arithmetic and index bytes —
    * dim 64 → 16 reads 4× less and multiplies 4× less per pair), then
    * re-rank the shortlist on the full vectors. Distance preservation
    * is probabilistic (JL ε ~ √(ln n / outDim)), so the shortlist must
    * over-fetch: `shortlist` ≥ 2-4× k recovers what the projection
    * blurs (recall is test-pinned on the real embeddings; q101
    * hash-checks the whole project→shortlist→refine path in SQL).
    * Composes with the rest of the family: the projection is just a
    * column — IVF/LSH/SQ8 index the reduced vectors the same way they
    * index raw ones. */
  def jlTopKRefine(emb: DataFrame, queryPred: Column, k: Int, shortlist: Int,
                   inDim: Int, outDim: Int, salt: String = "jl"): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k=$k")
    // the projected frame is the reduced-dimension INDEX — one pass,
    // shared by both join sides and across calls
    val proj = graft.queries.cacheOnce(
      jlProject(emb, inDim, outDim, salt)
        .select(col("vec_id"), col("vp"), sqrt(dot(col("vp"), col("vp"))).as("pn")))
    val q = proj.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("vp").as("qp"), col("pn").as("qn"))
    val pcos = broadcast(q).crossJoin(proj)
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
              // oracle float discipline: rank on a rounded score (q59's
              // rule) so a last-ulp engine divergence can't flip ranks
              round(dot(col("qp"), col("vp")) / (col("qn") * col("pn")), 6).as("pcos"))
    val ws = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("neighbor_id"))
    val short = pcos.withColumn("srn", row_number().over(ws))
      .filter(col("srn") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    // exact tail on the full vectors — only shortlist·|Q| rows touch them
    val full = withNorm(emb).select(col("vec_id"), col("v"), col("nrm"))
    val scored = short
      .join(full.select(col("vec_id").as("query_id"), col("v").as("qv"),
                        col("nrm").as("qn")), Seq("query_id"))
      .join(full.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm")),
            Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
              round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** SEMANTIC DEDUP — the published cluster-then-pairwise recipe
    * (SemDeDup: partition the embedding space with a k-means-style
    * quantizer, confirm near-duplicates ONLY within each cluster, keep
    * one representative per duplicate component). The whole-corpus
    * pairwise join is O(n²); bucketing by quantizer cell bounds it at
    * O(Σ n_c²) — with balanced cells that is n²/k, the same candidate-
    * volume arithmetic as the LSH band joins, but driven by the DATA's
    * own geometry, so semantically-close renditions land in one cell
    * even when their token overlap is nil (the case MinHash/SimHash
    * cannot see).
    *
    * Plumbing: one quantizer pass over the corpus ([[ivfCellOf]] —
    * round-4 cosine, ties to the lowest centroid id, the exact q65
    * cell semantics), a cell-keyed self-join confirming round-6 cosine
    * ≥ `tau`, then [[TextDedup.dupClusters]]' adaptive resolution
    * (driver union-find + one broadcast join while the confirmed edge
    * set is small — its size is bounded by dup density, not corpus
    * size — keyed label-propagation rounds past `broadcastEdgeMax`).
    * Transitive chains collapse to one component exactly as in the
    * text family; `cell` boundaries do NOT split components because
    * edges, not cells, define connectivity.
    *
    * Caveat (inherent to the method, worth stating): a duplicate pair
    * STRADDLING two cells is invisible — the published mitigation is
    * higher `nprobe` assignment or overlapping clusters;
    * [[semanticDedupFrames]] implements it (nprobe ≥ 2) AND lifts the
    * centroid literal into a frame, so it is the form to use both past
    * the plan-literal ceiling and when straddle recall matters. This
    * literal variant stays as the small-k/oracle-parity rung.
    *
    * Output: every vector with (cell, cluster, is_keeper, n_cluster) —
    * the same verdict-ledger contract as [[TextDedup.dedupCorpus]]. */
  def semanticDedup(emb: DataFrame, centroids: Seq[(Int, Seq[Double])],
                    tau: Double): DataFrame = {
    require(centroids.nonEmpty, "semanticDedup needs centroids")
    val celled = withNorm(emb)
      .withColumn("cell", ivfCellOf(col("v"), col("nrm"), centroids))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
    val a = celled.select(col("vec_id").as("da"), col("v").as("va"),
                          col("nrm").as("na"), col("cell"))
    val b = celled.select(col("vec_id").as("db"), col("v").as("vb"),
                          col("nrm").as("nb"), col("cell"))
    // round-6 BEFORE the threshold (the family's float discipline): the
    // keep/drop decision is then engine-stable at the boundary
    val pairs = a.join(b, Seq("cell"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
              round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cos"))
      .filter(col("cos") >= lit(tau))
      .select(col("da"), col("db"))
    val labels = graft.pipeline.TextDedup.dupClusters(
      emb.select(col("vec_id").as("doc_id")), pairs)
    val sizes = labels.groupBy(col("cluster")).agg(count(lit(1)).as("n_cluster"))
    labels
      .join(celled.select(col("vec_id").as("doc_id"), col("cell")), Seq("doc_id"))
      .join(sizes, Seq("cluster"))
      .select(col("doc_id").as("vec_id"), col("cell"), col("cluster"),
              col("is_keeper"), col("n_cluster"))
  }

  // ------------------------------------- engine-produced embeddings

  /** ENGINE-PRODUCED document embeddings — the corpus→vector operator
    * that closes text→embedding→semantic-dedup as one in-engine chain
    * (r11 verdict gap #4: the ANN/semantic tier consumed externally-
    * supplied vectors only). Built from proven parts: hashed-TF
    * micro-grid features ([[graft.pipeline.Classifier.tfFeatures]] —
    * `dim` tf buckets plus the capped-length slot, every value an
    * INTEGER count of micro-units) densified per document, then the
    * deterministic ±1 JL projection ([[jlProject]], salt-isolated) to
    * `outDim`. Integer features × ±1 entries ⇒ every output coordinate
    * is an exact integer sum, so the embedding replays bit-for-bit in
    * any engine (q141) before a single IEEE division happens
    * downstream (cosines keep the family's round-6 discipline).
    *
    * Output: (doc_id, v), v: array<double> of length `outDim` — the
    * shape every consumer in this family takes ([[cosineTopK]], IVF,
    * LSH, [[semanticDedupFrames]]). Token-less documents emit no row
    * (no features — the tfFeatures contract). Scale shape: one keyed
    * groupBy(doc) to densify (map-side partial agg on (doc, bucket)
    * first); the projection is a pure codegen'd map with a
    * config-sized outDim·(dim+1) matrix literal; nothing here is
    * corpus-sized off the executors. */
  def embedDocs(df: DataFrame, idCol: String, textCol: String,
                dim: Int = 64, outDim: Int = 16,
                salt: String = "emb"): DataFrame = {
    require(dim >= 1 && outDim >= 1, s"dims must be positive: $dim, $outDim")
    val feat = graft.pipeline.Classifier.tfFeatures(df, idCol, textCol, dim)
    val dense = feat.groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("h"), col("f")))).as("m"))
      .select(col("doc_id"),
              transform(sequence(lit(0L), lit(dim.toLong)),
                        i => coalesce(element_at(col("m"), i), lit(0L))
                          .cast("double")).as("v"))
    jlProject(dense, dim + 1, outDim, salt)
      .select(col("doc_id"), col("vp").as("v"))
  }

  /** SEMANTIC decontamination — the paraphrase-robust twin of the
    * n-gram contamination gate ([[graft.pipeline.TextDedup
    * .contaminatedDocs]] catches verbatim leakage; a reworded
    * benchmark item shares no 8-gram but still lands nearby in
    * embedding space). For every corpus vector: its highest round-6
    * cosine against the EVAL set (`evalPred` rows), the eval item
    * attaining it (ties → lowest eval id), and the ≥ tau flag.
    * Corpus docs come back whole — the audit ledger, not just the
    * flagged subset.
    *
    * Scale shape: the eval side is benchmark-sized (thousands, not
    * corpus-sized) — the legitimate broadcast — so the scored join is
    * a zero-shuffle map over the corpus; the per-doc argmax is one
    * keyed window. Nothing corpus-sized moves. */
  def semanticContamination(emb: DataFrame, evalPred: Column,
                            tau: Double): DataFrame = {
    val normed = withNorm(emb.select(col("vec_id"), col("v")))
    val ev = normed.filter(evalPred)
      .select(col("vec_id").as("eval_id"), col("v").as("ev"), col("nrm").as("en"))
    val scored = normed.filter(!evalPred)
      .crossJoin(broadcast(ev))
      .select(col("vec_id"), col("eval_id"),
              round(dot(col("v"), col("ev")) / (col("nrm") * col("en")), 6).as("cos"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("eval_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("vec_id"), col("eval_id"), col("cos"),
              (col("cos") >= lit(tau)).cast("long").as("contaminated"))
  }

  // ------------------------------------------------------- k-means

  /** Oracle-replayable distributed k-means (Lloyd) over INTEGER-grid
    * vectors — the clustering step of a curation pipeline (SemDeDup's
    * cluster stage, topic balancing, prototype mining). Published
    * recipe, engine-portable determinism with NO RNG anywhere:
    *
    *  - init: the k vectors with the LOWEST vec_id, cid = 0..k-1 in
    *    that order;
    *  - assign: nearest centroid by round-4 cosine, ties to the lowest
    *    cid — the exact [[ivfCellOf]] quantizer contract, so
    *    assignment is the same native codegen'd zero-shuffle
    *    projection the ANN family serves;
    *  - update: per-coordinate mean, computed as an exact integer sum
    *    (inputs are integer-valued doubles — [[embedDocs]]'s grid — so
    *    float addition is associative-exact at any partitioning while
    *    |Σ| < 2^53), then SQL-convention rounded (half away from zero)
    *    back onto the integer grid: centroids STAY integer vectors and
    *    every iteration replays bit-for-bit in DuckDB;
    *  - empty cells keep their previous centroid (the standard Lloyd
    *    degeneracy rule, and the one a left-join replay takes).
    *
    * Scale shape: per iteration one pure-projection assignment pass
    * plus one keyed (cell, coord) aggregation (map-side partials)
    * whose output is k·dim longs — driver state is
    * hyperparameter-sized (the [[graft.pipeline.Classifier]] GD
    * contract), never corpus-sized. For callers that don't need the
    * oracle replay, [[trainCentroids]] is the Spark-ML path. */
  def kmeansCentroids(emb: DataFrame, k: Int, iters: Int): Seq[(Int, Seq[Double])] = {
    require(k >= 1 && iters >= 0, s"need k >= 1, iters >= 0: got $k, $iters")
    val e = emb.select(col("vec_id"), col("v"))
    var cents: Seq[(Int, Seq[Double])] = e.orderBy(col("vec_id")).limit(k)
      .collect().toSeq.zipWithIndex
      .map { case (r, i) => i -> r.getSeq[Double](r.fieldIndex("v")).toSeq }
    require(cents.size == k, s"kmeansCentroids needs >= $k vectors, got ${cents.size}")
    for (_ <- 1 to iters) {
      val celled = withNorm(e)
        .withColumn("cell", ivfCellOf(col("v"), col("nrm"), cents))
      val upd = celled
        .select(col("cell"), posexplode(col("v")).as(Seq("j", "x")))
        .groupBy(col("cell"), col("j"))
        .agg(round(sum(col("x")) / count(lit(1))).as("c"))
        .collect()
        .groupBy(_.getAs[Long]("cell"))
        .map { case (c, rows) =>
          c.toInt -> rows.sortBy(_.getAs[Int]("j")).map(_.getAs[Double]("c")).toSeq }
      cents = cents.map { case (cid, cv) => cid -> upd.getOrElse(cid, cv) }
    }
    cents
  }

  /** Final-assignment ledger for a centroid set: every vector with its
    * cell (the [[ivfCellOf]] contract — round-4 cosine, ties to the
    * lowest cid), the round-4 cosine to that centroid, and the cell's
    * population. Pure-projection assign + one k-row broadcast join for
    * the centroid vector + one keyed count. */
  def kmeansAssign(emb: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    require(cents.nonEmpty, "kmeansAssign needs centroids")
    val spark = emb.sparkSession
    import spark.implicits._
    val cf = broadcast(cents.map { case (cid, cv) => (cid.toLong, cv) }
      .toDF("cell", "cv"))
    val celled = withNorm(emb.select(col("vec_id"), col("v")))
      .withColumn("cell", ivfCellOf(col("v"), col("nrm"), cents))
    val sizes = celled.groupBy(col("cell")).agg(count(lit(1)).as("n_cell"))
    celled.join(cf, Seq("cell"))
      .withColumn("cos",
        round(dot(col("v"), col("cv")) / (col("nrm") * sqrt(dot(col("cv"), col("cv")))), 4))
      .join(sizes, Seq("cell"))
      .select(col("vec_id"), col("cell"), col("cos"), col("n_cell"))
  }

  /** Cluster-balanced sampling: the m most PROTOTYPICAL vectors per
    * k-means cell (highest round-4 cosine to the cell centroid, ties
    * to the lower vec_id) — the standard topic-balanced subset
    * selection over a clustered corpus (every cluster contributes at
    * most m, so no topic dominates the sample). One window per cell
    * partition on top of [[kmeansAssign]]; cells spread the corpus, so
    * no single reducer sees more than a cell. */
  def clusterBalancedSample(emb: DataFrame, cents: Seq[(Int, Seq[Double])],
                            m: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("cos").desc, col("vec_id"))
    kmeansAssign(emb, cents)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= m)
  }

  /** SERVING-PATH assignment: (vec_id, cell, cos) as ONE pure per-row
    * projection — the [[kmeansAssign]] verdict minus the corpus-level
    * `n_cell` count, with the centroid vector resolved from a k-row
    * expression literal instead of a join. ZERO shuffles, no
    * aggregation: assigning a 100 TB stream of vectors to trained
    * clusters is a map over the stream, and the same call runs
    * unchanged under Structured Streaming in append mode (the batch
    * form's population count would demand complete/update mode —
    * parity test-pinned, the [[graft.pipeline.Classifier
    * .scoreHashedLogisticInline]] contract applied to clustering). */
  def kmeansAssignInline(emb: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    require(cents.nonEmpty, "kmeansAssignInline needs centroids")
    val byCid = cents.sortBy(_._1)
    val cidArr = typedLit(byCid.map(_._1.toLong))
    val cvArr = typedLit(byCid.map(_._2))
    val cell = ivfCellOf(col("v"), col("nrm"), cents)
    val cv = element_at(cvArr, (array_position(cidArr, cell)).cast("int"))
    emb.select(col("vec_id"), col("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("cell", cell)
      .withColumn("cos",
        round(dot(col("v"), cv) / (col("nrm") * sqrt(dot(cv, cv))), 4))
      .select(col("vec_id"), col("cell"), col("cos"))
  }

  /** Cluster OUTLIER mining — [[clusterBalancedSample]]'s inverse
    * order: the m vectors FARTHEST from their own centroid per cell
    * (lowest round-4 cosine, ties to the lower vec_id) — the curation
    * review queue: within-cluster outliers are where mislabeled,
    * boilerplate, and junk documents concentrate after an unsupervised
    * clustering, and where active-learning picks its hard examples.
    * Same plan shape: one window per cell partition. */
  def clusterOutliers(emb: DataFrame, cents: Seq[(Int, Seq[Double])],
                      m: Int): DataFrame = {
    require(m >= 1, s"m must be >= 1, got $m")
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("cos").asc, col("vec_id"))
    kmeansAssign(emb, cents)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= m)
  }

  /** [[semanticDedup]] PAST THE LITERAL CEILING, with the straddle
    * mitigation built in — the production form of SemDeDup here:
    *
    *  - cell assignment goes through the FRAME-backed quantizer
    *    ([[ivfIndexJoin]]) instead of folding k centroids into an
    *    expression literal, so k can grow ∝ n (the SemDeDup regime —
    *    cells ≈ √n keeps the within-cell join at O(n^1.5)) without a
    *    multi-GB plan object; the frame path's descent is parity-pinned
    *    to the literal's (round-4 cosine, ties to the lowest cid);
    *  - MULTI-PROBE candidate generation: each vector is assigned to
    *    its best `nprobe` cells, and a pair is compared when it meets
    *    in ANY probed cell. With nprobe = 1 this is exactly
    *    [[semanticDedup]]'s single-cell recipe (test-pinned parity);
    *    nprobe = 2 is the standard mitigation for the method's
    *    boundary blind spot — a near-dup pair STRADDLING two cells is
    *    never compared by the single-cell pass, but the second-best
    *    probe catches any pair whose members rank each other's home
    *    cell within their top-2 (the nprobe knob the ANN family
    *    already exposes, applied to dedup candidates).
    *
    * Connectivity stays edge-defined: probed cells only GENERATE
    * candidates; components are the transitive closure of confirmed
    * (round-6 cosine ≥ tau) pairs, so cell boundaries never split a
    * cluster. Candidate volume is nprobe²·n²/k expected (each side
    * explodes nprobe cells) with duplicates collapsed before
    * resolution — the cost knob is explicit, not hidden.
    *
    * Output contract identical to [[semanticDedup]]: (vec_id, cell =
    * HOME cell, cluster, is_keeper, n_cluster). */
  def semanticDedupFrames(emb: DataFrame, frames: IvfFrames, tau: Double,
                          nprobe: Int = 1, coarseProbe: Int = 1,
                          topProbe: Int = 1): DataFrame = {
    val celled = ivfIndexJoin(emb, frames, nprobe, coarseProbe, topProbe)
    val a = celled.select(col("vec_id").as("da"), col("v").as("va"),
                          col("nrm").as("na"), explode(col("cells")).as("pc"))
    val b = celled.select(col("vec_id").as("db"), col("v").as("vb"),
                          col("nrm").as("nb"), explode(col("cells")).as("pc"))
    // a pair meeting in several probed cells scores identically each
    // time (pure function of the vectors), so the distinct collapses
    // duplicate edges before cluster resolution
    val pairs = a.join(b, Seq("pc"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"),
              round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cos"))
      .filter(col("cos") >= lit(tau))
      .select(col("da"), col("db")).distinct()
    val labels = graft.pipeline.TextDedup.dupClusters(
      emb.select(col("vec_id").as("doc_id")), pairs)
    val sizes = labels.groupBy(col("cluster")).agg(count(lit(1)).as("n_cluster"))
    labels
      .join(celled.select(col("vec_id").as("doc_id"), col("cell")), Seq("doc_id"))
      .join(sizes, Seq("cluster"))
      .select(col("doc_id").as("vec_id"), col("cell"), col("cluster"),
              col("is_keeper"), col("n_cluster"))
  }

  /** CONTRASTIVE PAIR MINING — the training-data product an embedding
    * model is fine-tuned on: one (anchor, positive, hard-negative)
    * triplet per anchor, where the positive is the anchor's
    * closest same-cluster neighbor and the hard negative its closest
    * DIFFERENT-cluster neighbor (the "looks similar but isn't a
    * duplicate" example contrastive losses need). Clusters are the
    * [[semanticDedupFrames]] verdict at `tau`; both argmaxes range over
    * the SAME probed-cell candidate structure (nprobe²·n²/k volume, the
    * documented SemDeDup bound — never all pairs), so mining costs one
    * more window over candidates the dedup pass already generates.
    *
    * Anchors with no same-cluster candidate (singletons) emit no row —
    * a triplet without a positive trains nothing; a positive without a
    * hard negative keeps the row with null negative (the consumer may
    * in-batch-sample instead). Determinism: cosines round to 6, ranks
    * tie on partner id; duplicate candidate rows from multi-cell meets
    * cannot change an argmax (same key), so no distinct is paid. */
  def contrastivePairs(emb: DataFrame, frames: IvfFrames, tau: Double,
                       nprobe: Int = 1, coarseProbe: Int = 1,
                       topProbe: Int = 1): DataFrame = {
    val celled = ivfIndexJoin(emb, frames, nprobe, coarseProbe, topProbe)
    val a = celled.select(col("vec_id").as("da"), col("v").as("va"),
                          col("nrm").as("na"), explode(col("cells")).as("pc"))
    val b = celled.select(col("vec_id").as("db"), col("v").as("vb"),
                          col("nrm").as("nb"), explode(col("cells")).as("pc"))
    val cand = a.join(b, Seq("pc"))
      .filter(col("da") =!= col("db"))
      .select(col("da"), col("db"),
              round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cs"))
    val edges = cand.filter(col("da") < col("db") && col("cs") >= lit(tau))
      .select(col("da"), col("db")).distinct()
    val labels = graft.pipeline.TextDedup.dupClusters(
        emb.select(col("vec_id").as("doc_id")), edges)
      .select(col("doc_id"), col("cluster"))
    val lab = cand
      .join(labels.select(col("doc_id").as("da"), col("cluster").as("ca")), Seq("da"))
      .join(labels.select(col("doc_id").as("db"), col("cluster").as("cb")), Seq("db"))
    val wa = Window.partitionBy(col("da")).orderBy(col("cs").desc, col("db"))
    val pos = lab.filter(col("ca") === col("cb"))
      .withColumn("rn", row_number().over(wa)).filter(col("rn") === 1)
      .select(col("da").as("anchor_id"), col("db").as("pos_id"),
              col("cs").as("pos_cos"))
    val neg = lab.filter(col("ca") =!= col("cb"))
      .withColumn("rn", row_number().over(wa)).filter(col("rn") === 1)
      .select(col("da").as("anchor_id"), col("db").as("neg_id"),
              col("cs").as("neg_cos"))
    pos.join(neg, Seq("anchor_id"), "left")
  }

  /** RETRIEVAL-QUALITY SCORECARD — grade an approximate top-k result
    * against exact ground truth, per query: the ANN index-tuning
    * feedback loop (the standard eval triple recall@k / MRR / NDCG@k).
    *
    * Inputs are two ranked frames of (query_id, neighbor_id, rn); rows
    * with rn > k are ignored on both sides. Relevance is binary =
    * membership in the TRUE top-k, and the ideal DCG comes from the
    * truth ranks themselves (Σ 1/log2(trn+1)) so short truth lists
    * (corpus smaller than k) normalize correctly; recall likewise
    * divides by the actual truth-list length. MRR is the reciprocal of
    * the approximate rank at which the TRUE NEAREST neighbor appears
    * (0 when missed). All three are fractions of ≤k-term sums —
    * round(...,6) for cross-engine hashing.
    *
    * Scale shape: one inner join + two groupBys, all keyed on
    * query_id (well-spread); nothing corpus-sized is collected —
    * evaluating 10⁶ held-out queries against a 100 TB index is the
    * same plan. The expensive half of an eval (producing `truth`) is
    * the caller's brute-force pass over a SAMPLE of queries; this op
    * only prices the comparison. */
  def rankEval(truth: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val t = truth.filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rn").as("trn"))
    val a = approx.filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rn").as("arn"))
    val ideal = t.groupBy(col("query_id")).agg(
      count(lit(1)).as("n_truth"),
      sum(lit(1.0) / log2(col("trn") + 1)).as("idcg"))
    val hits = t.join(a, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(
        count(lit(1)).as("n_hit"),
        sum(lit(1.0) / log2(col("arn") + 1)).as("dcg"),
        min(when(col("trn") === 1, col("arn"))).as("rank1"))
    ideal.join(hits, Seq("query_id"), "left").select(
      col("query_id"),
      round(coalesce(col("n_hit"), lit(0L)) / col("n_truth"), 6).as("recall_k"),
      round(coalesce(lit(1.0) / col("rank1"), lit(0.0)), 6).as("mrr"),
      round(coalesce(col("dcg"), lit(0.0)) / col("idcg"), 6).as("ndcg"))
  }

  /** IVF INDEX HEALTH — per-cell diagnostics over a flat quantizer:
    * population, load ratio against the uniform ideal (n_vecs·k/N — a
    * ratio ≫ 1 marks a hot cell that dominates probe cost; 0 marks a
    * dead cell wasting a centroid), and mean cosine distortion to the
    * home centroid (1 − the round-4 assignment cosine — the
    * quantization error that governs recall). This is the measurement
    * that drives the retrain/re-balance decision behind the √n cell
    * growth rule: distortion creeping up says k lags corpus growth,
    * skewed load says the centroids no longer tile the data.
    *
    * Empty cells are kept (left join from the centroid list) with
    * n_vecs = 0 and null distortion. One assignment pass (the same
    * native descent the serving path uses, so the diagnostics grade
    * the index as served) + one groupBy(cell) bounded by k + a
    * broadcast of the k-sized centroid list; N arrives as a 1-row
    * broadcast cross join. */
  def ivfCellStats(emb: DataFrame, centroids: Seq[(Int, Seq[Double])]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val idx = ivfIndex(emb, centroids)
    val cents = broadcast(
      centroids.map { case (cid, cv) => (cid.toLong, cv) }
        .toDF("cell", "cv")
        .withColumn("cnrm", sqrt(dot(col("cv"), col("cv")))))
    val st = idx.join(cents, Seq("cell"))
      .select(col("cell"),
        (lit(1.0) - round(dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 4)).as("dist"))
      .groupBy(col("cell")).agg(
        count(lit(1)).as("nv"),
        round(avg(col("dist")), 6).as("mean_distortion"))
    val tot = idx.agg(count(lit(1)).as("n_total"))
    cents.select(col("cell")).crossJoin(broadcast(tot))
      .join(st, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("nv"), lit(0L)).as("n_vecs"),
        round(coalesce(col("nv"), lit(0L)) * lit(centroids.size) / col("n_total"), 6)
          .as("load_ratio"),
        col("mean_distortion"))
  }
}
