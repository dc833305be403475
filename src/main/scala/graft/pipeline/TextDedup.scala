package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication + text-analysis operators for training-data pipelines.
  *
  * Everything here is built from codegen'd `functions._` primitives (no
  * UDFs) and is hash-portable: md5 and sha256 are the only hashes, so
  * the DuckDB oracles compute bit-identical values.
  *
  * Scale design: the only expensive step in near-dup detection is pair
  * generation. All-pairs is O(n²) and is never done; candidates come
  * from LSH band buckets (minhash bands → hash-join on band key), so
  * cost is O(Σ bucket²) which stays near-linear when shingles are
  * discriminative. At 100 TB: shingling is a flatMap (map-side),
  * signatures one groupBy(doc), bands one groupBy(band) — three
  * shuffles, all keyed, no driver materialization.
  */
object TextDedup {

  /** Distinct word tokens per document (set semantics for Jaccard). */
  def tokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
              explode(split(trim(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .distinct()

  /** Distinct word-bigram shingles per document — far more selective
    * than unigram sets on small vocabularies. */
  def bigramShingles(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("l", split(trim(col(textCol)), " "))
      .filter(size(col("l")) >= 2) // sequence(1, 0) would count DOWN in Spark
      .select(col(idCol).as("id"),
              explode(transform(sequence(lit(1), size(col("l")) - 1),
                i => concat(element_at(col("l"), i), lit("_"),
                            element_at(col("l"), i + 1)))).as("bg"))
      .distinct()

  /** Distinct word n-gram shingles — [[bigramShingles]] generalized to
    * the longer windows decontamination uses (industry practice checks
    * 8-13-gram overlap: long enough that a shared gram means copied
    * TEXT, not shared vocabulary). Same `_`-joined form; docs shorter
    * than n words emit nothing. */
  def ngramShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2, got $n")
    df.withColumn("l", split(trim(col(textCol)), " "))
      .filter(size(col("l")) >= n)
      .select(col(idCol).as("id"),
              explode(transform(sequence(lit(1), size(col("l")) - (n - 1)),
                i => concat_ws("_", (0 until n).map(k => element_at(col("l"), i + k)): _*)))
                .as("bg"))
      .distinct()
  }

  /** DECONTAMINATION — corpus documents sharing ≥ `minHits` distinct
    * word n-grams with any benchmark item: the check every training
    * pipeline runs before a data release (a test-set question quoted
    * inside a crawled page poisons the benchmark; at n = 8 a single
    * shared gram is already 8 consecutive copied words, so the default
    * flags verbatim inclusion while shared VOCABULARY never collides).
    * Output one row per contaminated (doc, benchmark item) pair with
    * the shared-gram count — the audit trail, not just a drop list.
    *
    * Scale shape: benchmark suites are contract-small (thousands of
    * items, not corpora), so the bench gram table is explicitly
    * broadcast and the whole check is ONE map-side hash join over the
    * corpus gram scan — no shuffle of corpus data at any n. */
  def contaminatedDocs(corpus: DataFrame, idCol: String, textCol: String,
                       bench: DataFrame, benchIdCol: String, benchTextCol: String,
                       n: Int = 8, minHits: Int = 1): DataFrame = {
    require(minHits >= 1, s"minHits must be >= 1, got $minHits")
    val cg = ngramShingles(corpus, idCol, textCol, n)
      .select(col("id").as("doc_id"), col("bg"))
    val bg = ngramShingles(bench, benchIdCol, benchTextCol, n)
      .select(col("id").as("bench_id"), col("bg"))
    cg.join(broadcast(bg), Seq("bg"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared")) // both sides distinct → count = distinct shared
      .filter(col("n_shared") >= minHits)
  }

  /** MinHash signature: h_i(doc) = min over shingles of an 8-hex slice
    * of a salted sha256 of the shingle — ONE digest per group of 8
    * hashes (the one-permutation-hashing trick: disjoint slices of a
    * uniform digest act as independent uniform hashes), so 16 hashes
    * cost 2 digest evaluations per shingle, not 16. Group 0 is the
    * unsalted digest; group g > 0 salts with the group index
    * (`sha256(g || shingle)`), which any engine reproduces — the salt
    * lifts the old 4-hash md5 cap without losing oracle portability.
    * Lexicographic min over hex is a valid minhash and identical in any
    * engine with binary collation. The digests are materialized in a
    * projection BEFORE the aggregate so each is computed once per
    * shingle row, not once per slice. */
  def minhashSignature(shingles: DataFrame, nHashes: Int): DataFrame = {
    require(nHashes >= 1, s"need at least one hash, got $nHashes")
    val nGroups = (nHashes + 7) / 8
    val digests = Seq.tabulate(nGroups) { g =>
      val in = if (g == 0) col("bg") else concat(lit(g.toString), col("bg"))
      sha2(in, 256).as(s"d$g")
    }
    val projected = shingles.select(col("id") +: digests: _*)
    val hs = Seq.tabulate(nHashes)(i =>
      min(substring(col(s"d${i / 8}"), (i % 8) * 8 + 1, 8)).as(s"h$i"))
    projected.groupBy(col("id")).agg(hs.head, hs.tail: _*)
  }

  /** Skew guard for candidate generation: drop shingles present in more
    * than `maxDocFrac` of the documents BEFORE signatures. Web-scale
    * boilerplate (shared headers/footers) otherwise lands whole corpora
    * in one band bucket and the band self-join goes O(bucket²); a
    * shingle carried by >10% of documents has no discriminating power
    * for near-dup detection anyway. One extra groupBy on the shingle
    * key; the frequent set is tiny by construction, so the removal is a
    * broadcast anti-join. Prune feeds SIGNATURES only — exact Jaccard
    * confirmation still uses the full shingle sets. */
  /** The frequent-shingle set itself, collected: the exclude list for
    * the per-row signature path ([[withRowMinhashSignature]]). Tiny by
    * construction — a shingle qualifies only above `maxDocFrac` of the
    * corpus, so at most 1/maxDocFrac DISTINCT shingles qualify per
    * document-length bound — which is why the batch path broadcasts it
    * and this path can fold it into an expression literal. Same
    * count/threshold semantics as [[pruneFrequentShingles]]. */
  def frequentShingles(shingles: DataFrame, maxDocFrac: Double): Seq[String] = {
    val nDocs = shingles.agg(countDistinct(col("id"))).head().getLong(0)
    shingles.groupBy(col("bg")).agg(count(lit(1)).as("df"))
      .filter(col("df") > nDocs * maxDocFrac)
      .select(col("bg")).collect().map(_.getString(0)).toSeq
  }

  def pruneFrequentShingles(shingles: DataFrame, maxDocFrac: Double): DataFrame = {
    val nDocs = shingles.agg(countDistinct(col("id")).as("n_docs"))
    val frequent = shingles.groupBy(col("bg")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") > col("n_docs") * maxDocFrac)
      .select(col("bg"))
    shingles.join(broadcast(frequent), Seq("bg"), "left_anti")
  }

  /** Band-hash array over a signature row's `h*` columns: one md5 per
    * `bandSize` consecutive hashes. Shared by the batch band index
    * ([[lshBands]]) and the streaming routing op
    * ([[graft.streaming.StreamOps.streamingNearDupCandidates]]), so
    * both sides bucket identically by construction. */
  def bandHashArray(nHashes: Int, bandSize: Int): Column =
    array((0 until nHashes by bandSize).map { start =>
      val cols = (start until math.min(start + bandSize, nHashes)).map(i => col(s"h$i"))
      md5(concat(cols: _*))
    }: _*)

  /** LSH bands: one row per (doc, band-hash); docs sharing any band are
    * near-dup candidates. All bands emit from ONE pass over the
    * signature frame (explode of a band-hash array), not one scan per
    * band. */
  def lshBands(signature: DataFrame, nHashes: Int, bandSize: Int): DataFrame =
    signature.select(col("id"), explode(bandHashArray(nHashes, bandSize)).as("band"))

  /** The CCNet dedup-key character fold: lowercase Latin accents → base
    * letters. Applied AFTER lower(), so only lowercase forms appear;
    * `translate` is per-code-point in both Spark and DuckDB, so the
    * fold is oracle-exact by construction. */
  val accentFoldSrc = "áàâäãåéèêëíìîïóòôöõúùûüçñýÿšž"
  val accentFoldDst = "aaaaaaeeeeiiiiooooouuuucnyysz"

  /** CCNet dedup-key normalization: the published pre-hash fold
    * (lowercase, accent fold, digits → 0, whitespace collapse) that
    * makes exact dedup catch trivially-reformatted copies — the
    * mirrored page that only differs in case, diacritics dropped in
    * transit, serial numbers / timestamps. (CCNet also strips
    * punctuation; that step is regex-dialect-sensitive across engines
    * and is deliberately excluded from the hash key.) */
  def dedupKeyNorm(text: Column): Column =
    regexp_replace(
      regexp_replace(
        translate(lower(trim(text)), accentFoldSrc, accentFoldDst),
        "[0-9]", "0"),
      " +", " ")

  /** Exact dedup on the NORMALIZED key: one ledger row per doc with its
    * normalized-group stats and — the point of the op — whether RAW
    * exact dedup (q54's md5-of-text) would have caught it too.
    * `raw_dup = 0, n_variants > 1` is precisely the mass this op adds
    * over [[q54]]-style dedup. Scale shape: two keyed groupBys + two
    * broadcast-free keyed joins on hash keys — no widths beyond q54's. */
  def normalizedExactDedup(df: DataFrame, idCol: String,
                           textCol: String): DataFrame = {
    val keyed = df.select(col(idCol).as("doc_id"),
      md5(dedupKeyNorm(col(textCol))).as("nkey"),
      md5(col(textCol)).as("rawkey"))
    val nGroups = keyed.groupBy("nkey")
      .agg(min(col("doc_id")).as("canonical_id"),
           count(lit(1)).as("n_variants"))
    val rawGroups = keyed.groupBy("rawkey").agg(count(lit(1)).as("n_raw"))
    keyed.join(nGroups, Seq("nkey")).join(rawGroups, Seq("rawkey"))
      .select(col("doc_id"), col("nkey"), col("canonical_id"),
              col("n_variants"),
              (col("doc_id") === col("canonical_id")).cast("long").as("is_keeper"),
              (col("n_raw") >= 2).cast("long").as("raw_dup"))
  }

  /** Band-plan auto-tuner: pick (bands, rowsPerBand) for an `nPerms`-hash
    * MinHash-LSH index from the target Jaccard threshold, by minimizing
    * the S-curve's error mass. For a (b, r) plan the candidate
    * probability at similarity J is P(J) = 1 − (1 − J^r)^b; the tuner
    * scores every divisor pair b·r = nPerms by its false-positive mass
    * (∫₀ᵗ P) and false-negative mass (∫ₜ¹ (1−P)) on a uniform J grid and
    * returns the full decision table with the argmin flagged —
    * `objective = fp_mass + fnWeight·fn_mass` (recall-first tuning sets
    * fnWeight > 1; the r3 banding lesson — recall is the contract,
    * candidate volume is the price — made explicit and searchable).
    *
    * Every quantity is EXACT INTEGER arithmetic in millionths: powers
    * come from the recurrence x_i = (x_{i−1}·J_µ) div 10⁶ (long
    * multiply + integer div, no float pow anywhere), masses are integer
    * sums of grid values, so the DuckDB oracle replays the whole
    * optimization bit-for-bit with two recursive CTEs. Config-sized
    * throughout (divisor-count × gridSteps rows); the tie-break is
    * deterministic (min objective, then min bands). */
  def lshBandPlan(spark: org.apache.spark.sql.SparkSession, nPerms: Int,
                  thresholdMicro: Long, fnWeight: Long = 1L,
                  gridSteps: Int = 100): DataFrame = {
    require(nPerms > 0, "nPerms must be positive")
    require(gridSteps > 1 && 1000000L % gridSteps == 0,
      "gridSteps must divide 1e6 so grid points are exact millionths")
    require(thresholdMicro > 0 && thresholdMicro < 1000000L,
      "thresholdMicro must be inside (0, 1e6)")
    import spark.implicits._
    val step = 1000000L / gridSteps
    val cand = (1 to nPerms).filter(nPerms % _ == 0).map(b => (b, nPerms / b))
      .toDF("bands", "rows_per_band")
    val curve = cand
      .withColumn("j_micro",
        explode(expr(s"sequence(${step}L, ${1000000L - step}L, ${step}L)")))
      .withColumn("x", expr(
        "aggregate(sequence(1, rows_per_band), 1000000L, (acc, i) -> (acc * j_micro) DIV 1000000)"))
      .withColumn("y", lit(1000000L) - col("x"))
      .withColumn("p_micro", lit(1000000L) - expr(
        "aggregate(sequence(1, bands), 1000000L, (acc, i) -> (acc * y) DIV 1000000)"))
    val areas = curve.groupBy("bands", "rows_per_band")
      .agg(sum(when(col("j_micro") < thresholdMicro, col("p_micro"))
             .otherwise(0L)).as("fp_mass"),
           sum(when(col("j_micro") >= thresholdMicro, lit(1000000L) - col("p_micro"))
             .otherwise(0L)).as("fn_mass"))
      .withColumn("objective", col("fp_mass") + lit(fnWeight) * col("fn_mass"))
    val best = areas.agg(min(struct(col("objective"), col("bands"))).as("m"))
      .select(col("m.objective").as("best_obj"), col("m.bands").as("best_bands"))
    areas.crossJoin(broadcast(best))
      .withColumn("is_chosen",
        (col("objective") === col("best_obj") &&
         col("bands") === col("best_bands")).cast("long"))
      .select("bands", "rows_per_band", "fp_mass", "fn_mass", "objective",
              "is_chosen")
  }

  /** Per-ROW minhash signature: the same `h0..h{n-1}` values as
    * [[minhashSignature]], computed on a single document row with NO
    * shuffle — the ingestion-time form of the signature (a streaming
    * source can't run the shingle-explode + groupBy pipeline per
    * micro-batch without stateful aggregation, but a whole document
    * arrives on one row, so its signature is a pure projection).
    *
    * Parity by construction (pinned by test): min is
    * duplicate-insensitive, so the batch path's shingle `.distinct()`
    * is unnecessary here; digests, slices, and lexicographic mins are
    * the identical expressions. `exclude` mirrors
    * [[pruneFrequentShingles]]' corpus-derived frequent set — tiny by
    * construction (the batch side broadcasts it), so it travels as a
    * literal. Docs with fewer than 2 words get null signature columns
    * (the batch pipeline drops them before the groupBy) — their band
    * hashes are null and join nothing.
    *
    * Implementation: the native [[graft.plans.MinhashSig]] expression —
    * the whole tokenize→shingle→digest→min pipeline as one codegen'd
    * pass per row. Rounds 4-5 composed this from HOFs
    * (`transform`/`array_min` over digest arrays) on the theory that
    * sha256 cost would drown the interpreted dispatch; a round-6 A/B at
    * sf0.1 falsified that (HOF row form 6.7 s vs 3.3 s for the batch
    * shuffle form it was meant to beat — per-element UTF8String↔String
    * conversions and array allocations, not just dispatch), while the
    * native form beats both. */
  def withRowMinhashSignature(df: DataFrame, textCol: String, nHashes: Int,
                              exclude: Seq[String] = Nil): DataFrame = {
    require(nHashes >= 1, s"need at least one hash, got $nHashes")
    val sig = call_function("minhash_sig", col(textCol), lit(nHashes),
                            typedLit(exclude))
    val sigCols = Seq.tabulate(nHashes)(i =>
      element_at(col("__sig"), i + 1).as(s"h$i"))
    df.withColumn("__sig", sig)
      .select(df.columns.map(col).toSeq ++ sigCols: _*)
  }

  /** Materialized MinHash BAND INDEX of a corpus — the static side of
    * streaming near-dup routing ([[graft.streaming.StreamOps
    * .streamingNearDupCandidates]]), built from the per-row signature
    * (zero shuffle — parity with the batch groupBy signature is
    * test-pinned) and cacheOnce'd like every other corpus index (one
    * entry per (corpus, params); release via
    * `graft.queries.releaseIndexes(corpus)` or swap via
    * [[graft.streaming.StreamOps.refreshMinhashIndex]]). Docs with
    * fewer than 2 words have null signatures → null band hashes; they
    * are dropped here (they can never match) rather than carried as
    * join-dead rows. */
  def minhashBandIndex(df: DataFrame, idCol: String, textCol: String,
                       nHashes: Int, bandSize: Int,
                       exclude: Seq[String] = Nil): DataFrame = {
    val signed = withRowMinhashSignature(
      df.select(col(idCol).as("id"), col(textCol).as("__t")), "__t", nHashes, exclude)
    graft.queries.cacheOnce(
      lshBands(signed, nHashes, bandSize).filter(col("band").isNotNull))
  }

  /** Materialized 64-bit SimHash band index — [[simhash64Bands]]
    * cacheOnce'd, the static side of
    * [[graft.streaming.StreamOps.streamingSimhashCandidates]] with the
    * same lifecycle contract as [[minhashBandIndex]]. */
  def simhash64BandIndex(df: DataFrame, idCol: String, textCol: String,
                         maxHamming: Int = 3): DataFrame =
    graft.queries.cacheOnce(simhash64Bands(df, idCol, textCol, maxHamming))

  /** Content-defined chunk table: one row per CDC chunk —
    * (doc_id, chunk_idx, chunk_start, chunk_len, chunk_hash) — via the
    * native [[graft.plans.CdcChunks]] expression (boundary rationale
    * and the stateless-vs-clamped design there). chunk_hash is
    * md5(substr(text, start, len)): engine-portable content identity.
    * Pure scan → explode → project, zero shuffles — the ingest-side
    * half of chunk-level dedup; [[chunkDedup]] adds the one shuffle
    * that resolves duplicates corpus-wide. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                window: Int = 16, maskBits: Int = 6, maxLen: Int = 0,
                passthrough: Seq[String] = Nil): DataFrame = {
    df.select(col(idCol).as("doc_id") +: col(textCol).as("__t") +:
              passthrough.map(col) :+
              posexplode(call_function("cdc_chunks", col(textCol),
                                       lit(window), lit(maskBits), lit(maxLen))): _*)
      .select(col("doc_id") +: (col("pos") + 1).as("chunk_idx") +:
              col("col.start").as("chunk_start") +: col("col.len").as("chunk_len") +:
              md5(expr("substring(__t, col.start, col.len)")).as("chunk_hash") +:
              passthrough.map(col): _*)
  }

  /** Chunk-level dedup resolution: which chunk contents repeat across
    * the corpus, where the canonical copy lives, and how many bytes
    * dedup would reclaim. One hash-groupBy on the content hash — the
    * same single-shuffle shape as exact doc dedup (q54), but applied
    * to CDC chunks so documents that share MOST of their bytes (edits,
    * insertions) still dedup the untouched regions. */
  def chunkDedup(chunks: DataFrame): DataFrame =
    chunks.groupBy(col("chunk_hash"))
      .agg(min(col("doc_id")).as("keeper_doc"),
           count(lit(1)).as("n_copies"),
           countDistinct(col("doc_id")).as("n_docs"),
           min(col("chunk_len")).as("chunk_len"))

  /** Candidate pairs from shared bands (a < b, dedup across bands).
    * This hash-join on the band key IS the scale path: no cross join. */
  def candidatePairs(bands: DataFrame): DataFrame = {
    val a = bands.select(col("id").as("da"), col("band"))
    val b = bands.select(col("id").as("db"), col("band"))
    a.join(b, Seq("band")).filter(col("da") < col("db"))
      .select("da", "db").distinct()
  }

  /** MinHash-estimate prefilter: keep only candidate pairs whose
    * signatures agree on at least `minAgree` of `nHashes` hashes. The
    * per-hash agreement probability IS the Jaccard similarity, so this
    * estimates J for free from the already-computed signatures and
    * spares the exact-Jaccard join its background traffic: at 16 hashes
    * and minAgree=4, a J=0.1 background pair passes ~7% of the time
    * (13× fewer candidates) while a J=0.5 pair is lost only
    * P(Binom(16,0.5) < 4) ≈ 1% — the standard LSH practice of
    * estimate-then-verify. The candidate-PAIR side is the smaller one
    * (band-collision-sized, vs the doc-count-sized signature frame), and
    * at bench scale AQE's runtime size check broadcasts it. We
    * deliberately do NOT hint it: an explicit `broadcast()` forces a
    * BroadcastHashJoin regardless of `autoBroadcastJoinThreshold`, and
    * the pair set grows ~linearly with corpus size (95k pairs at 50k
    * docs), so at the 100 TB posture a forced broadcast would collect a
    * non-driver-sized frame. Unhinted, Spark broadcasts only when the
    * measured size is small and otherwise plans keyed shuffle joins on
    * doc id — still no cross join, no new wide shuffle of the shingle
    * table. (PlanShapeSpec pins the no-forced-pair-broadcast shape.) */
  def filterBySignatureAgreement(pairs: DataFrame, signature: DataFrame,
                                 nHashes: Int, minAgree: Int): DataFrame = {
    val hs = (0 until nHashes).map(i => s"h$i")
    val sa = signature.select(col("id").as("da") +: hs.map(h => col(h).as(s"a_$h")): _*)
    val sb = signature.select(col("id").as("db") +: hs.map(h => col(h).as(s"b_$h")): _*)
    val agreement = hs.map(h => when(col(s"a_$h") === col(s"b_$h"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(sa, Seq("da")).join(sb, Seq("db"))
      .filter(agreement >= minAgree)
      .select("da", "db")
  }

  /** Exact Jaccard over the shingle sets of candidate pairs only.
    *
    * Plan shape: `pairs` is band-collision-sized (tiny relative to the
    * corpus), so Spark's size estimation broadcasts the first join onto
    * the shingle table map-side at bench scale (unhinted — at corpus
    * scale it degrades gracefully to a keyed shuffle join); only the
    * (db, bg) intersection join shuffles shingles, once. A semi-filter of shingles down to candidate docs before the
    * wide join was tried and MEASURED 2.4× slower at bench scale: the
    * candidate list depends on the band self-join, so filtering by it
    * serializes the whole DAG behind pair generation and adds a second
    * pass over the shingle table, while the shuffle it saves is the
    * cheap part. Keep this shape; measure before "improving" it. */
  def jaccard(shingles: DataFrame, pairs: DataFrame): DataFrame = {
    val counts = shingles.groupBy("id").agg(count(lit(1)).as("n"))
    val sa = shingles.select(col("id").as("da"), col("bg"))
    val sb = shingles.select(col("id").as("db"), col("bg"))
    val inter = pairs.join(sa, Seq("da")).join(sb, Seq("db", "bg"))
      .groupBy("da", "db").agg(count(lit(1)).as("i"))
    inter
      .join(counts.withColumnRenamed("id", "da").withColumnRenamed("n", "na"), Seq("da"))
      .join(counts.withColumnRenamed("id", "db").withColumnRenamed("n", "nb"), Seq("db"))
      .select(col("da"), col("db"),
              round(col("i") * 1.0 / (col("na") + col("nb") - col("i")), 6).as("jaccard"))
  }

  /** Duplicate-cluster resolution: connected components over near-dup
    * pairs via Pregel-style min-label propagation. Every doc starts
    * labeled with its own id; each round it takes the min label among
    * itself and its neighbors, until no label changes. The cluster id
    * is therefore the min doc id in the component, and `is_keeper`
    * marks the canonical survivor (the standard keep-one-per-cluster
    * dedup decision).
    *
    * Scale: each round is one keyed shuffle (join labels onto edges +
    * groupBy min); rounds = component diameter, tiny for dup clusters.
    * Only the per-round change COUNT hits the driver — labels and
    * edges stay distributed. (A connected-docs-only iteration with an
    * anti-join for singletons was tried and MEASURED 2.5× slower here:
    * it roots the whole loop's lineage in the near-dup pipeline
    * instead of a plain scan, and the saved rows are not the cost.)
    *
    * `pointerJump = true` is the escalation for DEEP components
    * (chained paraphrase families rather than tight dup clusters):
    * each round additionally shortcuts label(v) ← label(label(v)) —
    * one extra keyed join against the (cached) previous labels, valid
    * because labels ARE doc ids. Reach doubles per round instead of
    * growing by one, so rounds = O(log diameter): a diameter-100 chain
    * that exhausts the default maxRounds under plain propagation
    * converges in ~9 rounds (test-pinned, labels identical). At
    * typical dup diameters (2-4) the extra join costs more than it
    * saves, which is why plain propagation stays the default and
    * `maxRounds` guards the assumption.
    *
    * `broadcastEdgeMax` is the ADAPTIVE small-graph path — the same
    * engineering judgment as Spark's autoBroadcastJoinThreshold: the
    * confirmed-duplicate edge set is pair-count-sized (bounded by dup
    * density, NOT corpus size — a 100 TB corpus at web dup rates still
    * yields an edge list orders of magnitude smaller than the corpus),
    * so when it fits comfortably on the driver the right plan is
    * path-compressed union-find there and ONE broadcast join back,
    * not O(diameter) keyed shuffle rounds each costing a driver-
    * synchronized job. One `limit(max+1).collect()` probes size and
    * fetches the edges in a single job; exactly max+1 rows means
    * "over threshold" and the distributed loop runs instead. Labels
    * are identical on both paths by the definition of connected
    * components (min doc id per component) — parity is test-pinned.
    * Pass 0 to force the distributed loop (q66/q78 do, as the
    * oracle-parity forms of each propagation flavor).
    *
    * Precondition (both paths, same reason): edge endpoints ⊆ docs —
    * the distributed loop never labels a non-doc vertex, and the
    * union-find path must not let one become a cluster min. Every
    * in-repo caller derives `pairs` from `docs`. */
  def dupClusters(docs: DataFrame, pairs: DataFrame, maxRounds: Int = 50,
                  onRound: (Int, Long, Double) => Unit = null,
                  pointerJump: Boolean = false,
                  broadcastEdgeMax: Long = 1L << 20): DataFrame = {
    require(broadcastEdgeMax <= Int.MaxValue - 1, "broadcastEdgeMax must fit an Int limit")
    if (broadcastEdgeMax > 0) {
      val probe = pairs.select(col("da").cast("long"), col("db").cast("long"))
        .limit(broadcastEdgeMax.toInt + 1).collect()
      if (probe.length <= broadcastEdgeMax) {
        // driver union-find: path-compressed find, link roots, then one
        // pass assigning each component its min member as the label
        val parent = new java.util.HashMap[Long, Long]()
        def find(x0: Long): Long = {
          var x = x0
          if (!parent.containsKey(x)) { parent.put(x, x); return x }
          while (parent.get(x) != x) {
            parent.put(x, parent.get(parent.get(x))); x = parent.get(x)
          }
          x
        }
        probe.foreach { r =>
          val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        val minOfRoot = new java.util.HashMap[Long, Long]()
        parent.keySet().forEach { v =>
          val r = find(v)
          val cur = minOfRoot.getOrDefault(r, Long.MaxValue)
          if (v < cur) minOfRoot.put(r, v)
        }
        val labels = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        parent.keySet().forEach { v => labels += ((v, minOfRoot.get(find(v)))) }
        val spark = docs.sparkSession
        import spark.implicits._
        val labelDf =
          if (labels.isEmpty) Seq.empty[(Long, Long)].toDF("doc_id", "cluster")
          else labels.toSeq.toDF("doc_id", "cluster")
        return docs.select(col("doc_id"))
          .join(broadcast(labelDf), Seq("doc_id"), "left")
          .select(col("doc_id"),
                  coalesce(col("cluster"), col("doc_id")).as("cluster"))
          .withColumn("is_keeper", (col("doc_id") === col("cluster")).cast("long"))
      }
      // fall through: edge set over threshold — distributed propagation
    }
    // r17 (guide §2.3 — shuffle fewer bytes): the loop iterates over
    // the EDGE-ENDPOINT vertices only, not the whole doc universe.
    // Singleton labels never change (no neighbors), so propagation
    // restricted to connected vertices is exact; the per-round
    // shuffles shrink from corpus-sized to pair-count-sized. The r14
    // experiment that made this shape 2.5× slower rooted every round's
    // lineage in the near-dup pipeline and anti-joined singletons per
    // round — both fixed here: the edge frame is eagerly
    // localCheckpoint'ed ONCE (every round reads a materialized scan),
    // and singletons rejoin once at the end via left-join + coalesce.
    // Labels are identical by construction; parity is spec-pinned.
    val edges = pairs.select(col("da").as("src"), col("db").as("dst"))
      .unionByName(pairs.select(col("db").as("src"), col("da").as("dst")))
      .distinct().localCheckpoint()
    val verts = edges.select(col("src").as("doc_id")).distinct()
    var cached = verts.select(col("doc_id"), col("doc_id").as("cluster")).cache()
    var labels = cached
    var changed = 1L
    var rounds = 0
    try {
      while (changed > 0 && rounds < maxRounds) {
        val roundT0 = System.nanoTime()
        val nbrMin = edges
          .join(labels.select(col("doc_id").as("dst"), col("cluster").as("nc")), Seq("dst"))
          .groupBy(col("src")).agg(min(col("nc")).as("nbr_min"))
          .withColumnRenamed("src", "doc_id")
        // carry the previous label through the same pass: change
        // detection is then a filter on the cached round result instead
        // of a second join against the old labels
        val withNbr = labels.join(nbrMin, Seq("doc_id"), "left")
          .select(col("doc_id"), col("cluster").as("prev"),
                  least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("cluster"))
        // pointer jump: also take label(label(v)) from the PREVIOUS
        // round's (cached) labels — both joins read the same cached
        // frame, so the round stays two keyed shuffles, no recompute
        val joined =
          if (!pointerJump) withNbr
          else withNbr
            .join(labels.select(col("doc_id").as("__jk"), col("cluster").as("jump")),
                  col("prev") === col("__jk"), "left")
            .select(col("doc_id"), col("prev"),
                    least(col("cluster"), coalesce(col("jump"), col("prev"))).as("cluster"))
        // cache bounds recompute but not logical-plan growth: cut the
        // lineage every 5 rounds so deep-diameter graphs don't nest 50
        // joins in one plan (analyzer cost grows superlinearly with depth)
        val next = if (rounds % 5 == 4) joined.localCheckpoint() else joined.cache()
        changed = next.filter(col("cluster") =!= col("prev")).count() // materializes next
        cached.unpersist()
        cached = next
        labels = next.select(col("doc_id"), col("cluster"))
        rounds += 1
        // diagnostics hook (round #, labels changed, round seconds) —
        // nothing extra is computed when unset
        if (onRound != null)
          onRound(rounds, changed, (System.nanoTime() - roundT0) / 1e9)
      }
      if (changed > 0)
        throw new IllegalStateException(
          s"dupClusters did not converge after $maxRounds rounds ($changed labels still " +
          "changing): a duplicate component has diameter > maxRounds; set " +
          "pointerJump = true (O(log diameter) rounds) or raise maxRounds")
      // singletons rejoin here: every doc outside the edge set keeps
      // its own id (left join + coalesce — one pass, no anti-join).
      // The converged label frame is pair-count-sized, so the join
      // broadcasts unhinted at any corpus size. Eager localCheckpoint
      // materializes the result OUTSIDE the round cache, so the
      // per-call cache entries can be released (in the finally, which
      // also covers the non-convergence throw) instead of leaking in
      // the CacheManager until session end; checkpoint blocks are
      // cleaned by the ContextCleaner once the frame is unreferenced
      docs.select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
                coalesce(col("cluster"), col("doc_id")).as("cluster"))
        .withColumn("is_keeper", (col("doc_id") === col("cluster")).cast("long"))
        .localCheckpoint()
    } finally {
      cached.unpersist()
    }
  }

  /** One-call corpus dedup VERDICT — the porcelain composition of the
    * dedup family into the decision a training-data pipeline actually
    * consumes: for every document its duplicate-cluster id, whether it
    * is the canonical keeper, and the cluster size. Edges are the
    * union of (a) EXACT-duplicate pairs from the md5 content hash —
    * which also covers shingle-less short documents the similarity
    * path cannot see — and (b) MinHash-LSH near-dup pairs confirmed
    * by exact Jaccard ≥ `minJaccard` (the full q56 chain: df-pruned
    * signatures → band join → agreement prefilter → Jaccard).
    * Connected components then resolve TRANSITIVE chains: A≈B≈C
    * dedups as one cluster even when (A, C) are not pairwise similar.
    * Exact edges are star-shaped (min doc per hash → others), so a
    * hash shared by m docs contributes m−1 edges, not m²/2.
    *
    * Scale shape: the parts' documented postures unchanged — keyed
    * band/Jaccard joins, one md5 groupBy, then cluster resolution via
    * [[dupClusters]]'s ADAPTIVE strategy (driver union-find + one
    * broadcast join while the edge set fits `broadcastEdgeMax`,
    * label-propagation rounds beyond it; `pointerJump` escalates deep
    * chains on the distributed path). Output: (doc_id, cluster,
    * is_keeper, n_cluster).
    *
    * `maxDocFrac` presumes a corpus with more than 1/maxDocFrac
    * documents — on a tiny corpus the df threshold rounds below one
    * document and the prune drops EVERY shingle (near-dup edges
    * vanish; only exact edges remain). Raise it toward 1.0 for
    * small-corpus use. */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
                  nHashes: Int = 16, bandSize: Int = 2, maxDocFrac: Double = 0.1,
                  minAgree: Int = 4, minJaccard: Double = 0.5,
                  pointerJump: Boolean = false,
                  broadcastEdgeMax: Long = 1L << 20): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
    val hashed = base.select(col("doc_id"), md5(col("__t")).as("h"))
    val keepers = hashed.groupBy("h")
      .agg(min(col("doc_id")).as("da"), count(lit(1)).as("nh"))
      .filter(col("nh") > 1).select("h", "da")
    val exactEdges = hashed.join(keepers, Seq("h"))
      .filter(col("da") < col("doc_id"))
      .select(col("da"), col("doc_id").as("db"))
    val sh = bigramShingles(base, "doc_id", "__t")
    val sig = minhashSignature(pruneFrequentShingles(sh, maxDocFrac), nHashes)
    val near = jaccard(sh,
        filterBySignatureAgreement(candidatePairs(lshBands(sig, nHashes, bandSize)),
                                   sig, nHashes, minAgree))
      .filter(col("jaccard") >= minJaccard).select("da", "db")
    // the edge set is the expensive intermediate (shingle scan + band
    // and Jaccard joins) and is pair-count-sized — memoize it with the
    // same cacheOnce contract every other corpus index uses (one entry
    // per (input plan, params); repeated verdicts over the same corpus
    // reuse it; release via graft.queries.releaseIndexes(docs))
    val pairs = graft.queries.cacheOnce(near.unionByName(exactEdges).distinct())
    val clusters = dupClusters(base.select(col("doc_id")), pairs,
                               pointerJump = pointerJump,
                               broadcastEdgeMax = broadcastEdgeMax)
    val sizes = clusters.groupBy("cluster").agg(count(lit(1)).as("n_cluster"))
    clusters.join(sizes, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("is_keeper"), col("n_cluster"))
  }

  /** Quality-aware KEEPER selection — "keep the best copy, not the
    * first copy": re-picks each duplicate cluster's keeper as the
    * member with the HIGHEST score (ties → lowest doc_id), the rule
    * real curation runs use (keep the longest / highest-quality
    * rendition) in place of [[dupClusters]]' min-id convention.
    * `verdict` is any (doc_id, cluster, is_keeper, n_cluster) ledger
    * ([[dedupCorpus]], [[graft.pipeline.Similarity.semanticDedupFrames]]);
    * `scores` is (doc_id, score). Docs missing a score rank last
    * (NULLS LAST), so a partial score frame can never steal a
    * keepership from a scored member. One keyed left join + one window
    * per cluster partition — clusters spread the corpus, so no reducer
    * sees more than a cluster. */
  def keeperByScore(verdict: DataFrame, scores: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("score").desc_nulls_last, col("doc_id"))
    verdict.join(scores, Seq("doc_id"), "left")
      .withColumn("is_keeper", (row_number().over(w) === 1).cast("long"))
      .select(col("doc_id"), col("cluster"), col("is_keeper"),
              col("n_cluster"), col("score"))
  }

  /** 16-bit SimHash from token frequencies: bit j of a token is the
    * parity of hex digit j of its md5; bits vote ±1 weighted by
    * occurrence count. Integer-only → engine-exact. */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
                         explode(split(trim(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("h", md5(col("tok")))
    val votes = (0 until 16).map { j =>
      sum(expr(s"(instr('0123456789abcdef', substr(h, ${j + 1}, 1)) - 1) % 2 * 2 - 1"))
        .as(s"v$j")
    }
    val bits = (0 until 16).map { j =>
      when(col(s"v$j") > 0, lit(1 << j)).otherwise(lit(0))
    }
    toks.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"), bits.reduce(_ + _).as("simhash"))
  }

  /** Per-ROW SimHash: the same 16-bit value as [[simhash16]], computed
    * on a single document row with no shuffle (the ingestion-time form,
    * completing the per-row dedup family with
    * [[withRowMinhashSignature]]). Identical votes by construction:
    * hex-digit parity ±1 votes over the same md5 digests, same
    * sum-vs-zero bit rule (pinned by the row-vs-batch parity test).
    * Docs with no tokens get simhash 0 (the batch groupBy simply has
    * no row for them). Implementation is the native
    * [[graft.plans.Simhash16]] expression — the earlier HOF
    * composition paid an interpreted `aggregate` lambda per
    * (token, bit): 16× per token. */
  def withRowSimhash16(df: DataFrame, textCol: String): DataFrame = {
    df.withColumn("simhash", call_function("simhash16", col(textCol)))
  }

  /** Per-ROW 64-bit SimHash — the PRODUCTION sketch width (see
    * [[graft.plans.Simhash64]] for the width rationale and the exact
    * vote rule: [[graft.plans.Simhash16]]'s nibble-parity votes
    * extended over md5(token) and md5('1'+token)). Zero-shuffle
    * projection like [[withRowSimhash16]]; LongType output. */
  def withRowSimhash64(df: DataFrame, textCol: String): DataFrame = {
    df.withColumn("simhash", call_function("simhash64", col(textCol)))
  }

  /** Batch (groupBy-vote) 64-bit SimHash — the shuffle form kept as the
    * independent parity witness for the native expression (the same
    * row-vs-batch pinning [[simhash16]] provides for the 16-bit width):
    * identical votes composed from Spark's own md5/instr/substr
    * primitives, so a disagreement can only be a bug in the native
    * helper. Disjoint bit literals sum without carries (bit 63's
    * literal is Long.MinValue; addition over disjoint bit patterns is
    * exactly OR). */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
                         explode(split(trim(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("h0", md5(col("tok")))
      .withColumn("h1", md5(concat(lit("1"), col("tok"))))
    val votes = (0 until 64).map { j =>
      val h = if (j < 32) "h0" else "h1"
      sum(expr(s"(instr('0123456789abcdef', substr($h, ${j % 32 + 1}, 1)) - 1) % 2 * 2 - 1"))
        .as(s"v$j")
    }
    val bits = (0 until 64).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }
    toks.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"), bits.reduce(_ + _).as("simhash"))
  }

  /** Pigeonhole band split of a `width`-bit fingerprint into
    * `maxHamming + 1` bands: two fingerprints within Hamming distance
    * d ≤ maxHamming must agree EXACTLY on at least one band (d errors
    * can dirty at most d of the d+1 bands), so a band equi-join has
    * perfect recall while comparing only same-band pairs. When
    * `maxHamming + 1` does not divide `width`, the remainder bits are
    * DISTRIBUTED across the leading bands (band b gets width/nBands
    * plus one while b < width%nBands) — every bit participates in
    * exactly one band, so no bit position is excluded from candidate
    * generation (an earlier integer-division form silently left the
    * top width%nBands bits out of every band key). Returns per-band
    * (band index, band value) structs for an explode. */
  private def bandSplit(simhash: Column, width: Int, maxHamming: Int): Seq[Column] = {
    val nBands = maxHamming + 1
    val widths = (0 until nBands).map(b =>
      width / nBands + (if (b < width % nBands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    (0 until nBands).map { b =>
      // & mask after the (arithmetic) shift: sign-extension bits land
      // above the mask, so the band value is shift-semantics-agnostic
      val mask = if (widths(b) >= 64) lit(-1L) else lit((1L << widths(b)) - 1)
      struct(lit(b).as("band"),
             shiftright(simhash, offsets(b)).bitwiseAND(mask).as("bv"))
    }
  }

  /** Exploded band-key table of a sketch frame: one row per (id,
    * simhash, band, bv). The common index form for the batch self-join
    * ([[bandedHammingPairs]]) and streaming stream-static routing
    * ([[graft.streaming.StreamOps.streamingSimhashCandidates]]) — both
    * sides bucket identically by construction. */
  private def simhashBanded(sh: DataFrame, width: Int, maxHamming: Int): DataFrame =
    sh.select(col("id"), col("simhash"),
        explode(array(bandSplit(col("simhash"), width, maxHamming): _*)).as("bk"))
      .select(col("id"), col("simhash"), col("bk.band"), col("bk.bv"))

  /** Public 64-bit band index of a corpus — the static side of
    * streaming simhash routing; schema (id, simhash, band, bv, mh).
    * The `mh` column carries the maxHamming the bands were built with,
    * so consumers DERIVE their band split from the index instead of
    * trusting a caller-supplied value to match — a mismatched split
    * would join bucket values from different bit ranges and silently
    * drop genuinely-near pairs. */
  def simhash64Bands(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63, s"maxHamming out of range: $maxHamming")
    val sh = withRowSimhash64(
      df.select(col(idCol).as("id"), col(textCol).as("__t"))
        .filter(trim(col("__t")) =!= ""), "__t")
      .select(col("id"), col("simhash"))
    simhashBanded(sh, 64, maxHamming).withColumn("mh", lit(maxHamming))
  }

  /** Shared banded-pairing tail: explode band keys, self-join on
    * (band, bv), exact popcount confirm. `sh` must carry (id, simhash).
    * The band equi-join IS the scale path — hash join, never cross
    * join; its cost is O(Σ bucket²) over band buckets, which is why the
    * band-key WIDTH matters (see [[simhashNearDupPairs64]]). */
  private def bandedHammingPairs(sh: DataFrame, width: Int,
                                 maxHamming: Int): DataFrame = {
    val banded = simhashBanded(sh, width, maxHamming)
    val a = banded.select(col("id").as("da"), col("simhash").as("sa"),
                          col("band"), col("bv"))
    val b = banded.select(col("id").as("db"), col("simhash").as("sb"),
                          col("band"), col("bv"))
    a.join(b, Seq("band", "bv")).filter(col("da") < col("db"))
      .select(col("da"), col("db"), col("sa"), col("sb")).distinct()
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("da"), col("db"), col("hamming").cast("long").as("hamming"))
  }

  /** Banded-Hamming near-duplicate pairs over an ARBITRARY integer
    * fingerprint frame — the pigeonhole machinery ([[bandSplit]] +
    * band equi-join + exact popcount) opened to fingerprints the text
    * tier didn't make: the multimodal perceptual hashes (image aHash,
    * audio energy contour, video luminance contour). `width` is the
    * fingerprint's significant bit count (bits ≥ width must be 0 in
    * every fp — they'd land in the top band and are harmless, but a
    * width that UNDERSTATES real bits would exclude them from banding
    * and break perfect recall). Returns (da, db, hamming), da < db,
    * hamming ≤ maxHamming — with PERFECT recall: d differing bits dirty
    * at most d of the d+1 bands, so every near pair shares a band
    * exactly. Same hash-join-never-cross-join scale shape as the
    * simhash family; candidate volume is O(Σ bucket²) over band
    * buckets, governed by the band-key width (width/(maxHamming+1)
    * bits). */
  def fingerprintNearDupPairs(fps: DataFrame, idCol: String, fpCol: String,
                              width: Int, maxHamming: Int): DataFrame = {
    require(width >= 2 && width <= 64, s"width out of range: $width")
    require(maxHamming >= 0 && maxHamming < width,
            s"maxHamming out of range for width $width: $maxHamming")
    bandedHammingPairs(
      fps.select(col(idCol).as("id"), col(fpCol).as("simhash")),
      width, maxHamming)
  }

  // The 16-bit simhashNearDupPairs variant was RETIRED in r14: its
  // 16-bucket band join was O(n²/16) at any corpus size. The 16-bit
  // fingerprint itself remains (q58 / simhash16); near-dup pairing
  // ships at the scale-safe widths below, and arbitrary-width banding
  // via [[fingerprintNearDupPairs]].

  /** PRODUCTION-width SimHash near-dup pairs: Hamming ≤ `maxHamming`
    * on the 64-bit fingerprint. Identical operator structure to the
    * 16-bit oracle form — only the sketch width changes — but the
    * band-key width is what the whole pipeline's scale rests on: at
    * maxHamming = 3 the four band keys are 16 bits, so each band
    * self-join has 65,536 buckets instead of 16 — expected bucket
    * occupancy n/65,536, band-join cost O(n²/65,536) ≈ 4096× less
    * candidate volume than the 16-bit sketch at ANY corpus size (the
    * standard production configuration: Google's simhash dedup used
    * 64-bit fingerprints with k=3 at 8B pages for exactly this
    * arithmetic). Confirmed-pair semantics differ from the 16-bit form
    * only through sketch resolution: 64 bits over-splits far less, so
    * "hamming ≤ 3 at width 64" is a STRICTER near-dup statement. */
  def simhashNearDupPairs64(df: DataFrame, idCol: String, textCol: String,
                            maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63, s"maxHamming out of range: $maxHamming")
    val sh = withRowSimhash64(
      df.select(col(idCol).as("id"), col(textCol).as("__t"))
        .filter(trim(col("__t")) =!= ""), "__t")
      .select(col("id"), col("simhash"))
    bandedHammingPairs(sh, 64, maxHamming)
  }

  /** Per-ROW 128-bit SimHash (struct hi/lo — see
    * [[graft.plans.Simhash128]] for the 10¹⁰-doc band-key arithmetic
    * that motivates the width). Zero-shuffle projection. */
  def withRowSimhash128(df: DataFrame, textCol: String): DataFrame = {
    df.withColumn("simhash", call_function("simhash128", col(textCol)))
  }

  /** 128-bit SimHash near-dup pairs: Hamming ≤ `maxHamming` over the
    * two-long sketch — the band-key rung for 10¹⁰-document corpora
    * (maxHamming = 3 ⇒ 4 bands × 32-BIT keys ⇒ 4.3B buckets per band;
    * the 64-bit form's 65,536 buckets saturate there). Same pigeonhole
    * banding and popcount confirm as the narrower widths; the confirm
    * sums the popcounts of both halves. Restricted to configurations
    * whose bands never straddle the hi/lo boundary
    * (`maxHamming + 1` divides 128 AND the band width divides 64 —
    * 0/1/3/7/15/31/63 all qualify; 0 bands as 2×64), which keeps the
    * band extraction one shift+mask on a single long in BOTH engines
    * (q85's oracle replays it). */
  def simhashNearDupPairs128(df: DataFrame, idCol: String, textCol: String,
                             maxHamming: Int = 3): DataFrame = {
    // maxHamming = 0 (exact sketch equality) uses 2 bands of 64 — the
    // pigeonhole still holds (0 errors dirty 0 of 2 bands) and each
    // band key stays one shift+mask on a single long, so the width
    // family's API accepts 0 like the 16/64-bit forms do
    require(maxHamming >= 0, s"maxHamming out of range: $maxHamming")
    val nBands = if (maxHamming == 0) 2 else maxHamming + 1
    require(128 % nBands == 0 && 64 % (128 / nBands) == 0,
      s"maxHamming + 1 must divide 128 with a band width dividing 64, got $maxHamming")
    val width = 128 / nBands
    val mask = if (width >= 64) lit(-1L) else lit((1L << width) - 1)
    val sh = withRowSimhash128(
      df.select(col(idCol).as("id"), col(textCol).as("__t"))
        .filter(trim(col("__t")) =!= ""), "__t")
      .select(col("id"), col("simhash.hi").as("hi"), col("simhash.lo").as("lo"))
    val banded = sh.select(col("id"), col("hi"), col("lo"),
        explode(array((0 until nBands).map { b =>
          val off = b * width
          val part = if (off < 64) col("lo") else col("hi")
          struct(lit(b).as("band"),
                 shiftright(part, off % 64).bitwiseAND(mask).as("bv"))
        }: _*)).as("bk"))
      .select(col("id"), col("hi"), col("lo"), col("bk.band"), col("bk.bv"))
    val a = banded.select(col("id").as("da"), col("hi").as("ha"), col("lo").as("la"),
                          col("band"), col("bv"))
    val b = banded.select(col("id").as("db"), col("hi").as("hb"), col("lo").as("lb"),
                          col("band"), col("bv"))
    a.join(b, Seq("band", "bv")).filter(col("da") < col("db"))
      .select(col("da"), col("db"), col("ha"), col("la"), col("hb"), col("lb"))
      .distinct()
      .withColumn("hamming",
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
         bit_count(col("la").bitwiseXOR(col("lb")))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("da"), col("db"), col("hamming"))
  }

  /** Candidate volume of the banded simhash self-join WITHOUT running
    * it: Σ over (band, bucket) of n·(n−1)/2 — exactly the pair count
    * the equi-join would generate (before the cross-band distinct), at
    * O(n) cost (one groupBy on the band keys). This is the probe
    * diagnostic for band-key saturation: at 16-bit width every band
    * has 16 buckets, so the volume approaches n²/32 per band no matter
    * the corpus; at 64-bit width the 65,536-bucket keyspace divides
    * the same n² by 4096× more. ScaleProbe reports both at each decade
    * — the number that justifies [[simhashNearDupPairs64]] being the
    * production form. */
  def simhashCandidateVolume(df: DataFrame, idCol: String, textCol: String,
                             width: Int = 64, maxHamming: Int = 3): Long = {
    val sh = width match {
      case 16 => withRowSimhash16(
        df.select(col(idCol).as("id"), col(textCol).as("__t"))
          .filter(trim(col("__t")) =!= ""), "__t")
      case 64 => withRowSimhash64(
        df.select(col(idCol).as("id"), col(textCol).as("__t"))
          .filter(trim(col("__t")) =!= ""), "__t")
      case w => throw new IllegalArgumentException(s"unsupported simhash width: $w")
    }
    sh.select(explode(array(bandSplit(col("simhash"), width, maxHamming): _*)).as("bk"))
      .select(col("bk.band"), col("bk.bv"))
      .groupBy("band", "bv").agg(count(lit(1)).as("n"))
      // the per-bucket product runs in DOUBLE: a long n·(n−1) silently
      // overflows past ~3·10⁹ rows per bucket — exactly the saturated-
      // band regime this diagnostic exists to expose — while the double
      // form stays monotone at any occupancy (exact below 2^53 total,
      // approximate-but-correct-magnitude above; it is a diagnostic,
      // not an oracle value). coalesce: sum over ZERO buckets (empty/
      // token-less corpus) is null, and the honest volume there is 0
      .agg(coalesce(sum(col("n").cast("double") * (col("n") - 1) / 2), lit(0.0))
             .as("cands"))
      .head().getDouble(0).toLong
  }

  /** DUPLICATED-SPAN STATISTICS — the span-level view of corpus-internal
    * duplication (the published span-dedup result: removing repeated
    * long spans, not just whole near-dup documents, measurably improves
    * the trained model — whole-doc Jaccard misses a boilerplate
    * paragraph pasted into thousands of otherwise-distinct pages). Per
    * document: its distinct word `n`-gram count, how many of those
    * grams also occur in ANOTHER document, their ratio, and a flag at
    * `flagFrac` — the audit signal a span-removal pass keys on.
    * Docs shorter than `n` words emit nothing (no grams — the shingle
    * table's row contract).
    *
    * Scale shape: one gram explode (map-side), one groupBy(gram) for
    * document frequency, one keyed join back, one groupBy(doc) — all
    * keyed shuffles on high-cardinality keys; the df-1 test needs no
    * global structure. The gram table is the big intermediate and it
    * feeds two subtrees (the df groupBy and the join back), so it is
    * memoized under the standard cacheOnce contract — one explode
    * materialization instead of two full scans. */
  def duplicatedSpanStats(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 8, flagFrac: Double = 0.5): DataFrame = {
    val grams = graft.queries.cacheOnce(ngramShingles(df, idCol, textCol, n))
    val dfreq = grams.groupBy(col("bg")).agg(count(lit(1)).as("df"))
    grams.join(dfreq, Seq("bg"))
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
           sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_dup_grams"))
      .withColumn("dup_span_frac",
        round(col("n_dup_grams") * 1.0 / col("n_grams"), 6))
      .withColumn("span_flagged",
        (col("dup_span_frac") >= flagFrac).cast("long"))
      .select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
              col("dup_span_frac"), col("span_flagged"))
  }

  /** DUPLICATED-SPAN REMOVAL — the repair twin of
    * [[duplicatedSpanStats]] (which only AUDITS): rewrite every
    * document with the cross-document duplicated spans cut out, the
    * exact-substring dedup pass of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better") at word-token
    * granularity. A token is removed iff some word `n`-gram covering
    * its position also occurs in ANOTHER document (document frequency
    * > 1 over distinct per-doc grams — same df the audit keys on);
    * surviving tokens re-join in order. One row per input document:
    * (doc_id, clean_text, n_kept, n_removed) — a fully-duplicated
    * document cleans to the empty string with n_kept = 0 rather than
    * disappearing (the caller decides drop-vs-keep; this op is the
    * rewrite, not the gate). Docs shorter than `n` words carry no
    * grams, so they pass through unchanged.
    *
    * Scale shape: gram explode is map-side; df groupBy, dup join-back,
    * and the (doc, pos) coverage distinct are keyed shuffles on
    * high-cardinality keys; the coverage explode is bounded by n ×
    * duplicated-gram occurrences (duplication-sized, not corpus-
    * sized). Only AFFECTED documents (those owning at least one
    * duplicated gram — duplication-rate-sized, not corpus-sized) pay
    * the token-level explode / anti-coverage / re-join path; every
    * other document short-circuits through a pure projection
    * (array_join of its own token array), so the token-granularity
    * shuffle volume scales with how much duplication exists, not with
    * how much corpus exists. The rebuild groupBy collects one doc's
    * tokens into an array — bounded by document length, the same
    * per-doc bound encodeTokens already carries. The positioned gram
    * table feeds two subtrees (df groupBy and coverage join) →
    * memoized under the standard cacheOnce contract. */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            n: Int = 8): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2, got $n")
    val base = df.select(col(idCol).as("id"), split(trim(col(textCol)), " ").as("l"))
    // positioned grams (start kept — coverage needs it; the audit op's
    // ngramShingles is distinct-set-semantics and can't serve here)
    val grams = graft.queries.cacheOnce(
      base.filter(size(col("l")) >= n)
        .select(col("id"),
                explode(transform(sequence(lit(1), size(col("l")) - (n - 1)),
                  i => struct(i.as("start"),
                    concat_ws("_", (0 until n).map(k =>
                      element_at(col("l"), i + k)): _*).as("bg"))))
                  .as("g"))
        .select(col("id"), col("g.start").as("start"), col("g.bg").as("bg")))
    val dup = grams.select(col("id"), col("bg")).distinct()
      .groupBy(col("bg")).agg(count(lit(1)).as("dfq"))
      .filter(col("dfq") > 1).select(col("bg"))
    val cover = graft.queries.cacheOnce(
      grams.join(dup, Seq("bg"))
        .select(col("id"),
                explode(sequence(col("start"), col("start") + (n - 1))).as("pos"))
        .distinct())
    val affected = cover.select(col("id")).distinct()
    val tok = base.join(affected, Seq("id"))
      .select(col("id"), posexplode(col("l")).as(Seq("p0", "tok")))
      .select(col("id"), (col("p0") + 1).as("pos"), col("tok"))
    val rebuilt = tok
      .join(cover.withColumn("hit", lit(1)), Seq("id", "pos"), "left")
      .groupBy(col("id"))
      .agg(
        concat_ws(" ",
          transform(
            array_sort(collect_list(when(col("hit").isNull,
              struct(col("pos"), col("tok"))))),
            s => s.getField("tok"))).as("clean_text"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_removed"))
    val untouched = base.join(affected, Seq("id"), "left_anti")
      .select(col("id"), array_join(col("l"), " ").as("clean_text"),
              size(col("l")).cast("long").as("n_kept"),
              lit(0L).as("n_removed"))
    rebuilt.unionByName(untouched)
      .select(col("id").as("doc_id"), col("clean_text"),
              col("n_kept"), col("n_removed"))
  }

  /** INCREMENTAL DEDUP — the ingest-time check a growing corpus runs on
    * every new batch: is this document an exact copy, a near-duplicate,
    * or genuinely new relative to the EXISTING corpus? One row per new
    * document with the verdict and the matched existing doc
    * (deterministically the smallest id among matches; exact match
    * wins over near). New-vs-new duplication is deliberately NOT
    * judged here — the batch joins the corpus first, and the next full
    * [[dedupCorpus]] pass resolves intra-batch clusters (ingest
    * gating and corpus-wide resolution are different jobs).
    *
    * Index semantics: the frequent-shingle prune threshold counts
    * EXISTING documents only — the stored index's vocabulary, which
    * is what production incremental ingest has (the new batch must not
    * shift the signature space between batches). Both sides' pruned
    * shingles share that one exclude set, so signatures stay mutually
    * comparable; exact Jaccard uses full shingle sets as everywhere.
    *
    * Scale shape: the existing side's signatures/bands are the
    * already-materialized corpus index (cacheOnce in the registry;
    * parquet in production) — the incremental cost is the NEW batch's
    * shingle scan plus band-keyed joins sized by the batch, never a
    * rescan-and-shuffle of the whole corpus. */
  def incrementalDedup(docs: DataFrame, idCol: String, textCol: String,
                       isNew: Column,
                       nHashes: Int = 16, bandSize: Int = 2,
                       maxDocFrac: Double = 0.1, minAgree: Int = 4,
                       minJaccard: Double = 0.5): DataFrame = {
    val flagged = docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"),
                              isNew.cast("boolean").as("__new"))
    val index = buildIncrementalIndex(flagged.filter(!col("__new")), "doc_id", "__t",
                                      nHashes, bandSize, maxDocFrac)
    incrementalDedupAgainst(flagged.filter(col("__new")), "doc_id", "__t",
                            index, minAgree, minJaccard)
  }

  /** The EXISTING-corpus side of incremental dedup, materialized once:
    * exact-hash keepers (h UNIQUE → smallest owning doc), the
    * frequent-shingle exclude set (df threshold over `nExisting` —
    * this index's vocabulary, frozen so later batches cannot shift the
    * signature space), pruned-signature frame, band index, and the
    * full shingle table (the exact-Jaccard side). In production these
    * live as parquet next to the corpus and every ingest batch probes
    * them; the query registry cacheOnce-materializes them per
    * (session, corpus). */
  final case class IncrementalIndex(nExisting: Long, freq: DataFrame,
                                    shingles: DataFrame, counts: DataFrame,
                                    sig: DataFrame, bands: DataFrame,
                                    exactHashes: DataFrame,
                                    nHashes: Int, bandSize: Int)

  def buildIncrementalIndex(existing: DataFrame, idCol: String, textCol: String,
                            nHashes: Int = 16, bandSize: Int = 2,
                            maxDocFrac: Double = 0.1): IncrementalIndex = {
    val base = existing.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
    val n = base.count()
    val sh = bigramShingles(base, "doc_id", "__t")
    val counts = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val freq = sh.groupBy(col("bg")).agg(count(lit(1)).as("df"))
      .filter(col("df") > n * maxDocFrac).select(col("bg"))
    val pruned = sh.join(broadcast(freq), Seq("bg"), "left_anti")
    val sig = minhashSignature(pruned, nHashes)
    val bands = lshBands(sig, nHashes, bandSize)
    val hashes = base.select(col("doc_id"), md5(col("__t")).as("h"))
      .groupBy("h").agg(min(col("doc_id")).as("exact_match"))
    IncrementalIndex(n, freq, sh, counts, sig, bands, hashes, nHashes, bandSize)
  }

  /** Probe a NEW batch against a prebuilt [[IncrementalIndex]] — the
    * per-ingest cost is BATCH-sized by construction: the batch's own
    * shingle/signature projections plus band- and id-keyed joins into
    * the index frames; the existing corpus is never rescanned. Same
    * verdict semantics as [[incrementalDedup]] (which is now a thin
    * build-then-probe wrapper — values identical by construction). */
  def incrementalDedupAgainst(newDocs: DataFrame, idCol: String, textCol: String,
                              index: IncrementalIndex, minAgree: Int = 4,
                              minJaccard: Double = 0.5): DataFrame = {
    val base = newDocs.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
    val newIds = base.select(col("doc_id"))
    val exact = base.select(col("doc_id"), md5(col("__t")).as("h"))
      .join(index.exactHashes, Seq("h"))
      .select(col("doc_id"), col("exact_match"))
    val shNew = bigramShingles(base, "doc_id", "__t")
    val prunedNew = shNew.join(broadcast(index.freq), Seq("bg"), "left_anti")
    val sigNew = minhashSignature(prunedNew, index.nHashes)
    val bandsNew = lshBands(sigNew, index.nHashes, index.bandSize)
    val cand = bandsNew.select(col("id").as("da"), col("band"))
      .join(index.bands.select(col("id").as("db"), col("band")), Seq("band"))
      .select(col("da"), col("db")).distinct()
    val hs = (0 until index.nHashes).map(i => s"h$i")
    val sa = sigNew.select(col("id").as("da") +: hs.map(h => col(h).as(s"a_$h")): _*)
    val sb = index.sig.select(col("id").as("db") +: hs.map(h => col(h).as(s"b_$h")): _*)
    val agreement = hs.map(h => when(col(s"a_$h") === col(s"b_$h"), 1).otherwise(0))
      .reduce(_ + _)
    val candf = cand.join(sa, Seq("da")).join(sb, Seq("db"))
      .filter(agreement >= minAgree).select("da", "db")
    // exact Jaccard with the batch/index split made explicit: the NEW
    // side's shingle counts are batch-sized, the EXISTING side's come
    // precomputed from the index — [[jaccard]] over the union frame
    // would re-aggregate the whole corpus per ingest batch. Same
    // rounded-value filter as everywhere in the suite.
    val nNew = shNew.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = candf.join(shNew.select(col("id").as("da"), col("bg")), Seq("da"))
      .join(index.shingles.select(col("id").as("db"), col("bg")), Seq("db", "bg"))
      .groupBy("da", "db").agg(count(lit(1)).as("i"))
    val near = inter
      .join(nNew.select(col("id").as("da"), col("n").as("na")), Seq("da"))
      .join(index.counts.select(col("id").as("db"), col("n").as("nb")), Seq("db"))
      .select(col("da"), col("db"),
              round(col("i") * 1.0 / (col("na") + col("nb") - col("i")), 6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .groupBy(col("da").as("doc_id")).agg(min(col("db")).as("near_match"))
    newIds
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
              when(col("exact_match").isNotNull, lit("exact"))
                .when(col("near_match").isNotNull, lit("near"))
                .otherwise(lit("unique")).as("verdict"),
              coalesce(col("exact_match"), col("near_match")).as("match_id"))
  }

  /** DUPLICATED-LINE REMOVAL — the CCNet/RefinedWeb boilerplate pass:
    * lines repeated across ≥ `minDocFrequency` DISTINCT documents
    * (navigation menus, cookie banners, footers, copypasta) are
    * deleted from every document; lines below the threshold survive
    * untouched, in their original order. This is the line-granularity
    * rung of the dedup ladder — coarser than [[removeDuplicatedSpans]]
    * (token spans) and finer than document dedup — and it is the one
    * real crawls need FIRST, because boilerplate inflates every
    * downstream similarity.
    *
    * Semantics: a "line" is a `sep`-delimited segment; the doc
    * frequency is counted over DISTINCT (doc, line) — a line repeated
    * WITHIN one document counts once (self-repetition is the
    * repetition op's axis, not cross-doc boilerplate). Whitespace-only lines are
    * structure, never removed. Output is one row per document:
    * (doc_id, clean_text, n_lines, n_removed, changed) — the full
    * ledger, untouched docs included.
    *
    * Scale shape: one explode (map-side), one groupBy(line) for the
    * doc-frequency (keyed shuffle — UNHINTED: the distinct-line table
    * is corpus-sized at web scale, never a broadcast), one keyed join
    * back, one groupBy(doc_id) reassembly. Nothing corpus-global, no
    * windows; reassembly order is the collected (pos, line) sort, so
    * partitioning never reorders lines. */
  def removeDuplicateLines(df: DataFrame, idCol: String, textCol: String,
                           minDocFrequency: Int = 3,
                           sep: String = "\n"): DataFrame = {
    require(minDocFrequency >= 2, "a line must repeat across >= 2 docs to be boilerplate")
    val lines = df.select(
      col(idCol).as("doc_id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .toDF("doc_id", "pos", "line")
    val dfreq = lines.select(col("doc_id"), col("line")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("line_df"))
    val judged = lines.join(dfreq, Seq("line"))
      .withColumn("is_dup",
        col("line_df") >= lit(minDocFrequency) && trim(col("line")) =!= "")
    judged.groupBy(col("doc_id")).agg(
      array_join(
        transform(array_sort(collect_list(when(!col("is_dup"),
          struct(col("pos"), col("line"))))), x => x("line")),
        sep).as("clean_text"),
      count(lit(1)).as("n_lines"),
      sum(col("is_dup").cast("long")).as("n_removed"))
      .withColumn("changed", col("n_removed") > 0)
      .select(col("doc_id"), col("clean_text"), col("n_lines"),
              col("n_removed"), col("changed"))
  }

  /** CONTAINMENT near-dup pairs — the asymmetric twin of [[jaccard]]:
    * C(A→B) = |S(A) ∩ S(B)| / |S(A)| over distinct word `n`-gram
    * shingles. Resemblance (Jaccard) dedup is blind to a short
    * document quoted INSIDE a long one (the wire story embedded in a
    * full page): the union in Jaccard's denominator drowns the match,
    * while containment's |S(A)| denominator flags it at 1.0. Output is
    * every DIRECTED pair with containment ≥ `tau`: (contained,
    * container, containment, n_contained, n_container) — exact dups
    * appear in both directions, true containments only one way.
    *
    * Candidate generation is an inverted-index self-join on shingles
    * with an ABSOLUTE doc-frequency cap: a gram present in more than
    * `maxDf` documents is shared VOCABULARY, not evidence of copying,
    * and is dropped from candidate generation (the stop-shingle
    * bound). That caps the per-gram pair volume at maxDf², making the
    * join Σ_g min(df_g, maxDf)² — linear-ish in the gram table — where
    * the uncapped self-join is Σ df² (quadratic in the hottest gram).
    * The recall contract is explicit: a pair sharing ONLY capped grams
    * is missed, which at n ≥ 3 means the overlap was common phrases.
    * The confirm pass computes containment over the FULL (uncapped)
    * shingle sets of surviving candidates, so reported values are
    * exact. All keyed shuffles; the df table joins UNHINTED.
    *
    * The inverted-index join yields the shared-RARE-gram count per
    * directed pair for free (groupBy-count instead of distinct), and
    * that count prunes before the expensive full-set confirm: with
    * cap_X = |capped grams of X| = n_sh_X − n_rare_X, the true
    * intersection obeys i ≤ i_rare + min(cap_A, cap_B) and
    * i ≤ min(n_sh_A, n_sh_B), so any pair whose bound falls below
    * tau·n_sh_A provably fails the final filter and never enters the
    * confirm join. At sf0.1 that prunes 2.26M candidate pairs to a few
    * hundred survivors, collapsing the confirm from Σ_pairs |S(A)|
    * (tens of millions of rows) to the survivor set — measured 16.8 s
    * → 6.5 s warm. The bound carries a 1e-6 slack so 6-decimal
    * rounding at the final filter can never disagree with the prune.
    * (A branch that skips confirm when cap_min = 0 — where i_rare is
    * already exact — measured SLOWER: the union's two consumers of the
    * survivor frame re-ran candidate generation / fought over the
    * cache; one always-confirm pass over the tiny survivor set wins.) */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       tau: Double = 0.8, n: Int = 3,
                       maxDf: Int = 64): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    require(maxDf >= 2, s"maxDf must be >= 2, got $maxDf")
    // (id, bg) distinct — read by 5 downstream subtrees (df table,
    // rare side ×2, per-doc counts, confirm ×2): memoize the explode.
    val sh = graft.queries.cacheOnce(ngramShingles(df, idCol, textCol, n))
    val dfreq = sh.groupBy(col("bg")).agg(count(lit(1)).as("df"))
    val rare = sh.join(dfreq.filter(col("df") <= maxDf), Seq("bg"))
      .select(col("id"), col("bg"))
    // shared-rare-gram count per directed candidate pair: the same
    // shuffle the old .distinct() paid, but the count feeds the bound.
    val candRare = rare.select(col("id").as("da"), col("bg"))
      .join(rare.select(col("id").as("db"), col("bg")), Seq("bg"))
      .filter(col("da") =!= col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("i_rare"))
    val counts = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val rareCounts = rare.groupBy(col("id")).agg(count(lit(1)).as("n_rare"))
    val docStats = counts.join(rareCounts, Seq("id"), "left")
      .select(col("id"), col("n_sh"),
              (col("n_sh") - coalesce(col("n_rare"), lit(0L))).as("n_capped"))
    val bounded = candRare
      .join(docStats.select(col("id").as("da"), col("n_sh").as("n_contained"),
                            col("n_capped").as("cap_a")), Seq("da"))
      .join(docStats.select(col("id").as("db"), col("n_sh").as("n_container"),
                            col("n_capped").as("cap_b")), Seq("db"))
      .filter(least(col("i_rare") + least(col("cap_a"), col("cap_b")),
                    least(col("n_contained"), col("n_container")))
                >= (lit(tau) - lit(1e-6)) * col("n_contained"))
      .select(col("da"), col("db"), col("n_contained"), col("n_container"))
    val inter = bounded
      .join(sh.select(col("id").as("da"), col("bg")), Seq("da"))
      .join(sh.select(col("id").as("db"), col("bg")), Seq("db", "bg"))
      .groupBy(col("da"), col("db"), col("n_contained"), col("n_container"))
      .agg(count(lit(1)).as("i"))
    inter
      .withColumn("containment", round(col("i") * 1.0 / col("n_contained"), 6))
      .filter(col("containment") >= lit(tau))
      .select(col("da").as("contained"), col("db").as("container"),
              col("containment"), col("n_contained"), col("n_container"))
  }

  /** SOURCE-OVERLAP MATRIX — pairwise word-`n`-gram containment and
    * Jaccard between corpus SOURCES (or any grouping column): the
    * mirror-detection audit a mixture pipeline runs before weighting
    * sources independently — two feeds syndicating the same wire
    * content look like independent diversity to the mixture sampler
    * while actually double-counting one distribution. One directed row
    * per ordered source pair that shares at least one shingle:
    * (source_a, source_b, n_a, n_b, i, containment = i/n_a, jaccard),
    * exact over each source's DISTINCT shingle set.
    *
    * Scale shape: this is a GROUP-level operator — the inverted-index
    * self-join carries df ≤ #sources per shingle, so its volume is
    * Σ_g df_g² ≤ #sources · |gram table| and the output #sources²
    * rows; meant for the 10s–1000s of sources a real mixture has
    * (doc-level pairs belong to [[containmentPairs]], which bound-
    * prunes). Gram and count tables join UNHINTED (vocabulary-sized);
    * the per-source count table is group-count-sized and broadcast. */
  def sourceOverlap(df: DataFrame, groupCol: String, textCol: String,
                    n: Int = 3): DataFrame = {
    val sg = ngramShingles(df, groupCol, textCol, n)
      .select(col("id").as("src"), col("bg")).distinct()
    val counts = sg.groupBy(col("src")).agg(count(lit(1)).as("n_sh"))
    val inter = sg.select(col("src").as("source_a"), col("bg"))
      .join(sg.select(col("src").as("source_b"), col("bg")), Seq("bg"))
      .filter(col("source_a") =!= col("source_b"))
      .groupBy(col("source_a"), col("source_b")).agg(count(lit(1)).as("i"))
    inter
      .join(broadcast(counts.select(col("src").as("source_a"),
                                    col("n_sh").as("n_a"))), Seq("source_a"))
      .join(broadcast(counts.select(col("src").as("source_b"),
                                    col("n_sh").as("n_b"))), Seq("source_b"))
      .withColumn("containment", round(col("i") * 1.0 / col("n_a"), 6))
      .withColumn("jaccard",
        round(col("i") * 1.0 / (col("n_a") + col("n_b") - col("i")), 6))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
              col("i"), col("containment"), col("jaccard"))
  }

  /** TAINT PROPAGATION over duplicate clusters — the complement of
    * [[keeperByScore]]: keeper selection keeps the BEST copy of a
    * family; this flags the WHOLE family when any member trips a
    * per-document gate (quality rules, PII, contamination). The
    * rationale is the standard curation one: near-duplicates are
    * renditions of one underlying document, so a spam/leaked verdict
    * on one rendition is evidence against all of them — a variant that
    * dodged the gate by the mutation that made it a near-dup (padding,
    * boilerplate swap) should not survive its flagged sibling.
    *
    * `verdict` is a [[dedupCorpus]]-shaped frame (doc_id, cluster);
    * `flags` carries (doc_id, flagged) — docs absent from `flags`
    * count as clean. Output keeps every doc with its own flag, the
    * cluster-level OR, and the cluster's flagged count (the audit
    * trail: n_flagged vs n distinguishes "one bad copy" from "all bad").
    *
    * Scale shape: one left join on doc id, one groupBy(cluster)
    * bounded by cluster count, one keyed join back — all on
    * well-spread keys; composes with the incremental/streaming dedup
    * forms because the per-cluster OR is re-aggregable. */
  def propagateFlags(verdict: DataFrame, flags: DataFrame): DataFrame = {
    val v = verdict.select(col("doc_id"), col("cluster"))
    val f = flags.select(col("doc_id"), col("flagged").cast("long").as("own_flag"))
    val j = v.join(f, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cluster"),
              coalesce(col("own_flag"), lit(0L)).as("own_flag"))
    val cl = j.groupBy(col("cluster")).agg(
      sum(col("own_flag")).as("n_flagged"),
      max(col("own_flag")).as("cluster_flagged"))
    j.join(cl, Seq("cluster"))
      .select(col("doc_id"), col("cluster"), col("own_flag"),
              col("cluster_flagged"), col("n_flagged"))
  }

  /** Padded-text substring occurrence count via `replace` + length
    * arithmetic — identical non-overlapping left-to-right scan semantics
    * in every engine. Exposed for quality/langid scoring. */
  def wordOccurrences(textCol: Column, word: String): Column = {
    val padded = concat(lit(" "), trim(textCol), lit(" "))
    (length(padded) - length(call_function("replace", padded, lit(s" $word ")))) /
      (word.length + 2)
  }

  /** Winnowed document fingerprints ([[graft.plans.WinnowFps]] —
    * Schleimer et al. 2003): one row per SELECTED k-gram, (doc_id,
    * fp_pos, fp_hash), at expected density 2/(w+1) of the gram stream
    * with the local guarantee that any shared substring of length
    * ≥ w + k − 1 between two documents shares a fingerprint. The
    * sketch the clone detector ([[winnowClonePairs]]) joins on.
    * Zero-shuffle projection + explode; the per-row selection is one
    * codegen'd O(n) pass (monotonic deque), streaming-safe. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 16): DataFrame = {
    df.select(col(idCol).as("doc_id"),
              explode(call_function("winnow_fps", col(textCol),
                                    lit(k), lit(w))).as("fp"))
      .select(col("doc_id"), col("fp.pos").as("fp_pos"),
              col("fp.h").as("fp_hash"))
  }

  /** Winnowing clone pairs — MOSS over the corpus: documents sharing
    * ≥ `minShared` winnowed fingerprints, with the shared count and
    * the containment-style overlap fraction
    * shared / min(|fps_a|, |fps_b|) (micro-rounded). The pair source
    * for plagiarism/clone triage where MinHash answers "how similar
    * overall" but winnowing answers "do they share any ≥(w+k−1)-char
    * run" — with positions to point at.
    *
    * Scale shape: inverted-index equi-join on fp_hash — never a cross
    * join. The one saturation risk is STOP FINGERPRINTS (grams every
    * document contains — boilerplate headers, license lines): a
    * fingerprint appearing in f docs contributes f(f−1)/2 candidate
    * pairs, so hashes with document frequency > `maxDf` are dropped
    * from the index (the IDF cutoff every production inverted index
    * applies; MOSS itself drops over-common fingerprints the same
    * way). The recall guarantee then holds for runs whose fingerprint
    * is rarer than `maxDf` docs — the ones worth flagging. DISTINCT
    * per (doc, hash) before the join bounds repeated-gram blowup
    * within a doc pair. */
  def winnowClonePairs(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, w: Int = 16, maxDf: Int = 20,
                       minShared: Int = 2): DataFrame = {
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
      .select(col("doc_id"), col("fp_hash")).distinct()
    val perDoc = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val df2 = fps.groupBy(col("fp_hash")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val idx = fps.join(df2.select("fp_hash"), Seq("fp_hash"))
    val pairs = idx.as("a").join(idx.as("b"), Seq("fp_hash"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    pairs
      .join(perDoc.withColumnRenamed("doc_id", "doc_a")
                  .withColumnRenamed("n_fp", "n_fp_a"), Seq("doc_a"))
      .join(perDoc.withColumnRenamed("doc_id", "doc_b")
                  .withColumnRenamed("n_fp", "n_fp_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("shared").cast("long").as("shared"),
              col("n_fp_a").cast("long").as("n_fp_a"),
              col("n_fp_b").cast("long").as("n_fp_b"),
              round(col("shared") / least(col("n_fp_a"), col("n_fp_b")), 6)
                .as("overlap"))
  }

  /** Edit-distance-confirmed clone pairs: the sketch→verify chain's
    * EXACT verifier. [[winnowClonePairs]] proposes candidates (the
    * recall stage — linear inverted-index join); this confirms each
    * with true Levenshtein distance and keeps pairs whose normalized
    * edit similarity `1 − lev/max(len_a, len_b)` reaches `minSim`.
    * Near-dup dedup pipelines end exactly here when the KEEP/DROP
    * decision needs a defensible distance, not a sketch estimate.
    *
    * Scale shape: Levenshtein is O(len²) per pair — strictly a
    * CONFIRM-stage cost, paid only on the candidate set (never n²).
    * Two guards bound it further: the length-gap prefilter
    * (|len_a − len_b| alone already forces lev ≥ the gap, so pairs
    * that cannot reach `minSim` skip the DP entirely — a pure
    * projection predicate), and the candidate cap inherited from the
    * winnow stage's df cutoff. Spark's `levenshtein` is codegen'd;
    * with a tighter production bound, its threshold variant
    * (`levenshtein(a, b, t)`, banded O(t·len) DP) drops in unchanged.
    * Distance unit is characters (both engines agree on ASCII; the
    * oracle replays the same DP). */
  def editConfirmedClones(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 8, w: Int = 16, maxDf: Int = 20,
                          minShared: Int = 2, minSim: Double = 0.4): DataFrame = {
    val cand = winnowClonePairs(df, idCol, textCol, k, w, maxDf, minShared)
      .select(col("doc_a"), col("doc_b"), col("shared"))
    val txt = df.select(col(idCol).as("doc_id"), col(textCol).as("__t"),
                        length(col(textCol)).cast("long").as("__len"))
    val j = cand
      .join(txt.select(col("doc_id").as("doc_a"), col("__t").as("ta"),
                       col("__len").as("len_a")), Seq("doc_a"))
      .join(txt.select(col("doc_id").as("doc_b"), col("__t").as("tb"),
                       col("__len").as("len_b")), Seq("doc_b"))
    val maxLen = greatest(col("len_a"), col("len_b"))
    j.filter(abs(col("len_a") - col("len_b")) <= (lit(1.0) - minSim) * maxLen)
      .withColumn("lev", levenshtein(col("ta"), col("tb")).cast("long"))
      .withColumn("edit_sim", round(lit(1.0) - col("lev") / maxLen, 6))
      .filter(col("edit_sim") >= minSim)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("len_a"),
              col("len_b"), col("lev"), col("edit_sim"))
  }

  /** EXACT-threshold Jaccard similarity join via PREFIX FILTERING —
    * the recall-guaranteed complement to the MinHash/LSH tier: LSH
    * trades recall for volume probabilistically; prefix filtering
    * (Chaudhuri et al. 2006 / the All-Pairs–PPJoin family) is EXACT —
    * every pair with J ≥ tau is provably generated, with no sketch
    * and no tuning. The contract a legal-compliance dedup (copyright
    * takedown sweeps, GDPR subject matching) needs, where "the hash
    * probably caught it" doesn't survive audit.
    *
    * Method, all keyed shuffles: order each document's distinct
    * `n`-gram shingles by GLOBAL RARITY (df ASC, gram ASC — the
    * rarest-first total order that makes prefixes selective); keep
    * each doc's first L = s − ceil(tau·s) + 1 grams as its prefix
    * (s = shingle count). The lemma: J(A,B) ≥ tau ⟹ |A∩B| ≥
    * ceil(tau·max(|A|,|B|)), and two sets overlapping that much must
    * share a gram within BOTH these prefixes (pigeonhole on the
    * shared total order) — so the prefix-on-prefix equi-join has
    * perfect recall. Candidates then pass the symmetric SIZE filter
    * (tau·|A| ≤ |B| ≤ |A|/tau, another J ≥ tau necessity) before the
    * exact confirm join over full shingle sets.
    *
    * The rarity order is computed per-doc with a KEYED window
    * (partition by doc, order by (df, gram)) — the global order is
    * only ever compared pairwise, never materialized as a global
    * rank, so nothing is single-partition at any scale. Candidate
    * volume is Σ_{g} pf_g² where pf_g counts g's PREFIX occurrences —
    * prefixes are rarest-first, so hot grams (the df-cap problem the
    * approximate tier handles with maxDf) almost never enter a
    * prefix at tau close to 1. df and gram tables join UNHINTED.
    *
    * Output: one UNDIRECTED row per pair with J ≥ tau
    * (doc_a < doc_b): (doc_a, doc_b, n_a, n_b, i, jaccard) with
    * jaccard = round(i/(n_a+n_b−i), 6). Filtering happens on the
    * rounded value, mirroring the oracle bit-for-bit. */
  def jaccardJoinExact(df: DataFrame, idCol: String, textCol: String,
                       tau: Double = 0.8, n: Int = 3): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    val tE6 = math.round(tau * 1e6)
    // (id, bg) distinct — read by the prefix pass (×2) and the
    // confirm pass (×2): memoize the explode.
    val sh = graft.queries.cacheOnce(ngramShingles(df, idCol, textCol, n))
    val dfreq = sh.groupBy(col("bg")).agg(count(lit(1)).as("df"))
    val counts = sh.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val docWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df"), col("bg"))
    val prefix = sh.join(dfreq, Seq("bg")).join(counts, Seq("id"))
      .withColumn("rn", row_number().over(docWin))
      // L = s - ceil(tau·s) + 1, ceil on the e6 grid in exact longs
      .filter(col("rn") <=
        col("n_sh") - expr(s"(n_sh * $tE6 + 999999) div 1000000") + 1)
      .select(col("id"), col("bg"), col("n_sh"))
    val cand = prefix.select(col("id").as("da"), col("bg"), col("n_sh").as("n_a"))
      .join(prefix.select(col("id").as("db"), col("bg"), col("n_sh").as("n_b")),
            Seq("bg"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"), col("n_a"), col("n_b")).distinct()
      // symmetric size filter: tau·max ≤ min is necessary for J ≥ tau
      .filter(col("n_a") * tE6 <= col("n_b") * 1000000L &&
              col("n_b") * tE6 <= col("n_a") * 1000000L)
    cand
      .join(sh.select(col("id").as("da"), col("bg")), Seq("da"))
      .join(sh.select(col("id").as("db"), col("bg")), Seq("db", "bg"))
      .groupBy(col("da"), col("db"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("i"))
      .withColumn("jaccard",
        round(col("i") * 1.0 / (col("n_a") + col("n_b") - col("i")), 6))
      .filter(col("jaccard") >= tau)
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
              col("n_a"), col("n_b"), col("i"), col("jaccard"))
  }
}
