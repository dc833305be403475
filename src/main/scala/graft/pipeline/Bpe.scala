package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BYTE-PAIR-ENCODING tokenizer — the learn-and-apply subword story
  * the training-data export actually runs between a curated corpus and
  * its packed tensors ([[TextAnalysis.vocabulary]]/`encodeTokens` are
  * the whitespace-rank rung; every production export tokenizes with a
  * LEARNED subword vocabulary so unseen words decompose instead of
  * collapsing to UNK).
  *
  * Training ([[bpeTrain]]) is fully distributed and engine-portable:
  * the working set is the DISTINCT-word frequency table (vocabulary-
  * bounded — the method's standard scale trick: merge statistics are
  * identical whether counted over occurrences or over distinct words
  * weighted by frequency), symbols start as code points
  * (`regexp_extract_all(w, '.')` — the same unit in Java and RE2
  * regexes), and each iteration is one pair-count groupBy + one
  * argmax + one POSITION-BASED merge pass of windows and keyed joins —
  * no driver-side string surgery, and the exact same relational steps
  * replay in DuckDB (q118 unrolls them), so the learned table is
  * hash-checkable.
  *
  * The merge pass implements left-to-right non-overlapping pair
  * merging relationally: candidate positions (sym, next) = (L, R) form
  * gaps-and-islands runs (adjacent candidates only arise when L = R),
  * and greedy left-to-right keeps every OTHER candidate from each
  * run's start — `(pos - run_start) % 2 = 0` — then merged symbols
  * absorb their right neighbor and positions renumber. One lead + two
  * window functions + two keyed self-joins per iteration, all
  * partitioned by word.
  *
  * Applying ([[bpeSegment]]) uses the native `bpe_encode` expression
  * ([[graft.plans.BpeOps]]) — canonical lowest-rank-repeat per word
  * with a memo, merge table as a config-sized literal. Training state
  * equals segmentation for the training corpus (the classic BPE
  * identity), which is what pins the native apply to the relational
  * train (test + q119 oracle).
  *
  * Scale account: train touches the corpus once (the word count);
  * every iteration after that runs over the distinct-word symbol
  * table. Apply is a pure codegen'd projection — zero shuffle,
  * streaming-safe. Downstream ([[bpeVocabulary]], [[bpeEncodeIds]],
  * [[materializePacksBpe]]) reuse the whitespace family's documented
  * shapes with subword rows in place of whitespace tokens. */
object Bpe {

  /** Trained artifacts: the merge table (rank, left_sym, right_sym,
    * merged, cnt) and the final per-distinct-word segmentation
    * (w, freq, pos, sym) — training state IS the segmentation of every
    * corpus word, so apply-side consumers can join it directly. */
  case class BpeTrained(merges: DataFrame, wordSegs: DataFrame)

  /** Eager local checkpoint with a STATISTICS RESET. Plain
    * `localCheckpoint` carries the child plan's estimated
    * `sizeInBytes` into the new `LogicalRDD` — and a merge pass joins
    * the symbol table against derivations of ITSELF ~5 times, so the
    * carried estimate compounds ~5× per pass: by pass ~12 Catalyst's
    * join-size arithmetic (`SizeInBytesOnlyStatsPlanVisitor`) is
    * multiplying BigInts with millions of digits and the DRIVER hangs
    * in `BigInteger.multiply` (observed: 16 passes = 24 min of
    * driver CPU; with the reset, seconds). Wrapping the checkpointed
    * rows in a fresh `createDataFrame` drops the carried stats —
    * downstream sizing falls back to `spark.sql.defaultSizeInBytes`,
    * which never auto-broadcasts (our small sides are explicit
    * `broadcast()` hints, so nothing is lost). The Row
    * round-trip is linear in the (vocabulary-bounded) table — noise
    * next to the quadratic-and-worse planning it removes.
    *
    * Returns (loop frame, releasable checkpoint frame): unpersist the
    * SECOND to free the storage — the wrapper's own unpersist is a
    * no-op. */
  private def checkpointReset(df: DataFrame): (DataFrame, DataFrame) = {
    val ck = df.localCheckpoint()
    (ck.sparkSession.createDataFrame(ck.rdd, ck.schema), ck)
  }

  /** One left-to-right non-overlapping merge pass of pair (l, r) over
    * the (w, freq, pos, sym) symbol table — the relational form whose
    * SQL unrolling is the q118/q119 oracle. */
  private[pipeline] def mergePass(syms: DataFrame, l: String, r: String): DataFrame = {
    val wWin = Window.partitionBy(col("w")).orderBy(col("pos"))
    val d = syms.withColumn("nxt", lead(col("sym"), 1).over(wWin))
    val cand = d.filter(col("sym") === l && col("nxt") === r).select(col("w"), col("pos"))
    // gaps-and-islands: runs of consecutive candidate positions; greedy
    // left-to-right keeps candidates at even offsets from the run start
    val sel = cand
      .withColumn("grp", col("pos") - row_number().over(wWin))
      .withColumn("rs", min(col("pos")).over(Window.partitionBy(col("w"), col("grp"))))
      .filter(pmod(col("pos") - col("rs"), lit(2)) === 0)
      .select(col("w"), col("pos"))
    d.join(sel.withColumn("is_sel", lit(true)), Seq("w", "pos"), "left")
      .join(sel.select(col("w"), (col("pos") + 1).as("pos"), lit(true).as("is_abs")),
            Seq("w", "pos"), "left")
      .filter(col("is_abs").isNull)
      .select(col("w"), col("freq"), col("pos"),
              when(col("is_sel").isNotNull, lit(l + r)).otherwise(col("sym")).as("sym"))
      .withColumn("pos2", row_number().over(wWin) - 1)
      .select(col("w"), col("freq"), col("pos2").as("pos"), col("sym"))
  }

  /** Distinct-word frequency table of a whitespace-tokenized corpus —
    * the vocabulary-bounded working set every trainer variant starts
    * from. */
  private def wordTable(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(trim(col(textCol)), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))

  /** Initial symbol table: one row per (w, freq, pos, sym) with
    * symbols = code points (`regexp_extract_all(w, '.')` — the same
    * unit in Java and RE2 regexes). */
  private def codepointSyms(words: DataFrame): DataFrame =
    words.select(col("w"), col("freq"),
      posexplode(regexp_extract_all(col("w"), lit("."), lit(0)))
        .as(Seq("pos", "sym")))

  /** Learn up to `nMerges` merge rules. Each iteration: pair counts
    * (frequency-weighted, over distinct words), deterministic argmax
    * (count DESC, left ASC, right ASC), merge applied relationally.
    * Stops early when no pair reaches `minPairFreq` (merging a
    * singleton pair buys nothing). Only the 1-row argmax ever reaches
    * the driver per iteration; the symbol table is re-persisted each
    * round so lineage stays O(1).
    *
    * This is the SEQUENTIAL trainer — one full distributed pass per
    * merge rule, the textbook recursion and the q118 oracle form. At a
    * production 32k-merge vocabulary, prefer [[bpeTrainBatched]]: same
    * statistics, same determinism, but it learns a pairwise-disjoint
    * BATCH of rules per pass, collapsing the job count by the batch
    * size (its batchSize = 1 case reproduces this trainer exactly —
    * spec-pinned). */
  def bpeTrainState(df: DataFrame, idCol: String, textCol: String,
                    nMerges: Int, minPairFreq: Long = 2L): BpeTrained = {
    require(nMerges >= 1 && nMerges <= 100000, s"nMerges out of range: $nMerges")
    require(minPairFreq >= 1, s"minPairFreq must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    // localCheckpoint (not persist): each merge pass references its
    // input from THREE subtrees, so the logical plan would grow ~5×
    // per iteration — exponential by nMerges — unless the lineage is
    // truncated every round (the dupClusters loop's established fix)
    var (syms, symsCk) = checkpointReset(codepointSyms(wordTable(df, textCol)))
    val wWin = Window.partitionBy(col("w")).orderBy(col("pos"))
    val rules = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var stop = false
    var k = 1
    while (k <= nMerges && !stop) {
      val best = syms.withColumn("nxt", lead(col("sym"), 1).over(wWin))
        .filter(col("nxt").isNotNull)
        .groupBy(col("sym"), col("nxt")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("sym"), col("nxt")).limit(1)
        .collect()
      if (best.isEmpty || best.head.getAs[Long]("cnt") < minPairFreq) stop = true
      else {
        val l = best.head.getString(0)
        val r = best.head.getString(1)
        rules += ((k.toLong, l, r, l + r, best.head.getAs[Long]("cnt")))
        val (next, nextCk) = checkpointReset(mergePass(syms, l, r))
        symsCk.unpersist()
        syms = next
        symsCk = nextCk
      }
      k += 1
    }
    BpeTrained(
      rules.toSeq.toDF("rank", "left_sym", "right_sym", "merged", "cnt"),
      symsCk)
  }

  /** The merge table alone — (rank, left_sym, right_sym, merged, cnt),
    * rank 1 = first-learned. Releases the training-state frame the
    * caller is discarding (it is checkpoint-persisted). */
  def bpeTrain(df: DataFrame, idCol: String, textCol: String,
               nMerges: Int, minPairFreq: Long = 2L): DataFrame = {
    val trained = bpeTrainState(df, idCol, textCol, nMerges, minPairFreq)
    trained.wordSegs.unpersist()
    trained.merges
  }

  // ------------------------------------------------------- batched

  /** One SIMULTANEOUS merge pass of a pairwise-symbol-disjoint rule
    * set. Disjointness is what makes simultaneous application
    * well-defined and order-independent: a merge replaces two adjacent
    * symbols with one, so it can neither create nor destroy an
    * adjacency of symbols it doesn't contain, and candidates of two
    * distinct disjoint rules can never claim the same position (a
    * position holds ONE symbol). Consecutive candidate positions
    * therefore still only arise within a single l = r rule, so the
    * gaps-and-islands greedy from [[mergePass]] carries over verbatim —
    * the only change is the merged symbol comes from concat(sym, nxt)
    * instead of a single rule literal. */
  private[pipeline] def mergePassMulti(syms: DataFrame,
                                       rules: Seq[(String, String)]): DataFrame = {
    val spark = syms.sparkSession
    import spark.implicits._
    val wWin = Window.partitionBy(col("w")).orderBy(col("pos"))
    val d = syms.withColumn("nxt", lead(col("sym"), 1).over(wWin))
    val ruleDf = broadcast(rules.toDF("l", "r"))
    val cand = d.join(ruleDf, col("sym") === col("l") && col("nxt") === col("r"))
      .select(col("w"), col("pos"))
    val sel = cand
      .withColumn("grp", col("pos") - row_number().over(wWin))
      .withColumn("rs", min(col("pos")).over(Window.partitionBy(col("w"), col("grp"))))
      .filter(pmod(col("pos") - col("rs"), lit(2)) === 0)
      .select(col("w"), col("pos"))
    d.join(sel.withColumn("is_sel", lit(true)), Seq("w", "pos"), "left")
      .join(sel.select(col("w"), (col("pos") + 1).as("pos"), lit(true).as("is_abs")),
            Seq("w", "pos"), "left")
      .filter(col("is_abs").isNull)
      .select(col("w"), col("freq"), col("pos"),
              when(col("is_sel").isNotNull, concat(col("sym"), col("nxt")))
                .otherwise(col("sym")).as("sym"))
      .withColumn("pos2", row_number().over(wWin) - 1)
      .select(col("w"), col("freq"), col("pos2").as("pos"), col("sym"))
  }

  /** LOCALLY-MAXIMAL pair selection — the batching rule that makes BPE
    * training parallel in the merge dimension. A pair is selected iff
    * it ranks FIRST under (cnt DESC, l ASC, r ASC) within the
    * candidate group of EVERY symbol it contains, i.e. it strictly
    * beats every pair sharing a symbol under the total order.
    * Consequences, each load-bearing:
    *   - selected pairs are pairwise symbol-disjoint (two overlapping
    *     pairs can't both rank first in the shared symbol's group), so
    *     [[mergePassMulti]] may apply them simultaneously;
    *   - the global argmax is always selected (it beats everything it
    *     overlaps), so every pass makes progress and batchSize = 1
    *     degenerates to the sequential trainer exactly;
    *   - the overlap relation is decomposed per symbol (explode +
    *     window rank + groupBy) — keyed shuffles only, never a
    *     pair×pair theta-join.
    * Returns up to `batchSize` rows (l, r, cnt) ranked
    * (cnt DESC, l, r). */
  private[pipeline] def localMaxPairs(pairs: DataFrame, batchSize: Int): DataFrame = {
    val sWin = Window.partitionBy(col("s"))
      .orderBy(col("cnt").desc, col("l"), col("r"))
    pairs
      .select(col("l"), col("r"), col("cnt"),
              explode(array_distinct(array(col("l"), col("r")))).as("s"))
      .withColumn("rk", row_number().over(sWin))
      .groupBy(col("l"), col("r"), col("cnt"))
      .agg(max(col("rk")).as("mrk"))
      .filter(col("mrk") === 1)
      .orderBy(col("cnt").desc, col("l"), col("r"))
      .limit(batchSize)
  }

  /** BATCHED BPE training over an arbitrary initial symbol table —
    * the production-scale trainer (VERDICT r11 finding #1: one Spark
    * job per merge rule is infeasible at a 32k-merge vocabulary; this
    * runs `nPasses` passes learning up to `batchSize` disjoint rules
    * each, so the job count is vocab/batchSize instead of vocab).
    * Exactly `nPasses` passes run unless the corpus runs dry (no pair
    * ≥ `minPairFreq` — then nothing remains for later passes either),
    * so a fixed-pass SQL unroll replays it deterministically (q136's
    * oracle). Per pass only the ≤ batchSize selected rules reach the
    * driver. Ranks number rules (pass ASC, cnt DESC, l, r) —
    * continuous across passes. */
  private def trainBatchedFrom(syms0: DataFrame, nPasses: Int, batchSize: Int,
                               minPairFreq: Long,
                               onPass: (Int, Int, Double) => Unit = null
                              ): BpeTrained = {
    require(nPasses >= 1 && nPasses <= 100000, s"nPasses out of range: $nPasses")
    require(batchSize >= 1 && batchSize <= 100000, s"batchSize out of range: $batchSize")
    require(minPairFreq >= 1, s"minPairFreq must be >= 1")
    val spark = syms0.sparkSession
    import spark.implicits._
    var (syms, symsCk) = checkpointReset(syms0)
    val wWin = Window.partitionBy(col("w")).orderBy(col("pos"))
    val rules = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var dry = false
    var p = 1
    while (p <= nPasses && !dry) {
      val t0 = System.nanoTime()
      val batch = localMaxPairs(
        syms.withColumn("nxt", lead(col("sym"), 1).over(wWin))
          .filter(col("nxt").isNotNull)
          .groupBy(col("sym"), col("nxt")).agg(sum(col("freq")).as("cnt"))
          .filter(col("cnt") >= minPairFreq)
          .select(col("sym").as("l"), col("nxt").as("r"), col("cnt")),
        batchSize).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (batch.isEmpty) dry = true
      else {
        batch.foreach { case (l, r, cnt) =>
          rules += ((rules.size + 1L, l, r, l + r, cnt)) }
        val (next, nextCk) = checkpointReset(
          mergePassMulti(syms, batch.map(t => (t._1, t._2)).toSeq))
        symsCk.unpersist()
        syms = next
        symsCk = nextCk
      }
      if (onPass != null)
        onPass(p, rules.size, (System.nanoTime() - t0) / 1e9)
      p += 1
    }
    // return the RELEASABLE checkpoint frame (not the stats-reset
    // wrapper, whose unpersist is a no-op) so callers' wordSegs
    // .unpersist() actually frees the final pass's localCheckpoint —
    // mirrors bpeTrainState's return
    BpeTrained(
      rules.toSeq.toDF("rank", "left_sym", "right_sym", "merged", "cnt"),
      symsCk)
  }

  // --------------------------------------------- incremental counts

  /** Frequency-weighted pair counts of an ADJACENCY table
    * (w, freq, pos, sym, nxt) — the aggregate every trainer variant
    * selects from. */
  private def pairsOfAdj(adj: DataFrame): DataFrame =
    adj.filter(col("nxt").isNotNull)
      .groupBy(col("sym").as("l"), col("nxt").as("r"))
      .agg(sum(col("freq")).as("cnt"))

  // The INCREMENTAL TRAINER (trainIncrementalFrom /
  // bpeTrainIncremental*) was RETIRED in r15 after its last claimed
  // regime was measured (the q76 precedent: retire, don't carry).
  // Batch training: lost to the batched recount in all three r14
  // probe regimes (COVERAGE.md). Append ingestion: served by
  // [[bpeIngestState]]/[[bpeIngestAppend]] above — measured to beat
  // the full recount past ~2M docs (ScaleProbeBpeAppend), with
  // continued training best run as trainBatchedFrom over the
  // maintained adjacency (the batched trainer wins every training
  // regime). The maintained pair-count machinery lives on in
  // bpeIngestAppend, where it earns its cost.

  /** Batched trainer on the whitespace-word / code-point symbol
    * universe — [[bpeTrainState]]'s statistics at 1/batchSize the job
    * count. */
  def bpeTrainBatchedState(df: DataFrame, idCol: String, textCol: String,
                           nPasses: Int, batchSize: Int,
                           minPairFreq: Long = 2L,
                           onPass: (Int, Int, Double) => Unit = null
                          ): BpeTrained =
    trainBatchedFrom(codepointSyms(wordTable(df, textCol)),
                     nPasses, batchSize, minPairFreq, onPass)

  /** Merge table of the batched trainer (releases the training
    * state). */
  def bpeTrainBatched(df: DataFrame, idCol: String, textCol: String,
                      nPasses: Int, batchSize: Int,
                      minPairFreq: Long = 2L): DataFrame = {
    val trained = bpeTrainBatchedState(df, idCol, textCol, nPasses,
                                       batchSize, minPairFreq)
    trained.wordSegs.unpersist()
    trained.merges
  }

  // ------------------------------------------- append ingestion

  /** Ingestion-time maintained state: the learned rules plus the
    * per-WORD-TYPE adjacency table and live pair counts — what an
    * append pipeline keeps so a new doc batch folds in without
    * re-reading (or re-segmenting) the accumulated corpus. `release`
    * frees the backing checkpoints. */
  case class BpeIngest(merges: DataFrame, adj: DataFrame,
                       pairCounts: DataFrame,
                       private[pipeline] val cks: Seq[DataFrame]) {
    def release(): Unit = cks.foreach(_.unpersist())
  }

  /** Build ingestion state from scratch over `df` with a FIXED
    * learned rule set: word table → native `bpe_encode` segmentation
    * (spec-pinned equal to the training state) → adjacency → pair
    * counts. This is also the FULL-RECOUNT rival the append path is
    * probed against (ScaleProbeBpe append rows): recounting costs one
    * corpus-types encode + window + aggregate regardless of batch
    * size. */
  def bpeIngestState(df: DataFrame, idCol: String, textCol: String,
                     merges: DataFrame): BpeIngest = {
    val rules = rulesOf(merges)
    val words = wordTable(df, textCol)
    val segs = bpeSegment(words, "w", "w", rules)
      .join(words, Seq("w"))
      .select(col("w"), col("freq"),
              posexplode(col("syms")).as(Seq("pos", "sym")))
      .select(col("w"), col("freq"), col("pos"), col("sym"))
    val wWin = Window.partitionBy(col("w")).orderBy(col("pos"))
    val (adj, adjCk) = checkpointReset(
      segs.withColumn("nxt", lead(col("sym"), 1).over(wWin)))
    val (pc, pcCk) = checkpointReset(pairsOfAdj(adj))
    BpeIngest(merges, adj, pc, Seq(adjCk, pcCk))
  }

  /** Fold an appended doc batch into maintained ingestion state
    * WITHOUT touching the accumulated corpus (the regime the r14
    * crossover verdict left the incremental machinery scoped to —
    * measured by the ScaleProbeBpe append rows):
    *
    *   1. the batch's word table is batch-sized;
    *   2. KNOWN word types only bump `freq` — segmentation is
    *      frequency-independent, so their adjacency rows pass
    *      through with the new freq and their pair-count delta is
    *      the old pair multiset scaled by the freq delta (a keyed
    *      join against the batch table, map-side under AQE);
    *   3. NEW word types — the only text segmented at all — run the
    *      native `bpe_encode` + a batch-sized adjacency window;
    *   4. pc' = one pair-vocabulary-sized aggregate over
    *      (pc ∪ known deltas ∪ new-type pairs).
    *
    * State equality with [[bpeIngestState]] over (corpus ∪ batch) is
    * spec-pinned (BpeSpec append parity). */
  def bpeIngestAppend(st: BpeIngest, newDocs: DataFrame, idCol: String,
                      textCol: String): BpeIngest = {
    val rules = rulesOf(st.merges)
    val bw = wordTable(newDocs, textCol)
      .select(col("w"), col("freq").as("freq_b"))
    // known types: freq-scaled pair deltas + freq bump
    val knownDelta = pairsOfAdj(
      st.adj.join(bw, Seq("w"))
        .select(col("w"), col("freq_b").as("freq"), col("sym"), col("nxt")))
    val adjKnown = st.adj.join(bw, Seq("w"), "left")
      .select(col("w"), (col("freq") + coalesce(col("freq_b"), lit(0L)))
                .as("freq"),
              col("pos"), col("sym"), col("nxt"))
    // new types: the only segmentation work in the whole append
    val newW = bw.join(st.adj.select(col("w")).distinct(),
                       Seq("w"), "left_anti")
    val wWin = Window.partitionBy(col("w")).orderBy(col("pos"))
    val adjNew = bpeSegment(newW, "w", "w", rules)
      .join(newW, Seq("w"))
      .select(col("w"), col("freq_b").as("freq"),
              posexplode(col("syms")).as(Seq("pos", "sym")))
      .select(col("w"), col("freq"), col("pos"), col("sym"))
      .withColumn("nxt", lead(col("sym"), 1).over(wWin))
    val (adj2, adjCk) = checkpointReset(adjKnown.unionByName(adjNew))
    // pc' = pc + (known pairs scaled by the batch freq) + new-type
    // pairs — pair counts are linear in word-type freq
    val (pc2, pcCk) = checkpointReset(
      st.pairCounts.unionByName(knownDelta)
        .unionByName(pairsOfAdj(adjNew))
        .groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("cnt"))
        .filter(col("cnt") > 0L))
    BpeIngest(st.merges, adj2, pc2, Seq(adjCk, pcCk))
  }

  // ---------------------------------------------------- byte-level

  /** Engine-portable GPT-2-style pretokenizer (simplified — no
    * lookahead, so a run of spaces keeps ALL its spaces in one token
    * rather than donating the last one to the following word): letter
    * runs, digit runs, and punctuation runs each with an optional
    * leading space, then residual space runs. Leftmost-first
    * alternation behaves identically in Java regex (Spark) and RE2
    * (DuckDB). */
  val pretokenRegex = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"

  /** Byte-level word table: pretokenize, then key each token by the
    * UPPERCASE HEX of its UTF-8 bytes — the engine-portable byte
    * representation (DuckDB: `upper(hex(encode(w)))`), in which every
    * SYMBOL is a hex string of whole bytes and merges concatenate hex.
    * This closes the vocabulary over arbitrary bytes: unseen unicode
    * decomposes into byte symbols instead of collapsing to UNK — the
    * reason production tokenizers (GPT-2/LLaMA family) are byte-level. */
  private def byteWordTable(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(regexp_extract_all(col(textCol),
                lit(pretokenRegex), lit(0))).as("wtxt"))
      .filter(col("wtxt") =!= "")
      .groupBy(col("wtxt")).agg(count(lit(1)).as("freq"))
      .select(upper(hex(encode(col("wtxt"), "UTF-8"))).as("w"), col("freq"))

  /** Initial byte symbols: consecutive hex pairs of the word key
    * (regexp '..' walks left-to-right non-overlapping — one symbol per
    * byte). */
  private def hexByteSyms(words: DataFrame): DataFrame =
    words.select(col("w"), col("freq"),
      posexplode(regexp_extract_all(col("w"), lit(".."), lit(0)))
        .as(Seq("pos", "sym")))

  /** BYTE-LEVEL batched BPE training: [[pretokenRegex]] words, hex
    * byte symbols, locally-maximal batches. Symbols in the returned
    * merge table are hex byte strings (decode for display with
    * `unhex`). */
  /** Byte-level batched trainer WITH its final word-segmentation
    * state (the training-state≡segmentation identity's byte half —
    * spec-pinned against the native apply). */
  def bpeTrainBytesState(df: DataFrame, idCol: String, textCol: String,
                         nPasses: Int, batchSize: Int,
                         minPairFreq: Long = 2L): BpeTrained =
    trainBatchedFrom(hexByteSyms(byteWordTable(df, textCol)),
                     nPasses, batchSize, minPairFreq)

  def bpeTrainBytes(df: DataFrame, idCol: String, textCol: String,
                    nPasses: Int, batchSize: Int,
                    minPairFreq: Long = 2L): DataFrame = {
    val trained = bpeTrainBytesState(df, idCol, textCol, nPasses, batchSize,
                                     minPairFreq)
    trained.wordSegs.unpersist()
    trained.merges
  }

  /** BYTE-LEVEL segmentation — the apply side of [[bpeTrainBytes]]:
    * the native `bpe_encode_bytes` projection (zero shuffle,
    * streaming-safe). (id, syms) with `syms` UPPERCASE-HEX byte
    * symbols in document order; spaces ride inside pretokens (the
    * GPT-2 contract), so `unhex(concat(syms))` reproduces the document
    * BYTE FOR BYTE — the lossless property that motivates byte-level
    * tokenizers. */
  def bpeSegmentBytes(df: DataFrame, idCol: String, textCol: String,
                      rules: Seq[(String, String)]): DataFrame = {
    df.select(col(idCol),
      call_function("bpe_encode_bytes", col(textCol),
        typedLit(rules.map(_._1)), typedLit(rules.map(_._2))).as("syms"))
  }

  /** Row-ized byte-level segmentation: (id, pos, sym), pos 0-based in
    * document order. */
  def bpeSegmentRowsBytes(df: DataFrame, idCol: String, textCol: String,
                          rules: Seq[(String, String)]): DataFrame =
    bpeSegmentBytes(df, idCol, textCol, rules)
      .select(col(idCol), posexplode(col("syms")).as(Seq("pos", "sym")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("sym"))

  /** TOKENIZER FERTILITY diagnostics — the metric a tokenizer is
    * CHOSEN by: per document, the sizes of the three token streams
    * this engine can produce (whitespace words, learned code-point
    * subwords, byte-level subwords) against the document's byte
    * length, plus the two micro-scaled ratios practitioners compare —
    * subwords-per-word (BPE fertility; lower = the learned vocabulary
    * compresses words better) and bytes-per-byte-symbol (byte-chain
    * compression; higher = each symbol covers more raw bytes).
    * Token-less / empty documents carry null ratios rather than
    * vanishing. One pure per-row projection over the two native
    * encode expressions — zero shuffles, streaming-safe. */
  def tokenizerFertility(df: DataFrame, idCol: String, textCol: String,
                         cpRules: Seq[(String, String)],
                         byteRules: Seq[(String, String)]): DataFrame = {
    val nWs = size(filter(split(trim(col(textCol)), " "), t => t =!= ""))
    val nBpe = size(call_function("bpe_encode", col(textCol),
      typedLit(cpRules.map(_._1)), typedLit(cpRules.map(_._2))))
    val nByte = size(call_function("bpe_encode_bytes", col(textCol),
      typedLit(byteRules.map(_._1)), typedLit(byteRules.map(_._2))))
    val nBytes = octet_length(col(textCol))
    df.select(col(idCol),
      nBytes.cast("long").as("n_bytes"),
      nWs.cast("long").as("n_ws"),
      nBpe.cast("long").as("n_bpe"),
      nByte.cast("long").as("n_byte_syms"),
      when(nWs > 0, round(nBpe * lit(1e6) / nWs).cast("long"))
        .as("bpe_per_word_e6"),
      when(nByte > 0, round(nBytes * lit(1e6) / nByte).cast("long"))
        .as("bytes_per_sym_e6"))
  }

  /** Collect a merge frame to the rank-ordered rule list the native
    * apply expression embeds (nMerges rows — config-sized, the
    * tokenizer's vocab budget). */
  def rulesOf(merges: DataFrame): Seq[(String, String)] =
    merges.orderBy(col("rank")).collect()
      .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym"))).toSeq

  /** Segment each document into learned subwords: (id, syms) with
    * `syms` the flattened symbol array in document order — the native
    * `bpe_encode` projection (zero shuffle, streaming-safe). */
  def bpeSegment(df: DataFrame, idCol: String, textCol: String,
                 rules: Seq[(String, String)]): DataFrame = {
    df.select(col(idCol),
      call_function("bpe_encode", col(textCol),
        typedLit(rules.map(_._1)), typedLit(rules.map(_._2))).as("syms"))
  }

  /** Row-ized segmentation: (id, pos, sym), pos 0-based in document
    * order — the frame the vocabulary/encoding passes aggregate. */
  def bpeSegmentRows(df: DataFrame, idCol: String, textCol: String,
                     rules: Seq[(String, String)]): DataFrame =
    bpeSegment(df, idCol, textCol, rules)
      .select(col(idCol), posexplode(col("syms")).as(Seq("pos", "sym")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("sym"))

  /** Subword vocabulary: top-K symbols by occurrence (count DESC, sym
    * ASC rank — [[TextAnalysis.vocabulary]]'s contract over subword
    * rows). */
  def bpeVocabulary(df: DataFrame, idCol: String, textCol: String,
                    rules: Seq[(String, String)], topK: Int = 100): DataFrame =
    vocabularyOfRows(bpeSegmentRows(df, idCol, textCol, rules), idCol, topK)

  /** Byte-universe twin of [[bpeVocabulary]]: top-K HEX byte-symbols
    * of the [[bpeSegmentRowsBytes]] stream. */
  def bpeVocabularyBytes(df: DataFrame, idCol: String, textCol: String,
                         rules: Seq[(String, String)], topK: Int = 100): DataFrame =
    vocabularyOfRows(bpeSegmentRowsBytes(df, idCol, textCol, rules), idCol, topK)

  private def vocabularyOfRows(rows: DataFrame, idCol: String,
                               topK: Int): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val w = Window.orderBy(col("n_occ").desc, col("sym"))
    rows.groupBy(col("sym"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col(idCol)).as("n_docs"))
      .orderBy(col("n_occ").desc, col("sym")).limit(topK)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Subword token-id encoding: (id, ids, n_tokens, n_oov) — the exact
    * [[TextAnalysis.encodeTokens]] contract with REAL subword ids
    * (vocabulary rank, OOV → `oovId`). Position-pinned array order;
    * broadcast vocab join (top-K-bounded). */
  def bpeEncodeIds(df: DataFrame, idCol: String, textCol: String,
                   rules: Seq[(String, String)], vocab: DataFrame,
                   oovId: Long = 0L): DataFrame =
    encodeIdsOfRows(bpeSegmentRows(df, idCol, textCol, rules), idCol, vocab, oovId)

  /** Byte-universe twin of [[bpeEncodeIds]]: id arrays over the
    * [[bpeSegmentRowsBytes]] stream — with a byte vocabulary the id
    * sequence is byte-LOSSLESS when no OOV fires (decode restores the
    * document exactly, whitespace included — q151's contract). */
  def bpeEncodeIdsBytes(df: DataFrame, idCol: String, textCol: String,
                        rules: Seq[(String, String)], vocab: DataFrame,
                        oovId: Long = 0L): DataFrame =
    encodeIdsOfRows(bpeSegmentRowsBytes(df, idCol, textCol, rules), idCol,
                    vocab, oovId)

  private def encodeIdsOfRows(rows: DataFrame, idCol: String, vocab: DataFrame,
                              oovId: Long): DataFrame =
    rows
      .join(broadcast(vocab.select(col("sym"), col("rank"))), Seq("sym"), "left")
      .select(col(idCol), col("pos"), coalesce(col("rank"), lit(oovId)).as("tid"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
           sum((col("tid") === oovId).cast("long")).as("n_oov"),
           expr("transform(array_sort(collect_list(struct(pos, tid))), s -> s.tid)")
             .as("ids"))
      .select(col(idCol), col("ids"), col("n_tokens"), col("n_oov"))

  /** Token-id DECODING — the inverse of [[bpeEncodeIds]]: each id array
    * back to its symbol strings (OOV ids → `oovSym`) concatenated in
    * position order. The vocabulary rides as an id→symbol MAP literal
    * (top-K-bounded — hyperparameter-sized, the same class of literal
    * as the rule arrays), so decode is a ZERO-shuffle pure projection
    * and runs unchanged under Structured Streaming. Round-tripping a
    * document whose ids carry no OOV reproduces its text exactly up to
    * the whitespace the word tokenizer consumed (BPE symbols partition
    * each word's codepoints — concatenation restores the word stream). */
  def bpeDecode(df: DataFrame, idCol: String, idsCol: String,
                vocab: Seq[(Long, String)], oovSym: String = "<unk>"): DataFrame = {
    require(vocab.nonEmpty, "bpeDecode needs a vocabulary")
    val m = map(vocab.flatMap { case (r, sym) => Seq(lit(r), lit(sym)) }: _*)
    df.select(col(idCol),
      concat_ws("", transform(col(idsCol),
        t => coalesce(element_at(m, t), lit(oovSym)))).as("text_rt"))
  }

  /** The export chain on SUBWORD ids — [[TextAnalysis.materializePacks]]
    * with the learned tokenizer in place of whitespace ranks: segment →
    * encode → pack (buckets keyed by SUBWORD counts, via the shared
    * [[TextAnalysis.packAssign]] core) → flatten, truncating each
    * document's ids to its bucket exactly as the whitespace chain does.
    * Output: (pack_id, pos, tid, doc_id). */
  def materializePacksBpe(df: DataFrame, idCol: String, textCol: String,
                          rules: Seq[(String, String)], vocab: DataFrame,
                          contextLen: Int = 2048, minBucket: Int = 16,
                          maxBucket: Int = 512, nShards: Int = 32,
                          salt: String = "pack", oovId: Long = 0L): DataFrame = {
    val enc = graft.queries.cacheOnce(
      bpeEncodeIds(df, idCol, textCol, rules, vocab, oovId))
    val packs = TextAnalysis.packAssign(
      enc.select(col(idCol), col("n_tokens")),
      idCol, contextLen, minBucket, maxBucket, nShards, salt)
      .select(col(idCol), col("bucket"), col("pack_id"), col("slot"))
    enc.select(col(idCol), col("ids")).join(packs, Seq(idCol))
      .select(col(idCol).as("doc_id"), col("pack_id"),
              (col("slot") * col("bucket")).as("base"),
              posexplode(slice(col("ids"), lit(1), col("bucket").cast("int")))
                .as(Seq("tok_pos", "tid")))
      .select(col("pack_id"), (col("base") + col("tok_pos")).as("pos"),
              col("tid"), col("doc_id"))
  }
}
