package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stateless text-analysis operators as a public library surface
  * (token counting, quality scoring, language ID, fingerprinting) —
  * the per-document transforms behind q50-q53, usable on ANY frame
  * with a text column, batch or streaming: every expression here is a
  * pure per-row projection (codegen'd `functions._` arithmetic, no
  * UDFs, no state), so the same call works unchanged under Structured
  * Streaming (StreamOpsSpec pins batch/stream parity).
  *
  * Token counting is length arithmetic (`length - length(replace)`),
  * identical scan semantics in every engine — the DuckDB oracles in
  * TextQueries mirror these expressions verbatim; change them only in
  * lockstep. */
object TextAnalysis {

  /** Whitespace token count of the trimmed text. */
  def tokenCount(text: Column): Column = {
    val tr = trim(text)
    (length(tr) - length(call_function("replace", tr, lit(" ")))) + 1
  }

  /** q50 projection: (id, n_tokens, text_len [, passthrough cols]). */
  def tokenStats(df: DataFrame, idCol: String, textCol: String,
                 passthrough: Seq[String] = Nil): DataFrame =
    df.select(
      col(idCol) +:
      tokenCount(col(textCol)).cast("long").as("n_tokens") +:
      length(col(textCol)).cast("long").as("text_len") +:
      passthrough.map(col): _*)

  val stopwordsEn: Seq[String] = Seq("the", "a", "and", "of", "is")

  /** q51 projection: token count, average token length, stopword
    * ratio, composite quality score. */
  def qualityScore(df: DataFrame, idCol: String, textCol: String,
                   stopwords: Seq[String] = stopwordsEn): DataFrame = {
    val text = col(textCol)
    val tr = trim(text)
    val nTok = tokenCount(text)
    val noSpace = length(call_function("replace", tr, lit(" ")))
    val stopHits = stopwords.map(w => TextDedup.wordOccurrences(text, w))
      .reduce(_ + _)
    df.select(
      col(idCol),
      nTok.cast("long").as("n_tokens"),
      round(noSpace * 1.0 / nTok, 6).as("avg_token_len"),
      round(stopHits * 1.0 / nTok, 6).as("stop_ratio"),
      round((stopHits * 1.0 / nTok) * 0.5 + (noSpace * 1.0 / nTok) / 10.0 * 0.5, 6)
        .as("quality_score"))
  }

  val defaultLangWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "is"),
    "es" -> Seq("el", "la", "de", "y", "es"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "est"))

  /** q52 projection: per-language stopword evidence scores plus the
    * argmax prediction (first language in list order attaining the
    * max, "und" when no evidence). */
  def languageId(df: DataFrame, idCol: String, textCol: String,
                 langWords: Seq[(String, Seq[String])] = defaultLangWords): DataFrame = {
    val scores = langWords.map { case (lang, ws) =>
      lang -> ws.map(w => TextDedup.wordOccurrences(col(textCol), w)).reduce(_ + _)
    }
    val df0 = df.select(
      (col(idCol) +: scores.map { case (l, c) => c.cast("long").as(s"s_$l") }): _*)
    val pred = scores.map(_._1).foldRight(lit("und")) { (lang, acc) =>
      when(col(s"s_$lang") >= scores.map(p => col(s"s_${p._1}")).reduce(greatest(_, _)) &&
           col(s"s_$lang") > 0, lit(lang)).otherwise(acc)
    }
    df0.withColumn("lang_pred", pred)
  }

  /** UNICODE SCRIPT PROFILE — per-document code-point census over the
    * script classes a multilingual curation pass routes on (the
    * CCNet/RedPajama-style script filter, and the encoding-damage
    * detector: a high `n_other` share on a feed that used to be clean
    * is mojibake arriving). Classes: Latin letters, CJK unified
    * ideographs, combining marks (decomposed accents — a high
    * marks-to-letters ratio flags NFC-unnormalized feeds for [[
    * normalizeDocs]]), supplementary-plane code points (emoji/math),
    * digits, plain spaces, and the remainder. `script` is the
    * dominant writing system (latin / cjk / other, ties in that
    * order; 'und' for empty text).
    *
    * Counting is length arithmetic over class-stripping
    * `regexp_replace` — code-POINT semantics in both engines (Spark
    * `length` counts code points, astral chars included), so the
    * census is hash-checkable. Pure per-row projection: zero
    * shuffles, streaming-safe, whole-stage codegen with compiled-once
    * regex literals. */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(pat: String) = (length(t) - length(regexp_replace(t, lit(pat), lit(""))))
    val nChars = length(t).cast("long")
    val latin  = cnt("[A-Za-z]").cast("long")
    val cjk    = cnt("[\\x{4e00}-\\x{9fff}]").cast("long")
    val marks  = cnt("[\\x{0300}-\\x{036f}]").cast("long")
    val astral = cnt("[\\x{10000}-\\x{10ffff}]").cast("long")
    val digit  = cnt("[0-9]").cast("long")
    val space  = cnt("[ ]").cast("long")
    val other  = nChars - latin - cjk - marks - astral - digit - space
    val script = when(nChars === 0, lit("und"))
      .when(latin >= cjk && latin >= other && latin > 0, lit("latin"))
      .when(cjk >= other && cjk > 0, lit("cjk"))
      .when(other > 0, lit("other"))
      .otherwise(lit("und"))
    df.select(col(idCol).as("doc_id"), nChars.as("n_chars"),
              latin.as("n_latin"), cjk.as("n_cjk"), marks.as("n_marks"),
              astral.as("n_astral"), digit.as("n_digit"), space.as("n_space"),
              other.as("n_other"), script.as("script"))
  }

  /** q53 projection: md5 content fingerprint + 8-hex prefix. */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      md5(trim(col(textCol))).as("fingerprint"),
      substring(md5(trim(col(textCol))), 1, 8).as("fp_prefix"))

  /** Repetition statistics — the quality-filter family's REPETITION
    * axis (the published corpus-filter rulebooks drop documents whose
    * text loops: a high share of all bigrams landing on one repeated
    * bigram, or few distinct bigrams overall, marks boilerplate and
    * degenerate generations that the length/stopword score misses).
    * Per document: total/distinct bigram counts, the top bigram's
    * share of all bigram OCCURRENCES (`top_bigram_frac`), and the
    * share of occurrences beyond each bigram's first
    * (`dup_bigram_frac` = 1 − distinct/total). One shingle explode +
    * one two-level groupBy — integer counts with two rounded
    * divisions, so the oracle (q84) hash-matches exactly. Docs with
    * < 2 words emit nothing (no bigrams — same row contract as the
    * shingle table). */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val grams = df.withColumn("l", split(trim(col(textCol)), " "))
      .filter(size(col("l")) >= 2) // sequence(1, 0) would count DOWN in Spark
      .select(col(idCol).as("doc_id"),
        explode(transform(sequence(lit(1), size(col("l")) - 1),
          i => concat(element_at(col("l"), i), lit("_"),
                      element_at(col("l"), i + 1)))).as("bg"))
    val perGram = grams.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
    perGram.groupBy("doc_id").agg(
        sum(col("c")).as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
      .select(col("doc_id"),
        col("n_bigrams").cast("long").as("n_bigrams"),
        col("n_distinct").cast("long").as("n_distinct"),
        round(col("top_c") / col("n_bigrams"), 6).as("top_bigram_frac"),
        round(lit(1.0) - col("n_distinct") / col("n_bigrams"), 6).as("dup_bigram_frac"))
  }

  /** BM25 lexical top-k — the retrieval scorer that completes the
    * similarity-search family's LEXICAL side (embedding ANN finds
    * semantic neighbors; curation pipelines equally need "which
    * documents match these terms", e.g. contamination checks against
    * benchmark queries or topical subsetting). Standard
    * Okapi/Lucene-form BM25: idf = ln((N − df + ½)/(df + ½) + 1)
    * (always positive), tf saturation k1, length normalization b
    * against the corpus mean document length.
    *
    * Oracle discipline: per-(doc, term) contributions are scaled to
    * integer MICROS (`round(c·1e6)::long`) BEFORE the per-doc sum —
    * the repo's exact-integer workhorse — so the score is an
    * order-independent integer sum and the DuckDB oracle (q81)
    * hash-matches regardless of partial-aggregation order. Scale
    * shape: tokens are filtered to the QUERY terms before any
    * aggregation (the tf groupBy carries query-term rows only, not
    * the corpus vocabulary); df/corpus stats are scalar-sized
    * broadcasts; the final top-k is TakeOrdered (no global sort
    * shuffle), with rank applied to the k survivors. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               query: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty && k >= 1, "bm25TopK needs query terms and k >= 1")
    val toks = df.select(col(idCol).as("doc_id"),
                         explode(split(trim(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
    // dl and tf are the two doc-count-bounded intermediates every
    // downstream subtree hangs off (stats from dl, df from tf, the
    // contribution join from all four) — memoized with the standard
    // cacheOnce contract so the token explode runs TWICE total instead
    // of once per subtree (4×), and repeated queries over the same
    // corpus reuse the doc-length index outright
    val dl = graft.queries.cacheOnce(
      toks.groupBy("doc_id").agg(count(lit(1)).as("dl")))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = graft.queries.cacheOnce(
      toks.filter(col("tok").isin(query: _*))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")))
    val docFreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val contrib = tf.join(broadcast(docFreq), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
              (col("tf") * lit(k1 + 1)) /
              (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))) *
              lit(1e6)).cast("long").as("c_e6"))
    val scored = contrib.groupBy("doc_id").agg(sum(col("c_e6")).as("score_e6"))
    val top = scored.orderBy(col("score_e6").desc, col("doc_id")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_e6").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
  }

  /** RM3 pseudo-relevance-feedback expansion — the classic two-pass
    * retrieval upgrade (Lavrenko & Croft relevance models, the
    * Lucene/Anserini RM3 default): run BM25, treat the top `fbDocs`
    * as relevant, extract the `fbTerms` most characteristic terms of
    * that feedback set, and rescore with the expanded query. Recall
    * rises because documents matching the TOPIC (but not the literal
    * terms) now score.
    *
    * Term weighting (exact-integer relevance model): tw(t) =
    * Σ_{d∈FB} (tf_{t,d} · score_e6(d)) div dl_d — term frequency
    * normalized by doc length, weighted by the doc's first-pass
    * score, every step a truncating long op (order-free sum).
    * Final score: original terms contribute at full weight,
    * expansion terms at `lambdaE6`/1e6 (the uniform-weight RM3
    * simplification) — cw = (c_e6 · w_e6) div 1e6 keeps it exact.
    *
    * Scale shape: pass 1 is [[bm25TopK]]'s documented cost; the
    * feedback tf join touches only fbDocs documents' tokens; the
    * expansion pick is a TakeOrdered over the feedback vocabulary;
    * pass 2 semi-joins corpus tokens against a (|query| + fbTerms)-row
    * term table — never the vocabulary. NOTHING is collected: the
    * expanded term set stays a DataFrame end to end. */
  def rm3TopK(df: DataFrame, idCol: String, textCol: String,
              query: Seq[String], k: Int, fbDocs: Int = 10,
              fbTerms: Int = 5, lambdaE6: Long = 400000L,
              k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty && k >= 1 && fbDocs >= 1 && fbTerms >= 1,
            "rm3TopK needs query terms, k/fbDocs/fbTerms >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val pass1 = bm25TopK(df, idCol, textCol, query, fbDocs, k1, b)
    val toks = df.select(col(idCol).as("doc_id"),
                         explode(split(trim(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val dl = graft.queries.cacheOnce(
      toks.groupBy("doc_id").agg(count(lit(1)).as("dl")))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val fbTf = toks
      .join(pass1.select(col("doc_id"), col("score_e6")), Seq("doc_id"))
      .groupBy(col("doc_id"), col("score_e6"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .join(dl, Seq("doc_id"))
    val tw = fbTf
      .withColumn("w", expr("(tf * score_e6) div dl"))
      .groupBy(col("tok")).agg(sum(col("w")).as("tw"))
      .filter(!col("tok").isin(query: _*))
    val expansion = tw.orderBy(col("tw").desc, col("tok")).limit(fbTerms)
      .select(col("tok"), lit(lambdaE6).as("w_e6"))
    val terms = query.map(q => (q, 1000000L)).toDF("tok", "w_e6")
      .unionByName(expansion)
    val tf2 = toks.join(terms, Seq("tok"))
      .groupBy(col("doc_id"), col("tok"), col("w_e6"))
      .agg(count(lit(1)).as("tf"))
    val df2 = tf2.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val contrib = tf2.join(broadcast(df2), Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        expr(s"""(CAST(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
          | * (tf * ${k1 + 1}) / (tf + $k1 * (${1.0 - b} + $b * dl / avgdl))
          | * 1000000.0) AS BIGINT) * w_e6) div 1000000""".stripMargin)
          .as("cw_e6"))
    val scored = contrib.groupBy("doc_id").agg(sum(col("cw_e6")).as("score_e6"))
    val top = scored.orderBy(col("score_e6").desc, col("doc_id")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_e6").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
  }

  /** HYBRID retrieval — the RAG serving recipe: a BM25 lexical pool
    * ([[bm25TopK]]) and a dense-cosine semantic pool over the
    * engine-produced embeddings ([[graft.pipeline.Similarity
    * .embedDocs]] — the query string rides through the SAME
    * hashed-TF × ±1-JL pipeline as the corpus, so there is no
    * out-of-band encoder), fused by Reciprocal Rank Fusion
    * (score = Σ 1/(rrfK + rank), rrfK = 60 — the published constant):
    * documents found by either modality rank by combined evidence,
    * and a document missing from one pool simply contributes nothing
    * for it. Output: (doc_id, rrf_e6, rank, bm25_rank, cos_rank) —
    * pool ranks kept for auditability (null = not in that pool).
    *
    * Determinism: each RRF term is an exact-input double division and
    * the fused score is micro-scaled before ranking, so order is
    * engine-portable like every score here. Scale shape: the BM25
    * side is q81's documented cost; the dense side is a zero-shuffle
    * embedding projection + a ONE-row broadcast (the query vector) +
    * a distributed top-`pool` (TakeOrdered — no global sort); the
    * fusion joins two pool-sized frames (≤ 2·pool rows — driver-free,
    * trivially broadcast). Passing a precomputed `vecs` frame
    * ((doc_id, v) — e.g. the corpus's cached embedding index) skips
    * re-deriving embeddings per query, the served-workload path. */
  def hybridTopK(df: DataFrame, idCol: String, textCol: String,
                 query: Seq[String], k: Int, pool: Int = 20, rrfK: Int = 60,
                 vecs: Option[DataFrame] = None): DataFrame = {
    require(query.nonEmpty && k >= 1 && pool >= k,
            s"hybridTopK needs query terms and pool >= k >= 1: k=$k pool=$pool")
    val spark = df.sparkSession
    import spark.implicits._
    val sparse = bm25TopK(df, idCol, textCol, query, pool)
      .select(col("doc_id"), col("rank").as("bm25_rank"))
    val qv = Similarity.embedDocs(
        Seq((0L, query.mkString(" "))).toDF("qid", "qtext"), "qid", "qtext")
      .select(col("v").as("qv"))
    val docVec = vecs.getOrElse(Similarity.embedDocs(df, idCol, textCol))
      .select(col("doc_id"), col("v"))
    val dense = docVec.crossJoin(broadcast(qv))
      .select(col("doc_id"),
        round(Similarity.dot(col("v"), col("qv")) /
              (sqrt(Similarity.dot(col("v"), col("v"))) *
               sqrt(Similarity.dot(col("qv"), col("qv")))), 6).as("cs"))
      .orderBy(col("cs").desc, col("doc_id")).limit(pool)
      .withColumn("cos_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cs").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("cos_rank"))
    val fused = sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round((coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("bm25_rank")), lit(0.0)) +
               coalesce(lit(1.0) / (lit(rrfK.toDouble) + col("cos_rank")), lit(0.0)))
              * 1e6).cast("long").as("rrf_e6"),
        col("bm25_rank"), col("cos_rank"))
    val w2 = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf_e6").desc, col("doc_id"))
    fused.orderBy(col("rrf_e6").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(w2).cast("long"))
      .select(col("doc_id"), col("rrf_e6"), col("rank"),
              col("bm25_rank"), col("cos_rank"))
  }

  /** DIVERSIFIED retrieval — collapse a ranked result list by
    * duplicate CLUSTER so a query never serves two renditions of the
    * same underlying document (the search-result dedup every
    * retrieval stack applies): per cluster the best-ranked member
    * survives, survivors re-rank densely by their original order.
    * `ranked` is any frame with (doc_id, rank) — [[bm25TopK]],
    * [[hybridTopK]]; `clusters` maps doc_id → cluster ([[TextDedup
    * .dedupCorpus]]'s ledger). Docs absent from the cluster frame
    * count as their own singleton cluster (left join + coalesce), so
    * a partial ledger can only under-collapse, never drop a result.
    * Result-page-sized windows — driver-free, trivially cheap. */
  def diversifyByCluster(ranked: DataFrame, clusters: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("rank"))
    val w2 = org.apache.spark.sql.expressions.Window.orderBy(col("rank"))
    ranked
      .join(clusters.select(col("doc_id"), col("cluster")), Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      .withColumn("crn", row_number().over(w)).filter(col("crn") === 1)
      .withColumn("rank", row_number().over(w2).cast("long"))
      .drop("crn")
  }

  /** The FULL curation verdict — one call from raw documents to the
    * per-document decision a training-data build executes, in the
    * standard pipeline order:
    *  1. quality gate (q51's composite score + a token-count floor) —
    *     a cheap pure projection, so junk never reaches the expensive
    *     stages;
    *  2. duplicate resolution over the quality survivors
    *     ([[TextDedup.dedupCorpus]]: exact-md5 ∪ confirmed near-dup
    *     edges → connected components → keeper per cluster);
    *  3. deterministic train/val/test split for the kept documents
    *     ([[deterministicSplit]] — content-hash, growth-stable).
    * EVERY input document comes back with its verdict: quality stats,
    * cluster/keeper (null if quality-dropped — dedup never saw it),
    * split (null unless kept), `keep` ∈ {0,1} and a `drop_reason`
    * ('quality' | 'duplicate' | null). Auditable curation: the drop
    * ledger is the same frame as the keep list. q82 hash-checks the
    * whole composition. */
  def curateCorpus(docs: DataFrame, idCol: String, textCol: String,
                   minTokens: Int = 10, minQuality: Double = 0.0,
                   maxDocFrac: Double = 0.1, minJaccard: Double = 0.5): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
    val gated = qualityScore(base, "doc_id", "__t")
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .withColumn("q_ok",
        col("n_tokens") >= minTokens && col("quality_score") >= minQuality)
    val passDocs = base.join(gated.filter(col("q_ok")).select("doc_id"), Seq("doc_id"))
    val dd = TextDedup.dedupCorpus(passDocs, "doc_id", "__t",
                                   maxDocFrac = maxDocFrac, minJaccard = minJaccard)
      .select(col("doc_id"), col("cluster"), col("is_keeper"))
    val sp = deterministicSplit(dd.filter(col("is_keeper") === 1).select("doc_id"),
                                "doc_id")
      .select(col("doc_id"), col("split"))
    gated.join(dd, Seq("doc_id"), "left")
      .join(sp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("quality_score"),
              col("cluster"), col("is_keeper"), col("split"),
              when(!col("q_ok"), lit("quality"))
                .when(col("is_keeper") === 0, lit("duplicate")).as("drop_reason"),
              (col("q_ok") && col("is_keeper") === 1).cast("long").as("keep"))
  }

  /** The FULL-STACK curation verdict — [[curateCorpus]] with the
    * SEMANTIC stage integrated, the four-stage pipeline a modern
    * training-data build actually runs:
    *  1. quality gate (cheap projection — junk never reaches the
    *     expensive stages);
    *  2. exact + near-duplicate resolution over the survivors
    *     ([[TextDedup.dedupCorpus]]);
    *  3. SEMANTIC dedup over the near-dup KEEPERS ([[Similarity
    *     .embedDocs]] → frame-backed multi-probe SemDeDup): paraphrase
    *     renditions that share too few shingles for MinHash but land
    *     together in embedding space — the stage ordering matters,
    *     since near-dup keepers are the only docs worth embedding;
    *  4. deterministic split for the final keepers.
    * EVERY document returns with its verdict: quality stats, near-dup
    * cluster/keeper, semantic cluster/keeper (null if it never reached
    * that stage), split (null unless kept), `keep` ∈ {0,1} and
    * `drop_reason` ∈ ('quality' | 'duplicate' | 'semantic_dup' |
    * null). With `minTokens` ≥ 1 every near-dup keeper has tokens and
    * therefore an embedding; the keep rule still tolerates a missing
    * semantic row (vacuously kept) so a minTokens = 0 caller cannot
    * silently lose token-less docs.
    *
    * Scale shape: each stage's documented cost over a monotonically
    * SHRINKING frame; the only driver state is the `semCents`-row
    * centroid seed (hyperparameter-sized, the q142 convention). */
  def curateCorpusSemantic(docs: DataFrame, idCol: String, textCol: String,
                           minTokens: Int = 10, minQuality: Double = 0.0,
                           maxDocFrac: Double = 0.1, minJaccard: Double = 0.5,
                           semTau: Double = 0.98, semCents: Int = 16,
                           nprobe: Int = 2): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
    val gated = qualityScore(base, "doc_id", "__t")
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .withColumn("q_ok",
        col("n_tokens") >= minTokens && col("quality_score") >= minQuality)
    val passDocs = base.join(gated.filter(col("q_ok")).select("doc_id"), Seq("doc_id"))
    val dd = TextDedup.dedupCorpus(passDocs, "doc_id", "__t",
                                   maxDocFrac = maxDocFrac, minJaccard = minJaccard)
      .select(col("doc_id"), col("cluster"), col("is_keeper"))
    val kdocs = base.join(dd.filter(col("is_keeper") === 1).select("doc_id"),
                          Seq("doc_id"))
    val e = graft.queries.cacheOnce(
      Similarity.embedDocs(kdocs, "doc_id", "__t")
        .select(col("doc_id").as("vec_id"), col("v")))
    val cents = e.orderBy("vec_id").limit(semCents).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toSeq)).toSeq
    require(cents.nonEmpty, "curateCorpusSemantic: no quality-passing keepers to embed")
    val sem = Similarity.semanticDedupFrames(
        e, Similarity.framesFlat(docs.sparkSession, cents), semTau, nprobe = nprobe)
      .select(col("vec_id").as("doc_id"), col("cluster").as("sem_cluster"),
              col("is_keeper").as("sem_keeper"))
    val sp = deterministicSplit(sem.filter(col("sem_keeper") === 1).select("doc_id"),
                                "doc_id")
      .select(col("doc_id"), col("split"))
    gated.join(dd, Seq("doc_id"), "left").join(sem, Seq("doc_id"), "left")
      .join(sp, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("quality_score"),
              col("cluster"), col("is_keeper"),
              col("sem_cluster"), col("sem_keeper"), col("split"),
              when(!col("q_ok"), lit("quality"))
                .when(col("is_keeper") === 0, lit("duplicate"))
                .when(col("sem_keeper") === 0, lit("semantic_dup")).as("drop_reason"),
              (col("q_ok") && col("is_keeper") === 1 &&
               coalesce(col("sem_keeper"), lit(1L)) === 1).cast("long").as("keep"))
  }

  /** Deterministic train/validation/test split — the dataset-sharding
    * op every training pipeline needs. The split key is content-derived
    * (first 8 hex chars of md5(salt || key) read as an integer, mod the
    * weight total), NOT `rand()`: the assignment is reproducible across
    * runs, engines (md5 is portable — a DuckDB/pandas pipeline shards
    * identically), partitionings, and corpus growth (a document keeps
    * its split when new data arrives — no leakage of yesterday's train
    * docs into tomorrow's test set). Salting decorrelates the split
    * from every other md5-keyed decision (q54's exact-dedup hash).
    * Pure projection: zero shuffle, streaming-safe. `buckets` are
    * (name, weight) pairs; a row lands in the first bucket whose
    * cumulative weight exceeds its hash point. */
  def deterministicSplit(df: DataFrame, keyCol: String,
                         buckets: Seq[(String, Int)] = Seq(("train", 90), ("val", 5), ("test", 5)),
                         salt: String = "split"): DataFrame = {
    require(buckets.nonEmpty && buckets.forall(_._2 > 0), "weights must be positive")
    val total = buckets.map(_._2).sum
    val point = pmod(conv(substring(md5(concat(lit(salt), col(keyCol))), 1, 8), 16, 10)
                       .cast("long"), lit(total.toLong))
    val cum = buckets.scanLeft(0)(_ + _._2).tail
    val assigned = buckets.zip(cum).foldRight(lit(buckets.last._1): Column) {
      case (((name, _), bound), acc) => when(point < bound, lit(name)).otherwise(acc)
    }
    df.withColumn("split_point", point).withColumn("split", assigned)
  }

  /** Leakage-safe split: assign the train/val/test bucket by duplicate
    * CLUSTER, not by document — every member of a near-dup component
    * lands in the SAME split, so a paraphrase of a training document
    * can never sit in the test set ([[deterministicSplit]] keyed on
    * doc_id gives each near-duplicate an independent coin flip, which
    * at web-corpus dup rates leaks a few percent of test into train).
    * Composition: [[TextDedup.dedupCorpus]]'s components (exact-md5 ∪
    * confirmed near-dup edges, transitively closed) → the SAME
    * content-hash split arithmetic keyed on the cluster id. Keeping
    * duplicates is the point — use this when renditions stay in the
    * corpus (dedup-then-split already covers the drop case via
    * [[curateCorpus]]).
    *
    * Scale shape: dedupCorpus's documented posture (keyed band joins +
    * label propagation) plus one pure projection — the split itself
    * adds no shuffle. Output: (doc_id, cluster, split). */
  def leakageSafeSplit(docs: DataFrame, idCol: String, textCol: String,
                       buckets: Seq[(String, Int)] = Seq(("train", 90), ("val", 5), ("test", 5)),
                       salt: String = "split", maxDocFrac: Double = 0.1,
                       minJaccard: Double = 0.5): DataFrame = {
    val dd = TextDedup.dedupCorpus(docs, idCol, textCol,
                                   maxDocFrac = maxDocFrac, minJaccard = minJaccard)
      .select(col("doc_id"), col("cluster"))
    deterministicSplit(dd, "cluster", buckets, salt)
      .select(col("doc_id"), col("cluster"), col("split"))
  }

  /** PII patterns for [[redactPii]]: (name, regex, placeholder). The
    * default set covers the redaction every public-corpus release runs
    * (emails, IPv4 addresses, international-format phone numbers).
    * Patterns are deliberately RE2-safe — no backreferences or
    * lookaround — so the SAME pattern string runs identically under
    * Java regex (Spark), RE2 (DuckDB/Go tooling), and PCRE: a corpus
    * redacted here hash-matches one redacted by a downstream audit
    * tool. Extend per deployment (SSNs, IBANs, keys) by passing a
    * larger list. */
  val defaultPiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\+\\d{7,15}", "<PHONE>"))

  /** PII REDACTION — the scrub step between a crawled corpus and a
    * training run. Applies `patterns` SEQUENTIALLY: each pattern's
    * match count is taken on the text as the PREVIOUS redactions left
    * it, then its matches are replaced by the placeholder — so counts
    * and the final text tell one consistent story (an IPv4-looking
    * string inside an already-redacted email host is never counted
    * twice). Pure codegen'd projection (regexp_count/regexp_replace):
    * zero shuffle, streaming-safe, linear scan at any corpus size.
    * Output: (id, n_<name> per pattern, n_pii total, redacted). */
  def redactPii(df: DataFrame, idCol: String, textCol: String,
                patterns: Seq[(String, String, String)] = defaultPiiPatterns): DataFrame = {
    require(patterns.nonEmpty, "need at least one PII pattern")
    val (counts, redacted) =
      patterns.foldLeft((Vector.empty[(String, Column)], col(textCol))) {
        case ((cs, text), (name, pat, repl)) =>
          (cs :+ (name -> regexp_count(text, lit(pat)).cast("long")),
           regexp_replace(text, pat, repl))
      }
    df.select((col(idCol) +:
      counts.map { case (name, c) => c.as(s"n_$name") }) ++ Seq(
      counts.map(_._2).reduce(_ + _).as("n_pii"),
      redacted.as("redacted")): _*)
  }

  /** The portable deterministic hash point shared by the sampling /
    * split family: first 8 hex chars of md5(salt || key) read as an
    * integer, mod `mod`. Content-derived (reproducible across runs,
    * engines, partitionings, corpus growth), salt-decorrelated from
    * every other md5-keyed decision. */
  private def hashPoint(key: Column, salt: String, mod: Long): Column =
    pmod(conv(substring(md5(concat(lit(salt), key)), 1, 8), 16, 10)
           .cast("long"), lit(mod))

  /** DOMAIN-MIXTURE RESAMPLING — the "data mixing" step of a training
    * run: given a target corpus size, sample each group (source
    * domain, language, …) at a rate proportional to n_g^alpha
    * (temperature sampling — alpha = 1 keeps the natural mixture,
    * alpha = 0 equalizes groups, the usual 0.3-0.7 range upweights
    * small domains without drowning large ones; the multilingual-LM
    * papers' standard recipe). Deterministic end to end: the
    * per-group rate is exact-integer arithmetic (weights in millionths
    * from ONE sqrt each — no order-dependent float sums), and the
    * keep decision is the md5 hash-point, so the sample is
    * reproducible and growth-stable like every split here.
    *
    * Scale shape: one tiny groupBy(count) → broadcast of the
    * group-rate table back onto the corpus scan → pure projection
    * filter. No data-sized shuffle.
    *
    * Output: every input id with (group, n_group, target_n, rate_e6,
    * sampled) — the decision ledger, filterable to the sample. */
  def temperatureResample(df: DataFrame, idCol: String, groupCol: String,
                          targetTotal: Long, alpha: Double = 0.5,
                          salt: String = "mix"): DataFrame =
    mixtureGate(df, mixtureRates(df, groupCol, targetTotal, alpha),
                idCol, groupCol, salt)

  /** The per-group rate table [[temperatureResample]] decides with —
    * exposed so a STREAMING ingest path can apply the same mixture
    * policy per-row against a static snapshot of these rates
    * ([[graft.streaming.StreamOps.streamingMixtureGate]]). Group-count
    * sized (bounded: domains/languages, not documents). */
  def mixtureRates(df: DataFrame, groupCol: String, targetTotal: Long,
                   alpha: Double = 0.5): DataFrame = {
    require(targetTotal > 0, "targetTotal must be positive")
    // alpha = 0.5 (the default) goes through sqrt, not pow: IEEE sqrt is
    // exactly rounded in every engine while pow(x, 0.5) is only
    // 1-ulp-accurate, so sqrt keeps the millionths weights bit-identical
    // under any oracle (the q103 SQL mirrors with sqrt)
    val wExpr =
      if (alpha == 0.5) sqrt(col("n_group").cast("double"))
      else pow(col("n_group").cast("double"), lit(alpha))
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_group"))
      .withColumn("w_e6", round(wExpr * 1e6).cast("long"))
    val sumW = counts.agg(sum(col("w_e6")).as("sum_w"))
    counts.crossJoin(broadcast(sumW))
      .withColumn("target_n",
        round(lit(targetTotal) * col("w_e6") * 1.0 / col("sum_w")).cast("long"))
      .withColumn("rate_e6",
        least(lit(1000000L),
              round(col("target_n") * 1e6 / col("n_group")).cast("long")))
      .select(col(groupCol), col("n_group"), col("target_n"), col("rate_e6"))
  }

  /** The keep/drop decision side of [[temperatureResample]]: pure
    * per-row projection + one broadcast join against the rate table, so
    * it applies unchanged to a batch frame or a streaming ingest (no
    * state, no shuffle on the row side). */
  def mixtureGate(rows: DataFrame, rates: DataFrame, idCol: String,
                  groupCol: String, salt: String = "mix"): DataFrame =
    rows.select(col(idCol), col(groupCol))
      .join(broadcast(rates), Seq(groupCol))
      .withColumn("sampled",
        (hashPoint(col(idCol), salt, 1000000L) < col("rate_e6")).cast("long"))
      .select(col(idCol), col(groupCol), col("n_group"), col("target_n"),
              col("rate_e6"), col("sampled"))

  /** CORPUS VOCABULARY — the token-frequency table a tokenizer-training
    * or vocabulary-pruning pass starts from: the top-K whitespace
    * tokens by total occurrence count, with document frequency
    * alongside (the occ/df pair separates burst tokens — high count,
    * few docs — from genuinely common ones). Deterministic rank with
    * (count DESC, token ASC) tie-break so the table is reproducible.
    *
    * Scale shape: one explode (map-side) + one groupBy(token) with
    * partial aggregation — the token key is high-cardinality, so the
    * shuffle is well-spread — then TakeOrdered top-K; the rank window
    * runs over K rows post-limit, never the corpus. */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
                 topK: Int = 100): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val toks = df.select(col(idCol).as("id"),
                         explode(split(trim(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occ").desc, col("tok"))
    toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("tok")).limit(topK)
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** LENGTH-BUCKETED SEQUENCE PACKING — the batch-shaping step between
    * a curated corpus and a training run: concatenating documents into
    * fixed-length context windows wastes no padding, and packing
    * same-length-bucket documents together keeps the assignment a pure
    * window computation instead of a sequential first-fit scan (the
    * bucketed variant of the packing every LM data loader performs).
    * Each document is assigned the power-of-two bucket covering its
    * token count (clipped to [minBucket, maxBucket] — longer docs are
    * truncated to maxBucket tokens by the downstream loader, the
    * standard contract); a bucket-`b` pack holds floor(contextLen/b)
    * documents.
    *
    * Scale: row_number over (bucket) alone would route a billion-doc
    * corpus through ~6 reducers, so packs are built per (bucket,
    * shard) with an md5-derived shard key — `nShards` × bucket-count
    * independent window partitions, each pack still 100% within one
    * bucket. The shard key is content-derived, so the packing is
    * deterministic and engine-portable like every assignment here.
    *
    * Output: (id, n_tokens, bucket, pack_id, slot) — pack_id encodes
    * (bucket, shard, seq) so it is globally unique without
    * coordination. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    contextLen: Int = 2048, minBucket: Int = 16,
                    maxBucket: Int = 512, nShards: Int = 32,
                    salt: String = "pack"): DataFrame =
    packAssign(df.select(col(idCol), tokenCount(col(textCol)).cast("long")
                 .as("n_tokens")),
               idCol, contextLen, minBucket, maxBucket, nShards, salt)

  /** The pack-assignment core, keyed on a PRE-COMPUTED (id, n_tokens)
    * frame — the unit that makes the packing reusable across token
    * definitions: [[packSequences]] feeds whitespace counts,
    * [[Bpe.materializePacksBpe]] feeds SUBWORD counts, and any future
    * tokenizer feeds its own. Assignment arithmetic (power-of-two
    * buckets, md5 shard key, per-(bucket, shard) windows, encoded
    * pack_id) is byte-identical to what packSequences always did. */
  private[pipeline] def packAssign(counts: DataFrame, idCol: String,
                                   contextLen: Int, minBucket: Int,
                                   maxBucket: Int, nShards: Int,
                                   salt: String): DataFrame = {
    require(contextLen >= maxBucket && maxBucket >= minBucket && minBucket >= 1,
            "need contextLen >= maxBucket >= minBucket >= 1")
    require(Integer.bitCount(minBucket) == 1 && Integer.bitCount(maxBucket) == 1,
            "buckets are powers of two")
    val buckets = Iterator.iterate(minBucket)(_ * 2)
      .takeWhile(_ <= maxBucket).toSeq
    val bucket = buckets.init.foldRight(lit(buckets.last.toLong): Column) {
      (b, acc) => when(col("n_tokens") <= b, lit(b.toLong)).otherwise(acc)
    }
    val shard = hashPoint(col(idCol), salt, nShards.toLong)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket"), col("shard")).orderBy(col(idCol))
    val rn = row_number().over(w).cast("long")
    val perPack = floor(lit(contextLen.toLong) / col("bucket")).cast("long")
    counts.select(col(idCol), col("n_tokens"))
      .withColumn("bucket", bucket)
      .withColumn("shard", shard)
      .withColumn("rn", rn)
      .withColumn("pack_id",
        col("bucket") * 1000000000L + col("shard") * 1000000L +
          floor((col("rn") - 1) / perPack).cast("long"))
      .withColumn("slot", pmod(col("rn") - 1, perPack))
      .select(col(idCol), col("n_tokens"), col("bucket"), col("pack_id"), col("slot"))
  }

  /** QUALITY-RULE LEDGER — the published corpus-filter rulebooks
    * (Gopher §A1.1, C4) as individually-auditable PER-RULE verdicts
    * rather than one composite score ([[qualityScore]] stays the
    * scalar rung; production curation wants to know WHICH rule fired —
    * the rulebooks are tuned by inspecting per-rule kill rates). Four
    * rule axes, each a 0/1 column plus the evidence it judged:
    *   - word count inside [minWords, maxWords] (Gopher's 50..100k,
    *     scaled to the corpus at hand);
    *   - mean word length inside [minAvgLen, maxAvgLen] (Gopher's
    *     3..10 — kills code/garbage tokenizations);
    *   - ≥ minStopHits stopword OCCURRENCES (Gopher requires ≥ 2 of a
    *     small English stop set — kills keyword-stuffing and non-text);
    *   - the single most frequent token's share of all token
    *     occurrences ≤ maxTopFrac (the repetition axis's cheapest
    *     form — kills degenerate loops [[repetitionStats]] measures in
    *     full).
    * `q_keep` is the conjunction. All evidence is integer counts with
    * round-6 ratios, and each rule compares the ROUNDED value (the
    * family's float discipline), so the ledger hash-matches its SQL
    * replay. One explode + two keyed aggregations — the
    * [[repetitionStats]] scale shape; documents with no tokens emit
    * nothing (no evidence row — same contract as the shingle table). */
  def qualityRules(df: DataFrame, idCol: String, textCol: String,
                   minWords: Int = 25, maxWords: Int = 90,
                   minAvgLen: Double = 3.9, maxAvgLen: Double = 5.1,
                   minStopHits: Int = 2, maxTopFrac: Double = 0.25,
                   stopwords: Seq[String] = stopwordsEn): DataFrame = {
    require(minWords <= maxWords && minAvgLen <= maxAvgLen,
            "rule bounds must be ordered")
    val toks = df.select(col(idCol), explode(split(trim(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val per = toks.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        sum(col("c")).as("n_tokens"),
        sum(length(col("tok")) * col("c")).as("n_tok_chars"),
        max(col("c")).as("top_tok"),
        sum(when(col("tok").isin(stopwords: _*), col("c")).otherwise(0L))
          .as("stop_hits"))
    val avgLen = round(col("n_tok_chars") * 1.0 / col("n_tokens"), 6)
    val topFrac = round(col("top_tok") * 1.0 / col("n_tokens"), 6)
    per.select(
        col(idCol), col("n_tokens"), avgLen.as("avg_token_len"),
        col("stop_hits"), topFrac.as("top_tok_frac"),
        (col("n_tokens") >= minWords && col("n_tokens") <= maxWords)
          .cast("long").as("r_words"),
        (avgLen >= minAvgLen && avgLen <= maxAvgLen).cast("long").as("r_avg_len"),
        (col("stop_hits") >= minStopHits).cast("long").as("r_stop"),
        (topFrac <= maxTopFrac).cast("long").as("r_top_frac"))
      .withColumn("q_keep",
        (col("r_words") * col("r_avg_len") * col("r_stop") * col("r_top_frac"))
          .cast("long"))
  }

  /** TF-IDF RETRIEVAL — the vector-space complement of [[bm25TopK]]
    * (BM25 is the probabilistic ranking; cosine-over-tf·idf is the
    * classical one, and the pair is the standard lexical-retrieval
    * baseline set). Smooth idf = ln((N+1)/(df+1)) + 1 (never
    * negative, defined at df = 0), document vectors L2-normalized over
    * ALL their terms — so verbose documents don't win on length, the
    * property BM25 gets from its dl/avgdl term.
    *
    * Float discipline (the reason this is hash-checkable): idf is
    * rounded ONCE to integer millis; per-term weights (tf · idf_e3),
    * squared norms, and query·doc dot products are then EXACT INTEGER
    * arithmetic in any engine — order-independent sums — and the only
    * float operation is the final cosine division, rounded to 6.
    *
    * Scale shape, same as BM25: the full-vocabulary weight/norm pass
    * is one explode + keyed aggregations over (doc, term); the query
    * side is a term-list broadcast; scoring touches only documents
    * containing a query term (the inverted-index sparsity), and top-k
    * is TakeOrdered over per-doc scores, never a global sort. */
  /** CLUSTER KEYWORD LABELING — class-based TF-IDF (the BERTopic
    * recipe): for each cluster of `assign` ((doc_id, cell) — e.g.
    * [[graft.pipeline.Similarity.kmeansAssign]]'s ledger), the `topM`
    * terms ranked by ctf · ln(n_clusters / cluster_df), where ctf is
    * the term's occurrence count inside the cluster and cluster_df the
    * number of clusters containing it — terms present in every cluster
    * score exactly 0 (ln 1), so labels are the terms that SEPARATE a
    * cluster, which is what makes an unsupervised clustering auditable.
    * Score is micro-scaled from integer inputs (both engines feed ln
    * the identical rational), ties → term ASC.
    *
    * Scale shape: one token explode + keyed join onto the assignment,
    * one (cell, tok) groupBy (map-side partials), a cluster-df frame
    * joined UNHINTED (vocabulary-sized — never broadcast, the
    * lmSurprisal lesson), a 1-row cluster-count broadcast, and one
    * window per cell partition. Nothing corpus-sized leaves the
    * executors. */
  def clusterKeywords(df: DataFrame, idCol: String, textCol: String,
                      assign: DataFrame, topM: Int = 5): DataFrame = {
    require(topM >= 1, s"topM must be >= 1, got $topM")
    val toks = df.select(col(idCol).as("doc_id"),
                         explode(split(trim(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val ct = toks.join(assign.select(col("doc_id"), col("cell")), Seq("doc_id"))
      .groupBy(col("cell"), col("tok")).agg(count(lit(1)).as("ctf"))
    val ncl = assign.agg(countDistinct(col("cell")).as("ncl"))
    val dfc = ct.groupBy(col("tok")).agg(count(lit(1)).as("dfc"))
    val scored = ct.join(dfc, Seq("tok")).crossJoin(broadcast(ncl))
      .select(col("cell"), col("tok"),
        round(col("ctf") * log(col("ncl") * lit(1.0) / col("dfc")) * lit(1e6))
          .cast("long").as("score_e6"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))
      .orderBy(col("score_e6").desc, col("tok"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topM)
  }

  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
                query: Seq[String], k: Int): DataFrame = {
    require(query.nonEmpty && k >= 1, "tfidfTopK needs query terms and k >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val toks = df.select(col(idCol).as("doc_id"),
                         explode(split(trim(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val tf = graft.queries.cacheOnce(
      toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val stats = tf.select("doc_id").distinct().agg(count(lit(1)).as("n_docs"))
    val idfE3 =
      round((log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0) * 1e3)
        .cast("long").as("idf_e3")
    // weights and norms are QUERY-INDEPENDENT corpus artifacts (every
    // term's idf weight / every doc's vector norm) — memoized like the
    // bm25 doc-length index so repeated queries over one corpus pay
    // the full-vocabulary pass once, not per query. The dfreq join is
    // deliberately UNHINTED: dfreq is one row per distinct corpus term
    // (unbounded in corpus size), so a forced broadcast OOMs at web
    // scale; the shuffled keyed join on `tok` is the correct plan, and
    // AQE still broadcasts small vocabularies on its own.
    val weights = graft.queries.cacheOnce(
      tf.join(dfreq, Seq("tok"))
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), col("tok"), (col("tf") * idfE3).as("w")))
    val norms = graft.queries.cacheOnce(
      weights.groupBy("doc_id").agg(sum(col("w") * col("w")).as("norm2_d")))
    // query terms with tf = 1 each; absent terms still weigh in the
    // query norm (df = 0 → the smooth idf's ceiling), matching the
    // vector-space definition. Only the QUERY-term slice of dfreq is
    // broadcast (|query| rows) — the BM25 discipline — never the
    // full-vocabulary table.
    val dfreqQ = dfreq.filter(col("tok").isin(query.distinct: _*))
    val qterms = query.distinct.toDF("tok")
      .join(broadcast(dfreqQ), Seq("tok"), "left")
      .na.fill(0L, Seq("df"))
      .crossJoin(broadcast(stats))
      .select(col("tok"), idfE3.as("wq"))
    val qnorm = qterms.agg(sum(col("wq") * col("wq")).as("norm2_q"))
    val dots = weights.join(broadcast(qterms), Seq("tok"))
      .groupBy("doc_id").agg(sum(col("w") * col("wq")).as("dot"))
    val scored = dots.join(norms, Seq("doc_id")).crossJoin(broadcast(qnorm))
      .select(col("doc_id"),
              round(col("dot") / (sqrt(col("norm2_d")) * sqrt(col("norm2_q"))), 6)
                .as("score"))
    val top = scored.orderBy(col("score").desc, col("doc_id")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
  }

  /** DETERMINISTIC SHUFFLE-AND-SHARD — the training-data EXPORT
    * ordering: a reproducible global permutation of the corpus plus
    * its physical shard layout. Training runs need the corpus in a
    * fixed pseudorandom order (data order is part of the training
    * recipe — resuming, ablating, or re-exporting must reproduce the
    * exact sequence), and writers need a balanced shard assignment.
    * Both come from the one content-independent md5 hash-point
    * family: `shard` = hash(salt|id) mod nShards (balanced in
    * expectation, growth-stable — an appended document never moves an
    * existing one), `sort_key` = md5(salt|id) (the permutation),
    * `pos` = rank within the shard, and `global_pos` interleaves
    * shards round-robin so the concatenation-by-global_pos IS the
    * shard-striped read order a multi-worker loader sees.
    *
    * Scale shape: a pure projection plus ONE window ranked per shard —
    * the window partitions by shard (nShards concurrent sorts of n/s
    * rows each), never a single global sort; at the writer this maps
    * to `repartition(shard)` + `sortWithinPartitions(sort_key)`, the
    * canonical Spark export plan. */
  def shuffleShards(df: DataFrame, idCol: String, nShards: Int = 8,
                    salt: String = "shuffle"): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    val key = md5(concat(lit(salt + "|"), col(idCol).cast("string")))
    val shard = pmod(conv(substring(key, 1, 8), 16, 10).cast("long"),
                     lit(nShards.toLong))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("sort_key"), col(idCol))
    df.select(col(idCol), key.as("sort_key"), shard.as("shard"))
      .withColumn("pos", row_number().over(w).cast("long") - 1)
      .withColumn("global_pos", col("pos") * nShards + col("shard"))
  }

  /** TOKEN-ID ENCODING — the APPLY step of the tokenizer story
    * ([[vocabulary]] is the train step): map each document to its
    * array of integer token ids in document order, the exact frame a
    * training-data export writes. Ids are the vocabulary RANK (1 =
    * most frequent — the frequency-sorted id convention tokenizers
    * use); tokens outside the top-K vocabulary encode as `oovId`
    * (default 0, the reserved UNK slot). Output: (id, ids:
    * array<long>, n_tokens, n_oov) — the OOV count is the coverage
    * diagnostic vocabulary sizing is tuned by.
    *
    * Determinism: document order is pinned by position (posexplode →
    * array_sort on the position key — collect_list alone is
    * partition-order-dependent, which would break the hash oracle);
    * the vocabulary side is the already-deterministic rank frame.
    *
    * Scale shape: one posexplode + one BROADCAST join against the
    * vocabulary (vocab is top-K-bounded, never corpus-sized) + one
    * per-document aggregation. The id arrays never shuffle except
    * grouped by their own document. */
  def encodeTokens(df: DataFrame, idCol: String, textCol: String,
                   vocab: DataFrame, oovId: Long = 0L): DataFrame = {
    val toks = df.select(col(idCol),
        posexplode(split(trim(col(textCol)), " ")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
    toks.join(broadcast(vocab.select(col("tok"), col("rank"))), Seq("tok"), "left")
      .select(col(idCol), col("pos"), coalesce(col("rank"), lit(oovId)).as("tid"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
           sum((col("tid") === oovId).cast("long")).as("n_oov"),
           expr("transform(array_sort(collect_list(struct(pos, tid))), s -> s.tid)")
             .as("ids"))
      .select(col(idCol), col("ids"), col("n_tokens"), col("n_oov"))
  }

  /** CORPUS REPORT — the dataset-card numbers as ONE single-row frame:
    * corpus size (documents, token occurrences, vocabulary), the
    * exact-duplicate footprint (documents sharing a content hash),
    * and the filter kill counts ([[qualityRules]] rejects — including
    * token-less documents, which emit no evidence row but count as
    * drops via a doc-universe left join — and [[lmSurprisal]] flags,
    * which by the same row contract cover evidence-bearing docs only).
    * This is the porcelain summary a curation
    * run publishes next to its output — every number is an integer
    * count (no float aggregation anywhere), so the report hash-matches
    * its SQL replay, and each column is the headline of the family
    * that computes it in full.
    *
    * Scale shape: each statistic is one aggregation pass of its
    * already-documented cost; the single-row frames combine by
    * broadcast cross join (seven scalar rows — no data-sized join). */
  def corpusReport(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
                         explode(split(trim(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val base = df.agg(count(lit(1)).as("n_docs"))
    val tok = toks.agg(count(lit(1)).as("n_tokens"),
                       countDistinct(col("tok")).as("vocab_size"))
    val dup = df.select(md5(col(textCol)).as("h"))
      .groupBy("h").agg(count(lit(1)).as("nh"))
      .agg(coalesce(sum(when(col("nh") > 1, col("nh")).otherwise(0L)), lit(0L))
             .as("n_exact_dup_docs"))
    // the doc UNIVERSE is left-joined onto qualityRules' emitters:
    // token-less documents (which emit no evidence row but definitionally
    // fail the word-count floor) count as drops too — without the join
    // the kill count is inconsistent with n_docs
    val qual = df.select(col(idCol).as("id"))
      .join(qualityRules(df, idCol, textCol)
              .select(col(idCol).as("id"), col("q_keep")),
            Seq("id"), "left")
      .agg(coalesce(sum(when(coalesce(col("q_keep"), lit(0L)) === 0, 1L)
                          .otherwise(0L)), lit(0L))
             .as("n_quality_drop"))
    val ppl = lmSurprisal(df, idCol, textCol)
      .agg(coalesce(sum(col("ppl_flagged")), lit(0L)).as("n_ppl_flagged"))
    base.crossJoin(broadcast(tok)).crossJoin(broadcast(dup))
      .crossJoin(broadcast(qual)).crossJoin(broadcast(ppl))
  }

  /** PACK MATERIALIZATION — the last link of the export chain
    * ([[vocabulary]] trains, [[encodeTokens]] applies,
    * [[packSequences]] assigns, THIS flattens): the actual training
    * rows, one per real token, keyed (pack_id, pos, tid) with
    * pos = slot · bucket + position-in-document — each document
    * occupies the half-open token range [slot·b, slot·b + min(n_tokens,
    * b)) of its pack and the remainder of each slot is implicit padding
    * (emitting pad rows would multiply the frame by the padding ratio
    * for information the consumer reconstructs from the contract).
    * Documents longer than their clipped bucket (n_tokens > maxBucket)
    * are TRUNCATED to the bucket length here — [[packSequences]]'
    * "downstream loader truncates" contract is discharged by THIS
    * operator, the loader-facing flatten: without the slice, a long
    * doc would write positions past its slot range, colliding with the
    * next slot's rows. Grouping the result by pack_id and sorting by
    * pos IS the batch tensor a loader assembles.
    *
    * Scale shape: the [[encodeTokens]] and [[packSequences]] passes
    * as documented, one id-keyed join between them, then a pure
    * projection explode — no new shuffle class. */
  def materializePacks(df: DataFrame, idCol: String, textCol: String,
                       vocab: DataFrame, contextLen: Int = 2048,
                       minBucket: Int = 16, maxBucket: Int = 512,
                       nShards: Int = 32, salt: String = "pack",
                       oovId: Long = 0L): DataFrame = {
    val enc = encodeTokens(df, idCol, textCol, vocab, oovId)
      .select(col(idCol), col("ids"))
    val packs = packSequences(df, idCol, textCol, contextLen,
                              minBucket, maxBucket, nShards, salt)
      .select(col(idCol), col("bucket"), col("pack_id"), col("slot"))
    enc.join(packs, Seq(idCol))
      .select(col(idCol).as("doc_id"), col("pack_id"),
              (col("slot") * col("bucket")).as("base"),
              posexplode(slice(col("ids"), lit(1), col("bucket").cast("int")))
                .as(Seq("tok_pos", "tid")))
      .select(col("pack_id"), (col("base") + col("tok_pos")).as("pos"),
              col("tid"), col("doc_id"))
  }

  /** SHARDED EXPORT SINK — the writer-side realization of
    * [[shuffleShards]]' plan ("repartition by shard, sort within
    * partitions by the permutation key"): writes the full document
    * payload to `outDir/shard=N/` with rows physically ordered by the
    * md5 sort key, so a training loader streaming each shard file
    * start-to-end reads exactly the reproducible global order —
    * no loader-side sort, no order metadata. One hash-partitioned
    * exchange (each shard lands as one writer task) + per-partition
    * sort; no global sort, no driver materialization. Returns the
    * keyed frame it wrote (ledger reuse: the caller can publish it
    * next to the data). */
  def writeShards(df: DataFrame, idCol: String, outDir: String,
                  nShards: Int = 8, salt: String = "shuffle"): DataFrame = {
    val keyed = df.join(shuffleShards(df.select(col(idCol)), idCol, nShards, salt),
                        Seq(idCol))
    keyed
      .repartition(nShards, col("shard"))
      // leading `shard` satisfies the V1 writer's required ordering by
      // the dynamic-partition column, so Spark inserts NO extra sort of
      // its own — the within-shard sort_key order is guaranteed by THIS
      // sort, not by an implementation detail of the writer's
      .sortWithinPartitions(col("shard"), col("sort_key"), col(idCol))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    keyed
  }

  /** DSIR IMPORTANCE WEIGHTS — distribution-matching data selection
    * (the published hashed-n-gram importance-resampling recipe): score
    * every document by how much more likely its features are under a
    * TARGET distribution than under the raw corpus, log w(d) =
    * Σ_features n_f(d)·(ln p_target(f) − ln p_raw(f)), with features =
    * word bigrams hashed into `nBuckets` buckets (the hashing IS the
    * method — it makes the two n-gram LMs fixed-size regardless of
    * vocabulary) and add-one smoothing over buckets on both sides.
    * Selecting raw documents with high w reshapes the corpus toward
    * the target domain — the standard pretraining-mixture targeting
    * step; `targetPred` marks the in-domain exemplar documents (must
    * match at least one document, else the target LM is undefined).
    *
    * Float discipline: each bucket's two log-probs are rounded ONCE to
    * integer milli-nats; the per-bucket difference and per-document
    * sums are exact integer arithmetic, so the ledger hash-matches its
    * SQL replay. `dsir_selected` = (log w > 0): more target-like than
    * raw-like — the natural threshold; callers resample at their own
    * quantile from the ledger.
    *
    * Scale shape: one gram explode feeding (a) two bucket-keyed counts
    * bounded by `nBuckets` — the two LMs never exceed sketch size —
    * and (b) a broadcast-scored re-scan (the score table is nBuckets
    * rows); then one per-document aggregation. The gram frame is
    * cacheOnce'd: both count passes and the scoring pass read one
    * materialization. Docs with < 2 words emit nothing (no bigrams —
    * the shingle-table row contract). */
  /** The hashed-bigram feature frame both DSIR forms share: one row per
    * (doc, gram occurrence) with its bucket. Cached once per
    * (df, config); fails loudly when either LM side is empty. */
  private def dsirFeatureBuckets(df: DataFrame, idCol: String, textCol: String,
                                 targetPred: Column, nBuckets: Int,
                                 salt: String): DataFrame = {
    require(nBuckets >= 2, "nBuckets must be >= 2")
    val grams = df.select(col(idCol).as("doc_id"),
        targetPred.cast("long").as("is_target"),
        split(trim(col(textCol)), " ").as("l"))
      .filter(size(col("l")) >= 2)
      .select(col("doc_id"), col("is_target"),
        explode(transform(sequence(lit(1), size(col("l")) - 1),
          i => concat(element_at(col("l"), i), lit("_"),
                      element_at(col("l"), i + 1)))).as("g"))
    val fb = graft.queries.cacheOnce(
      grams.select(col("doc_id"), col("is_target"),
                   hashPoint(col("g"), salt, nBuckets.toLong).as("b")))
    // both LMs must be trainable: an empty target (or raw) side would
    // make sum(ct)/sum(cr) NULL and silently null the whole ledger —
    // fail loudly instead (one tiny limit-1 probe each against the
    // already-cached gram frame)
    require(fb.filter(col("is_target") === 1).limit(1).count() > 0,
      "dsirWeights: targetPred matches no document with >= 2 words — target LM undefined")
    require(fb.filter(col("is_target") === 0).limit(1).count() > 0,
      "dsirWeights: no non-target document with >= 2 words — raw LM undefined")
    fb
  }

  /** Per-bucket smoothed log-likelihood-ratio scores. `buckets` picks
    * the domain: the observed buckets (the [[dsirWeights]] join side)
    * or the FULL [0, nBuckets) range (the serving table — a stream doc
    * may hash a gram to a bucket no corpus gram hit, whose score is the
    * same formula at ct = cr = 0). */
  private def dsirScored(fb: DataFrame, buckets: DataFrame,
                         nBuckets: Int): DataFrame = {
    val tc = fb.filter(col("is_target") === 1)
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val rc = fb.filter(col("is_target") === 0)
      .groupBy("b").agg(count(lit(1)).as("cr"))
    val tt = tc.agg(sum(col("ct")).as("st"))
    val rt = rc.agg(sum(col("cr")).as("sr"))
    buckets
      .join(broadcast(tc), Seq("b"), "left")
      .join(broadcast(rc), Seq("b"), "left")
      .crossJoin(broadcast(tt)).crossJoin(broadcast(rt))
      .select(col("b"),
        (round(log((coalesce(col("ct"), lit(0L)) + 1.0) / (col("st") + nBuckets)) * 1e3)
           .cast("long") -
         round(log((coalesce(col("cr"), lit(0L)) + 1.0) / (col("sr") + nBuckets)) * 1e3)
           .cast("long")).as("d_e3"))
  }

  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, nBuckets: Int = 1024,
                  salt: String = "dsir"): DataFrame = {
    val fb = dsirFeatureBuckets(df, idCol, textCol, targetPred, nBuckets, salt)
    val scored = dsirScored(fb, fb.select(col("b")).distinct(), nBuckets)
    fb.join(broadcast(scored), Seq("b"))
      .groupBy("doc_id")
      .agg(max(col("is_target")).as("is_target"),
           count(lit(1)).as("n_feats"),
           sum(col("d_e3")).as("logw_e3"))
      .withColumn("dsir_selected", (col("logw_e3") > 0).cast("long"))
  }

  /** PER-SOURCE QUOTA CAP — the C4-style hard cap on any one domain's
    * share of the corpus: keep at most `maxPerGroup` documents per
    * group, best-first by [[qualityScore]] (ties on doc id). Where
    * [[temperatureResample]] reshapes the MIXTURE by hash-sampling at
    * group rates, this bounds the TAIL — one hot domain (the crawl's
    * boilerplate mill) cannot own the dataset no matter how large it
    * crawls.
    *
    * Skew design: a mega-domain would make the naive per-group
    * row_number window sort millions of rows in one task. The cap only
    * needs each group's top q, and top-q is invariant under sharding —
    * every true global top-q row has local rank ≤ q in ANY shard it
    * lands in. So phase 1 ranks within (group, shard) — `salts`-way,
    * arbitrary deterministic sharding — and keeps local top-q; phase 2
    * re-ranks the ≤ salts·q survivors per group. The result equals the
    * single-window form (the oracle computes THAT form), but the big
    * sort never happens; per-task volume is bounded by the group's
    * shard slice in phase 1 and salts·q rows in phase 2. Returns only
    * the kept rows with their final rank (the capped corpus — the
    * dropped side is the anti-join). */
  def sourceQuotaCap(df: DataFrame, idCol: String, textCol: String,
                     groupCol: String, maxPerGroup: Int,
                     salts: Int = 16): DataFrame = {
    require(maxPerGroup > 0, "maxPerGroup must be positive")
    require(salts > 0, "salts must be positive")
    import org.apache.spark.sql.expressions.Window
    val scored = df.select(col(idCol), col(groupCol))
      .join(qualityScore(df, idCol, textCol)
              .select(col(idCol), col("quality_score")), Seq(idCol))
    // shard key: any deterministic function of the row works (the final
    // top-q is sharding-invariant), so Spark's native hash is fine here
    // even though it is not oracle-replayable — the oracle never sees it
    val local = Window.partitionBy(col(groupCol), pmod(hash(col(idCol)), lit(salts)))
      .orderBy(col("quality_score").desc, col(idCol))
    val global = Window.partitionBy(col(groupCol))
      .orderBy(col("quality_score").desc, col(idCol))
    scored
      .withColumn("rk_local", row_number().over(local))
      .filter(col("rk_local") <= maxPerGroup)
      .withColumn("q_rank", row_number().over(global).cast("long"))
      .filter(col("q_rank") <= maxPerGroup)
      .select(col(idCol), col(groupCol), col("quality_score"), col("q_rank"))
  }

  /** DSIR RESAMPLING — the sampling step the published recipe actually
    * trains on (Xie et al.: draw k documents WITHOUT replacement with
    * probability ∝ importance weight, via the Gumbel-top-k trick:
    * key = log w + Gumbel noise, keep the k largest keys). Closes the
    * [[dsirWeights]] chain: weights alone are a diagnostic; this emits
    * the training subset.
    *
    * Determinism: the Gumbel draw is content-derived — u from the
    * md5 [[hashPoint]] in millionths (+0.5 to stay inside (0,1)),
    * g = −ln(−ln u) quantized to thousandths exactly as the weight
    * side already quantizes its log-likelihoods (the q115 precedent:
    * round(ln·1e3) agrees across engines), so key_e3 = logw_e3 + g_e3
    * is an integer and the k-th-key tie breaks on doc_id.
    *
    * Scale: the only addition over dsirWeights is one pure projection
    * and a global top-k — `orderBy(...).limit(k)` plans as
    * TakeOrderedAndProject (per-partition heap + driver merge of k
    * rows), NOT a single-partition sort; k is config-sized. */
  def dsirResample(df: DataFrame, idCol: String, textCol: String,
                   targetPred: Column, k: Int, nBuckets: Int = 1024,
                   salt: String = "dsir"): DataFrame = {
    require(k > 0, "k must be positive")
    val w = dsirWeights(df, idCol, textCol, targetPred, nBuckets, salt)
    val u = (hashPoint(col("doc_id"), salt + "-gum", 1000000L).cast("double")
               + lit(0.5)) / lit(1000000.0)
    w.withColumn("g_e3", round(-log(-log(u)) * 1e3).cast("long"))
      .withColumn("key_e3", col("logw_e3") + col("g_e3"))
      .orderBy(col("key_e3").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("is_target"), col("logw_e3"), col("g_e3"),
              col("key_e3"))
  }

  /** The trained DSIR model as a servable table: d_e3 for EVERY bucket
    * in [0, nBuckets) — observed buckets score exactly as in
    * [[dsirWeights]], unobserved ones get the same smoothed formula at
    * ct = cr = 0 (what a never-seen gram must score). nBuckets rows —
    * config-sized; collect it for [[dsirScoreServe]]. */
  def dsirBucketScores(df: DataFrame, idCol: String, textCol: String,
                       targetPred: Column, nBuckets: Int = 1024,
                       salt: String = "dsir"): DataFrame = {
    val fb = dsirFeatureBuckets(df, idCol, textCol, targetPred, nBuckets, salt)
    val all = fb.sparkSession.range(nBuckets).select(col("id").as("b"))
    dsirScored(fb, all, nBuckets)
  }

  /** INGESTION-TIME DSIR scoring — the per-row serving form of
    * [[dsirWeights]]: the whole gram→bucket→score→sum pipeline as one
    * projection against the trained score table carried as a literal
    * (nBuckets longs — config-sized, like the classifier's inline
    * weights). No explode, no groupBy, no state: applies unchanged to
    * a batch frame or a streaming ingest, and on the training corpus
    * itself it reproduces dsirWeights' (n_feats, logw_e3,
    * dsir_selected) exactly (spec-pinned).
    *
    * The aggregate/transform HOFs are CodegenFallback (the r2 lesson)
    * — acceptable here because serving is per-arriving-row work, not a
    * corpus-wide scan; the batch path stays on [[dsirWeights]]. */
  def dsirScoreServe(rows: DataFrame, idCol: String, textCol: String,
                     bucketScores: Seq[Long],
                     salt: String = "dsir"): DataFrame = {
    val n = bucketScores.size
    require(n >= 2, "bucketScores must cover >= 2 buckets")
    val scoresLit = typedlit(bucketScores)
    rows.select(col(idCol).as("doc_id"),
        split(trim(col(textCol)), " ").as("l"))
      .filter(size(col("l")) >= 2)
      .withColumn("g", transform(sequence(lit(1), size(col("l")) - 1),
        i => concat(element_at(col("l"), i), lit("_"),
                    element_at(col("l"), i + 1))))
      .select(col("doc_id"),
        size(col("g")).cast("long").as("n_feats"),
        aggregate(col("g"), lit(0L), (acc, g) =>
          acc + element_at(scoresLit,
            (hashPoint(g, salt, n.toLong) + lit(1)).cast("int"))).as("logw_e3"))
      .withColumn("dsir_selected", (col("logw_e3") > 0).cast("long"))
  }

  /** LM-SURPRISAL QUALITY FILTER — the perplexity axis of the
    * published filter stacks (CCNet-style: score each document by a
    * language model's perplexity and drop the tails; both very HIGH
    * perplexity — garbage, wrong-language, non-text — and anomalously
    * LOW — boilerplate — are kill signals). This is the self-trained
    * unigram rung: token probabilities come from the corpus's own
    * unigram counts, so the operator needs no external model artifact
    * (a production stack swaps in a reference-corpus LM by joining a
    * different (token, surprisal) table — the pipeline shape is
    * identical, which is the point of building it this way).
    *
    * Float discipline: each token's surprisal −ln(c/T) is rounded ONCE
    * to integer milli-nats; per-document totals are exact integer sums,
    * the mean is one round-6 division, and the perplexity column is
    * exp of that mean (round-6) — so the flag compares rounded values
    * and the whole ledger replays in SQL.
    *
    * Scale shape: one token explode feeding (a) the vocabulary count
    * aggregation and (b) a SHUFFLED keyed-join re-scan scoring each
    * occurrence; then one per-document aggregation. The (token,
    * surprisal) table is one row per distinct corpus token — unbounded
    * in corpus size — so the join is deliberately unhinted (AQE
    * broadcasts small vocabularies on its own; web-scale ones shuffle
    * on the well-spread `tok` key). */
  def lmSurprisal(df: DataFrame, idCol: String, textCol: String,
                  maxAvgNatsE3: Double = 3410.0): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
                         explode(split(trim(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("tt"))
    val surprisal = counts.crossJoin(broadcast(total))
      .select(col("tok"),
              round(log(col("tt") * 1.0 / col("c")) * 1e3).cast("long").as("s_e3"))
    val avg = round(col("s_sum") * 1.0 / col("n_tokens"), 6)
    // deliberately UNHINTED: the surprisal table is one row per distinct
    // corpus token — unbounded in corpus size (a web corpus has 1e8+
    // distinct whitespace tokens), so forcing a broadcast here OOMs at
    // exactly the scale this op serves. A shuffled keyed join on `tok`
    // is the correct plan; AQE still broadcasts small vocabularies.
    toks.join(surprisal, Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("s_e3")).as("s_sum"))
      .select(col("doc_id"), col("n_tokens"), col("s_sum").as("surprisal_e3"),
              avg.as("avg_surprisal_e3"),
              round(exp(avg / 1e3), 6).as("perplexity"),
              (avg > lit(maxAvgNatsE3)).cast("long").as("ppl_flagged"))
  }

  /** KNESER-NEY BIGRAM PERPLEXITY — the CCNet-style quality axis one
    * model order up from [[lmSurprisal]]'s unigram: an interpolated
    * Kneser-Ney bigram LM (absolute discount D = 3/4) self-trained on
    * the corpus, scoring each document by its mean bigram surprisal.
    * Repetitive/templated text strings the SAME bigrams together and
    * scores low; token-salad (plausible unigrams, improbable pairs)
    * scores high — the separation the unigram model cannot see.
    *
    *   P(w2|w1) = max(c(w1,w2)-D,0)/c(w1) + D·N1+(w1,·)/c(w1) · Pcont(w2)
    *   Pcont(w2) = N1+(·,w2)/B,  B = distinct bigram types
    *
    * With D = 3/4 the probability is the exact integer rational
    * ((4c-3)·B + 3·N1f·N1b) / (4·c1·B) — every count is a BIGINT
    * groupBy, so both engines feed ONE `ln` the same exact integers
    * and the milli-nat rounding (the q112 determinism contract) pins
    * the hash. Scoring the training corpus itself means every scored
    * bigram has c ≥ 1 — no zero branch. Docs with < 2 tokens carry no
    * bigrams and emit nothing (the shingle-table row contract).
    *
    * Scale shape: bigram explode map-side; c/c1/N1b/B are keyed
    * groupBys over bigram-vocabulary-sized frames; the score join back
    * onto the doc bigram stream is deliberately UNHINTED (bigram vocab
    * is unbounded in corpus size — the lmSurprisal broadcast lesson);
    * only the 1-row B total is broadcast. The bigram stream feeds two
    * subtrees (counting and scoring) → memoized under the cacheOnce
    * contract. */
  def knPerplexity(df: DataFrame, idCol: String, textCol: String,
                   maxAvgKnE3: Double = 3420.0): DataFrame = {
    val bg = graft.queries.cacheOnce(
      df.select(col(idCol).as("doc_id"), split(trim(col(textCol)), " ").as("l"))
        .filter(size(col("l")) >= 2)
        .select(col("doc_id"),
                explode(transform(sequence(lit(1), size(col("l")) - 1),
                  i => struct(element_at(col("l"), i).as("w1"),
                              element_at(col("l"), i + 1).as("w2")))).as("g"))
        .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2")))
    val c = graft.queries.cacheOnce(
      bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c")))
    val c1 = c.groupBy(col("w1")).agg(sum(col("c")).as("c1"),
                                      count(lit(1)).as("n1f"))
    val n1b = c.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val btot = c.agg(count(lit(1)).as("b"))
    val score = c.join(c1, Seq("w1")).join(n1b, Seq("w2"))
      .crossJoin(broadcast(btot))
      .select(col("w1"), col("w2"),
        round(log((lit(4.0) * col("c1") * col("b")) /
                  ((lit(4) * col("c") - lit(3)) * col("b") +
                   lit(3) * col("n1f") * col("n1b"))) * 1e3)
          .cast("long").as("s_e3"))
    val avg = round(col("s_sum") * 1.0 / col("n_bigrams"), 6)
    bg.join(score, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s_e3")).as("s_sum"))
      .select(col("doc_id"), col("n_bigrams"),
              col("s_sum").as("kn_surprisal_e3"),
              avg.as("avg_kn_e3"),
              round(exp(avg / 1e3), 6).as("kn_perplexity"),
              (avg > lit(maxAvgKnE3)).cast("long").as("kn_flagged"))
  }

  /** CCNet PERPLEXITY BUCKETS — the published head/middle/tail split:
    * within each language, rank documents by LM score (clean text
    * scores low) and cut the ranking into `nBuckets` equal slices;
    * CCNet trains on the head and drops or down-weights the tail. The
    * LM is the repo's own Kneser-Ney bigram model ([[knPerplexity]]),
    * the ranking key its avg surprisal (e3-rounded — deterministic),
    * ties on doc id; bucket = ((rank−1)·nBuckets) div n_lang — the
    * explicit formula, not ntile, so both engines agree on the group
    * edges by construction.
    *
    * Scale design: a language is corpus-sized, so the per-lang rank
    * does NOT run as one window. The q125 score-grid decomposition
    * applies: cell = ⌊avg_kn_e3⌋ (surprisal-range-bounded, a few
    * thousand distinct values), rank = prefix(count of cells below,
    * a broadcast-sized cumulative table) + row_number within the
    * fine-grained (lang, cell) partition. The oracle computes the
    * single-window form — the decomposition's exactness is
    * hash-checked, not assumed. */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
                        langCol: String, nBuckets: Int = 3): DataFrame = {
    require(nBuckets >= 2, "nBuckets must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val pd = knPerplexity(df, idCol, textCol)
      .select(col("doc_id"), col("avg_kn_e3"))
      .join(df.select(col(idCol).as("doc_id"), col(langCol).as("lang")),
            Seq("doc_id"))
      .withColumn("cell", floor(col("avg_kn_e3")).cast("long"))
    val wCell = Window.partitionBy(col("lang")).orderBy(col("cell"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = pd.groupBy("lang", "cell").agg(count(lit(1)).as("nc"))
      .withColumn("before", coalesce(sum(col("nc")).over(wCell), lit(0L)))
      .select("lang", "cell", "before")
    val nLang = pd.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val wIn = Window.partitionBy(col("lang"), col("cell"))
      .orderBy(col("avg_kn_e3"), col("doc_id"))
    pd.withColumn("rk_in", row_number().over(wIn).cast("long"))
      .join(broadcast(prefix), Seq("lang", "cell"))
      .join(broadcast(nLang), Seq("lang"))
      .withColumn("ppl_rank", col("before") + col("rk_in"))
      .withColumn("ppl_bucket",
        expr(s"((ppl_rank - 1) * $nBuckets) DIV n_lang"))
      .select(col("doc_id"), col("lang"), col("avg_kn_e3"), col("ppl_rank"),
              col("n_lang"), col("ppl_bucket"))
  }

  /** TEXT NORMALIZATION — the pass a curation pipeline runs BEFORE any
    * hashing or dedup: Unicode NFC canonical composition (the native
    * [[graft.plans.TextNfc]] expression — decomposed accents,
    * mixed-form crawls of the same glyphs otherwise hash as DISTINCT
    * text and every md5-keyed operator downstream fractures), then
    * trim + ASCII-space collapse. One row per document:
    * (doc_id, norm_text, n_cp — code points after, changed — whether
    * normalization touched the text at all; the audit column a
    * migration run watches).
    *
    * Scale shape: a pure per-row projection inside whole-stage codegen
    * (native expression + regexp) — ZERO shuffles, streaming-safe like
    * the rest of the stateless family. NFC is a Unicode-specified
    * function, so the DuckDB oracle (`nfc_normalize`) is exact even on
    * CJK / combining-mark / astral-plane text (q134 runs the multibyte
    * union). */
  def normalizeDocs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = regexp_replace(trim(call_function("text_nfc", col(textCol))),
                              " +", " ")
    df.select(col(idCol).as("doc_id"),
              norm.as("norm_text"),
              length(norm).cast("long").as("n_cp"),
              (norm =!= col(textCol)).cast("long").as("changed"))
  }

  /** TOKEN-BUDGET SELECTION — "assemble the best B tokens": rank every
    * document by [[qualityScore]] (ties broken by id — fully
    * deterministic) and keep the greedy prefix whose cumulative token
    * count stays within the budget. One row per document — the
    * decision ledger (rank, running total, keep flag), filterable to
    * the mix; the prefix rule is the contract (the first over-budget
    * document and everything ranked below it is out, even if some
    * smaller later doc would still fit — budget selection, not
    * bin-packing).
    *
    * Scale shape: a global rank + running sum is inherently a total
    * order, but the corpus never sees a single-partition window. The
    * round-6 score is an exact micro-unit integer, so the prefix
    * decomposes two-phase: per-SCORE token/doc totals (keyed groupBy),
    * ONE ordered window over the distinct-score frame (score-grid-
    * sized — bounded by the round-6 lattice, not the corpus), then a
    * keyed window partitioned BY score for the within-score ordering.
    * Every corpus-sized operation is a keyed shuffle.
    *
    * BATCH-ONLY (see the `StreamOps` family header): the greedy
    * prefix is a global order — any newly-arrived higher-scored doc
    * can evict the tail, so no watermark finalizes a decision. Run
    * periodically over the corpus snapshot. */
  def selectUnderBudget(df: DataFrame, idCol: String, textCol: String,
                        budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, "budget must be non-negative")
    val scored = qualityScore(df, idCol, textCol)
      .select(col(idCol).as("doc_id"), col("n_tokens"), col("quality_score"),
              round(col("quality_score") * 1e6).cast("long").as("s_e6"))
    val perScore = scored.groupBy(col("s_e6"))
      .agg(sum(col("n_tokens")).as("tok_s"), count(lit(1)).as("docs_s"))
    val wScore = org.apache.spark.sql.expressions.Window.orderBy(col("s_e6").desc)
    val prefix = perScore.select(col("s_e6"),
      (sum(col("tok_s")).over(wScore) - col("tok_s")).as("tok_before"),
      (sum(col("docs_s")).over(wScore) - col("docs_s")).as("docs_before"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("s_e6")).orderBy(col("doc_id"))
    scored.join(prefix, Seq("s_e6"))
      .select(col("doc_id"), col("n_tokens"), col("quality_score"),
              (col("docs_before") + row_number().over(wIn)).as("sel_rank"),
              (col("tok_before") + sum(col("n_tokens")).over(wIn)).as("cum_tokens"))
      .withColumn("selected", (col("cum_tokens") <= budgetTokens).cast("long"))
  }

  /** PER-SOURCE QUALITY CALIBRATION — make quality scores comparable
    * ACROSS sources by replacing each score with its percentile within
    * its own source. Raw scores are source-biased (a feed of short
    * listicles and one of long essays occupy different score bands for
    * reasons that are style, not quality), so a single global
    * threshold over-prunes one feed and under-prunes another; the
    * per-source percent-rank is the standard calibration before any
    * cross-source selection ([[selectUnderBudget]], [[
    * sourceQuotaCap]]'s keep rule, mixture reweighting).
    *
    * pct_rank follows the SQL percent_rank definition —
    * (rank − 1)/(n − 1) with rank() tie semantics, single-doc sources
    * at 0 — but is computed WITHOUT a source-sized window: scores are
    * e6-quantized and the rank of a doc is simply the count of
    * strictly-lower quantized scores in its source (ties share it),
    * which the (source, s_e6) GRID provides — a grid-sized window per
    * source plus one keyed join, the [[selectUnderBudget]]
    * decomposition one key deeper. A 10⁹-doc mega-source never sorts
    * in one task. */
  def calibrateQuality(df: DataFrame, idCol: String, textCol: String,
                       sourceCol: String): DataFrame = {
    val scored = df.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
                           col(textCol).as("__t"))
    val base = qualityScore(scored, "doc_id", "__t")
      .select(col("doc_id"), round(col("quality_score") * 1e6).cast("long").as("s_e6"))
      .join(scored.select(col("doc_id"), col("source")), Seq("doc_id"))
    val grid = base.groupBy(col("source"), col("s_e6"))
      .agg(count(lit(1)).as("docs_s"))
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("s_e6"))
    val prefix = grid.select(col("source"), col("s_e6"),
      (sum(col("docs_s")).over(wSrc) - col("docs_s")).as("below"),
      sum(col("docs_s")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source")))
        .as("n_source"))
    base.join(prefix, Seq("source", "s_e6"))
      .select(col("doc_id"), col("source"), col("s_e6"),
        when(col("n_source") === 1, lit(0.0))
          .otherwise(round(col("below") / (col("n_source") - 1), 6))
          .as("pct_rank"))
  }

  /** LENGTH-BUCKETED BATCHING diagnostics — split the corpus into
    * `nBuckets` equal-count length buckets (the ntile rule: bucket =
    * (rank0 · B) div N + 1 over the (n_tokens, doc_id) total order)
    * and report each bucket's padded-batch geometry: row count, max
    * length (the pad target) and the padding-waste ratio
    * 1 − Σlen/(n·max). This is the knob an inference/training
    * scheduler turns — more buckets → less waste, more batch
    * fragmentation — and the report says where the knee is.
    *
    * The global length rank is NOT a corpus-sized window: it
    * decomposes over the distinct-length grid exactly like
    * [[selectUnderBudget]]'s score rank — one grid-sized prefix window
    * (distinct lengths ≪ corpus; bounded by the longest doc) plus a
    * keyed within-length row_number by doc id. N arrives as a 1-row
    * broadcast. Bucket arithmetic is exact integer division, so the
    * assignment is reproducible in any engine. */
  def paddingBuckets(df: DataFrame, idCol: String, textCol: String,
                     nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, "nBuckets must be positive")
    val lens = df.select(col(idCol).as("doc_id"),
                         tokenCount(col(textCol)).cast("long").as("len"))
    val perLen = lens.groupBy(col("len")).agg(count(lit(1)).as("docs_l"))
    val wLen = org.apache.spark.sql.expressions.Window.orderBy(col("len"))
    val prefix = perLen.select(col("len"),
      (sum(col("docs_l")).over(wLen) - col("docs_l")).as("docs_before"))
    val tot = perLen.agg(sum(col("docs_l")).as("n_total"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col("len")).orderBy(col("doc_id"))
    // exact integer division a div N as (a - a mod N) / N: the
    // numerator is an exact multiple, so the double divide is exact
    // at any corpus size (no floor-at-the-ulp edge to analyze)
    val a = ((col("docs_before") + row_number().over(wIn) - 1) * nBuckets)
      .cast("long")
    lens.join(prefix, Seq("len")).crossJoin(broadcast(tot))
      .select(col("len"),
        (((a - pmod(a, col("n_total"))) / col("n_total")).cast("long") + 1)
          .as("bucket"))
      .groupBy(col("bucket")).agg(
        count(lit(1)).as("n_docs"),
        max(col("len")).as("max_len"),
        sum(col("len")).as("sum_len"))
      .select(col("bucket"), col("n_docs"), col("max_len"),
        when(col("max_len") === 0, lit(0.0))
          .otherwise(round(lit(1.0) - col("sum_len") / (col("n_docs") * col("max_len")), 6))
          .as("waste_ratio"))
  }

  /** PACK CURRICULUM — difficulty-order the training packs: each
    * [[packSequences]] pack scored by the mean per-token LM surprisal
    * ([[lmSurprisal]]) of its member documents, then placed in a
    * fixed-width difficulty BAND (`bandE3` milli-nats wide) — the
    * easy→hard schedule curriculum training consumes band by band.
    * Banding by absolute surprisal rather than global rank is
    * deliberate: the band is a pure projection of the pack's own
    * score (zero global windows — rank would force a total order over
    * the pack frame), it is stable as the corpus grows (a pack's band
    * never changes because other packs arrived), and the within-band
    * export order is the sharded-sink contract ([[writeShards]]).
    * One row per pack: members, token mass, exact surprisal sum,
    * round-6 mean, band.
    *
    * Scale shape: pack assignment (per-(bucket, shard) windows) +
    * per-doc surprisal (keyed joins) + one groupBy(pack) + a
    * projection. All keyed; nothing corpus-global.
    *
    * BATCH-ONLY (see the `StreamOps` family header): pack membership
    * is positional within a closed corpus snapshot — arrivals shift
    * positions — though the BAND rule itself is a pure projection of
    * a pack's score and would stream if packs came from upstream. */
  def packCurriculum(df: DataFrame, idCol: String, textCol: String,
                     contextLen: Int = 2048, bandE3: Long = 250L): DataFrame = {
    require(bandE3 >= 1, "band width must be positive")
    val packs = packSequences(df, idCol, textCol, contextLen = contextLen)
      .select(col(idCol).as("doc_id"), col("pack_id"), col("bucket"))
    val surp = lmSurprisal(df, idCol, textCol)
      .select(col("doc_id"), col("n_tokens"), col("surprisal_e3"))
    packs.join(surp, Seq("doc_id"))
      .groupBy(col("pack_id"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_tokens")).as("n_tokens"),
           sum(col("surprisal_e3")).as("sum_surprisal_e3"))
      .withColumn("difficulty_e3",
        round(col("sum_surprisal_e3") * 1.0 / col("n_tokens"), 6))
      .withColumn("band", floor(col("difficulty_e3") / bandE3).cast("long"))
      .select(col("pack_id"), col("bucket"), col("n_docs"), col("n_tokens"),
              col("sum_surprisal_e3"), col("difficulty_e3"), col("band"))
  }

  /** SLIDING-WINDOW CHUNKER — the retrieval-prep transform (RAG
    * indexing, long-document embedding): each document split into
    * overlapping token windows of `window` tokens every `stride`
    * tokens (overlap = window − stride). Chunk count is
    * 1 + ⌈(n − window)/stride⌉ for n > window else 1 — chunks jointly
    * cover every token, the last chunk is the only short one, and no
    * chunk is a pure suffix of its predecessor. One row per chunk:
    * (doc_id, chunk_id, begin_pos, chunk_text, n_chunk_tokens) with
    * begin_pos 1-based — the consumer can slice the original text
    * back out.
    *
    * Scale shape: a pure per-document projection + explode — ZERO
    * shuffles, fully map-side at any corpus size, and stateless, so
    * the same call works unchanged under Structured Streaming (the
    * family contract at the top of this file). */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     window: Int = 32, stride: Int = 24): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
            s"need 1 <= stride <= window, got window=$window stride=$stride")
    df.select(col(idCol).as("doc_id"), split(trim(col(textCol)), " ").as("l"))
      .withColumn("n", size(col("l")).cast("long"))
      // integer `div` keeps the count exact at any document length —
      // double division could round a near-integer ratio the wrong way
      .withColumn("n_chunks",
        expr(s"1L + CASE WHEN n > $window THEN (n - $window + ${stride - 1}) div $stride ELSE 0L END"))
      .select(col("doc_id"), col("l"), col("n"),
              explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
              (lit(1L) + col("chunk_id") * stride).as("begin_pos"),
              concat_ws(" ", slice(col("l"),
                (lit(1) + col("chunk_id") * stride).cast("int"), lit(window)))
                .as("chunk_text"),
              least(lit(window.toLong),
                    col("n") - col("chunk_id") * stride).as("n_chunk_tokens"))
  }

  /** SOURCE-DIVERGENCE REPORT — KL(P_source ‖ Q_corpus) over unigram
    * term frequencies: the drift monitor a mixture pipeline runs per
    * ingest cycle ("which source stopped looking like the corpus").
    * A source whose KL jumps has changed character — a crawl gone
    * boilerplate, a domain hijacked, an encoding regression — and
    * this surfaces it BEFORE the mixture weights (q103/q115) train on
    * it. P uses term frequency (with multiplicity), Q the corpus-wide
    * distribution; every token of a source exists in the corpus, so
    * the ratio is never 0/0 and KL is finite by construction.
    *
    * Determinism: each token's contribution
    * (c_st/n_s)·ln(c_st·N/(n_s·c_t)) is quantized to millionths
    * PER ROW (one double expression, round e6 — the integer
    * micro-grid idiom), so kl_e6 is an exact integer sum both engines
    * reproduce bit-for-bit.
    *
    * Scale shape: token explode → (source, token) count — the same
    * keyed shuffle tokenStats pays; the corpus-wide token table is
    * vocabulary-sized and joins UNHINTED (the lmSurprisal lesson);
    * per-source totals are group-count-sized and broadcast. Output is
    * one row per source. */
  def sourceDivergence(df: DataFrame, textCol: String,
                       groupCol: String): DataFrame = {
    val toks = df.select(col(groupCol).as("source"),
                         explode(split(trim(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val st = toks.groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("c_st"))
    val tot = st.groupBy(col("tok")).agg(sum(col("c_st")).as("c_t"))
    val ns = st.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"),
                                           count(lit(1)).as("n_types"))
    val nAll = ns.agg(sum(col("n_s")).as("n_all"))
    st.join(tot, Seq("tok"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(nAll))
      .withColumn("term_e6",
        round((col("c_st") * 1.0 / col("n_s")) *
              log((col("c_st") * 1.0 * col("n_all")) /
                  (col("n_s") * 1.0 * col("c_t")))
              * 1e6).cast("long"))
      .groupBy(col("source"))
      .agg(first(col("n_s")).as("n_tokens"),
           first(col("n_types")).as("n_types"),
           sum(col("term_e6")).as("kl_e6"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("kl_e6"))
  }

  /** ZIPF FIT — OLS of ln(frequency) on ln(rank) over the corpus
    * unigram table: the one-number corpus-health check (natural text
    * slopes ≈ −1; template/boilerplate floods flatten the head,
    * synthetic or deduped-to-death corpora steepen the tail). Returns
    * a single row (n_types, n_tokens, slope, intercept, r2).
    *
    * Rank runs RANK-DECOMPOSED, the q163 grid idiom transposed to
    * frequencies: distinct frequency VALUES (O(√Σc) of them by
    * Zipf's own law — the decade probe measures it) carry a broadcast
    * prefix of higher-frequency type counts, and a window partitioned
    * by exact frequency orders ties by token — no vocabulary-sized
    * single-partition sort anywhere.
    *
    * Determinism: x = ln(rank), y = ln(freq) quantized to thousandths
    * per row; the five OLS sums are then exact integer aggregates
    * (overflow-safe: |x_e3|,|y_e3| < 5·10⁴ up to 10¹⁸-token corpora,
    * so Σx² ≤ n·2.5·10⁹ stays inside int64 through billion-TYPE
    * vocabularies), and slope/intercept/r² are closed-form double
    * expressions over those integers — the cross products promote to
    * double BEFORE multiplying (n·Σxy overflows int64 where the
    * identical IEEE double product is exact-input deterministic in
    * both engines), round 6. */
  def zipfFit(df: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = df.select(explode(split(trim(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val wPre = Window.orderBy(col("c").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = freq.groupBy(col("c")).agg(count(lit(1)).as("nc"))
      .withColumn("before", coalesce(sum(col("nc")).over(wPre), lit(0L)))
      .select(col("c"), col("before"))
    val wIn = Window.partitionBy(col("c")).orderBy(col("tok"))
    val ranked = freq
      .withColumn("rk_in", row_number().over(wIn).cast("long"))
      .join(broadcast(prefix), Seq("c"))
      .withColumn("r", col("before") + col("rk_in"))
      .withColumn("x", round(log(col("r").cast("double")) * 1e3).cast("long"))
      .withColumn("y", round(log(col("c").cast("double")) * 1e3).cast("long"))
    ranked.agg(
        count(lit(1)).as("n_types"), sum(col("c")).as("n_tokens"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("cov",
        col("n_types") * 1.0 * col("sxy") - col("sx") * 1.0 * col("sy"))
      .withColumn("varx",
        col("n_types") * 1.0 * col("sxx") - col("sx") * 1.0 * col("sx"))
      .withColumn("vary",
        col("n_types") * 1.0 * col("syy") - col("sy") * 1.0 * col("sy"))
      .withColumn("slope", round(col("cov") / col("varx"), 6))
      .withColumn("intercept", round(
        (col("sy") * 1.0 / col("n_types") -
         col("slope") * col("sx") / col("n_types")) / 1e3, 6))
      .withColumn("r2",
        round(col("cov") * col("cov") / (col("varx") * col("vary")), 6))
      .select(col("n_types"), col("n_tokens"), col("slope"),
              col("intercept"), col("r2"))
  }

  /** Character-distribution quality stats ([[graft.plans.CharStats]]):
    * per-doc (n_chars, n_distinct, entropy_e6) plus the normalized
    * entropy ratio entropy / ln(n_distinct) (micro-rounded; 0 when the
    * alphabet is a single character). The quality-filter family's
    * RANDOMNESS axis — catches binary blobs / key dumps (ratio → 1)
    * and char floods (ratio → 0) that the word-level rules miss. Pure
    * zero-shuffle projection, one codegen'd pass per row,
    * streaming-safe; the micro-grid contract makes entropy_e6 an
    * exact integer the oracle re-sums from grouped characters. */
  /** PMI collocation mining — the phrase table multiword-tokenizer and
    * vocabulary curation passes rank by: for every adjacent word pair
    * with joint count ≥ `minCount`, pointwise mutual information
    * `ln((c_ab/N_bi) / ((c_a/N_uni)(c_b/N_uni)))` as a single-expression
    * e6 integer per pair (no float crosses an aggregation boundary —
    * counts aggregate exactly, the log happens once per output row).
    * High-PMI pairs are collocations ("san francisco"); frequent
    * low-PMI pairs are syntax. Output: (w1, w2, c_ab, c_a, c_b,
    * pmi_e6).
    *
    * Scale shape: one bigram explode + keyed groupBy; the two unigram
    * attach joins run UNHINTED on the word key (vocabulary is
    * corpus-unbounded — the lmSurprisal rule); `minCount` prunes the
    * heavy tail before the joins. */
  def collocations(df: DataFrame, textCol: String,
                   minCount: Int = 5): DataFrame = {
    val words = df.withColumn("l", split(trim(col(textCol)), " "))
      .filter(size(col("l")) >= 1)
    val uni = words
      .select(explode(col("l")).as("w")).filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
    val nUni = uni.agg(sum(col("c_w")).as("n_uni"))
    // cacheOnce: the n_bi normalizer AND the thresholded table both read
    // the bigram counts — one explode+groupBy, not two
    val biAll = graft.queries.cacheOnce(words.filter(size(col("l")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("l")) - 1),
        i => struct(element_at(col("l"), i).as("w1"),
                    element_at(col("l"), i + 1).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab")))
    val nBi = biAll.agg(sum(col("c_ab")).as("n_bi"))
    val bi = biAll.filter(col("c_ab") >= minCount)
    bi.join(uni.select(col("w").as("w1"), col("c_w").as("c_a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c_w").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(nBi)).crossJoin(broadcast(nUni))
      .select(col("w1"), col("w2"),
              col("c_ab").cast("long").as("c_ab"),
              col("c_a").cast("long").as("c_a"),
              col("c_b").cast("long").as("c_b"),
              round(log((col("c_ab") * 1.0 / col("n_bi")) /
                        ((col("c_a") * 1.0 / col("n_uni")) *
                         (col("c_b") * 1.0 / col("n_uni")))) * 1e6)
                .cast("long").as("pmi_e6"))
  }

  def charStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol).as("doc_id"),
              call_function("char_stats", col(textCol)).as("cs"))
      .select(col("doc_id"), col("cs.n_chars").as("n_chars"),
              col("cs.n_distinct").as("n_distinct"),
              col("cs.entropy_e6").as("entropy_e6"))
      .withColumn("entropy_ratio",
        when(col("n_distinct") <= 1, lit(0.0))
          // least(·, 1): per-char micro-rounding can tip a uniform
          // alphabet a few micros past the ln(n_distinct) ceiling
          .otherwise(least(round(col("entropy_e6") / 1e6 /
                           log(col("n_distinct").cast("double")), 6), lit(1.0))))
  }
}
