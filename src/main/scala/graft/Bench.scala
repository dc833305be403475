package graft

/** Driver-run benchmark: every registered query timed at the target
  * scale factor; one JSON line on stdout. Interleaved full-suite
  * passes with per-query lower-medians reject first-run (codegen/JIT/
  * index-build) and contention inflation; a wall-time budget degrades
  * the rep count instead of overrunning the driver's window. */
object Bench {
  // Demoted from the TIMED sf0.1 suite on the q76 precedent (bench
  // wall-time is the driver's correctness budget — r15's suite grew
  // past the driver window and shipped NO artifacts). Each demoted
  // entry re-runs a plan the suite already times AND pins
  // cell-for-cell elsewhere; all four keep their Verify oracles
  // (sf0.01 correctness is cheap and stays full-registry):
  //   q86/q87/q88 — the frame-backed IVF serving rungs re-run the
  //     q65/q70/q74 oracles over a path whose parity with the
  //     plan-literal rung is spec-pinned (SimilaritySpec);
  //   q78 — the pair-join union-find flavor; q66 times the canonical
  //     flavor and the two are parity-tested by spec.
  private[graft] val demoted = Set(
    "q78_dup_clusters_pj", "q86_ivf_ann_frames",
    "q87_ivf_hier_frames", "q88_ivf_tree_frames")

  /** The queries a run times, sorted: the registered ones `only` names,
    * demoted ones included; without `only`, all but the demoted. */
  private[graft] def selected(registered: Set[String], only: Option[Set[String]]): Seq[String] =
    only.fold(registered -- demoted)(registered.intersect).toSeq.sorted

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // warmup: touch every table once (file listing, footer reads)
    Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
      .foreach { t =>
        try graft.queries.t(spark, sfDir, t).limit(1).count()
        catch { case _: Throwable => }
      }
    // Materialization: a `.count()` action lets Catalyst prune the very
    // projection expressions many text queries exist to measure (column
    // pruning collapses a Project under Aggregate(count(1)), so q50-q53/
    // q61/q67/q69 timed a near-empty scan+count through round 5). The
    // noop datasource sink evaluates EVERY output column of the optimized
    // plan and discards the rows — full-materialization cost without
    // write-side I/O. Numbers from round 6 on are therefore honestly
    // higher for the pure-projection family than earlier rounds'.
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // SPARK_GRAFT_BENCH_ONLY=q78_dup_clusters_pj,q82_curate_corpus times a
    // comma-separated subset: a dev loop for one query's optimization
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = selected(SparkEntry.queries.keySet, only)
    // NO per-query warmup pass. The suite ran a full-registry sf0.001
    // warmup through r15 so the timed pass would measure steady state —
    // but at 300+ queries the warmup's PER-QUERY FIXED cost dominates
    // and the pass costs as much as a full sf0.1 timed pass (measured
    // r16: 391 s on the r15-slow host class — the single largest
    // contributor to the r15 driver-window overrun). The interleaved
    // median already provides the warmup's guarantee for free: pass 1
    // absorbs codegen + JIT + once-per-(session,dir) index builds, and
    // the per-query median across passes rejects pass-1 inflation the
    // same way it rejects a contention window. The table touch above
    // stays (file listing + footer reads are shared, not per-query).
    // Median-of-3 per query, reps INTERLEAVED across full suite passes:
    // single-shot timings on a shared box swing far beyond the real
    // signal (BENCH_r03 measured 2x the reproducible total under host
    // contention), and back-to-back reps of one query all sit inside the
    // same multi-second contention window, so a per-query median-of-3
    // cannot reject it (BENCH_r04's q10/q11 medians were ~10x their
    // reproducible cost for exactly that reason). Running the whole
    // suite `reps` times and taking each query's median ACROSS passes
    // costs the same wall-clock but decorrelates the noise: a window
    // that inflates pass 1's q10 leaves passes 2-3 untouched. Failures
    // are NAMED on stderr and reported in the JSON instead of silently
    // becoming a fast "-1" that would improve the total.
    // Semantics: STEADY-STATE medians. Queries whose design includes a
    // once-per-(session,dir) materialized index (near-dup pair memo,
    // ANN bucket/IVF indexes) pay the build in pass 1 and read the index
    // in passes 2-3, so their median reports amortized per-query cost —
    // the served-workload number; the build cost itself is what
    // ScaleProbe measures.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // WALL-TIME BUDGET — the r15 lesson: a bench that cannot finish
    // inside the driver's window ships NO artifact, which is worse than
    // a bench with fewer reps. Before starting pass N+1, project its
    // cost from the last completed pass (with 15% headroom for drift)
    // and skip remaining passes if they don't fit; an artifact with
    // reps_completed < reps and a stderr note always beats rc 124.
    // 1,150 s default leaves startup + sbt compile + shutdown cleanup
    // inside the window the r14 driver run proved (1,486 s total
    // succeeded; r15's overrun failed), even on the 1.5-2× slow host
    // class r15 measured (q20 control = the tell). Measured r16 on the
    // slow host class: pass 1 = 738 s (codegen + JIT + index builds),
    // steady pass = 410 s — so a slow host delivers one pass and a
    // quiet host two; the lower median makes either artifact honest.
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1150").toDouble
    val tBench0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - tBench0) / 1e9
    val timesByQuery = scala.collection.mutable.Map.empty[String, List[Double]]
    var repsDone = 0
    var lastPassSec = 0.0
    for (pass <- 1 to reps) {
      // pass 1 carries one-time codegen + JIT + index builds and
      // OVER-estimates pass 2 badly — measured r16: pass 2 = 0.56 ×
      // pass 1 (410 vs 738 s); projected at 0.6 with the budget as
      // the guard. Steady passes 3+ project from the previous steady
      // pass with 15% drift headroom.
      val projected = if (pass == 2) 0.6 * lastPassSec else 1.15 * lastPassSec
      if (pass == 1 || elapsedSec + projected <= budgetSec) {
        val tPass0 = System.nanoTime()
        for (name <- names) {
          val fn = SparkEntry.queries(name)
          val t0 = System.nanoTime()
          try {
            materialize(fn(spark, sfDir))
            timesByQuery(name) = ((System.nanoTime() - t0) / 1e9) :: timesByQuery.getOrElse(name, Nil)
          } catch {
            case e: Throwable =>
              System.err.println(s"BENCH FAILURE $name pass $pass: ${e.getClass.getName}: ${e.getMessage}")
          }
        }
        lastPassSec = (System.nanoTime() - tPass0) / 1e9
        repsDone = pass
        System.err.println(f"BENCH pass $pass done in $lastPassSec%.1f s" +
          f" (elapsed $elapsedSec%.1f of ${budgetSec}%.0f s budget)")
      } else
        System.err.println(f"BENCH pass $pass SKIPPED: projected" +
          f" $projected%.1f s exceeds remaining" +
          f" ${budgetSec - elapsedSec}%.1f s budget")
    }
    var failed = List.empty[String]
    // LOWER median: 3 reps → the true median; 2 reps (budget-degraded)
    // → the min, correct because contention and pass-1 first-run costs
    // only ever INFLATE; 1 rep → the single observation
    val results = names.map { name =>
      val times = timesByQuery.getOrElse(name, Nil)
      if (times.isEmpty) { failed ::= name; name -> -1.0 }
      else name -> times.sorted.apply((times.size - 1) / 2)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir","reps_completed":$repsDone}"""
    // capture-proofing: the driver records only the LAST 2000 chars of
    // stdout, and at 140+ registered queries the full per-query map is
    // ~7 KB — BENCH_r11's tail capture cut the line's head off and its
    // `parsed` field came back null. The FULL json goes to the file
    // (canonical round-over-round record, committed in-repo); stdout
    // gets a compact line guaranteed to fit the tail window: headline
    // total + failures + as many per-query entries as a 1700-byte
    // budget allows, SLOWEST FIRST (the regression-relevant tail),
    // values rounded to ms. `queries_omitted` names the truncation —
    // no silent cap.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    catch {
      case e: Exception =>
        System.err.println(s"BENCH: could not write $outPath: $e (stdout line is canonical)")
    }
    val bySlowest = results.sortBy { case (_, v) => -v }
      .map { case (k, v) => s"\"" + k + "\":" + (math.rint(v * 1000) / 1000) }
    val budget = 1700
    val fixedHead = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","failed":$failedJson,"n_queries":${results.size},"reps_completed":$repsDone,"full":"$outPath","queries_omitted":000,"queries":{"""
    var used = fixedHead.length + 2
    val kept = bySlowest.takeWhile { e =>
      val fits = used + e.length + 1 <= budget
      if (fits) used += e.length + 1
      fits
    }
    val compact = fixedHead.replace("\"queries_omitted\":000",
      s"\"queries_omitted\":${results.size - kept.size}") +
      kept.mkString(",") + "}}"
    println(compact)
    spark.stop()
  }
}
