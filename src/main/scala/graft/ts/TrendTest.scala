package graft.ts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Non-parametric trend detection over per-key day grids — the
  * robust pair to the smoothing tier: Mann–Kendall answers "is there
  * a monotone trend at all" without assuming linearity or normal
  * errors, and Theil–Sen estimates its slope as a pairwise median
  * that one outlier day cannot drag (the OLS slope q43 fits is
  * exactly the estimator a single corrupted day CAN drag).
  *
  * Both statistics are quadratic in the PAIR count — n·(n−1)/2 for
  * an n-day grid — but the grid itself is calendar-bounded by
  * contract (daily/weekly/monthly grids, never raw events; a decade
  * of days is n ≈ 3.7k), so the whole pair pass folds IN-ROW over
  * one packed array per key via the native
  * [[graft.plans.TrendFold]] expression: one `collect_list` shuffle
  * per key, primitive-array arithmetic in the projection, no pair
  * frame, no grid-prefix materialization. This is the
  * `ts/Dtw.scala` / `ts/SeqAlign.scala` bounded-grid fold pattern;
  * the r14 distributed pair-CDF form (14M shuffled pair rows + two
  * localCheckpoints at sf0.1) measured 28–34 s where this fold
  * measures ~1 s, with byte-identical output. Everything to the
  * final z / median is exact long arithmetic, so the oracle replays
  * it; the one double each is a single fixed expression (z's sqrt,
  * rounded to e6 — the established v_e6 convention).
  */
object TrendTest {

  /** One row per key: the [[graft.plans.TrendFold]] struct of the
    * day-sorted grid. Keys with no distinct-day pair (n < 2) are
    * dropped — the pair-join form never emitted them.
    *
    * The fold runs INSIDE the aggregate's result expressions (the
    * two collect_list aggregates are semantically equal — one
    * buffer), so `f` is a materialized ATTRIBUTE: the downstream
    * filter and field extractions read the struct value instead of
    * re-evaluating the quadratic fold per reference (a projected
    * expression would be re-inlined into the pushed-down filter
    * predicate — one extra full fold per key). */
  private def foldOf(daily: DataFrame, keyCol: String, dateCol: String,
                     vCol: String): DataFrame = {
    daily
      .select(col(keyCol).as("k"),
        datediff(col(dateCol), lit("1970-01-01")).as("d"),
        col(vCol).cast("long").as("y"))
      .groupBy(col("k"))
      .agg(call_function("trend_fold",
        expr("transform(sort_array(collect_list(struct(d, y))), x -> x.d)"),
        expr("transform(sort_array(collect_list(struct(d, y))), x -> x.y)"))
        .as("f"))
      .filter(col("f.n_pairs") >= 1L)
  }

  /** Mann–Kendall trend test. S = Σ_{i<j} sign(y_j − y_i) over the
    * time-ordered grid; Var(S)·18 kept as the exact integer
    * n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5) (the standard tie
    * correction), z with the ±1 continuity correction.
    * @return per key: (key, n_obs, s_stat, var18, z_e6) — z_e6 null
    *         when var18 ≤ 0 (n < 2 or all values tied) */
  def mannKendall(daily: DataFrame, keyCol: String, dateCol: String,
                  vCol: String): DataFrame =
    foldOf(daily, keyCol, dateCol, vCol)
      .withColumn("var18",
        col("f.n_obs") * (col("f.n_obs") - 1L)
          * (col("f.n_obs") * 2L + 5L) - col("f.tie18"))
      .select(col("k").as(keyCol), col("f.n_obs").as("n_obs"),
        col("f.s_stat").as("s_stat"), col("var18"),
        when(col("var18") <= 0L, lit(null).cast("long"))
          .otherwise(round(
            (col("f.s_stat") - signum(col("f.s_stat"))).cast("double")
              / sqrt(col("var18").cast("double") / 18.0) * 1e6)
            .cast("long")).as("z_e6"))

  /** Theil–Sen slope: the LOWER MEDIAN of the pairwise slopes
    * (y_j − y_i)/(d_j − d_i), each slope e6-scaled and truncated to
    * the integer grid BEFORE ranking (one rounding per pair, so the
    * median is an exact order statistic both engines agree on; a
    * dy·1e6 product beyond int64 takes the exact BigInteger path —
    * the oracle's HUGEINT).
    * @return per key: (key, n_pairs, slope_e6) — the lower median
    *         (rank ⌈m/2⌉) of the e6 slope grid */
  def theilSen(daily: DataFrame, keyCol: String, dateCol: String,
               vCol: String): DataFrame =
    foldOf(daily, keyCol, dateCol, vCol)
      .select(col("k").as(keyCol), col("f.n_pairs").as("n_pairs"),
        col("f.slope_e6").as("slope_e6"))

  /** SEASONAL Mann–Kendall (Hirsch–Slack, independent seasons) —
    * the variant [[mannKendall]] NEEDS on seasonal data: a strong
    * annual cycle manufactures within-year sign reversals that bury
    * a real multi-year trend (or, worse, a trend-free cycle scores
    * as trend). The fix is to compare only LIKE seasons: S_g and
    * Var18_g per season subseries (January vs January), then
    * S' = ΣS_g, Var' = ΣVar_g, z with the same ±1 continuity
    * correction — exact integer sums of per-season exact integers.
    *
    * Scale shape: the SAME [[graft.plans.TrendFold]] in-row fold,
    * just keyed by (key, season) — m× more groups, each grid m×
    * shorter, so the quadratic work per group DROPS m× and the
    * total falls by ~m vs the unseasonal fold. One keyed aggregate
    * to combine.
    * @param seasonCol an integer season label column (month,
    *                  day-of-week) already on the input
    * @return per key: (key, n_seasons, n_obs, s_stat, var18, z_e6)
    *         — z null when Var' ≤ 0 (every season constant) */
  def seasonalMannKendall(daily: DataFrame, keyCol: String,
                          dateCol: String, vCol: String,
                          seasonCol: String): DataFrame = {
    val perSeason = daily
      .select(col(keyCol).as("k"), col(seasonCol).as("g"),
        datediff(col(dateCol), lit("1970-01-01")).as("d"),
        col(vCol).cast("long").as("y"))
      .groupBy(col("k"), col("g"))
      .agg(call_function("trend_fold",
        expr("transform(sort_array(collect_list(struct(d, y))), x -> x.d)"),
        expr("transform(sort_array(collect_list(struct(d, y))), x -> x.y)"))
        .as("f"))
    perSeason
      // v_g is ~2n³ in the season size: first factor to decimal(38,0)
      // (the jonckheereTerpstra g18 pattern) so a season past ~1.66M
      // observations can't overflow int64
      .select(col("k"), col("f.n_obs").as("n_g"),
        col("f.s_stat").as("s_g"),
        (col("f.n_obs").cast("decimal(38,0)") * (col("f.n_obs") - 1L)
          * (col("f.n_obs") * 2L + 5L) - col("f.tie18")).as("v_g"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_seasons"), sum(col("n_g")).as("n_obs"),
        sum(col("s_g")).as("s_stat"), sum(col("v_g")).as("var18"))
      .select(col("k").as(keyCol), col("n_seasons"), col("n_obs"),
        // output stays BIGINT (the q337 j2/e2 pattern): the decimal
        // ledger above is exact, and a var18 genuinely past int64
        // raises at this cast (ANSI) instead of wrapping upstream
        col("s_stat"), col("var18").cast("long").as("var18"),
        when(col("var18") <= 0L, lit(null).cast("long"))
          .otherwise(round(
            (col("s_stat") - signum(col("s_stat"))).cast("double")
              / sqrt(col("var18").cast("double") / 18.0) * 1e6)
            .cast("long")).as("z_e6"))
  }
}
