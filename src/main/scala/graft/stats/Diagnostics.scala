package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DataFrame-facing ACF/PACF (SURVEY §2.7 C1/C2).
  *
  * The reference computes diagnostics on one pandas series at a time
  * (`app.py:229-239`); here every series is one group key, so an
  * arbitrary number of series (correlations, event types, tenants) fit
  * one shuffle-and-compute pass. Each group materializes only its own
  * series in a task — at 100 TB total data the per-series cardinality
  * (post grain-aggregation: e.g. years of hourly points ≈ 10^4 rows)
  * is what bounds task memory, not table size.
  */
object Diagnostics {

  /** Per-series ACF + PACF. Input needs columns (`seriesCol`, `ds`, `y`);
    * output (`seriesCol`, lag, acf, pacf), lags 0..nlags (statsmodels
    * default nlags when None). */
  def acfPacf(df: DataFrame, seriesCol: String, nlags: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // ds may be DATE or TIMESTAMP; epoch seconds are only used for ordering
    df.select(col(seriesCol).cast("string"),
              col("ds").cast("timestamp").cast("long"), col("y").cast("double"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        acfPacf(it.toArray.sortBy(_._2).map(_._3), nlags).map { case (lag, a, p) => (key, lag, a, p) }
      }
      .toDF(seriesCol, "lag", "acf", "pacf")
  }

  /** [[acfPacf]]'s body for one series `ys` in time order: (lag, acf,
    * pacf) for lags 0 to `nlags` (default [[AutoCorr.defaultNlags]]). */
  def acfPacf(ys: Array[Double], nlags: Option[Int]): Iterator[(Int, Double, Double)] = {
    val nl = nlags.getOrElse(AutoCorr.defaultNlags(ys.length))
    val a = AutoCorr.acf(ys, nl)
    val p = AutoCorr.pacfYWAdjusted(ys, nl)
    Iterator.tabulate(nl + 1)(i => (i, a(i), p(i)))
  }

  /** Ljung–Box portmanteau test — the "is there ANY autocorrelation
    * left" readout over [[acfPacf]]'s per-lag view:
    * Q = n(n+2) Σ_{k≤h} r_k²/(n−k), the whiteness gate run on model
    * residuals (q301's AR fit, the smoothing tiers) before trusting
    * their forecasts.
    *
    * Determinism: r_k is the q20 biased ACF rounded to the e6 grid
    * (BigDecimal HALF_UP — the engine-portable rounding), each lag
    * term r_e6² div (n−k) an exact truncating long, the sum over
    * lags order-free integer addition, and the final n(n+2)·S/10⁶
    * one exact BigInt expression — the oracle replays every step.
    * Same per-series array shape as [[acfPacf]] (one bounded
    * calendar-grid series per task).
    * @return one row per series: (series, n_obs, h_lags, q_e6) —
    *         null when n ≤ h (a lag term would divide by ≤ 0) or
    *         the series is constant (ACF undefined) */
  def ljungBox(df: DataFrame, seriesCol: String,
               nlags: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(seriesCol).cast("string"),
              col("ds").cast("timestamp").cast("long"), col("y").cast("double"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .mapGroups { (key, it) =>
        val ys = it.toArray.sortBy(_._2).map(_._3)
        val n = ys.length
        val nl = nlags.getOrElse(AutoCorr.defaultNlags(n))
        val mean = ys.sum / n
        val constant = ys.forall(_ == mean)
        if (n <= nl || nl < 1 || constant) (key, n.toLong, nl.toLong, None)
        else {
          val a = AutoCorr.acf(ys, nl)
          var s = 0L
          var k = 1
          while (k <= nl) {
            val rE6 = BigDecimal(a(k) * 1e6)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
            s += rE6 * rE6 / (n - k)
            k += 1
          }
          val q = BigInt(n) * (n + 2) * s / 1000000L
          (key, n.toLong, nl.toLong, Some(q.toLong))
        }
      }
      .toDF(seriesCol, "n_obs", "h_lags", "q_e6")
  }

  /** Dominant-period detection — the "WHICH season" answer the fixed
    * hypotheses leave open: the periodogram (q304) and the seasonal
    * folds (Holt–Winters m, STL's week) all take the period as
    * input; this reads it off the data as the argmax of the biased
    * ACF over a candidate lag range, with the ±1.96/√n white-noise
    * band as the "is there a season at all" gate.
    *
    * Determinism: r_k on the e6 grid (BigDecimal HALF_UP — the
    * [[ljungBox]] rounding), argmax ties broken toward the EARLIEST
    * lag (the fundamental, not its harmonic), the significance
    * threshold one fixed double tree (1.96/√n, e6-rounded) — every
    * step oracle-replayable. Same per-series bounded-array shape as
    * [[acfPacf]] (one calendar-grid series per task, any number of
    * series per pass).
    * @param minLag lowest candidate lag (≥ 1; default 2 skips the
    *               trivial lag-1 carryover)
    * @return per series: (series, n_obs, best_lag, r_e6, thr_e6,
    *         significant) — null best_lag when the series is
    *         constant or shorter than minLag + 1 */
  def acfPeriod(df: DataFrame, seriesCol: String, minLag: Int = 2,
                nlags: Option[Int] = None): DataFrame = {
    require(minLag >= 1, "minLag >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(seriesCol).cast("string"),
              col("ds").cast("timestamp").cast("long"), col("y").cast("double"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .mapGroups { (key, it) =>
        val ys = it.toArray.sortBy(_._2).map(_._3)
        val n = ys.length
        val nl = nlags.getOrElse(AutoCorr.defaultNlags(n))
        val mean = ys.sum / n
        val constant = ys.forall(_ == mean)
        if (n <= minLag || nl < minLag || constant)
          (key, n.toLong, None: Option[Long], None: Option[Long],
            None: Option[Long], None: Option[Long])
        else {
          val a = AutoCorr.acf(ys, nl)
          var bestK = minLag
          var bestR = Long.MinValue
          var k = minLag
          while (k <= nl) {
            val rE6 = BigDecimal(a(k) * 1e6)
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
            if (rE6 > bestR) { bestR = rE6; bestK = k }
            k += 1
          }
          val thr = BigDecimal(1.96 / math.sqrt(n.toDouble) * 1e6)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
          (key, n.toLong, Some(bestK.toLong), Some(bestR),
            Some(thr), Some(if (bestR > thr) 1L else 0L))
        }
      }
      .toDF(seriesCol, "n_obs", "best_lag", "r_e6", "thr_e6", "significant")
  }

  /** Durbin–Watson statistic on OLS-detrended residuals — the
    * lag-1-specific whiteness gate next to [[ljungBox]]'s
    * portmanteau: DW ≈ 2(1 − r₁) answers "are the residuals of the
    * fitted TREND serially correlated" (DW ≪ 2: the trend line is
    * too stiff and errors persist; DW ≫ 2: alternation), which is
    * the standard post-fit check for [[graft.ts.SeriesOps
    * .linearTrend]]-style per-series fits.
    *
    * Exactness: residuals use the SAME once-quantized e6 OLS
    * coefficients as the Theta method ([[graft.ts.ExpSmooth
    * .thetaSmooth]] — b_e6 = 10⁶(nΣty − ΣtΣy) div D, a_e6 =
    * (10⁶Σy − b_e6·Σt) div n, all truncating integer arithmetic in
    * BigInt), r_e6(t) = 10⁶y − (a + b·t) exact longs, and
    * DW_e6 = Σ(Δr)²·10⁶ div Σr² one truncating BigInt division —
    * the oracle replays every step with HUGEINT window sums. Same
    * per-series bounded-array shape as [[acfPacf]].
    * @return per series: (series, n_obs, dw_e6) — null when n &lt; 3
    *         or the residuals vanish (a perfect line) */
  def durbinWatson(df: DataFrame, seriesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(seriesCol).cast("string"),
              col("ds").cast("timestamp").cast("long"),
              col("y").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (key, it) =>
        val ys = it.toArray.sortBy(_._2).map(_._3)
        val n = ys.length
        if (n < 3) (key, n.toLong, None: Option[Long])
        else {
          var sy = BigInt(0); var sty = BigInt(0)
          var t = 1
          while (t <= n) { sy += ys(t - 1); sty += BigInt(t) * ys(t - 1); t += 1 }
          val bn = BigInt(n)
          val st = bn * (n + 1) / 2
          val dd = bn * bn * (bn * bn - 1) / 12
          // BigInt `/` truncates toward zero — identical to Spark's
          // `div` and DuckDB's `//`, so the quantized coefficients
          // replay bit-for-bit in both engines
          val bE6 = (bn * sty - st * sy) * 1000000 / dd
          val aE6 = (sy * 1000000 - bE6 * st) / bn
          var num = BigInt(0); var den = BigInt(0)
          var prev = BigInt(0)
          t = 1
          while (t <= n) {
            val r = BigInt(ys(t - 1)) * 1000000 - (aE6 + bE6 * t)
            den += r * r
            if (t >= 2) { val d = r - prev; num += d * d }
            prev = r
            t += 1
          }
          if (den == 0) (key, n.toLong, None: Option[Long])
          else (key, n.toLong, Some((num * 1000000 / den).toLong))
        }
      }
      .toDF(seriesCol, "n_obs", "dw_e6")
  }

  /** Wald–Wolfowitz runs test vs the exact lower median — the
    * RANDOMNESS gate that catches what the correlation tests miss:
    * too FEW runs of above/below-median days means regime clustering
    * (the series sits above its median for long stretches), too MANY
    * means forced alternation; either invalidates the i.i.d.
    * assumption the bootstrap and permutation machinery lean on.
    * Days exactly AT the median are dropped (the standard
    * convention), so the engine and oracle agree on the kept
    * sequence by construction.
    *
    * Exactness: the median is the exact lower order statistic
    * (position (n+1) div 2 of the sorted values — the repo's
    * lower-median convention), runs/n1/n2 exact integer counts, and
    * z = (R − μ)/σ one fixed double tree over them (μ =
    * 2n₁n₂/m + 1, σ² = 2n₁n₂(2n₁n₂−m)/(m²(m−1)), m = n₁+n₂) —
    * mirrored operation-for-operation by the oracle. Same
    * per-series bounded-array shape as [[acfPacf]].
    * @return per series: (series, n_obs, med_c, n_above, n_below,
    *         runs, z_e6) — z null when either side is empty or
    *         m &lt; 2 */
  def runsTest(df: DataFrame, seriesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(seriesCol).cast("string"),
              col("ds").cast("timestamp").cast("long"),
              col("y").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (key, it) =>
        val ys = it.toArray.sortBy(_._2).map(_._3)
        val n = ys.length
        val sorted = ys.sorted
        val med = sorted((n - 1) / 2)
        val signs = ys.iterator.map(y =>
          if (y > med) 1 else if (y < med) -1 else 0).filter(_ != 0).toArray
        val n1 = signs.count(_ == 1).toLong
        val n2 = signs.count(_ == -1).toLong
        val runs =
          if (signs.isEmpty) 0L
          else 1L + signs.sliding(2).count(p => p.length == 2 && p(0) != p(1))
        val m = n1 + n2
        if (n1 == 0L || n2 == 0L || m < 2L)
          (key, n.toLong, med, n1, n2, runs, None: Option[Long])
        else {
          val md = m.toDouble
          val mu = 2.0 * n1 * n2 / md + 1.0
          val va = 2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) /
            (md * md * (md - 1.0))
          val z = (runs - mu) / math.sqrt(va)
          // HALF_UP (away from zero) — matches both engines' round()
          // on the negative z a clustered series produces
          (key, n.toLong, med, n1, n2, runs,
           Some(BigDecimal(z * 1e6)
             .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
        }
      }
      .toDF(seriesCol, "n_obs", "med_c", "n_above", "n_below", "runs",
            "z_e6")
  }

  /** Turning-point test — the cheapest randomness gate: count the
    * interior STRICT local extrema (y_{i−1} < y_i > y_{i+1} or the
    * mirror); an i.i.d. series has E[T] = 2(n−2)/3 and
    * Var[T] = (16n − 29)/90 (Kendall's classic result), so too few
    * turns means trend/momentum and too many means alternation —
    * the derivative-level complement to [[runsTest]]'s level-based
    * runs. Plateaus (ties with a neighbor) are NOT turning points
    * under the strict convention, so engine and oracle agree on
    * every tie by construction.
    *
    * Exactness: T an exact count, z one fixed double tree over
    * (T, n), e6-rounded HALF_UP (the [[runsTest]] convention).
    * Same per-series bounded-array shape as [[acfPacf]].
    * @return per series: (series, n_obs, n_turns, z_e6) — z null
    *         when n &lt; 3 */
  def turningPointTest(df: DataFrame, seriesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(seriesCol).cast("string"),
              col("ds").cast("timestamp").cast("long"),
              col("y").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (key, it) =>
        val ys = it.toArray.sortBy(_._2).map(_._3)
        val n = ys.length
        var t = 0L
        var i = 1
        while (i < n - 1) {
          if ((ys(i - 1) < ys(i) && ys(i) > ys(i + 1)) ||
              (ys(i - 1) > ys(i) && ys(i) < ys(i + 1))) t += 1
          i += 1
        }
        if (n < 3) (key, n.toLong, t, None: Option[Long])
        else {
          val z = (t.toDouble - 2.0 * (n - 2) / 3.0) /
            math.sqrt((16.0 * n - 29.0) / 90.0)
          (key, n.toLong, t,
           Some(BigDecimal(z * 1e6)
             .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
        }
      }
      .toDF(seriesCol, "n_obs", "n_turns", "z_e6")
  }

  /** Bartels rank von Neumann ratio test — the RANK-ROBUST
    * randomness gate: the von Neumann ratio Σ(rᵢ − rᵢ₊₁)² / Σ(rᵢ − r̄)²
    * over the TIME-ordered ranks of the series (Bartels 1982) reads
    * ≈ 2 under i.i.d., &lt; 2 under positive serial dependence
    * (neighbors rank-close), &gt; 2 under alternation — the
    * non-parametric twin of [[durbinWatson]] (same ratio shape, rank
    * domain, no linearity assumption).
    *
    * Exactness: doubled midranks (integers under ties; Σr2 = n(n+1)
    * exactly, so the centered denominator is Σ(r2ᵢ − (n+1))² — the
    * doubling cancels in the ratio), RVN quantized by ONE truncating
    * BigInt division rvn_e6 = NM4·10⁶ div D4, and
    * z = (rvn_e6/10⁶ − 2)/√Var with the exact finite-sample
    * Var = 4(n−2)(5n²−2n−9)/(5n(n+1)(n−1)²) — one double tree over
    * (rvn_e6, n), e6-rounded HALF_UP. Same per-series bounded-array
    * shape as [[acfPacf]].
    * @return per series: (series, n_obs, nm4, d4, rvn_e6, z_e6) —
    *         null rvn/z when the series is constant (D4 = 0) or
    *         n &lt; 3 */
  def bartelsRvn(df: DataFrame, seriesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(seriesCol).cast("string"),
              col("ds").cast("timestamp").cast("long"),
              col("y").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (key, it) =>
        val ys = it.toArray.sortBy(_._2).map(_._3)
        val n = ys.length
        // doubled midranks of y: 2·(#less) + (#eq) + 1 per value
        val counts = scala.collection.mutable.TreeMap.empty[Long, Long]
        ys.foreach(y => counts.update(y, counts.getOrElse(y, 0L) + 1L))
        var before = 0L
        val r2of = scala.collection.mutable.LongMap.empty[Long]
        counts.foreach { case (v, c) =>
          r2of.update(v, 2L * before + c + 1L); before += c
        }
        val r2 = ys.map(r2of)
        var nm4 = BigInt(0)
        var d4 = BigInt(0)
        var i = 0
        while (i < n) {
          if (i < n - 1) {
            val d = BigInt(r2(i) - r2(i + 1)); nm4 += d * d
          }
          val c = BigInt(r2(i) - (n + 1L)); d4 += c * c
          i += 1
        }
        if (n < 3 || d4 == 0)
          (key, n.toLong, nm4.toLong, d4.toLong,
           None: Option[Long], None: Option[Long])
        else {
          val rvnE6 = (nm4 * 1000000 / d4).toLong
          val va = 4.0 * (n - 2) * (5.0 * n * n - 2.0 * n - 9.0) /
            (5.0 * n * (n + 1.0) * (n - 1.0) * (n - 1.0))
          val z = (rvnE6 / 1000000.0 - 2.0) / math.sqrt(va)
          (key, n.toLong, nm4.toLong, d4.toLong, Some(rvnE6),
           Some(BigDecimal(z * 1e6)
             .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
        }
      }
      .toDF(seriesCol, "n_obs", "nm4", "d4", "rvn_e6", "z_e6")
  }

  /** Cox–Stuart trend test — the sign test aimed at TREND: pair each
    * of the first ⌊n/2⌋ observations with its counterpart c =
    * ⌈n/2⌉ positions later (the middle point of an odd series drops
    * out), and sign-test the differences (Cox & Stuart 1955). No
    * slope model, no rank machinery — just "is the back half above
    * the front half, pair by pair", with the EXACT binomial p from
    * [[PairedRank.binomPE6]] (a rational num/2ⁿ — no approximation,
    * HUGEINT-replayable; n here is ≤ half the series length, far
    * under the 120 ceiling for calendar series).
    *
    * Same per-series bounded-array shape as [[acfPacf]]; zero
    * differences are dropped (the sign-test convention), so engine
    * and oracle agree on the kept pairs by construction.
    * @return per series: (series, n_obs, n_pairs, n_pos, p_e6) */
  def coxStuart(df: DataFrame, seriesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(seriesCol).cast("string"),
              col("ds").cast("timestamp").cast("long"),
              col("y").cast("long"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (key, it) =>
        val ys = it.toArray.sortBy(_._2).map(_._3)
        val n = ys.length
        val c = (n + 1) / 2
        var np = 0L
        var pos = 0L
        var i = 0
        while (i + c < n) {
          val d = ys(i + c) - ys(i)
          if (d != 0) { np += 1; if (d > 0) pos += 1 }
          i += 1
        }
        (key, n.toLong, np, pos, PairedRank.binomPE6(np, pos))
      }
      .toDF(seriesCol, "n_obs", "n_pairs", "n_pos", "p_e6")
  }
}
