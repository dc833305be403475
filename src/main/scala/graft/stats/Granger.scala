package graft.stats

import graft.forecast.LinAlg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Granger causality (SURVEY §2.7 C9 — declared in the reference's enum
  * at `app.py:33`, prototyped in `Untitled.ipynb` cell 12 via
  * `granger_causality_tests(remove_trend(from), remove_trend(to), 14)`).
  *
  * Implements ALL FOUR statistics the notebook's statsmodels call emits
  * per lag: for each lag k ≤ maxlag,
  *   restricted:   e_t ~ const + e_{t-1..t-k}
  *   unrestricted: e_t ~ const + e_{t-1..t-k} + c_{t-1..t-k}
  *   ssr_ftest:    F = ((SSR_r − SSR_u)/k) / (SSR_u/(n − 2k − 1))
  *   ssr_chi2test: χ² = n·(SSR_r − SSR_u)/SSR_u, df = k
  *   lrtest:       LR = n·(ln SSR_r − ln SSR_u), df = k (−2Δloglik for
  *                 Gaussian OLS — the σ̂² terms collapse to the SSR ratio)
  *   params_ftest: Wald F on the joint zero restriction of the k cause
  *                 coefficients — (Rβ)'[R(X'X)⁻¹R']⁻¹(Rβ)/(k·σ̂²),
  *                 computed independently from the SSR route (equal to
  *                 ssr_ftest for OLS up to numerical precision, which
  *                 is the statsmodels-documented relationship and is
  *                 test-pinned here)
  * "cause Granger-causes effect" when the statistics are large (small
  * p). F p-values via the regularized incomplete beta, χ² p-values via
  * the regularized upper incomplete gamma — pure JVM, deterministic.
  */
object Granger {

  case class LagResult(lag: Int, fStat: Double, pValue: Double, dfNum: Int, dfDenom: Int,
                       chi2: Double, pChi2: Double, lr: Double, pLr: Double,
                       paramsF: Double, paramsP: Double)

  /** OLS SSR for the given design rows (tiny ridge for numerical safety). */
  private def ssr(rows: Array[Array[Double]], y: Array[Double]): Double = {
    val p = rows(0).length
    val beta = LinAlg.ridge(rows, y, Array.fill(p)(1e-10))
    var s = 0.0
    var i = 0
    while (i < rows.length) {
      var pred = 0.0
      var j = 0
      while (j < p) { pred += rows(i)(j) * beta(j); j += 1 }
      val r = y(i) - pred
      s += r * r
      i += 1
    }
    s
  }

  /** Per-lag F tests of `cause` → `effect` (aligned arrays, time order). */
  def test(effect: Array[Double], cause: Array[Double], maxlag: Int): Seq[LagResult] = {
    require(effect.length == cause.length, "series must be aligned")
    val n0 = effect.length
    (1 to maxlag).flatMap { k =>
      val n = n0 - k
      val dfDenom = n - 2 * k - 1
      if (dfDenom <= 0) None
      else {
        val y = Array.tabulate(n)(i => effect(i + k))
        val restricted = Array.tabulate(n) { i =>
          val row = new Array[Double](1 + k)
          row(0) = 1.0
          var j = 0
          while (j < k) { row(1 + j) = effect(i + k - 1 - j); j += 1 }
          row
        }
        val unrestricted = Array.tabulate(n) { i =>
          val row = new Array[Double](1 + 2 * k)
          row(0) = 1.0
          var j = 0
          while (j < k) {
            row(1 + j) = effect(i + k - 1 - j)
            row(1 + k + j) = cause(i + k - 1 - j)
            j += 1
          }
          row
        }
        val ssrR = ssr(restricted, y)
        val ssrU = ssr(unrestricted, y)
        val f = if (ssrU <= 0) Double.PositiveInfinity
                else ((ssrR - ssrU) / k) / (ssrU / dfDenom)
        val p = if (f.isInfinite) 0.0 else fSurvival(f, k, dfDenom)
        // statsmodels' other three: χ² scales the SSR drop by n (not by
        // dfDenom), LR is the Gaussian log-likelihood-ratio, and the
        // Wald form re-derives the F from the coefficient covariance
        val chi2 = if (ssrU <= 0) Double.PositiveInfinity
                   else n * (ssrR - ssrU) / ssrU
        val pChi2 = if (chi2.isInfinite) 0.0 else chiSqSurvival(chi2, k)
        val lr = if (ssrU <= 0 || ssrR <= 0) Double.PositiveInfinity
                 else n * (math.log(ssrR) - math.log(ssrU))
        val pLr = if (lr.isInfinite) 0.0 else chiSqSurvival(lr, k)
        val pf = if (ssrU <= 0) Double.PositiveInfinity
                 else waldF(unrestricted, y, k, ssrU, dfDenom)
        val pp = if (pf.isInfinite) 0.0 else fSurvival(pf, k, dfDenom)
        Some(LagResult(k, f, p, k, dfDenom, chi2, pChi2, lr, pLr, pf, pp))
      }
    }
  }

  /** Wald F for the joint restriction "the last k coefficients of the
    * design are zero": (Rβ)'[R(X'X)⁻¹R']⁻¹(Rβ) / (k·σ̂²) with σ̂² =
    * SSR_u/dfDenom. The tail block of (X'X)⁻¹ is built by solving
    * against the tail unit vectors (k solves of a p×p system, p =
    * 2k+1 — trivial at Granger lags); the same 1e-10 ridge as [[ssr]]
    * keeps degenerate designs finite. */
  private def waldF(rows: Array[Array[Double]], y: Array[Double], k: Int,
                    ssrU: Double, dfDenom: Int): Double = {
    val p = rows(0).length
    val n = rows.length
    val xtx = Array.ofDim[Double](p, p)
    val xty = new Array[Double](p)
    var i = 0
    while (i < n) {
      val r = rows(i)
      var a = 0
      while (a < p) {
        xty(a) += r(a) * y(i)
        var b = 0
        while (b < p) { xtx(a)(b) += r(a) * r(b); b += 1 }
        a += 1
      }
      i += 1
    }
    var d = 0
    while (d < p) { xtx(d)(d) += 1e-10; d += 1 }
    def solve(b: Array[Double]): Array[Double] =
      LinAlg.solveInPlace(xtx.map(_.clone()), b.clone())
    val beta = solve(xty)
    val tail = p - k
    val invCols = (0 until k).map { j =>
      val e = new Array[Double](p); e(tail + j) = 1.0
      solve(e)
    }
    val cSub = Array.tabulate(k, k)((r2, c2) => invCols(c2)(tail + r2))
    val w = Array.tabulate(k)(j => beta(tail + j))
    val z = LinAlg.solveInPlace(cSub.map(_.clone()), w.clone())
    var quad = 0.0
    var j = 0
    while (j < k) { quad += w(j) * z(j); j += 1 }
    quad / k / (ssrU / dfDenom)
  }

  /** P(χ²_df > x) = Q(df/2, x/2), the regularized UPPER incomplete
    * gamma — series for P below the a+1 crossover, Lentz continued
    * fraction for Q above it (the standard numerical split; reuses
    * [[logGamma]]). Closed forms pin it in GrangerSpec: df=2 →
    * exp(−x/2), df=4 → exp(−x/2)(1 + x/2). */
  def chiSqSurvival(x: Double, df: Int): Double = {
    require(df >= 1, s"chi-square df must be positive, got $df")
    if (x <= 0) return 1.0
    val a = df / 2.0
    val xh = x / 2.0
    if (xh < a + 1) 1.0 - gammaPSeries(a, xh) else gammaQCf(a, xh)
  }

  private def gammaPSeries(a: Double, x: Double): Double = {
    var ap = a
    var sum = 1.0 / a
    var del = sum
    var it = 0
    while (it < 500 && math.abs(del) >= math.abs(sum) * 1e-15) {
      ap += 1
      del *= x / ap
      sum += del
      it += 1
    }
    sum * math.exp(-x + a * math.log(x) - logGamma(a))
  }

  private def gammaQCf(a: Double, x: Double): Double = {
    val fpmin = 1e-300
    var b = x + 1 - a
    var c = 1 / fpmin
    var d = 1 / b
    var h = d
    var i = 1
    var del = 0.0
    do {
      val an = -i * (i - a)
      b += 2
      d = an * d + b; if (math.abs(d) < fpmin) d = fpmin
      c = b + an / c; if (math.abs(c) < fpmin) c = fpmin
      d = 1 / d
      del = d * c
      h *= del
      i += 1
    } while (i <= 500 && math.abs(del - 1.0) >= 1e-15)
    math.exp(-x + a * math.log(x) - logGamma(a)) * h
  }

  /** P(F_{d1,d2} > f) via the regularized incomplete beta function. */
  def fSurvival(f: Double, d1: Int, d2: Int): Double = {
    if (f <= 0) return 1.0
    val x = d2 / (d2 + d1 * f)
    regIncBeta(d2 / 2.0, d1 / 2.0, x)
  }

  /** Regularized incomplete beta I_x(a,b), Lentz continued fraction. */
  def regIncBeta(a: Double, b: Double, x: Double): Double = {
    if (x <= 0) return 0.0
    if (x >= 1) return 1.0
    val lbeta = logGamma(a) + logGamma(b) - logGamma(a + b)
    val front = math.exp(a * math.log(x) + b * math.log(1 - x) - lbeta)
    if (x < (a + 1) / (a + b + 2)) front * betacf(a, b, x) / a
    else 1.0 - regIncBeta(b, a, 1 - x)
  }

  private def betacf(a: Double, b: Double, x: Double): Double = {
    val eps = 1e-14
    val fpmin = 1e-300
    val qab = a + b; val qap = a + 1; val qam = a - 1
    var c = 1.0
    var d = 1 - qab * x / qap
    if (math.abs(d) < fpmin) d = fpmin
    d = 1 / d
    var h = d
    var m = 1
    while (m <= 300) {
      val m2 = 2 * m
      var aa = m * (b - m) * x / ((qam + m2) * (a + m2))
      d = 1 + aa * d; if (math.abs(d) < fpmin) d = fpmin
      c = 1 + aa / c; if (math.abs(c) < fpmin) c = fpmin
      d = 1 / d; h *= d * c
      aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
      d = 1 + aa * d; if (math.abs(d) < fpmin) d = fpmin
      c = 1 + aa / c; if (math.abs(c) < fpmin) c = fpmin
      d = 1 / d
      val del = d * c
      h *= del
      if (math.abs(del - 1.0) < eps) return h
      m += 1
    }
    h
  }

  /** Lanczos log-gamma. */
  def logGamma(xx: Double): Double = {
    val cof = Array(76.18009172947146, -86.50532032941677, 24.01409824083091,
                    -1.231739572450155, 0.1208650973866179e-2, -0.5395239384953e-5)
    val x = xx
    var y = xx
    val tmp0 = x + 5.5
    val tmp = tmp0 - (x + 0.5) * math.log(tmp0)
    var ser = 1.000000000190015
    var j = 0
    while (j < 6) { y += 1; ser += cof(j) / y; j += 1 }
    -tmp + math.log(2.5066282746310005 * ser / x)
  }

  /** Per-series OLS linear detrend: fit v ~ a + b·t, return residuals.
    * An additive-linear APPROXIMATION of the notebook's `remove_trend`
    * intent (`Untitled.ipynb` cell 12) — darts' `remove_trend` defaults
    * to dividing out a decomposition-extracted trend (multiplicative),
    * and the notebook also skips granger for series shorter than 14
    * points; neither exact behavior is mirrored here (the reference
    * never serves this path, so there is no wire contract to match).
    * Runs in-JVM on one already-grouped series — no extra shuffle. */
  private def detrendArr(t: Array[Double], v: Array[Double]): Array[Double] = {
    val n = v.length
    if (n < 2) return v.clone()
    var st = 0.0; var sv = 0.0; var stt = 0.0; var stv = 0.0
    var i = 0
    while (i < n) { st += t(i); sv += v(i); stt += t(i) * t(i); stv += t(i) * v(i); i += 1 }
    val den = n * stt - st * st
    if (den == 0.0) return v.map(_ - sv / n)
    val slope = (n * stv - st * sv) / den
    val icept = (sv - slope * st) / n
    Array.tabulate(n)(i => v(i) - (icept + slope * t(i)))
  }

  /** DataFrame form: per series, test x → y at lags 1..maxlag. Input
    * (series, ds, y, x) aligned rows; output one row per (series, lag).
    * `detrend = true` removes a per-series linear trend from BOTH sides
    * first, approximating the notebook's
    * `granger_causality_tests(remove_trend(from), remove_trend(to))`
    * (see [[detrendArr]] for where the approximation diverges from the
    * darts default). */
  def causality(df: DataFrame, maxlag: Int, seriesCol: String = "series",
                detrend: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(seriesCol).cast("string"),
              col("ds").cast("timestamp").cast("double"),
              col("y").cast("double"), col("x").cast("double"))
      .as[(String, Double, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val rows = it.toArray.sortBy(_._2)
        causality(rows.map(_._2), rows.map(_._3), rows.map(_._4), maxlag, detrend).iterator
          .map(r => (key, r.lag, r.fStat, r.pValue, r.dfNum, r.dfDenom,
                     r.chi2, r.pChi2, r.lr, r.pLr, r.paramsF, r.paramsP))
      }
      .toDF(seriesCol +: columns: _*)
  }

  /** The columns of [[causality]]'s frame after the series key, one per
    * [[LagResult]] field in order. */
  val columns: Seq[String] = Seq("lag", "f_stat", "p_value", "df_num", "df_denom",
    "ssr_chi2", "p_chi2", "lr_stat", "p_lr", "params_f", "p_params_f")

  /** [[causality]]'s body for one series: `cause` → `effect` at lags
    * 1..maxlag over aligned arrays at the instants `ts` (ascending). */
  def causality(ts: Array[Double], effect: Array[Double], cause: Array[Double],
                maxlag: Int, detrend: Boolean): Seq[LagResult] =
    if (detrend) test(detrendArr(ts, effect), detrendArr(ts, cause), maxlag)
    else test(effect, cause, maxlag)
}
