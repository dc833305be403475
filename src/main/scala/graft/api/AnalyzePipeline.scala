package graft.api

import graft.forecast.Forecaster
import graft.forecast.StructuralTS.FitSpec
import graft.queries.cacheOnce
import graft.stats.Diagnostics
import graft.ts.{Aggregations, TimeOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampType}

/** The `/analyze` dataflow (SURVEY §3.1) rebuilt Spark-first.
  *
  * The reference loops over correlations serially, fitting one Prophet at
  * a time (`app.py:102-250`, and due to the §2.9 bug only the FIRST ever
  * runs). Here every correlation becomes two tagged series (covariate,
  * target) in two unioned frames; each stage — grain aggregation,
  * covariate forecast, observed-splice, target alignment, target
  * forecast-with-regressor, ACF/PACF — runs ONCE over all series,
  * partitioned by the correlation id. Adding correlations adds rows, not
  * stages: the plan shape is constant and the cluster scales it.
  *
  * Stage map (reference op → here):
  *   P1 extract          → [[extractSeries]] (dotted path on nested struct)
  *   T1/T2/T3 + A1 + A5  → `Aggregations.groupByTime` + driver-side counts
  *   C3 + C6             → `Forecaster.forecast/futureGrid` on covariates
  *   J1 + J2             → observed-splice left join + coalesce
  *   J3 / J4             → covariate alignment joins (broadcast)
  *   C4 + C8             → `Forecaster.forecast` with regressor on targets
  *   C1 + C2             → `Diagnostics.acfPacf` on both sides
  *   C7                  → `Forecaster.regressorCoefficients`
  *   F1/F2               → `segment` column ("historical"/"future")
  */
object AnalyzePipeline {

  case class AnalyzeResult(
      covariateForecasts: DataFrame, // (series, ds, segment, spliced 13-col frame)
      targetForecasts: DataFrame,    // (series, ds, segment, 13-col frame)
      diagnostics: DataFrame,        // (series, side, lag, acf, pacf)
      regressorCoefficients: DataFrame, // (series, regressor_mode, center, coef bounds)
      bounds: DataFrame,             // (series, side, min_ds, max_ds, n)
      fitBounds: Map[String, (Double, Double)] = Map.empty, // id -> resolved (floor, cap)
      horizons: Map[String, (Int, Int)] = Map.empty, // id -> honored (from, to) horizons
      granger: Option[DataFrame] = None, // C9 per-lag F-tests for type=granger correlations
      univariate: Option[DataFrame] = None, // C12 per-side moments for type=univariateStatistics
      cachedFrames: Seq[DataFrame] = Nil) { // request-scoped caches, released by close()

    /** Release the request-scoped caches (per-request histories/splice).
      * Each `analyze` call caches frames built from THAT request's data —
      * distinct canonicalized plans per request — so a long-lived session
      * serving many requests would otherwise accumulate CacheManager
      * entries unboundedly. Call after the result frames are consumed;
      * the result frames stay valid afterwards (they recompute from
      * source if re-evaluated). Idempotent. */
    def close(): Unit = cachedFrames.foreach(_.unpersist())
  }

  private val PathPattern = "^[A-Za-z0-9_]+(\\.[A-Za-z0-9_]+)*$".r

  /** P1: project (ds, y) out of a document frame; `path` is the dotted
    * path the reference resolves with `pydash.get` (`app.py:111`) — on a
    * Spark nested struct that is successive field accesses. The path
    * comes from untrusted request JSON, so it is validated against a
    * strict identifier pattern and resolved via `getField` chaining —
    * never `expr()`, which would evaluate arbitrary SQL (pydash.get is
    * a pure lookup; so is this). */
  def extractSeries(doc: DataFrame, dateCol: String, path: String): DataFrame = {
    require(PathPattern.matches(path),
      s"invalid series path (expected dotted identifiers): $path")
    val ds = doc.schema(dateCol).dataType match {
      case TimestampType => col(dateCol)
      case StringType    => TimeOps.parseTimestamp(col(dateCol))
      case _             => col(dateCol).cast("timestamp")
    }
    val parts = path.split('.')
    val y = parts.tail.foldLeft(col(parts.head))(_ getField _)
    doc.select(ds.as("ds"), y.cast("double").as("y"))
      .filter(col("ds").isNotNull && col("y").isNotNull)
  }

  /** One `(series, ds, y)` history per correlation, unioned: the
    * `side` (document, path) of each, at its grain and aggregation. */
  private def histories(documents: Map[String, DataFrame], correlations: Seq[CorrelationSpec],
                        side: CorrelationSpec => (String, String)): DataFrame =
    correlations.map { c =>
      val (docName, path) = side(c)
      val doc = documents.getOrElse(docName,
        throw new IllegalArgumentException(s"unknown document: $docName"))
      Aggregations.groupByTime(
          extractSeries(doc, c.dateColumn, path), c.grain.map(TimeOps.normalizeGrain),
          c.aggregation)
        .select(lit(c.id).as("series"), col("ds"), col("y"))
    }.reduce(_ unionByName _)

  /** A5: the horizon defaults to the side's post-aggregation length
    * (`prepare_dataset` is called per side, `app.py:115-120/158-163`, so
    * the covariate grid runs len(cov) periods and the target grid
    * len(target) periods). The per-series counts are a handful of
    * scalars, and the job is skipped when every correlation specifies
    * unitsToForecast (the common case). */
  private def horizons(correlations: Seq[CorrelationSpec], hist: DataFrame): Map[String, Int] = {
    val counts =
      if (correlations.forall(_.unitsToForecast.isDefined)) Map.empty[String, Int]
      else hist.groupBy("series").count().collect()
        .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    correlations.map(c => c.id -> c.unitsToForecast.getOrElse(counts.getOrElse(c.id, 1))).toMap
  }

  /** Per-series (max, stddev, min) for resolving logistic bounds (A3/A4):
    * the reference computes floor/ceiling only for logistic growth
    * (`app.py:354-364`), each side from ITS OWN series (the bundle's self
    * floor/ceiling, app.py:503-538); without logistic growth the job is
    * skipped (cap/floor are unused by the linear trend). */
  private def capStatsOf(hist: DataFrame, anyLogistic: Boolean): Map[String, (Double, Double, Double)] =
    if (!anyLogistic) Map.empty
    else hist.groupBy("series")
      .agg(max("y").as("mx"), stddev_samp("y").as("sd"), min("y").as("mn"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap

  /** `fitSpec(floor, cap)`: the user's floor unless the series goes lower;
    * the user's ceiling, else max + 3 sd, unless the series goes higher. */
  private def resolve(stats: Map[String, (Double, Double, Double)], id: String,
                      userFloor: Double, userCeiling: Option[Double])
                     (fitSpec: (Double, Double) => FitSpec): FitSpec = {
    val (mx, sd, mn) = stats.getOrElse(id, (1.0, 0.0, 0.0))
    fitSpec(math.min(userFloor, mn),
            math.max(userCeiling.getOrElse(mx + 3 * (if (sd.isNaN) 0.0 else sd)), mx))
  }

  /** Each correlation's target fit spec, with its bounds resolved. */
  private def targetSpecs(correlations: Seq[CorrelationSpec],
                          stats: Map[String, (Double, Double, Double)]): Map[String, FitSpec] =
    correlations.map(c => c.id -> resolve(stats, c.id, c.floor, c.ceiling)(c.fitSpec)).toMap

  /** The future grid of every series; grains can differ per
    * correlation, so one grid per distinct grain. */
  private def gridFor(correlations: Seq[CorrelationSpec], hist: DataFrame,
                      horizons: Map[String, Int]): DataFrame = {
    val grainOf = correlations
      .map(c => c.id -> c.grain.map(TimeOps.normalizeGrain).getOrElse("D")).toMap
    grainOf.values.toSeq.distinct.map { g =>
      val ids = grainOf.collect { case (id, gg) if gg == g => id }.toSeq
      Forecaster.futureGrid(hist.filter(col("series").isin(ids: _*)), g,
                            horizon = 1, horizonOverrides = horizons)
    }.reduce(_ unionByName _)
  }

  /** The histories tagged with their `side` ("from" or "to"), unioned. */
  private def bySide(hists: Seq[(String, DataFrame)]): DataFrame =
    hists.map { case (side, hist) => hist.withColumn("side", lit(side)) }.reduce(_ unionByName _)

  /** A2: date bounds and length per series and side. */
  private def boundsOf(hists: Seq[(String, DataFrame)]): DataFrame =
    bySide(hists).groupBy("series", "side")
      .agg(min("ds").as("min_ds"), max("ds").as("max_ds"), count(lit(1)).as("n"))

  /** Both entry points take correlations whose ids name their series:
    * two correlations with one id (a missing id defaults to "c0") would
    * be unioned into one series, fitted as one model and returned as
    * one entry. */
  private def requireValid(correlations: Seq[CorrelationSpec]): Unit = {
    require(correlations.nonEmpty, "no correlations requested")
    val dups = correlations.groupBy(_.id).collect { case (id, cs) if cs.size > 1 => id }
    require(dups.isEmpty, s"duplicate correlation id: ${dups.toSeq.sorted.mkString(", ")} " +
      "(each correlation needs its own id)")
  }

  def analyze(documents: Map[String, DataFrame],
              correlations: Seq[CorrelationSpec]): AnalyzeResult = {
    requireValid(correlations)
    val covHist = cacheOnce(histories(documents, correlations, c => (c.fromData, c.fromIndex)))
    val tgtHist = cacheOnce(histories(documents, correlations, c => (c.toData, c.toIndex)))
    val covHorizons = horizons(correlations, covHist)
    val tgtHorizons = horizons(correlations, tgtHist)

    val capStats = capStatsOf(tgtHist, correlations.exists(_.growth == "logistic"))
    val covCapStats = capStatsOf(covHist,
      correlations.exists(_.covOptions.exists(_.growth == "logistic")))
    val specOverrides = targetSpecs(correlations, capStats)
    // §3.2 covariate-side options (ForecastingOptions.fromIndex) when
    // present; otherwise the covariate fits with the correlation's spec
    // (the /analyze behavior: one changepoint prior for both fits)
    val covSpecOverrides = correlations.map(c => c.id -> c.covOptions
      .map(o => resolve(covCapStats, c.id, o.floor, o.ceiling)(o.fitSpec))
      .getOrElse(specOverrides(c.id))).toMap
    val defaultSpec = specOverrides(correlations.head.id)
    val defaultCovSpec = covSpecOverrides(correlations.head.id)

    // C3: covariate forecasts over history + future (covariate-side spec)
    val covForecast = Forecaster.forecast(covHist, gridFor(correlations, covHist, covHorizons),
                                          defaultCovSpec, "series", covSpecOverrides)

    // J1+J2: observed covariate wins, forecast fills the future
    val covSpliced = cacheOnce(covForecast
      .join(covHist.select(col("series"), col("ds"), col("y")), Seq("series", "ds"), "left")
      .withColumn("x", coalesce(col("y"), col("yhat")))
      .drop("y"))

    // J3 (history) / J4-as-inner (future): align covariate onto target
    val covX = covSpliced.select(col("series"), col("ds"), col("x"))
    val tgtHistX = tgtHist.join(covX, Seq("series", "ds"), "left")
      .withColumn("x", coalesce(col("x"), lit(0.0)))
    // J4-as-inner also reproduces the reference's dropna: target-future
    // dates beyond the covariate's forecast coverage are dropped
    val tgtFuture = gridFor(correlations, tgtHist, tgtHorizons)
      .join(covX, Seq("series", "ds"), "inner")

    // C4/C8: target forecast with the covariate as regressor
    val tgtForecast = Forecaster.forecast(tgtHistX, tgtFuture,
                                          defaultSpec, "series", specOverrides)

    // C1/C2 diagnostics on both sides
    val diag = Diagnostics.acfPacf(covHist, "series").withColumn("side", lit("from"))
      .unionByName(Diagnostics.acfPacf(tgtHist, "series").withColumn("side", lit("to")))

    // C7 regressor coefficients
    val coefs = Forecaster.regressorCoefficients(tgtHistX, defaultSpec, "series", specOverrides)

    // C9 for type="granger" correlations: the notebook prototype
    // (`Untitled.ipynb` cell 12) runs
    // `granger_causality_tests(remove_trend(from), remove_trend(to),
    // maxlag=14)` — from is the CAUSE, to the EFFECT. tgtHistX already
    // holds exactly that aligned pair (y = target, x = spliced
    // covariate), so the tests reuse the pipeline's joins: one extra
    // keyed flatMapGroups over only the granger-typed series, no new
    // wide shuffle. Lags that run out of degrees of freedom are dropped
    // inside the test (short series yield fewer than 14 rows).
    val grangerIds = correlations.filter(_.corrType == "granger").map(_.id)
    val granger: Option[DataFrame] =
      if (grangerIds.isEmpty) None
      else Some(graft.stats.Granger.causality(
        tgtHistX.filter(col("series").isin(grangerIds: _*)),
        maxlag = 14, detrend = true))

    // C12 for type="univariateStatistics" correlations (the Literal's
    // last member, also declared-but-unshipped in the reference): the
    // q19 moment bundle per side over the aggregated series — one
    // grouped agg over already-built frames. Spark's skewness/kurtosis
    // are the population / excess-population estimators (pandas
    // describe-family defaults).
    val uniIds = correlations.filter(_.corrType == "univariateStatistics").map(_.id)
    val univariate: Option[DataFrame] =
      if (uniIds.isEmpty) None
      else Some(bySide(Seq("from" -> covHist, "to" -> tgtHist))
        .filter(col("series").isin(uniIds: _*))
        .groupBy("series", "side")
        .agg(count(lit(1)).as("n"), avg("y").as("mean"),
             stddev_samp("y").as("std"), min("y").as("min"), max("y").as("max"),
             skewness(col("y")).as("skewness"), kurtosis(col("y")).as("kurtosis")))

    val bounds = boundsOf(Seq("from" -> covHist, "to" -> tgtHist))

    AnalyzeResult(covSpliced, tgtForecast, diag, coefs, bounds,
                  specOverrides.map { case (id, s) => id -> (s.floor, s.cap) },
                  correlations.map(c =>
                    c.id -> (covHorizons(c.id), tgtHorizons(c.id))).toMap,
                  granger = granger, univariate = univariate,
                  cachedFrames = Seq(covHist, tgtHist, covSpliced))
  }

  /** §3.3 `/saturating-growth/single` (`app.py:562-609`): fit the
    * TARGET series alone — no covariate extraction, no splice or
    * alignment, no regressor (the reference skips the J1/J2 branch
    * when `is_target=True` with no covariates, `app.py:478-483`).
    * Logistic floor/cap resolve from the series itself (A3/A4), same
    * as the bundle's cached `floor`/`ceiling` properties. */
  def analyzeSingle(documents: Map[String, DataFrame],
                    correlations: Seq[CorrelationSpec]): AnalyzeResult = {
    requireValid(correlations)
    val hist = cacheOnce(histories(documents, correlations, c => (c.toData, c.toIndex)))
    val horizon = horizons(correlations, hist)
    val specOverrides = targetSpecs(correlations,
      capStatsOf(hist, correlations.exists(_.growth == "logistic")))
    val forecast = Forecaster.forecast(hist, gridFor(correlations, hist, horizon),
      specOverrides(correlations.head.id), "series", specOverrides)
    val diag = Diagnostics.acfPacf(hist, "series").withColumn("side", lit("to"))

    AnalyzeResult(forecast.limit(0), forecast, diag,
                  forecast.sparkSession.emptyDataFrame, boundsOf(Seq("to" -> hist)),
                  specOverrides.map { case (id, s) => id -> (s.floor, s.cap) },
                  horizon.map { case (id, h) => id -> (h, h) },
                  cachedFrames = Seq(hist))
  }
}
