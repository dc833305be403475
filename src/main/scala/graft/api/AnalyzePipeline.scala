package graft.api

import graft.forecast.Forecaster
import graft.forecast.Forecaster.ForecastRow
import graft.forecast.StructuralTS.FitSpec
import graft.stats.{Diagnostics, Granger}
import graft.ts.{Aggregations, TimeOps}
import java.sql.Timestamp
import java.time.ZoneId
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, TimestampType}

/** The `/analyze` dataflow (SURVEY §3.1) rebuilt Spark-first.
  *
  * The reference loops over correlations serially, fitting one Prophet at
  * a time (`app.py:102-250`, and due to the §2.9 bug only the FIRST ever
  * runs). Here a request is one keyed pass: every correlation's two sides
  * (covariate "from", target "to") are extracted and bucketed, one
  * grouped aggregate per distinct aggregation turns them into
  * `(series, side, ds, y)` histories, and one `groupByKey(series)` runs
  * [[kernel]] on each correlation's two sorted arrays. The kernel does
  * every per-correlation step and emits one tagged [[PassRow]] per output
  * record. Adding correlations adds rows, not stages: the plan shape is
  * constant and the cluster scales it.
  *
  * When every leaf of the branches' plan is a `LocalRelation` (the
  * documents of a parsed request are driver rows) the pass is planned on
  * one partition: one partition satisfies every grouping, so the
  * aggregates and the kernel need no exchange and the pass is one stage
  * of one task. Any other input (q41's table documents) keeps the
  * shuffled plan.
  *
  * Stage map (reference op → here):
  *   P0 parse            → `RequestParser.parse`: the body read on the
  *                         driver into one `LocalRelation` per document
  *   P1 extract          → [[extractSeries]] (dotted path on nested struct)
  *   T1/T2/T3 + A1       → `TimeOps.bucket` per side + `Aggregations.groupByTime`
  *   A5                  → kernel: horizons from the side lengths
  *   A3/A4               → kernel: cap stats and floor/cap [[resolve]]
  *   C6 + C3             → kernel: `Forecaster.futureGrid` + `Forecaster.forecast`
  *                         on the covariate
  *   J1 + J2             → kernel: observed covariate wins, forecast fills
  *   J3 / J4             → kernel: covariate aligned onto the target's
  *                         history (0 when absent) and future (dropped when absent)
  *   C4 + C8             → kernel: `Forecaster.forecast` with regressor on the target
  *   C7                  → kernel: `Forecaster.regressorCoefficients` of that model
  *   C1 + C2             → kernel: `Diagnostics.acfPacf` on both sides
  *   A2                  → kernel: date bounds and length per side
  *   C9 / C12            → kernel: `Granger.causality` / [[moments]], by type
  *   F1/F2               → `segment` column ("historical"/"future")
  */
object AnalyzePipeline {

  /** The pass's output. [[pass]] is a plan that has not run; the frames
    * library callers read are projections of it with their own schemas,
    * built on first use. Nothing is cached. */
  final class AnalyzeResult private[AnalyzePipeline] (
      val pass: Dataset[PassRow], correlations: Seq[CorrelationSpec], single: Boolean) {

    private def rows(field: String): DataFrame = pass.toDF().filter(col(field).isNotNull)

    /** (series, ds, segment, 13-col frame, x): the covariate forecast,
      * x the observed covariate where there is one, else the forecast. */
    lazy val covariateForecasts: DataFrame =
      rows("forecast").filter(col("side") === "from").select(col("forecast.*"), col("x"))
    /** (series, ds, segment, 13-col frame) */
    lazy val targetForecasts: DataFrame =
      rows("forecast").filter(col("side") === "to").select("forecast.*")
    /** (series, lag, acf, pacf, side) */
    lazy val diagnostics: DataFrame =
      rows("diagnostic").select(col("series"), col("diagnostic.*"), col("side"))
    /** (series, regressor_mode, center, coef bounds) */
    lazy val regressorCoefficients: DataFrame =
      rows("coefficient").select(col("series"), col("coefficient.*"))
    /** (series, side, min_ds, max_ds, n) */
    lazy val bounds: DataFrame = rows("bounds").select(col("series"), col("side"), col("bounds.*"))
    /** C9 per-lag F-tests for type=granger correlations. */
    lazy val granger: Option[DataFrame] =
      if (single || !correlations.exists(_.corrType == "granger")) None
      else Some(rows("granger").select(col("series"), col("granger.*"))
        .toDF("series" +: Granger.columns: _*))
    /** C12 per-side moments for type=univariateStatistics correlations. */
    lazy val univariate: Option[DataFrame] =
      if (single || !correlations.exists(_.corrType == "univariateStatistics")) None
      else Some(rows("univariate").select(col("series"), col("side"), col("univariate.*")))

    private lazy val fits: Map[String, Fit] =
      pass.filter(col("fit").isNotNull).collect().map(r => r.series -> r.fit).toMap
    /** id -> resolved target (floor, cap), for correlations with data. */
    lazy val fitBounds: Map[String, (Double, Double)] =
      fits.map { case (id, f) => id -> (f.floor, f.cap) }
    /** id -> honored (from, to) horizons, for correlations with data. */
    lazy val horizons: Map[String, (Int, Int)] =
      fits.map { case (id, f) => id -> (f.from_horizon, f.to_horizon) }

    /** Nothing to release: the result holds no cache. Idempotent. */
    def close(): Unit = ()
  }

  /** A C1/C2 lag. */
  case class Diagnostic(lag: Int, acf: Double, pacf: Double)
  /** C7 for one regressor. */
  case class Coefficient(regressor_mode: String, center: Double, coef_lower: Double,
                         coef: Double, coef_upper: Double)
  /** A2 for one side. */
  case class Bounds(min_ds: Timestamp, max_ds: Timestamp, n: Long)
  /** C12 for one side: Spark's `stddev_samp`, `skewness` and `kurtosis`,
    * None where those are null. */
  case class Moments(n: Long, mean: Double, std: Option[Double], min: Double, max: Double,
                     skewness: Option[Double], kurtosis: Option[Double])
  /** A3/A4 and A5 for one correlation: the target's resolved floor/cap and
    * the honored horizons. */
  case class Fit(floor: Double, cap: Double, from_horizon: Int, to_horizon: Int)

  /** One record of the pass: its correlation, its side ("from" or "to")
    * where it has one, and exactly one of the remaining fields, which
    * names the result it belongs to. `x` rides along with a covariate
    * `forecast`. */
  case class PassRow(series: String, side: String = null,
                     forecast: ForecastRow = null, x: Option[Double] = None,
                     diagnostic: Diagnostic = null, coefficient: Coefficient = null,
                     bounds: Bounds = null, granger: Granger.LagResult = null,
                     univariate: Moments = null, fit: Fit = null)

  // derived once: deriving a product encoder reflects over the type,
  // which would otherwise cost every request
  private val historyEncoder = Encoders.product[(String, String, Long, Double)]
  private val passEncoder = Encoders.product[PassRow]

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
              correlations: Seq[CorrelationSpec]): AnalyzeResult =
    build(documents, correlations, single = false)

  /** §3.3 `/saturating-growth/single` (`app.py:562-609`): fit the
    * TARGET series alone — no covariate extraction, no splice or
    * alignment, no regressor (the reference skips the J1/J2 branch
    * when `is_target=True` with no covariates, `app.py:478-483`).
    * Logistic floor/cap resolve from the series itself (A3/A4), same
    * as the bundle's cached `floor`/`ceiling` properties. */
  def analyzeSingle(documents: Map[String, DataFrame],
                    correlations: Seq[CorrelationSpec]): AnalyzeResult =
    build(documents, correlations, single = true)

  /** The pass, built and not run: per side a bucketed branch, per
    * distinct aggregation one grouped aggregate over its branches, then
    * [[kernel]] per correlation. */
  private def build(documents: Map[String, DataFrame], correlations: Seq[CorrelationSpec],
                    single: Boolean): AnalyzeResult = {
    requireValid(correlations)
    val branches = for {
      c <- correlations
      (side, docName, path) <- Seq(("from", c.fromData, c.fromIndex), ("to", c.toData, c.toIndex))
      if !single || side == "to"
    } yield {
      val doc = documents.getOrElse(docName,
        throw new IllegalArgumentException(s"unknown document: $docName"))
      Aggregations.normalizeAgg(c.aggregation) -> extractSeries(doc, c.dateColumn, path)
        .select(lit(c.id).as("series"), lit(side).as("side"),
                TimeOps.bucket(col("ds"), c.grain.map(TimeOps.normalizeGrain)).as("ds"), col("y"))
    }
    // driver rows are planned on one partition (see above)
    val local = branches.forall(_._2.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation]))
    def partitioned(df: DataFrame): DataFrame = if (local) df.coalesce(1) else df
    val histories = partitioned(branches.map(_._1).distinct.map { agg =>
      Aggregations.groupByTime(partitioned(branches.collect { case (a, b) if a == agg => b }
        .reduce(_ unionByName _)), None, agg, Seq("series", "side"))
    }.reduce(_ unionByName _))

    val specOf = correlations.map(c => c.id -> c).toMap
    // as today, the series' own cap stats count only when some
    // correlation of the request fits that side logistic
    val tgtStats = correlations.exists(_.growth == "logistic")
    val covStats = correlations.exists(_.covOptions.exists(_.growth == "logistic"))
    val zone = DateTimeUtils.getZoneId(
      histories.sparkSession.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))
    val pass = histories.select(col("series"), col("side"), unix_micros(col("ds")), col("y"))
      .as(historyEncoder)
      .groupByKey((r: (String, String, Long, Double)) => r._1)(Encoders.STRING)
      .flatMapGroups { (id, it) =>
        kernel(specOf(id), it.toArray, single, tgtStats, covStats, zone)
      }(passEncoder)
    new AnalyzeResult(pass, correlations, single)
  }

  /** Epoch microseconds as the model's epoch seconds, the way
    * `cast("double")` turns a timestamp into seconds. */
  private def secs(t: Array[Long]): Array[Double] = t.map(_ / 1e6)

  /** One side's history in time order: instants (epoch microseconds) and values. */
  private final case class Side(t: Array[Long], y: Array[Double]) {
    def n: Int = t.length
  }

  /** Every per-correlation step of the pass, on one correlation's
    * `(series, side, ds, y)` rows. */
  private def kernel(c: CorrelationSpec, rows: Array[(String, String, Long, Double)],
                     single: Boolean, tgtStats: Boolean, covStats: Boolean,
                     zone: ZoneId): Iterator[PassRow] = {
    def side(name: String): Side = {
      val r = rows.filter(_._2 == name).sortBy(_._3)
      Side(r.map(_._3), r.map(_._4))
    }
    val (cov, tgt) = (side("from"), side("to"))
    val id = c.id
    val grain = c.grain.map(TimeOps.normalizeGrain).getOrElse("D")
    def grid(s: Side, horizon: Int): Array[Long] =
      if (s.n == 0) Array.empty else Forecaster.futureGrid(s.t.last, grain, horizon, zone)
    val out = Iterator.newBuilder[PassRow]

    // A5: an unset horizon is the side's own length
    def horizon(s: Side): Int = c.unitsToForecast.getOrElse(math.max(s.n, 1))
    val (covH, tgtH) = (horizon(cov), horizon(tgt))
    // A3/A4: the target's bounds; §3.2 covariate-side options when
    // present, otherwise the covariate fits with the target's spec
    val tgtSpec = resolve(if (tgtStats) capStats(tgt.y) else None, c.floor, c.ceiling)(c.fitSpec)
    val covSpec = c.covOptions.map(o =>
      resolve(if (covStats) capStats(cov.y) else None, o.floor, o.ceiling)(o.fitSpec))
      .getOrElse(tgtSpec)

    // C6 + C3, then J1 + J2: the observed covariate wins, the forecast
    // fills the future
    val covAll = cov.t ++ grid(cov, covH)
    val covFit =
      if (single) None
      else Forecaster.forecast(id, secs(cov.t), cov.y, None, secs(covAll), None, covSpec)
    val covX: Map[Long, Double] = covFit.fold(Map.empty[Long, Double]) { case (_, fc) =>
      val x = Array.tabulate(covAll.length)(i => if (i < cov.n) cov.y(i) else fc(i).yhat)
      fc.indices.foreach(i => out += PassRow(id, "from", forecast = fc(i), x = Some(x(i))))
      covAll.zip(x).toMap
    }

    // J3: the target's history takes the covariate at its dates, else 0;
    // J4: target future dates beyond the covariate's coverage are dropped
    // (the reference's dropna). C4 + C8 fit the target with the
    // covariate as regressor, and C7 reads that model.
    val tgtX = tgt.t.map(covX.getOrElse(_, 0.0))
    val tgtFuture = if (single) grid(tgt, tgtH) else grid(tgt, tgtH).filter(covX.contains)
    val tgtAll = tgt.t ++ tgtFuture
    Forecaster.forecast(id, secs(tgt.t), tgt.y, Option.when(!single)(tgtX), secs(tgtAll),
                        Option.when(!single)(tgtX ++ tgtFuture.map(covX)), tgtSpec)
      .foreach { case (model, fc) =>
        fc.foreach(r => out += PassRow(id, "to", forecast = r))
        if (!single) Forecaster.regressorCoefficients(model).foreach { case (m, ctr, lo, cf, hi) =>
          out += PassRow(id, coefficient = Coefficient(m, ctr, lo, cf, hi))
        }
      }

    // C1/C2 and A2 per side with data
    for ((name, s) <- Seq("from" -> cov, "to" -> tgt) if s.n > 0) {
      Diagnostics.acfPacf(s.y, None).foreach { case (lag, a, p) =>
        out += PassRow(id, name, diagnostic = Diagnostic(lag, a, p))
      }
      out += PassRow(id, name, bounds = Bounds(DateTimeUtils.toJavaTimestamp(s.t.head),
                                               DateTimeUtils.toJavaTimestamp(s.t.last), s.n))
    }

    // C9 for type="granger": the notebook prototype (`Untitled.ipynb`
    // cell 12) runs `granger_causality_tests(remove_trend(from),
    // remove_trend(to), maxlag=14)`, from the CAUSE and to the EFFECT,
    // here on the aligned pair (target, spliced covariate). Lags that run
    // out of degrees of freedom are dropped inside the test.
    if (!single && c.corrType == "granger" && tgt.n > 0)
      Granger.causality(secs(tgt.t), tgt.y, tgtX, maxlag = 14, detrend = true)
        .foreach(r => out += PassRow(id, granger = r))
    // C12 for type="univariateStatistics" (the Literal's last member,
    // declared but unshipped in the reference): the q19 moment bundle
    // per side over the aggregated series
    if (!single && c.corrType == "univariateStatistics")
      for ((name, s) <- Seq("from" -> cov, "to" -> tgt) if s.n > 0)
        out += PassRow(id, name, univariate = moments(s.y))

    out += PassRow(id, fit = Fit(tgtSpec.floor, tgtSpec.cap,
                                 if (single) tgtH else covH, tgtH))
    out.result()
  }

  /** A side's (max, sample stddev, min) for resolving logistic bounds
    * (A3/A4); None for an empty side. The stddev is `stddev_samp`'s
    * (pandas `.std()`, ddof=1), 0 for a single point. */
  private def capStats(y: Array[Double]): Option[(Double, Double, Double)] =
    if (y.isEmpty) None
    else {
      val mean = y.sum / y.length
      val sd = if (y.length < 2) 0.0
               else math.sqrt(y.map(v => (v - mean) * (v - mean)).sum / (y.length - 1))
      Some((y.max, sd, y.min))
    }

  /** `fitSpec(floor, cap)`: the user's floor unless the series goes lower;
    * the user's ceiling, else max + 3 sd, unless the series goes higher.
    * Without stats (linear growth, or no data) max 1 and sd, min 0. */
  private def resolve(stats: Option[(Double, Double, Double)], userFloor: Double,
                      userCeiling: Option[Double])
                     (fitSpec: (Double, Double) => FitSpec): FitSpec = {
    val (mx, sd, mn) = stats.getOrElse((1.0, 0.0, 0.0))
    fitSpec(math.min(userFloor, mn),
            math.max(userCeiling.getOrElse(mx + 3 * (if (sd.isNaN) 0.0 else sd)), mx))
  }

  /** C12: count, mean, sample stddev, min, max, and the population
    * skewness and excess kurtosis (pandas describe-family defaults), with
    * Spark's nulls: stddev for one point, the higher moments for a
    * constant series. */
  private def moments(y: Array[Double]): Moments = {
    val n = y.length.toDouble
    val mean = y.sum / n
    var (m2, m3, m4) = (0.0, 0.0, 0.0)
    for (v <- y) {
      val d = v - mean
      m2 += d * d; m3 += d * d * d; m4 += d * d * d * d
    }
    Moments(y.length, mean, Option.when(n > 1)(math.sqrt(m2 / (n - 1))), y.min, y.max,
            Option.when(m2 != 0)(math.sqrt(n) * m3 / math.sqrt(m2 * m2 * m2)),
            Option.when(m2 != 0)(n * m4 / (m2 * m2) - 3.0))
  }
}
