package graft.forecast

import java.time.ZoneId
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._

/** DataFrame-facing forecast operator (SURVEY §2.7 C3-C6, C8).
  *
  * The reference fits one Prophet per correlation in a serial loop
  * (`app.py:102`); here the series key partitions the work: every series
  * is fitted independently inside one `flatMapGroups` pass, so a million
  * series parallelize across executors with a single shuffle on the
  * series key. Per-task memory is bounded by the longest single series
  * (post grain-aggregation), never by table size.
  */
object Forecaster {

  /** Prophet's public 13-column forecast frame + keys (P3 rename map at
    * `app.py:336-352` is applied by the API layer, not here). */
  case class ForecastRow(series: String, ds: java.sql.Timestamp, segment: String,
                         yhat: Double, yhat_lower: Double, yhat_upper: Double,
                         trend: Double, trend_lower: Double, trend_upper: Double,
                         additive_terms: Double, additive_terms_lower: Double,
                         additive_terms_upper: Double,
                         multiplicative_terms: Double, multiplicative_terms_lower: Double,
                         multiplicative_terms_upper: Double,
                         quantile_values: Seq[Double])

  /** Fit per series on `history` (series, ds, y[, x]) and predict over
    * history ∪ `future` (series, ds[, x]) — the reference predicts on the
    * full `make_future_dataframe` grid (`app.py:132-137`). `future` rows
    * must carry regressor values when `history` does (J3/J4 alignment is
    * the caller's concern, as in the reference). */
  def forecast(history: DataFrame, future: DataFrame, spec: StructuralTS.FitSpec,
               seriesCol: String = "series",
               specOverrides: Map[String, StructuralTS.FitSpec] = Map.empty): DataFrame = {
    val spark = history.sparkSession
    import spark.implicits._

    val hasX = history.columns.contains("x")
    def norm(df: DataFrame, isHist: Boolean): DataFrame = {
      val base = df
        .withColumn("series_k", col(seriesCol).cast("string"))
        .withColumn("ts_sec", col("ds").cast("timestamp").cast("double"))
        .withColumn("y_v", if (isHist) col("y").cast("double") else lit(null).cast("double"))
        .withColumn("x_v", if (hasX) col("x").cast("double") else lit(null).cast("double"))
        .withColumn("is_hist", lit(isHist))
      base.select("series_k", "ts_sec", "y_v", "x_v", "is_hist")
    }

    val unioned = norm(history, isHist = true).unionByName(norm(future, isHist = false))
      .as[(String, Double, Option[Double], Option[Double], Boolean)]

    unioned
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val rows = it.toArray.sortBy(_._2)
        val hist = rows.filter(r => r._5 && r._3.isDefined)
        def xs(rs: Array[(String, Double, Option[Double], Option[Double], Boolean)]) =
          if (hasX) Some(rs.map(_._4.getOrElse(0.0))) else None
        forecast(key, hist.map(_._2), hist.map(_._3.get), xs(hist), rows.map(_._2), xs(rows),
                 specOverrides.getOrElse(key, spec))
          .fold(Iterator.empty[ForecastRow])(_._2.iterator)
      }
      .toDF()
      .withColumnRenamed("series", seriesCol)
  }

  /** [[forecast]]'s body for one series `key`: fit on the history
    * (`tHist` epoch seconds ascending, `yHist`, and `xHist` when there is
    * a regressor) and predict at every instant of `tAll` (ascending: the
    * history's instants, then the future's; `xAll` their regressor
    * values). A row is `historical` up to the last history instant.
    * Returns the fitted model with the rows; None when the history has
    * fewer than 2 points. */
  def forecast(key: String, tHist: Array[Double], yHist: Array[Double],
               xHist: Option[Array[Double]], tAll: Array[Double],
               xAll: Option[Array[Double]], spec: StructuralTS.FitSpec)
      : Option[(StructuralTS.Model, Array[ForecastRow])] =
    if (tHist.length < 2) None
    else {
      val model = StructuralTS.fit(tHist, yHist, xHist, spec)
      val preds = StructuralTS.predict(model, tAll, xAll)
      val tMaxHist = tHist.last
      Some(model -> Array.tabulate(tAll.length) { i =>
        val p = preds(i)
        ForecastRow(key,
          new java.sql.Timestamp((tAll(i) * 1000).toLong),
          if (tAll(i) <= tMaxHist) "historical" else "future",
          p.yhat, p.yhatLower, p.yhatUpper,
          p.trend, p.trendLower, p.trendUpper,
          p.additive, p.additiveLower, p.additiveUpper,
          0.0, 0.0, 0.0,
          p.quantileValues.toSeq)
      })
    }

  /** C7 `regressor_coefficients` per series: de-standardized coefficient
    * with interval bounds and the standardization center
    * (`app.py:241-243`, `responses.py:41-47`). */
  def regressorCoefficients(history: DataFrame, spec: StructuralTS.FitSpec,
                            seriesCol: String = "series",
                            specOverrides: Map[String, StructuralTS.FitSpec] = Map.empty): DataFrame = {
    val spark = history.sparkSession
    import spark.implicits._
    history
      .select(col(seriesCol).cast("string"),
              col("ds").cast("timestamp").cast("double"),
              col("y").cast("double"), col("x").cast("double"))
      .as[(String, Double, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (key, it) =>
        val rows = it.toArray.sortBy(_._2)
        if (rows.length < 2) Iterator.empty
        else {
          val s = specOverrides.getOrElse(key, spec).copy(hasRegressor = true)
          val m = StructuralTS.fit(rows.map(_._2), rows.map(_._3), Some(rows.map(_._4)), s)
          regressorCoefficients(m).iterator.map { case (mode, center, lo, coef, hi) =>
            (key, mode, center, lo, coef, hi)
          }
        }
      }
      .toDF(seriesCol, "regressor_mode", "center", "coef_lower", "coef", "coef_upper")
  }

  /** [[regressorCoefficients]]'s body for one model fitted with a
    * regressor: (regressor_mode, center, coef_lower, coef, coef_upper). */
  def regressorCoefficients(model: StructuralTS.Model)
      : Option[(String, Double, Double, Double, Double)] =
    StructuralTS.regressorCoefficient(model).map { case (coef, lo, hi, center) =>
      ("additive", center, lo, coef, hi)
    }

  /** C6 `make_future_dataframe`: per series, `horizon` periods after
    * max(ds) at the grain's spacing — generated distributively via
    * `sequence` + `timestampadd`, no driver materialization. */
  def futureGrid(history: DataFrame, grain: String, horizon: Int,
                 seriesCol: String = "series",
                 horizonOverrides: Map[String, Int] = Map.empty): DataFrame = {
    val unit = unitOf(grain)
    val h =
      if (horizonOverrides.isEmpty) lit(horizon)
      else coalesce(element_at(typedLit(horizonOverrides), col(seriesCol).cast("string")),
                    lit(horizon))
    history
      .groupBy(col(seriesCol))
      .agg(max(col("ds").cast("timestamp")).as("max_ds"))
      .select(col(seriesCol), explode(sequence(lit(1), h)).as("step"), col("max_ds"))
      .select(col(seriesCol), expr(s"timestampadd($unit, step, max_ds)").as("ds"))
  }

  /** [[futureGrid]] for one series: the `horizon` instants after `last`
    * (epoch microseconds), by the function `timestampadd` evaluates in
    * the session time zone `zone`, so W and M steps stay calendar-exact. */
  def futureGrid(last: Long, grain: String, horizon: Int, zone: ZoneId): Array[Long] = {
    val unit = unitOf(grain)
    Array.tabulate(horizon)(i => DateTimeUtils.timestampAdd(unit, i + 1L, last, zone))
  }

  /** The `timestampadd` unit of a grain. */
  private def unitOf(grain: String): String = graft.ts.TimeOps.normalizeGrain(grain) match {
    case "D" => "DAY"
    case "W" => "WEEK"
    case "M" => "MONTH"
    case "H" => "HOUR"
    case "m" => "MINUTE"
  }
}
