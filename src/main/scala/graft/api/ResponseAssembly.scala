package graft.api

import graft.api.AnalyzePipeline.AnalyzeResult
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** R1/R2: assemble the reference's nested response JSON
  * (`app.py:100-248`, contract `responses.py:50-58`) from the pipeline's
  * DataFrames. Collection happens here and only here — the frames are
  * per-correlation aggregates (bounded by horizon × correlations, not by
  * input size), mirroring the reference's response-sized payloads.
  * Divergence from §2.9: ALL correlations are returned, not just the
  * first. */
object ResponseAssembly {

  // explicit UTC render — Timestamp.toString would use the driver JVM's
  // default zone and shift dates on a non-UTC driver
  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  private def fmtTs(ts: java.sql.Timestamp): String = tsFmt.format(ts.toInstant)

  private[api] def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else {
      val bd = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      bd.bigDecimal.stripTrailingZeros.toPlainString
    }

  private def lagMap(rows: Seq[Row], valueIdx: Int): String =
    rows.sortBy(_.getInt(1)).map(r => s""""${r.getInt(1)}": ${num(r.getDouble(valueIdx))}""")
      .mkString("{", ", ", "}")

  /** One `Prediction` record: the full 13-column contract
    * (`responses.py:20-33` — P3 rename map `app.py:336-352`). */
  private def forecastRow(r: Row): String = {
    val cols = Seq("yhat" -> "prediction", "yhat_lower" -> "prediction_lower_bound",
                   "yhat_upper" -> "prediction_upper_bound", "trend" -> "trend",
                   "trend_lower" -> "trend_lower_bound", "trend_upper" -> "trend_upper_bound",
                   "additive_terms" -> "additive_terms",
                   "additive_terms_lower" -> "additive_terms_lower",
                   "additive_terms_upper" -> "additive_terms_upper",
                   "multiplicative_terms" -> "multiplicative_terms",
                   "multiplicative_terms_lower" -> "multiplicative_terms_lower",
                   "multiplicative_terms_upper" -> "multiplicative_terms_upper")
    val ds = fmtTs(r.getAs[java.sql.Timestamp]("ds"))
    val vals = cols.map { case (src, dst) => s""""$dst": ${num(r.getAs[Double](src))}""" }
    (s""""date": "$ds"""" +: vals).mkString("{", ", ", "}")
  }

  private val forecastCols = Seq(
    "series", "ds", "segment", "yhat", "yhat_lower", "yhat_upper",
    "trend", "trend_lower", "trend_upper",
    "additive_terms", "additive_terms_lower", "additive_terms_upper",
    "multiplicative_terms", "multiplicative_terms_lower", "multiplicative_terms_upper")

  /** Build the full `/analyze`-shaped JSON response (`app.py:211-247`):
    * per correlation — `type`; `diagnostics` with the grain as `units`
    * and per-side data/index names, date bounds, and honored horizons;
    * `autocorrelations`/`partialAutocorrelations` with lag maps nested
    * under `"lags"` (`core.py:7-27`); `regressorCoefficients` naming the
    * covariate path; and the historical/future prediction frames.
    * `specs` supply the per-correlation request fields the reference
    * echoes back (document names, index paths, grain).
    *
    * TWO reference shapes exist and we support both explicitly:
    * `app.py:211-247` assembles a dict with per-side `data` fields and
    * `autocorrelations`/`partialAutocorrelations` blocks, but FastAPI's
    * `response_model=AnalyticsResponse` filtering strips everything not
    * in `responses.py` — `IndexResponse` has no `data` field and
    * `CorrelationResponse` has no ACF/PACF blocks — so the on-the-wire
    * JSON is a strict subset. Default (`servedContract = false`) is the
    * richer assembled dict: the ACF/PACF diagnostics are the point of
    * the "LLM context" product and silently computing-then-dropping
    * them (what the reference actually does) is treated as a contract
    * bug, documented here. `servedContract = true` emits exactly the
    * post-filter wire shape for byte-level reference compatibility. */
  def toJson(result: AnalyzeResult, specs: Seq[CorrelationSpec],
             servedContract: Boolean = false): String = {
    val specOf = specs.map(c => c.id -> c).toMap
    val diag = result.diagnostics.collect().groupBy(r => (r.getString(0), r.getString(4)))
    val bounds = result.bounds.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val coefs = result.regressorCoefficients.collect().groupBy(_.getString(0))
    val grangerRows = result.granger
      .map(_.collect().groupBy(_.getString(0))).getOrElse(Map.empty)
    val uniRows = result.univariate
      .map(_.collect().groupBy(_.getString(0))).getOrElse(Map.empty)
    val forecasts = result.targetForecasts
      .select(forecastCols.map(col): _*)
      .collect().groupBy(_.getString(0))

    val ids = forecasts.keySet ++ diag.keys.map(_._1)
    val correlations = ids.toSeq.sorted.map { id =>
      val fc = forecasts.getOrElse(id, Array.empty)
      val hist = fc.filter(_.getString(2) == "historical").sortBy(_.getAs[java.sql.Timestamp]("ds").getTime)
      val fut = fc.filter(_.getString(2) == "future").sortBy(_.getAs[java.sql.Timestamp]("ds").getTime)
      val spec = specOf.get(id)
      val (fromH, toH) = result.horizons.getOrElse(id, (0, 0))
      def sideJson(side: String): String = {
        val (doc, idx, h) =
          if (side == "from") (spec.map(_.fromData), spec.map(_.fromIndex), fromH)
          else (spec.map(_.toData), spec.map(_.toIndex), toH)
        // "data" is app.py-dict-only: IndexResponse (responses.py:6-10)
        // filters it from the served JSON
        val names =
          if (servedContract) idx.map(i => s""""index": "${esc(i)}", """).getOrElse("")
          else doc.map(d => s""""data": "${esc(d)}", "index": "${esc(idx.get)}", """)
            .getOrElse("")
        bounds.get((id, side)).map { b =>
          s"""{$names"minDate": "${fmtTs(b.getAs[java.sql.Timestamp]("min_ds"))}", "maxDate": "${fmtTs(b.getAs[java.sql.Timestamp]("max_ds"))}", "unitsForecasted": $h}"""
        }.getOrElse(s"{$names}")
      }
      def acfJson(side: String): String =
        diag.get((id, side)).map(rs => lagMap(rs.toSeq, 2)).getOrElse("{}")
      def pacfJson(side: String): String =
        diag.get((id, side)).map(rs => lagMap(rs.toSeq, 3)).getOrElse("{}")
      val regName = spec.map(_.fromIndex).getOrElse("x")
      val coefJson = coefs.getOrElse(id, Array.empty).map { r =>
        s"""{"regressor": "${esc(regName)}", "regressor_mode": "${esc(r.getString(1))}", "center": ${num(r.getDouble(2))}, "coef_lower": ${num(r.getDouble(3))}, "coef": ${num(r.getDouble(4))}, "coef_upper": ${num(r.getDouble(5))}}"""
      }.mkString("[", ", ", "]")
      val units = spec.flatMap(_.grain).getOrElse("D")

      // CorrelationResponse (responses.py:49-53) has no ACF/PACF blocks:
      // the wire shape drops what app.py:229-239 computed
      val acfBlocks = if (servedContract) "" else
        s"""  "autocorrelations": {"description": "${esc(Explanations.autocorrelation)}",
           |    "from": {"lags": ${acfJson("from")}}, "to": {"lags": ${acfJson("to")}}},
           |  "partialAutocorrelations": {"description": "${esc(Explanations.partialAutocorrelation)}",
           |    "from": {"lags": ${pacfJson("from")}}, "to": {"lags": ${pacfJson("to")}}},
           |""".stripMargin
      // request `type` is echoed on both shapes (the served Literal
      // responses.py:51 admits "granger" but not "univariateStatistics"
      // — the reference never sets a non-default type, so its response
      // model was never exercised; echoing is the consistent choice).
      // The C9/C12 blocks — shapes the reference declares but never
      // ships — join the ACF/PACF blocks on the richer side of the
      // contract only
      val corrType = spec.map(_.corrType).getOrElse("prophet")
      val grangerBlock =
        if (servedContract || corrType != "granger") "" else {
          // all four statsmodels statistics per lag (`Untitled.ipynb`
          // cell 12 prints ssr_ftest/ssr_chi2test/lrtest/params_ftest)
          val lags = grangerRows.getOrElse(id, Array.empty).sortBy(_.getInt(1)).map { r =>
            s""""${r.getInt(1)}": {"fStat": ${num(r.getDouble(2))}, "pValue": ${num(r.getDouble(3))}, "dfNum": ${r.getInt(4)}, "dfDenom": ${r.getInt(5)}, "ssrChi2": ${num(r.getDouble(6))}, "pChi2": ${num(r.getDouble(7))}, "lr": ${num(r.getDouble(8))}, "pLr": ${num(r.getDouble(9))}, "paramsF": ${num(r.getDouble(10))}, "pParamsF": ${num(r.getDouble(11))}}"""
          }.mkString("{", ", ", "}")
          s"""  "grangerCausality": {"causeIndex": "${esc(spec.map(_.fromIndex).getOrElse("x"))}", "lags": $lags},
             |""".stripMargin
        }
      val uniBlock =
        if (servedContract || corrType != "univariateStatistics") "" else {
          def sideStats(side: String): String =
            uniRows.getOrElse(id, Array.empty).find(_.getString(1) == side).map { r =>
              // stddev_samp is NULL for n=1 and skewness/kurtosis for
              // n<3; Row.getDouble throws on null, which would turn a
              // short series into a 500 instead of a response
              def nnum(i: Int): String = if (r.isNullAt(i)) "null" else num(r.getDouble(i))
              s"""{"count": ${r.getLong(2)}, "mean": ${nnum(3)}, "std": ${nnum(4)}, "min": ${nnum(5)}, "max": ${nnum(6)}, "skewness": ${nnum(7)}, "kurtosis": ${nnum(8)}}"""
            }.getOrElse("{}")
          s"""  "univariateStatistics": {"from": ${sideStats("from")}, "to": ${sideStats("to")}},
             |""".stripMargin
        }
      s""""${esc(id)}": {
         |  "type": "${esc(corrType)}",
         |$grangerBlock$uniBlock  "diagnostics": {"units": "${esc(units)}",
         |    "from": ${sideJson("from")}, "to": ${sideJson("to")}},
         |$acfBlocks  "regressorCoefficients": $coefJson,
         |  "predictions": {
         |    "historicalForecasts": ${hist.map(forecastRow).mkString("[", ", ", "]")},
         |    "futureForecasts": ${fut.map(forecastRow).mkString("[", ", ", "]")}}
         |}""".stripMargin
    }
    correlations.mkString("{\"correlations\": {", ", ", "}}")
  }

  /** Build the saturating-growth response shape (`app.py:544-557`,
    * `app.py:594-607`): per correlation `{type: {model, growth,
    * bounds: {min, max}}, predictions: {historicalForecasts,
    * futureForecasts}}` — distinct from the `/analyze` contract.
    * `bounds` are the TARGET series' DATE bounds
    * (`targets.date_bounds`, `app.py:367-370` — min/max of the time
    * index), not the logistic floor/cap. */
  def toJsonSaturating(result: AnalyzeResult,
                       growthOf: Map[String, String]): String = {
    val dateBounds = result.bounds.collect()
      .filter(_.getString(1) == "to")
      .map(r => r.getString(0) ->
        (r.getAs[java.sql.Timestamp]("min_ds"), r.getAs[java.sql.Timestamp]("max_ds")))
      .toMap
    val forecasts = result.targetForecasts
      .select(forecastCols.map(col): _*)
      .collect().groupBy(_.getString(0))
    val correlations = forecasts.keySet.toSeq.sorted.map { id =>
      val fc = forecasts.getOrElse(id, Array.empty)
      val hist = fc.filter(_.getString(2) == "historical")
        .sortBy(_.getAs[java.sql.Timestamp]("ds").getTime)
      val fut = fc.filter(_.getString(2) == "future")
        .sortBy(_.getAs[java.sql.Timestamp]("ds").getTime)
      val growth = growthOf.getOrElse(id, "linear")
      val boundsJson = dateBounds.get(id).map { case (lo, hi) =>
        s""", "bounds": {"min": "${fmtTs(lo)}", "max": "${fmtTs(hi)}"}"""
      }.getOrElse("")
      s""""${esc(id)}": {
         |  "type": {"model": "prophet", "growth": "${esc(growth)}"$boundsJson},
         |  "predictions": {"description": "${esc(Explanations.predictions)}",
         |    "historicalForecasts": ${hist.map(forecastRow).mkString("[", ", ", "]")},
         |    "futureForecasts": ${fut.map(forecastRow).mkString("[", ", ", "]")}}
         |}""".stripMargin
    }
    correlations.mkString("{\"correlations\": {", ", ", "}}")
  }
}
