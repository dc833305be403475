package graft.api

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}
import com.fasterxml.jackson.core.util.{DefaultPrettyPrinter, Separators}
import graft.api.AnalyzePipeline.{AnalyzeResult, Diagnostic, PassRow}
import graft.forecast.Forecaster.ForecastRow
import java.io.StringWriter

/** R1/R2: assemble the reference's nested response JSON
  * (`app.py:100-248`, contract `responses.py:50-58`) from the pipeline's
  * pass. Collection happens here and only here, once per response: the
  * pass's records are per-correlation results (bounded by horizon ×
  * correlations, not by input size), mirroring the reference's
  * response-sized payloads, and are grouped on the driver.
  * Divergence from §2.9: ALL correlations are returned, not just the
  * first.
  *
  * Every body, error bodies included, is written by one Jackson
  * generator on one line: `{"a": "x", "lags": {}, "n": [1.5, null, 7]}`. */
object ResponseAssembly {

  // explicit UTC render — Timestamp.toString would use the driver JVM's
  // default zone and shift dates on a non-UTC driver
  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  private def fmtTs(ts: java.sql.Timestamp): String = tsFmt.format(ts.toInstant)

  private val factory = new JsonFactory()
  // one space after `:` and `,`, no newlines, `{}` and `[]` when empty
  private val printer = new DefaultPrettyPrinter(Separators.createDefaultInstance()
      .withObjectFieldValueSpacing(Separators.Spacing.AFTER)
      .withObjectEntrySpacing(Separators.Spacing.AFTER)
      .withArrayValueSpacing(Separators.Spacing.AFTER)
      .withObjectEmptySeparator("").withArrayEmptySeparator(""))
    .withObjectIndenter(new DefaultPrettyPrinter.NopIndenter)
    .withArrayIndenter(new DefaultPrettyPrinter.NopIndenter)

  private def write(body: JsonGenerator => Unit): String = {
    val out = new StringWriter()
    val g = factory.createGenerator(out)
    g.setPrettyPrinter(printer.createInstance())
    try { g.writeStartObject(); body(g); g.writeEndObject() } finally g.close()
    out.toString
  }

  private def obj(g: JsonGenerator, name: String)(body: => Unit): Unit = {
    g.writeObjectFieldStart(name); body; g.writeEndObject()
  }

  /** An array field with one object per row, its fields written by `fields`. */
  private def objects[T](g: JsonGenerator, name: String, rows: Array[T])
                        (fields: T => Unit): Unit = {
    g.writeArrayFieldStart(name)
    rows.foreach { r => g.writeStartObject(); fields(r); g.writeEndObject() }
    g.writeEndArray()
  }

  /** An error body: `{"detail": "…"}`, FastAPI's shape. */
  def errorJson(detail: String): String = write(_.writeStringField("detail", detail))

  /** A double rounded half-up to 6 places, trailing zeros stripped and
    * never in exponent form (`100`, `0.5`); null for NaN and infinities. */
  private def num(g: JsonGenerator, name: String, v: Double): Unit = {
    g.writeFieldName(name)
    if (v.isNaN || v.isInfinite) g.writeNull()
    else g.writeNumber(BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.stripTrailingZeros.toPlainString)
  }

  /** [[num]], or a null field for None. */
  private def num(g: JsonGenerator, name: String, v: Option[Double]): Unit =
    v.fold(g.writeNullField(name))(num(g, name, _))

  /** The pass's records, collected once and grouped by correlation. */
  private def collected(result: AnalyzeResult): Map[String, Array[PassRow]] =
    result.pass.collect().groupBy(_.series)

  /** One correlation's target forecast rows. */
  private def targetForecasts(rows: Array[PassRow]): Array[ForecastRow] =
    rows.collect { case r if r.forecast != null && r.side == "to" => r.forecast }

  /** `historicalForecasts` and `futureForecasts`: one series' rows split
    * by segment, each sorted by date, as `Prediction` records
    * (`responses.py:20-33`, P3 rename map `app.py:336-352`). */
  private def writeForecasts(g: JsonGenerator, rows: Array[ForecastRow]): Unit =
    for ((field, segment) <- Seq("historicalForecasts" -> "historical",
                                 "futureForecasts" -> "future")) {
      val dated = rows.filter(_.segment == segment).sortBy(_.ds.getTime)
      objects(g, field, dated) { r =>
        g.writeStringField("date", fmtTs(r.ds))
        Seq("prediction" -> r.yhat, "prediction_lower_bound" -> r.yhat_lower,
            "prediction_upper_bound" -> r.yhat_upper, "trend" -> r.trend,
            "trend_lower_bound" -> r.trend_lower, "trend_upper_bound" -> r.trend_upper,
            "additive_terms" -> r.additive_terms,
            "additive_terms_lower" -> r.additive_terms_lower,
            "additive_terms_upper" -> r.additive_terms_upper,
            "multiplicative_terms" -> r.multiplicative_terms,
            "multiplicative_terms_lower" -> r.multiplicative_terms_lower,
            "multiplicative_terms_upper" -> r.multiplicative_terms_upper)
          .foreach { case (name, v) => num(g, name, v) }
      }
    }

  /** `{"correlations": {id: {…}, …}}` with `entry` writing each id's fields. */
  private def correlationsJson(ids: Seq[String])(entry: (JsonGenerator, String) => Unit): String =
    write(g => obj(g, "correlations")(ids.foreach(id => obj(g, id)(entry(g, id)))))

  /** Build the full `/analyze`-shaped JSON response (`app.py:211-247`):
    * per correlation — `type`; `diagnostics` with the grain as `units`
    * and per-side data/index names, date bounds, and honored horizons;
    * `autocorrelations`/`partialAutocorrelations` with lag maps nested
    * under `"lags"` (`core.py:7-27`); `regressorCoefficients` naming the
    * covariate path; and the historical/future prediction frames.
    * `specs` supply the per-correlation request fields the reference
    * echoes back (document names, index paths, grain).
    *
    * This is the dict `app.py:211-247` assembles. The reference's
    * `response_model` filter drops its `data` fields and ACF/PACF blocks
    * (`responses.py:6-10, 49-53`); those diagnostics are the point of the
    * "LLM context" product, so they are served. */
  def toJson(result: AnalyzeResult, specs: Seq[CorrelationSpec]): String = {
    val specOf = specs.map(c => c.id -> c).toMap
    val rowsOf = collected(result)
    val ids = rowsOf.collect {
      case (id, rows) if rows.exists(r => r.diagnostic != null ||
                                          (r.forecast != null && r.side == "to")) => id
    }

    correlationsJson(ids.toSeq.sorted) { (g, id) =>
      val rows = rowsOf(id)
      val spec = specOf.get(id)
      val (fromH, toH) = rows.collectFirst { case r if r.fit != null =>
        (r.fit.from_horizon, r.fit.to_horizon) }.getOrElse((0, 0))
      val regName = spec.map(_.fromIndex).getOrElse("x")
      // `type` is echoed; the C9/C12 blocks are shapes the reference
      // declares (responses.py:51) but never ships
      val corrType = spec.map(_.corrType).getOrElse("prophet")
      g.writeStringField("type", corrType)
      if (corrType == "granger") obj(g, "grangerCausality") {
        // all four statsmodels statistics per lag (`Untitled.ipynb`
        // cell 12 prints ssr_ftest/ssr_chi2test/lrtest/params_ftest)
        g.writeStringField("causeIndex", regName)
        obj(g, "lags")(rows.flatMap(r => Option(r.granger)).sortBy(_.lag).foreach { l =>
          obj(g, l.lag.toString) {
            num(g, "fStat", l.fStat)
            num(g, "pValue", l.pValue)
            g.writeNumberField("dfNum", l.dfNum)
            g.writeNumberField("dfDenom", l.dfDenom)
            num(g, "ssrChi2", l.chi2)
            num(g, "pChi2", l.pChi2)
            num(g, "lr", l.lr)
            num(g, "pLr", l.pLr)
            num(g, "paramsF", l.paramsF)
            num(g, "pParamsF", l.paramsP)
          }
        })
      }
      // stddev_samp is NULL for n=1 and skewness/kurtosis for a constant
      // series: null fields, not a 500
      if (corrType == "univariateStatistics") obj(g, "univariateStatistics") {
        for (side <- Seq("from", "to")) obj(g, side) {
          rows.find(r => r.univariate != null && r.side == side).map(_.univariate).foreach { m =>
            g.writeNumberField("count", m.n)
            num(g, "mean", m.mean)
            num(g, "std", m.std)
            num(g, "min", m.min)
            num(g, "max", m.max)
            num(g, "skewness", m.skewness)
            num(g, "kurtosis", m.kurtosis)
          }
        }
      }
      obj(g, "diagnostics") {
        g.writeStringField("units", spec.flatMap(_.grain).getOrElse("D"))
        for ((side, names, h) <- Seq(("from", spec.map(c => (c.fromData, c.fromIndex)), fromH),
                                     ("to", spec.map(c => (c.toData, c.toIndex)), toH)))
          obj(g, side) {
            names.foreach { case (doc, idx) =>
              g.writeStringField("data", doc)
              g.writeStringField("index", idx)
            }
            rows.find(r => r.bounds != null && r.side == side).foreach { r =>
              g.writeStringField("minDate", fmtTs(r.bounds.min_ds))
              g.writeStringField("maxDate", fmtTs(r.bounds.max_ds))
              g.writeNumberField("unitsForecasted", h)
            }
          }
      }
      for ((block, description, value) <- Seq[(String, String, Diagnostic => Double)](
             ("autocorrelations", Explanations.autocorrelation, _.acf),
             ("partialAutocorrelations", Explanations.partialAutocorrelation, _.pacf)))
        obj(g, block) {
          g.writeStringField("description", description)
          for (side <- Seq("from", "to")) obj(g, side)(obj(g, "lags") {
            rows.collect { case r if r.diagnostic != null && r.side == side => r.diagnostic }
              .sortBy(_.lag).foreach(d => num(g, d.lag.toString, value(d)))
          })
        }
      objects(g, "regressorCoefficients", rows.flatMap(r => Option(r.coefficient))) { c =>
        g.writeStringField("regressor", regName)
        g.writeStringField("regressor_mode", c.regressor_mode)
        num(g, "center", c.center)
        num(g, "coef_lower", c.coef_lower)
        num(g, "coef", c.coef)
        num(g, "coef_upper", c.coef_upper)
      }
      obj(g, "predictions")(writeForecasts(g, targetForecasts(rows)))
    }
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
    val rowsOf = collected(result)
    val forecasts = rowsOf.map { case (id, rows) => id -> targetForecasts(rows) }
      .filter(_._2.nonEmpty)
    correlationsJson(forecasts.keySet.toSeq.sorted) { (g, id) =>
      obj(g, "type") {
        g.writeStringField("model", "prophet")
        g.writeStringField("growth", growthOf.getOrElse(id, "linear"))
        rowsOf(id).find(r => r.bounds != null && r.side == "to").foreach { r =>
          obj(g, "bounds") {
            g.writeStringField("min", fmtTs(r.bounds.min_ds))
            g.writeStringField("max", fmtTs(r.bounds.max_ds))
          }
        }
      }
      obj(g, "predictions") {
        g.writeStringField("description", Explanations.predictions)
        writeForecasts(g, forecasts(id))
      }
    }
  }
}
