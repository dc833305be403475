package graft.api

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}
import com.fasterxml.jackson.core.util.{DefaultPrettyPrinter, Separators}
import graft.api.AnalyzePipeline.AnalyzeResult
import java.io.StringWriter
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** R1/R2: assemble the reference's nested response JSON
  * (`app.py:100-248`, contract `responses.py:50-58`) from the pipeline's
  * DataFrames. Collection happens here and only here — the frames are
  * per-correlation aggregates (bounded by horizon × correlations, not by
  * input size), mirroring the reference's response-sized payloads.
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
  private def objects(g: JsonGenerator, name: String, rows: Array[Row])
                     (fields: Row => Unit): Unit = {
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

  /** `names` as [[num]] fields of `r`'s columns `from`, `from + 1`, …;
    * a null column is a null field. */
  private def nums(g: JsonGenerator, r: Row, from: Int, names: String*): Unit =
    names.zipWithIndex.foreach { case (name, i) =>
      if (r.isNullAt(from + i)) g.writeNullField(name) else num(g, name, r.getDouble(from + i))
    }

  /** Forecast columns → `Prediction` record fields (`responses.py:20-33`,
    * P3 rename map `app.py:336-352`). */
  private val predictionFields = Seq(
      "yhat" -> "prediction", "yhat_lower" -> "prediction_lower_bound",
      "yhat_upper" -> "prediction_upper_bound", "trend" -> "trend",
      "trend_lower" -> "trend_lower_bound", "trend_upper" -> "trend_upper_bound") ++
    Seq("additive_terms", "additive_terms_lower", "additive_terms_upper", "multiplicative_terms",
        "multiplicative_terms_lower", "multiplicative_terms_upper").map(c => c -> c)
  private val predictionNames = predictionFields.map(_._2)

  /** The target forecast rows of every series, collected once:
    * (series, ds, segment, the `predictionFields` columns). */
  private def forecastsOf(result: AnalyzeResult): Map[String, Array[Row]] =
    result.targetForecasts.select(("series" +: "ds" +: "segment" +: predictionFields.map(_._1))
        .map(col): _*)
      .collect().groupBy(_.getString(0))

  /** `historicalForecasts` and `futureForecasts`: one series' rows split
    * by segment, each sorted by date, as `Prediction` records. */
  private def writeForecasts(g: JsonGenerator, rows: Array[Row]): Unit =
    for ((field, segment) <- Seq("historicalForecasts" -> "historical",
                                 "futureForecasts" -> "future")) {
      val dated = rows.filter(_.getString(2) == segment).sortBy(_.getTimestamp(1).getTime)
      objects(g, field, dated) { r =>
        g.writeStringField("date", fmtTs(r.getTimestamp(1)))
        nums(g, r, 3, predictionNames: _*)
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
    val diag = result.diagnostics.collect().groupBy(r => (r.getString(0), r.getString(4)))
    val bounds = result.bounds.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val coefs = result.regressorCoefficients.collect().groupBy(_.getString(0))
    val grangerRows = result.granger
      .map(_.collect().groupBy(_.getString(0))).getOrElse(Map.empty)
    val uniRows = result.univariate
      .map(_.collect().groupBy(_.getString(0))).getOrElse(Map.empty)
    val forecasts = forecastsOf(result)

    correlationsJson((forecasts.keySet ++ diag.keys.map(_._1)).toSeq.sorted) { (g, id) =>
      val spec = specOf.get(id)
      val (fromH, toH) = result.horizons.getOrElse(id, (0, 0))
      val regName = spec.map(_.fromIndex).getOrElse("x")
      // `type` is echoed; the C9/C12 blocks are shapes the reference
      // declares (responses.py:51) but never ships
      val corrType = spec.map(_.corrType).getOrElse("prophet")
      g.writeStringField("type", corrType)
      if (corrType == "granger") obj(g, "grangerCausality") {
        // all four statsmodels statistics per lag (`Untitled.ipynb`
        // cell 12 prints ssr_ftest/ssr_chi2test/lrtest/params_ftest)
        g.writeStringField("causeIndex", regName)
        obj(g, "lags")(grangerRows.getOrElse(id, Array.empty).sortBy(_.getInt(1)).foreach { r =>
          obj(g, r.getInt(1).toString) {
            nums(g, r, 2, "fStat", "pValue")
            g.writeNumberField("dfNum", r.getInt(4))
            g.writeNumberField("dfDenom", r.getInt(5))
            nums(g, r, 6, "ssrChi2", "pChi2", "lr", "pLr", "paramsF", "pParamsF")
          }
        })
      }
      // stddev_samp is NULL for n=1 and skewness/kurtosis for n<3: null
      // fields, not a 500
      if (corrType == "univariateStatistics") obj(g, "univariateStatistics") {
        for (side <- Seq("from", "to")) obj(g, side) {
          uniRows.getOrElse(id, Array.empty).find(_.getString(1) == side).foreach { r =>
            g.writeNumberField("count", r.getLong(2))
            nums(g, r, 3, "mean", "std", "min", "max", "skewness", "kurtosis")
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
            bounds.get((id, side)).foreach { b =>
              g.writeStringField("minDate", fmtTs(b.getTimestamp(2)))
              g.writeStringField("maxDate", fmtTs(b.getTimestamp(3)))
              g.writeNumberField("unitsForecasted", h)
            }
          }
      }
      for ((block, description, valueIdx) <- Seq(
             ("autocorrelations", Explanations.autocorrelation, 2),
             ("partialAutocorrelations", Explanations.partialAutocorrelation, 3)))
        obj(g, block) {
          g.writeStringField("description", description)
          for (side <- Seq("from", "to")) obj(g, side)(obj(g, "lags") {
            diag.getOrElse((id, side), Array.empty).sortBy(_.getInt(1))
              .foreach(r => num(g, r.getInt(1).toString, r.getDouble(valueIdx)))
          })
        }
      objects(g, "regressorCoefficients", coefs.getOrElse(id, Array.empty)) { r =>
        g.writeStringField("regressor", regName)
        g.writeStringField("regressor_mode", r.getString(1))
        nums(g, r, 2, "center", "coef_lower", "coef", "coef_upper")
      }
      obj(g, "predictions")(writeForecasts(g, forecasts.getOrElse(id, Array.empty)))
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
    val dateBounds = result.bounds.collect().filter(_.getString(1) == "to")
      .map(r => r.getString(0) -> r).toMap
    val forecasts = forecastsOf(result)
    correlationsJson(forecasts.keySet.toSeq.sorted) { (g, id) =>
      obj(g, "type") {
        g.writeStringField("model", "prophet")
        g.writeStringField("growth", growthOf.getOrElse(id, "linear"))
        dateBounds.get(id).foreach { b =>
          obj(g, "bounds") {
            g.writeStringField("min", fmtTs(b.getTimestamp(2)))
            g.writeStringField("max", fmtTs(b.getTimestamp(3)))
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
