package graft.api

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end fidelity: a request shaped like the reference's
  * `example-timestamp.json` fixture (nested observations, dotted index
  * paths, ISO dates with Z) flows parse → analyze → response JSON. */
class ApiSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def obs(day: Int, total: Double, cost: Double): String =
    s"""{"date": "2024-03-${f"$day%02d"}T23:59:59Z",
       | "data": {"summary": {"totalWithTax": $total, "shippingCost": $cost},
       |          "currency": "USD"}}""".stripMargin

  private lazy val requestJson = {
    val sales = (1 to 28).map(d => obs(d, 1000 + 40.0 * d + (d % 7) * 25.0, 10 + d % 3))
      .mkString("[", ",", "]")
    val purchasing = (1 to 28).map(d => obs(d, 500 + 20.0 * d, 5))
      .mkString("[", ",", "]")
    s"""{
       |  "documents": {
       |    "sales_order": {"description": "sales", "data": $sales},
       |    "purchasing_order": {"description": null, "data": $purchasing}
       |  },
       |  "analyticsOptions": {"correlations": [{
       |    "id": "corr1", "type": "prophet",
       |    "fromData": "purchasing_order", "fromIndex": "data.summary.totalWithTax",
       |    "toData": "sales_order", "toIndex": "data.summary.totalWithTax",
       |    "dataSetGranularity": "D", "dataAggregationType": "sum",
       |    "unitsToForecast": 7
       |  }]}
       |}""".stripMargin
  }

  test("request parse: documents keep nested structs, specs mapped") {
    val parsed = RequestParser.parse(spark, requestJson)
    assert(parsed.documents.keySet == Set("sales_order", "purchasing_order"))
    val sales = parsed.documents("sales_order")
    assert(sales.count() == 28)
    assert(sales.select("data.summary.totalWithTax").count() == 28)
    val c = parsed.correlations.head
    assert(c.id == "corr1" && c.grain.contains("D") && c.unitsToForecast.contains(7))
  }

  test("single-series saturating pipeline: no covariate, logistic caps hold") {
    // §3.3 /saturating-growth/single — target only, logistic growth
    val json =
      s"""{
         |  "documents": {"sales_order": {"description": "s",
         |    "data": ${(1 to 40).map(d => obs(d % 28 + 1, 100 + 5.0 * d, 1)).mkString("[", ",", "]")}}},
         |  "analyticsOptions": {"correlations": [{
         |    "id": "s1", "type": "prophet",
         |    "fromData": "sales_order", "fromIndex": "data.summary.totalWithTax",
         |    "toData": "sales_order", "toIndex": "data.summary.totalWithTax",
         |    "dataSetGranularity": "D", "dataAggregationType": "sum",
         |    "unitsToForecast": 5, "growth": "logistic"
         |  }]}
         |}""".stripMargin
    val parsed = RequestParser.parse(spark, json)
    assert(parsed.correlations.head.growth == "logistic")
    val specs = parsed.correlations.map(_.copy(uncertaintySamples = 50))
    val result = AnalyzePipeline.analyzeSingle(parsed.documents, specs)
    val fc = result.targetForecasts.collect()
    assert(fc.count(_.getAs[String]("segment") == "future") == 5)
    assert(fc.count(_.getAs[String]("segment") == "historical") == 28)
    // logistic predictions stay within resolved [floor, cap]
    val caps = specs.map { c => c.id }.head
    val yhats = fc.map(_.getAs[Double]("yhat"))
    assert(yhats.forall(v => v >= 0.0), s"floor violated: ${yhats.min}")
    // diagnostics exist for the single side; no regressor coefficients
    assert(result.diagnostics.filter("side = 'to'").count() > 0)
    assert(result.regressorCoefficients.isEmpty)
    assert(result.covariateForecasts.count() == 0)
    // §3.2/§3.3 response contract: type.growth + bounds = the target's
    // DATE bounds (app.py:367-370, 596-601), not floor/cap
    val resp = ResponseAssembly.toJsonSaturating(result,
      specs.map(c => c.id -> c.growth).toMap)
    assert(resp.contains("\"growth\": \"logistic\""))
    assert(resp.contains("\"bounds\": {\"min\": \"2024-03-01 00:00:00\""),
           s"bounds must be the series date bounds:\n${resp.take(400)}")
    assert(resp.contains("historicalForecasts"))
    assert(resp.count(_ == '{') == resp.count(_ == '}'))
    val (floor, cap) = result.fitBounds("s1")
    assert(floor <= cap && cap > 0)
  }

  test("saturating request in the reference's NESTED ForecastingOptions shape") {
    // app.py:263-301: options live under ForecastingOptions.{fromIndex,
    // toIndex} with pydantic defaults growth=logistic, prior 0.5 — a
    // reference user's actual §3.2 payload must not silently fall back
    // to linear
    val json =
      s"""{
         |  "documents": {"sales_order": {"description": "s",
         |    "data": ${(1 to 28).map(d => obs(d, 100 + 5.0 * d, 1)).mkString("[", ",", "]")}}},
         |  "analyticsOptions": {"correlations": [{
         |    "id": "n1", "type": "prophet",
         |    "fromData": "sales_order", "fromIndex": "data.summary.totalWithTax",
         |    "toData": "sales_order", "toIndex": "data.summary.totalWithTax",
         |    "unitsToForecast": 5,
         |    "ForecastingOptions": {
         |      "fromIndex": {"growth": "linear", "changepointPriorScale": 0.7,
         |        "caps": {"fromIndex": {"floor": 1, "ceiling": 900}}},
         |      "toIndex": {
         |        "uncertaintySamples": 40, "changepointPriorScale": 0.3,
         |        "caps": {"toIndex": {"floor": 10, "ceiling": 500}}
         |    }}
         |  }]}
         |}""".stripMargin
    val c = RequestParser.parse(spark, json).correlations.head
    assert(c.growth == "logistic", "nested shape must default growth=logistic")
    assert(c.changePointPriorScale == 0.3)
    assert(c.uncertaintySamples == 40)
    assert(c.floor == 10.0 && c.ceiling.contains(500.0))
    // §3.2 covariate-side block (fitted with fromIndex options,
    // caps nested per side like the reference's Caps model)
    val cov = c.covOptions.get
    assert(cov.growth == "linear" && cov.changepointPriorScale == 0.7)
    assert(cov.floor == 1.0 && cov.ceiling.contains(900.0))
    // the mixed-growth request runs end-to-end: linear covariate fit,
    // logistic target fit capped by its resolved bounds
    val res = AnalyzePipeline.analyze(
      RequestParser.parse(spark, json).documents,
      Seq(c.copy(uncertaintySamples = 20,
                 covOptions = Some(cov.copy(uncertaintySamples = 20)))))
    val yhats = res.targetForecasts.collect().map(_.getAs[Double]("yhat"))
    assert(yhats.forall(v => v >= 10.0 && v <= 500.0),
           s"logistic target escaped [10, 500]: ${yhats.min}..${yhats.max}")
    // absent nested fields take the saturating defaults (growth logistic,
    // prior 0.5, floor 0, no ceiling). NOTE: at least one concrete field
    // must appear for detection — Spark's JSON schema inference drops
    // EMPTY structs, so a bare `"ForecastingOptions": {}` is
    // indistinguishable from absence (a request relying on the
    // all-defaults block sets any field, or the flat `growth` key)
    val jsonDefaults = json
      .replace("\"uncertaintySamples\": 40, \"changepointPriorScale\": 0.3,", "")
      .replace("\"caps\": {\"toIndex\": {\"floor\": 10, \"ceiling\": 500}}",
               "\"uncertaintySamples\": 1000")
    val d = RequestParser.parse(spark, jsonDefaults).correlations.head
    assert(d.growth == "logistic" && d.changePointPriorScale == 0.5)
    assert(d.uncertaintySamples == 1000 && d.floor == 0.0 && d.ceiling.isEmpty)
  }

  test("spec validation mirrors the reference's pydantic Literals") {
    val base = CorrelationSpec(id = "x", fromData = "a", fromIndex = "v",
                               toData = "b", toIndex = "w")
    intercept[IllegalArgumentException] { base.copy(growth = "exponential") }
    intercept[IllegalArgumentException] { base.copy(unitsToForecast = Some(0)) }
    intercept[IllegalArgumentException] { base.copy(corrType = "arima") }
    base.copy(growth = "logistic", unitsToForecast = Some(1)) // valid
    base.copy(corrType = "univariateStatistics") // app.py:33 Literal member
  }

  test("granger-typed correlation: C9 per-lag block in the response (declared enum wired)") {
    // planted lag-2 causality: x is hash-noise, y_t = 3·x_{t-2} + tiny
    // noise — y's own lags explain nothing, adding x's lags explains
    // everything, so the lag-2 F test must reject with a tiny p
    def x0(d: Int): Double = (((d * 2654435761L) >>> 7) % 1000) / 500.0 - 1.0
    def row(day: Int, field: String, v: Double): String =
      s"""{"date": "2024-03-${f"$day%02d"}T00:00:00Z", "$field": $v}"""
    val cov = (1 to 31).map(d => row(d, "x", x0(d))).mkString("[", ",", "]")
    val tgt = (1 to 31).map(d => row(d, "y",
      if (d <= 2) 0.0 else 3.0 * x0(d - 2) + ((d * 17) % 7) * 0.01)).mkString("[", ",", "]")
    val json =
      s"""{"documents": {"c": {"description": null, "data": $cov},
         |               "t": {"description": null, "data": $tgt}},
         |  "analyticsOptions": {"correlations": [{
         |    "id": "g1", "type": "granger",
         |    "fromData": "c", "fromIndex": "x", "toData": "t", "toIndex": "y",
         |    "dataSetGranularity": "D", "unitsToForecast": 3}]}}""".stripMargin
    val parsed = RequestParser.parse(spark, json)
    assert(parsed.correlations.head.corrType == "granger")
    val result = AnalyzePipeline.analyze(parsed.documents,
      parsed.correlations.map(_.copy(uncertaintySamples = 20)))
    try {
      val g = result.granger.get.collect()
      assert(g.nonEmpty, "granger frame empty for a granger-typed correlation")
      assert(g.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0))
      val lag2p = g.find(_.getInt(1) == 2).get.getDouble(3)
      assert(lag2p < 0.01, s"lag-2 p-value $lag2p for a planted lag-2 cause")

      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val corr = mapper.readTree(ResponseAssembly.toJson(result, parsed.correlations))
        .get("correlations").get("g1")
      assert(corr.get("type").asText == "granger")
      val block = corr.get("grangerCausality")
      assert(block.get("causeIndex").asText == "x")
      assert(block.get("lags").has("1") && block.get("lags").has("2"))
      assert(block.get("lags").get("2").get("pValue").asDouble < 0.01)
      // prophet surface still present alongside (the reference runs the
      // prophet path for every type; the C9 block is additive)
      assert(corr.get("predictions").get("futureForecasts").size == 3)
    } finally result.close()
  }

  test("univariateStatistics-typed correlation: C12 per-side moment block") {
    val json = requestJson.replace("\"type\": \"prophet\"", "\"type\": \"univariateStatistics\"")
    val parsed = RequestParser.parse(spark, json)
    assert(parsed.correlations.head.corrType == "univariateStatistics")
    val result = AnalyzePipeline.analyze(parsed.documents,
      parsed.correlations.map(_.copy(uncertaintySamples = 20)))
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val corr = mapper.readTree(ResponseAssembly.toJson(result, parsed.correlations))
        .get("correlations").get("corr1")
      assert(corr.get("type").asText == "univariateStatistics")
      val uni = corr.get("univariateStatistics")
      // both sides aggregate 28 daily rows; sales values sit in the
      // 1000-2300 band so mean/min/max must too, and std is positive
      for (side <- Seq("from", "to")) {
        val s = uni.get(side)
        assert(s.get("count").asLong == 28, s"$side count")
        assert(s.get("min").asDouble <= s.get("mean").asDouble &&
               s.get("mean").asDouble <= s.get("max").asDouble)
        assert(s.get("std").asDouble > 0 && s.has("skewness") && s.has("kurtosis"))
      }
      assert(uni.get("to").get("mean").asDouble > 1000)
    } finally result.close()
  }

  test("extractSeries rejects SQL-expression paths (injection surface)") {
    val parsed = RequestParser.parse(spark, requestJson)
    val doc = parsed.documents("sales_order")
    // a pure dotted path works
    assert(AnalyzePipeline.extractSeries(doc, "date", "data.summary.totalWithTax").count() == 28)
    // anything expression-shaped is refused before reaching the planner
    for (bad <- Seq("reflect('java.lang.System','getenv')", "1+1",
                    "data.summary.totalWithTax); drop", "a b", "java_method('x','y')"))
      intercept[IllegalArgumentException] {
        AnalyzePipeline.extractSeries(doc, "date", bad)
      }
  }

  test("full analyze: forecasts, diagnostics, coefficients, response JSON") {
    val parsed = RequestParser.parse(spark, requestJson)
    val specs = parsed.correlations.map(_.copy(uncertaintySamples = 50))
    val result = AnalyzePipeline.analyze(parsed.documents, specs)

    val fc = result.targetForecasts.collect()
    assert(fc.count(_.getAs[String]("segment") == "historical") == 28)
    assert(fc.count(_.getAs[String]("segment") == "future") == 7)
    // rough signal: forecasts should continue the upward trend
    val futYhat = fc.filter(_.getAs[String]("segment") == "future").map(_.getAs[Double]("yhat"))
    assert(futYhat.forall(_ > 1500), futYhat.mkString(","))

    val diag = result.diagnostics.collect()
    assert(diag.exists(r => r.getString(0) == "corr1" && r.getString(4) == "from"))
    assert(diag.exists(r => r.getString(0) == "corr1" && r.getString(4) == "to"))
    // lag-0 autocorrelation is 1 by definition
    assert(diag.filter(_.getInt(1) == 0).forall(r => math.abs(r.getDouble(2) - 1.0) < 1e-12))

    val json = ResponseAssembly.toJson(result, specs)
    assert(json.contains("\"corr1\""))
    assert(json.contains("historicalForecasts"))
    assert(json.contains("futureForecasts"))
    assert(json.contains("prediction_lower_bound"))
    assert(json.contains("autocorrelations"))
    // reference contract details (app.py:211-247, core.py:7-27): grain
    // echoed as units, per-side doc/index names + honored horizons, lag
    // maps nested under "lags", regressor named by the covariate path
    assert(json.contains("\"units\": \"D\""))
    assert(json.contains("\"data\": \"purchasing_order\""))
    assert(json.contains("\"index\": \"data.summary.totalWithTax\""))
    assert(json.contains("\"unitsForecasted\": 7"))
    assert(json.contains("\"lags\": {\"0\": 1"))
    assert(json.contains("\"regressor\": \"data.summary.totalWithTax\""))
    // structurally sound JSON: parses, and the contract keys nest where
    // responses.py declares them
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val corr = tree.get("correlations").get("corr1")
    assert(corr.get("diagnostics").get("from").get("unitsForecasted").asInt == 7)
    val firstHist = corr.get("predictions").get("historicalForecasts").get(0)
    for (k <- Seq("date", "prediction", "prediction_lower_bound", "trend",
                  "additive_terms", "multiplicative_terms_upper"))
      assert(firstHist.has(k), s"prediction record missing $k")
  }

  test("electricity-demand-style request: mixed dd-MM-yyyy dates, hourly grain, 3 correlations") {
    // mirrors electricity_demand.json: flat hourly records with the
    // non-ISO date format, multiple correlation specs over 2 documents
    def rec(day: Int, hour: Int, fields: (String, Double)*): String =
      (s""""date": "${f"$day%02d"}-01-2015 ${f"$hour%02d"}:00"""" +:
        fields.map { case (k, v) => s""""$k": $v""" }).mkString("{", ", ", "}")
    val demand = (for (d <- 1 to 20; h <- 0 until 24)
      yield rec(d, h, "nat_demand" -> (900 + 50 * math.sin(2 * math.Pi * h / 24) + 3 * d)))
      .mkString("[", ",", "]")
    val weather = (for (d <- 1 to 20; h <- 0 until 24)
      yield rec(d, h, "T2M_toc" -> (25 + 3 * math.sin(2 * math.Pi * h / 24)),
                      "W2M_toc" -> (12 + d * 0.1))).mkString("[", ",", "]")
    def corr(id: String, fi: String, td: String, ti: String): String =
      s"""{"id": "$id", "type": "prophet", "fromData": "weatherReport", "fromIndex": "$fi",
         | "toData": "$td", "toIndex": "$ti", "dataSetGranularity": "H",
         | "dataAggregationType": "mean", "unitsToForecast": 24}""".stripMargin
    val req =
      s"""{"documents": {
         |  "electricityDemand": {"description": null, "data": $demand},
         |  "weatherReport": {"description": null, "data": $weather}},
         | "analyticsOptions": {"correlations": [
         |  ${corr("x1", "T2M_toc", "electricityDemand", "nat_demand")},
         |  ${corr("x2", "W2M_toc", "electricityDemand", "nat_demand")},
         |  ${corr("x3", "W2M_toc", "weatherReport", "T2M_toc")}]}}""".stripMargin

    val parsed = RequestParser.parse(spark, req)
    assert(parsed.correlations.map(_.id) == Seq("x1", "x2", "x3"))
    val result = AnalyzePipeline.analyze(parsed.documents,
      parsed.correlations.map(_.copy(uncertaintySamples = 30)))
    val fc = result.targetForecasts.collect()
    // 3 correlations × (480 hourly history + 24 future)
    assert(fc.length == 3 * (480 + 24), s"got ${fc.length}")
    // the mixed-format dates parsed: history spans Jan 1-20 2015
    val hist = fc.filter(_.getAs[String]("segment") == "historical")
      .map(_.getAs[java.sql.Timestamp]("ds"))
    assert(hist.min.toString.startsWith("2015-01-01"))
    assert(hist.max.toString.startsWith("2015-01-20"))
    // daily (24h) seasonality auto-enables on hourly data, so the
    // forecast tracks the demand cycle and stays in the demand band
    val fut = fc.filter(r => r.getAs[String]("segment") == "future" &&
                             r.getString(0) == "x1").map(_.getAs[Double]("yhat"))
    assert(fut.forall(v => v > 800 && v < 1100), s"${fut.min}..${fut.max}")
  }

  test("all correlations are processed (the reference's first-only bug is fixed)") {
    val parsed = RequestParser.parse(spark, requestJson)
    val two = parsed.correlations ++ parsed.correlations.map(_.copy(id = "corr2"))
    val result = AnalyzePipeline.analyze(parsed.documents, two.map(_.copy(uncertaintySamples = 20)))
    val series = result.targetForecasts.select("series").distinct().collect().map(_.getString(0)).toSet
    assert(series == Set("corr1", "corr2"))
  }
}
