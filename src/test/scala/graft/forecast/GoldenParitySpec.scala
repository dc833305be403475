package graft.forecast

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkTestSession
import graft.api.{AnalyzePipeline, RequestParser}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** SURVEY §5 golden parity on the reference's OWN fixture requests.
  *
  * Prophet itself cannot run in this container (no scipy/cmdstan) and the
  * reference ships no stored forecasts, so the goldens are produced by an
  * INDEPENDENT implementation of the same documented MAP model
  * (`tools/golden_gen.py`: numpy normal equations, separate date/bucket
  * code) over `/root/reference/example-timestamp.json` and
  * `/root/reference/electricity_demand.json`. Two implementations of one
  * spec agreeing to 1e-6 of the series scale pins the fitter end-to-end:
  * date parsing, bucketing, A5 horizons, splice/alignment joins, design
  * matrix, priors, and the solve.
  *
  * Tolerance: |Δyhat| ≤ 1e-6 · max(1, max|y|) per series — float-solver
  * slack only; any modeling drift (a changed basis, prior, or scaling)
  * fails by orders of magnitude.
  *
  * The same check runs on two seeded in-repo requests of those shapes
  * (`tools/request_gen.py`, goldens from `tools/golden_gen.py --fixtures`),
  * so it also runs where the reference fixtures are absent.
  *
  * Since round 4 the goldens also pin the INTERVAL columns
  * (yhat_lower/upper, trend_lower/upper): the closed-form
  * trend-continuation scheme is deterministic, so the numpy mirror
  * reproduces the bounds exactly. Round 5 extends the pin to the full
  * 13-column numeric surface: additive_terms and its bounds are golden
  * columns, and the multiplicative terms — constant zero by construction
  * on both sides (no multiplicative seasonality in the consumed surface)
  * — are asserted to be exactly 0.0 on every row.
  *
  * DISTANCE TO PROPHET'S OWN MAP (round 8): the residual risk this spec
  * cannot close is that both implementations share the repo's DOCUMENTED
  * prior divergences (ridge on the changepoint deltas instead of
  * Prophet's Laplace, ~flat (k, m), unit-sigma normal equations).
  * `tools/prophet_map.py` now measures that distance directly: it
  * implements Prophet's actual linear-growth log posterior (Laplace
  * deltas, N(0,5) on k/m, jointly-estimated sigma weighting the
  * likelihood) with a pure-numpy L-BFGS over the SAME design matrix, on
  * the same fixtures. Measured (converged, |g| < 1e-3): yhat agreement
  * within 2.1-7.5% of series scale on electricity_demand HISTORY
  * (13.3-18.3% on the 65-point example fixture), diverging to 20-96% at
  * the far extrapolation horizon (= history length) — i.e. the prior
  * divergence is immaterial where data constrains the fit and dominates
  * exactly where extrapolation leans on the changepoint prior, which at
  * the fixtures' ChangePointPriorScale = 0.8 is nearly flat for Prophet
  * (free deltas) but a ~1.56-lambda ridge here. That asymmetry is the
  * known, intended cost of the documented divergence; re-run the script
  * to regenerate the numbers.
  */
class GoldenParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val mapper = new ObjectMapper()

  private def readFile(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")

  private def golden(name: String): JsonNode = {
    val in = getClass.getResourceAsStream(s"/golden/$name.json")
    require(in != null, s"golden resource $name missing — run tools/golden_gen.py")
    try mapper.readTree(in) finally in.close()
  }

  /** Golden column order after epoch_sec: matches golden_gen.py. */
  private val valueCols =
    Seq("yhat", "trend", "yhat_lower", "yhat_upper", "trend_lower", "trend_upper",
        "additive_terms", "additive_terms_lower", "additive_terms_upper")

  private val multCols =
    Seq("multiplicative_terms", "multiplicative_terms_lower", "multiplicative_terms_upper")

  /** (series, epochSec) -> value columns from a forecast frame. */
  private def collectFrame(df: org.apache.spark.sql.DataFrame)
      : Map[(String, Long), Array[Double]] =
    df.select((Seq("series", "ds") ++ valueCols).map(org.apache.spark.sql.functions.col): _*)
      .collect().map { r =>
        (r.getString(0), r.getTimestamp(1).getTime / 1000L) ->
          Array.tabulate(valueCols.length)(i => r.getDouble(2 + i))
      }.toMap

  private def assertParity(fixtureJson: String, goldenName: String): Unit = {
    val g = golden(goldenName)
    val parsed = RequestParser.parse(spark, fixtureJson)
    val result = AnalyzePipeline.analyze(
      parsed.documents, parsed.correlations.map(_.copy(uncertaintySamples = 20)))
    val tgt = collectFrame(result.targetForecasts)
    val cov = collectFrame(result.covariateForecasts)
    // the remaining 13-column fields: constant zero, on every row
    for (frame <- Seq(result.targetForecasts, result.covariateForecasts)) {
      val nonZero = frame.filter(multCols.map(c =>
        org.apache.spark.sql.functions.col(c) =!= 0.0).reduce(_ || _)).count()
      assert(nonZero == 0, s"multiplicative terms must be constant 0.0 ($nonZero rows differ)")
    }
    val coefs = result.regressorCoefficients.collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(4))).toMap

    for (id <- g.fieldNames().asScala) {
      val gc = g.get(id)
      val tol = 1e-6 * math.max(1.0, gc.get("y_abs_max").asDouble)
      def check(frame: Map[(String, Long), Array[Double]],
                rows: JsonNode, what: String): Unit = {
        val expected = rows.elements().asScala.map { r =>
          (r.get(0).asDouble.toLong,
           Array.tabulate(valueCols.length)(i => r.get(1 + i).asDouble))
        }.toMap
        val got = frame.collect { case ((s, t), v) if s == id => t -> v }
        assert(got.keySet == expected.keySet,
               s"$id/$what ds mismatch: ${(got.keySet diff expected.keySet).take(3)} " +
               s"extra, ${(expected.keySet diff got.keySet).take(3)} missing")
        for ((t, evals) <- expected; (cname, ci) <- valueCols.zipWithIndex) {
          val actual = got(t)(ci)
          assert(math.abs(actual - evals(ci)) <= tol,
                 s"$id/$what $cname@$t: $actual vs golden ${evals(ci)} (tol $tol)")
        }
      }
      check(tgt, gc.get("target"), "target")
      check(cov, gc.get("covariate"), "covariate")
      val (center, coef) = coefs(id)
      assert(math.abs(coef - gc.get("coef").asDouble) <= tol,
             s"$id coef: $coef vs ${gc.get("coef").asDouble}")
      assert(math.abs(center - gc.get("coef_center").asDouble) <= 1e-6 *
               math.max(1.0, math.abs(gc.get("coef_center").asDouble)),
             s"$id coef center: $center vs ${gc.get("coef_center").asDouble}")
    }
  }

  private def request(name: String): String = {
    val in = getClass.getResourceAsStream(s"/requests/$name.json")
    require(in != null, s"request resource $name missing — run tools/request_gen.py")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  test("in-repo nested daily request, 4 correlations, one horizon defaulted: " +
       "forecasts match the independent golden fitter") {
    assertParity(request("daily_nested"), "daily_nested")
  }

  test("in-repo flat hourly request, grain defaults to D: forecasts match " +
       "the independent golden fitter") {
    assertParity(request("hourly_flat"), "hourly_flat")
  }

  test("example-timestamp fixture: target+covariate forecasts match the " +
       "independent golden fitter") {
    assertParity(readFile("/root/reference/example-timestamp.json"),
                 "example_timestamp")
  }

  test("electricity-demand fixture: grain defaults to D, forecasts match " +
       "the independent golden fitter") {
    // the fixture stores documents at the top level (the notebook wraps
    // them before POSTing, Untitled.ipynb cell 16); mirror that wrap
    val root = mapper.readTree(readFile("/root/reference/electricity_demand.json"))
    val wrapped = mapper.createObjectNode()
    val docs = mapper.createObjectNode()
    root.fieldNames().asScala.foreach { k =>
      if (k == "analyticsOptions") wrapped.set[JsonNode](k, root.get(k))
      else docs.set[JsonNode](k, root.get(k))
    }
    wrapped.set[JsonNode]("documents", docs)
    assertParity(mapper.writeValueAsString(wrapped), "electricity_demand")
  }
}
