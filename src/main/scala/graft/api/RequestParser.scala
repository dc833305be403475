package graft.api

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** S1 + S2: parse the reference's request envelope (FIXTURES.md §1).
  * The documents go through `spark.read.json`, which does the schema
  * inference the reference delegates to pydantic +
  * `pd.DataFrame(list[dict])` (`app.py:65-67`, `app.py:78`): each named
  * document becomes a DataFrame whose nested observation fields stay
  * nested structs, so dotted `fromIndex` paths resolve as qualified
  * column references. The correlations are a handful of small objects,
  * so they are read on the driver from Jackson's tree of the same body,
  * which runs no Spark job. */
object RequestParser {

  case class ParsedRequest(documents: Map[String, DataFrame],
                           correlations: Seq[CorrelationSpec])

  // the JSON dialect spark.read.json accepts by default
  private val mapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES, JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .build()

  /** The text of the scalar at `path` below `node`; None when it is
    * absent, null or not a scalar. */
  private def text(node: JsonNode, path: String*): Option[String] =
    Some(path.foldLeft(node)(_ path _)).filter(n => n.isValueNode && !n.isNull).map(_.asText)

  /** Whether `node` holds anything: schema inference drops empty objects,
    * so an object of nothing but empty objects counts as absent. */
  private def holdsValues(node: JsonNode): Boolean =
    !node.isMissingNode && !node.isNull &&
      (!node.isObject || node.elements().asScala.exists(v => !v.isObject || holdsValues(v)))

  def parse(spark: SparkSession, requestJson: String): ParsedRequest = {
    val root = try mapper.readTree(requestJson) catch {
      case e: JsonProcessingException =>
        throw new IllegalArgumentException(s"request body is not valid JSON: ${e.getOriginalMessage}")
    }
    import spark.implicits._
    val env = spark.read.option("multiLine", "true").json(Seq(requestJson).toDS())

    val docsType = env.schema("documents").dataType.asInstanceOf[StructType]
    val documents = docsType.fieldNames.map { name =>
      name -> env.select(explode(col(s"documents.`$name`.data")).as("r")).select("r.*")
    }.toMap

    val corrNodes = root.path("analyticsOptions").path("correlations")
    require(corrNodes.isArray, "analyticsOptions.correlations must be an array")
    val correlations = corrNodes.elements().asScala.toSeq.map { r =>
      // §3.2/§3.3 saturating requests nest per-side options under
      // `ForecastingOptions.toIndex` (app.py:263-273) with DIFFERENT
      // pydantic defaults: growth logistic, changepoint prior 0.5,
      // floor 0 / no ceiling, 1000 uncertainty samples. The target-side
      // block is honored here (the pipeline fits the target); flat keys
      // on the correlation remain accepted and win when both appear.
      val hasFo = holdsValues(r.path("ForecastingOptions"))
      def foSide(side: String, name: String): Option[String] =
        text(r, "ForecastingOptions", side, name)
      // the reference's Caps nests AGAIN per side (`options.caps
      // .to_index`, app.py:253-260, read at app.py:515/534); a flat
      // caps.{floor,ceiling} is tolerated as a lenient spelling
      def foSideCap(side: String, name: String): Option[String] =
        text(r, "ForecastingOptions", side, "caps", side, name)
          .orElse(text(r, "ForecastingOptions", side, "caps", name))
      def fo(name: String): Option[String] = foSide("toIndex", name)
      def foCap(name: String): Option[String] = foSideCap("toIndex", name)
      // §3.2 covariate-side options: the reference fits the covariate
      // bundle with the fromIndex block (app.py:503-520)
      val covOptions: Option[SideOptions] =
        if (!hasFo) None
        else Some(SideOptions(
          growth = foSide("fromIndex", "growth").getOrElse("logistic"),
          changepointPriorScale =
            foSide("fromIndex", "changepointPriorScale").map(_.toDouble).getOrElse(0.5),
          uncertaintySamples =
            foSide("fromIndex", "uncertaintySamples").map(_.toDouble.toInt).getOrElse(1000),
          floor = foSideCap("fromIndex", "floor").map(_.toDouble).getOrElse(0.0),
          ceiling = foSideCap("fromIndex", "ceiling").map(_.toDouble)))
      // pydantic rejects a correlation missing its required fields with a
      // named 422 detail (app.py:31-58); mirror the named-field error
      // instead of a bare NoSuchElementException
      def required(name: String): String = text(r, name).getOrElse(
        throw new IllegalArgumentException(
          s"correlation ${text(r, "id").getOrElse("?")}: required field '$name' missing"))
      CorrelationSpec(
        id = text(r, "id").getOrElse("c0"),
        fromData = required("fromData"),
        fromIndex = required("fromIndex"),
        toData = required("toData"),
        toIndex = required("toIndex"),
        // the reference's pydantic default is grain "D" (app.py:39-43):
        // a request without dataSetGranularity still daily-buckets
        grain = text(r, "dataSetGranularity").orElse(Some("D")),
        aggregation = text(r, "dataAggregationType").getOrElse("sum"),
        unitsToForecast = text(r, "unitsToForecast").map(_.toDouble.toInt),
        changePointPriorScale = text(r, "ChangePointPriorScale")
          .orElse(fo("changepointPriorScale")).map(_.toDouble)
          .getOrElse(if (hasFo) 0.5 else 0.8),
        growth = text(r, "growth").orElse(fo("growth"))
          .getOrElse(if (hasFo) "logistic" else "linear"),
        floor = text(r, "floor").orElse(foCap("floor")).map(_.toDouble)
          .getOrElse(0.0),
        ceiling = text(r, "ceiling").orElse(foCap("ceiling")).map(_.toDouble),
        uncertaintySamples = text(r, "uncertaintySamples")
          .orElse(fo("uncertaintySamples")).map(_.toDouble.toInt).getOrElse(1000),
        covOptions = covOptions,
        corrType = text(r, "type").getOrElse("prophet"))
    }
    ParsedRequest(documents, correlations)
  }
}
