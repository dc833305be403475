package graft.api

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, DriverJson, JacksonParser,
  JSONOptions, JsonInferSchema}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** S1 + S2: parse the reference's request envelope (FIXTURES.md §1) on
  * the driver, running no Spark job. The documents are read with the
  * code of Spark's own JSON source, which does the schema inference the
  * reference delegates to pydantic + `pd.DataFrame(list[dict])`
  * (`app.py:65-67`, `app.py:78`): `JsonInferSchema` types the body and
  * `JacksonParser` reads it into rows, once per request. Each named
  * document becomes a `LocalRelation` of its `data` elements, with the
  * schema and rows the JSON source's DataFrame of the body gives after
  * `explode(documents.<name>.data)` (RequestReaderSpec compares the
  * two): nested observation fields stay nested structs, so dotted
  * `fromIndex` paths resolve as qualified column references. The
  * correlations are a handful of small objects, read from Jackson's tree
  * of the same body. */
object RequestParser {

  case class ParsedRequest(documents: Map[String, DataFrame],
                           correlations: Seq[CorrelationSpec])

  // the JSON dialect Spark's JSON source accepts by default
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

  /** Each named document's `data` elements as a frame over driver rows:
    * the schema the JSON source infers for the body and the rows of
    * `explode(documents.<name>.data)` + `r.*`, a null element being a row
    * of nulls. */
  private def documentsOf(spark: SparkSession, body: String): Map[String, DataFrame] = {
    val options = new JSONOptions(Map("multiLine" -> "true"),
      spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key),
      spark.conf.get(SQLConf.COLUMN_NAME_OF_CORRUPT_RECORD.key))
    val inference = new JsonInferSchema(options)
    // what `JsonInferSchema.infer` does with one record whose root is an object
    val inferred = {
      val parser = CreateJacksonParser.string(options.buildJsonFactory(), body)
      try { parser.nextToken(); inference.inferField(parser) } finally parser.close()
    }
    val rootType = DriverJson.canonicalize(inference, inferred, options).collect {
      case s: StructType => s
    }.getOrElse(StructType(Nil))
    val docsAt = rootType.fieldNames.indexOf("documents")
    val docsType = Option.when(docsAt >= 0)(rootType(docsAt).dataType).collect {
      case s: StructType => s
    }.getOrElse(throw new IllegalArgumentException("request body has no documents object"))
    val root = new JacksonParser(rootType, options, allowArrayAsStructs = true, Nil)
      .parse(body, CreateJacksonParser.string, UTF8String.fromString).head
    val docs = root.getStruct(docsAt, docsType.size)
    // a field as a column reference resolves it: case-insensitively unless
    // spark.sql.caseSensitive, and only when exactly one field matches
    val caseSensitive = spark.conf.get(SQLConf.CASE_SENSITIVE.key).toBoolean
    def ordinal(struct: StructType, name: String): Option[Int] =
      struct.fieldNames.indices.filter { i =>
        if (caseSensitive) struct.fieldNames(i) == name else struct.fieldNames(i).equalsIgnoreCase(name)
      } match {
        case Seq(i) => Some(i)
        case _ => None
      }
    docsType.fieldNames.map { name =>
      val relation = for {
        at <- ordinal(docsType, name)
        doc <- Some(docsType(at).dataType).collect { case s: StructType => s }
        dataAt <- ordinal(doc, "data")
        elem <- Some(doc(dataAt).dataType).collect { case ArrayType(e: StructType, _) => e }
      } yield {
        val data = docs.getStruct(at, doc.size).getArray(dataAt)
        LocalRelation(DataTypeUtils.toAttributes(elem), Seq.tabulate(data.numElements()) { i =>
          if (data.isNullAt(i)) new GenericInternalRow(elem.size)
          else data.getStruct(i, elem.size).copy()
        })
      }
      name -> DriverJson.frame(spark, relation.getOrElse(throw new IllegalArgumentException(
        s"document $name needs one data field holding an array of objects")))
    }.toMap
  }

  def parse(spark: SparkSession, requestJson: String): ParsedRequest = {
    val root = try mapper.readTree(requestJson) catch {
      case e: JsonProcessingException =>
        throw new IllegalArgumentException(s"request body is not valid JSON: ${e.getOriginalMessage}")
    }
    require(root != null && root.path("documents").isObject, "request body has no documents object")
    val documents = documentsOf(spark, requestJson)

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
