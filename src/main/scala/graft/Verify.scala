package graft
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional dev-only 3rd arg: comma-separated query-name prefixes
    // to run a subset (the driver always passes exactly two args)
    val only = args.drop(2).headOption
      .map(_.split(",").toSeq).getOrElse(Seq.empty)
    def selected(name: String): Boolean =
      only.isEmpty || only.exists(name.startsWith)
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    new ObjectMapper().writeValue(new java.io.File(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleSql.filter(kv => selected(kv._1)).asJava)
    spark.stop()
  }
}
