package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (getOrCreate → same JVM-wide
  * session regardless of suite ordering). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the services' compiled-class cache size (HttpShell.main, Bench):
      // at Spark's default of 100, one /analyze request (about 105
      // classes) evicts its own classes before the next request
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.warehouse.dir",
              java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
