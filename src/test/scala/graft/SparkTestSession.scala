package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (getOrCreate → same JVM-wide
  * session regardless of suite ordering). The services' session shape,
  * pinned to 4 cores so results never depend on the host's size. */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.builder
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir",
            java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}
