package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every main builds its session through [[GraftSession]], so how a graft
  * session is configured (cores, shuffle partitions, time zone,
  * compiled-class cache) is decided in one file and cannot drift apart
  * between mains again. */
class GraftSessionSpec extends AnyFunSuite {
  private val mainSrc = Paths.get("src/main/scala")

  /** Main source files, relative to `src/main/scala`, whose text holds `s`. */
  private def filesMentioning(s: String): Seq[String] = {
    assert(Files.isDirectory(mainSrc), s"no $mainSrc under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(mainSrc)
    try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(s))
      .map(p => mainSrc.relativize(p).toString).toList.sorted
    finally walk.close()
  }

  test("only GraftSession builds a SparkSession") {
    assert(filesMentioning("SparkSession.builder") == Seq("graft/GraftSession.scala"))
  }

  test("only GraftSession reads SPARK_GRAFT_CPUS") {
    assert(filesMentioning("SPARK_GRAFT_CPUS") == Seq("graft/GraftSession.scala"))
  }

  test("the shared test session carries the factory's cache size and time zone") {
    val conf = SparkTestSession.spark.conf
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "4000")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
