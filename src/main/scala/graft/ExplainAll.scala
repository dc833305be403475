package graft

/** Dev utility: print formatted physical plans for the named queries
  * (all when no names given) — the ".explain and iterate" loop of the
  * build brief. Usage: runMain graft.ExplainAll <sfDir> [names...] */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.drop(1).toSet
    val spark = GraftSession()
    SparkEntry.all
      .filter(q => names.isEmpty || names(q.name))
      .foreach { q =>
        println(s"\n========== ${q.name} ==========")
        try q.fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
