package graft

/** Dev utility mirroring the driver's smoke check: `SparkEntry.entry`
  * on sf0.001 must return rows. Usage: runMain graft.EntryCheck [sfDir] */
object EntryCheck {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY ROWS: $n")
    require(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
