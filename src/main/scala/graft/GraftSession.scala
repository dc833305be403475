package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session shape every graft main runs in: local, one
  * task slot and one shuffle partition per core, UTC, no UI. Graft's
  * functions and rules come from the extension provider, not from here. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` if set, else every available core. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def builder: SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // static conf, default 100: at 345 registered queries × several
    // codegen units each, a 100-entry compiled-class cache thrashes and
    // every bench pass re-runs janino on ~every stage; one round of the
    // four served routes alone needs about 165 classes. 4000 entries
    // lets later passes (and a long-lived service cycling the same
    // query shapes) reuse compiled code; scale-independent (it caches
    // code, never data)
    .config("spark.sql.codegen.cache.maxEntries", "4000")

  def apply(): SparkSession = builder.getOrCreate()
}
