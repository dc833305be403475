package graft

import org.scalatest.funsuite.AnyFunSuite

/** Which registered queries a `graft.Bench` run times. */
class BenchSpec extends AnyFunSuite {
  private val registered = SparkEntry.queries.keySet

  test("the full suite times every registered query but the demoted four") {
    val names = Bench.selected(registered, None)
    assert(Bench.demoted.size == 4 && Bench.demoted.subsetOf(registered))
    assert(names == (registered -- Bench.demoted).toSeq.sorted)
  }

  test("a subset run times the queries it names, demoted ones included") {
    val only = Set("q292_bootstrap_ci", "q78_dup_clusters_pj", "no_such_query")
    assert(Bench.selected(registered, Some(only)) ==
             Seq("q292_bootstrap_ci", "q78_dup_clusters_pj"))
  }
}
