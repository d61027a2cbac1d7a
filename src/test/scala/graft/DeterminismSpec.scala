package graft

/** Engine-wide invariant: every registered query is deterministic — two
  * executions produce identical multisets of rows. This is what the
  * DuckDB-oracle hash gate assumes, and what RNG-based sampling, unordered
  * collect_list, FP summation-order dependence, or time-dependent
  * expressions would silently break. Both runs come from the shared
  * [[RegistryWalk]]. */
class DeterminismSpec extends SparkSpec {

  RegistryWalk.names.foreach { name =>
    test(s"$name is run-to-run deterministic") {
      assert(RegistryWalk.facts(sf(), name).rerunsMatch.get, s"$name differs between runs")
    }
  }
}
