package graft

import org.scalatest.funsuite.AnyFunSuite

/** QUERIES.md is the driver-facing map of the registry; r11's VERDICT
  * found 18 registered queries missing from it (doc drift accumulated
  * over several rounds). This lint makes the index self-enforcing in
  * BOTH directions: every `SparkEntry.queries` key must appear
  * backticked in QUERIES.md, and every backticked `q_*` name in
  * QUERIES.md must exist in the registry (a stale entry for a renamed/
  * removed query is as misleading as a missing one). Pure file+map
  * check — no Spark session. */
class QueriesIndexSpec extends AnyFunSuite {

  private lazy val indexText: String = {
    val p = java.nio.file.Paths.get("QUERIES.md")
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
  }

  private lazy val indexed: Set[String] =
    "`(q_[a-z0-9_]+)`".r.findAllMatchIn(indexText).map(_.group(1)).toSet

  test("every registered query is indexed in QUERIES.md") {
    val missing = SparkEntry.queries.keySet.diff(indexed).toSeq.sorted
    assert(missing.isEmpty,
      s"QUERIES.md is missing ${missing.size} registry names: " +
        missing.mkString(", "))
  }

  test("every QUERIES.md entry names a registered query") {
    val stale = indexed.diff(SparkEntry.queries.keySet).toSeq.sorted
    assert(stale.isEmpty,
      s"QUERIES.md indexes ${stale.size} names absent from the registry: " +
        stale.mkString(", "))
  }

  test("no two QueryDefs share a name (the registry map keeps only one)") {
    val dupes = Registry.all.groupBy(_.name).filter(_._2.size > 1).keys
      .toSeq.sorted
    assert(dupes.isEmpty,
      s"duplicate query names silently shadow earlier definitions: " +
        dupes.mkString(", "))
  }

  /** `## <Catalog>` heading → names of the query bullets under it. */
  private lazy val sections: Map[String, Set[String]] = {
    val heading = "^## (\\S+)\\s*$".r
    val entry = "^- `(q_[a-z0-9_]+)`.*".r
    indexText.split("\n").foldLeft(("", Map.empty[String, Set[String]])) {
      case ((_, acc), heading(h)) => (h, acc + (h -> acc.getOrElse(h, Set.empty)))
      case ((h, acc), entry(q)) => (h, acc + (h -> (acc.getOrElse(h, Set.empty) + q)))
      case (state, _) => state
    }._2
  }

  test("every query is listed under the heading of the catalog that defines it") {
    val misplaced = for {
      c <- Registry.catalogs
      q <- c.defs if !sections.getOrElse(c.name, Set.empty).contains(q.name)
    } yield s"${q.name} (defined in ${c.name})"
    assert(misplaced.isEmpty,
      s"QUERIES.md lists ${misplaced.size} queries outside their catalog's " +
        "## heading: " + misplaced.mkString(", "))
  }

  test("the headline count in QUERIES.md matches the registry size") {
    val n = SparkEntry.queries.size
    assert(indexText.contains(s"$n oracle-checked queries"),
      s"QUERIES.md headline should say '$n oracle-checked queries'")
  }

  test("the registry maps are built once, not on every call") {
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }
}
