package graft

import org.apache.spark.sql.types._

/** Engine-wide invariant: every registered query's result schema uses only
  * driver-portable column types. The external correctness gate loads both
  * the Spark parquet and the DuckDB oracle result through pandas and sorts
  * rows by value — list/map/struct cells crash that sort ("unhashable
  * numpy.ndarray", the r6 q_kmv_maintain / q_snapshot_cols failure), and
  * exotic numerics lose exactness in the bridge. Queries that produce
  * arrays internally must serialize them to strings at the API edge
  * (q_collect_ops `types_str` precedent). The DuckDB-side twin of this
  * check (HUGEINT promotion etc.) lives in tools/check.py's DESCRIBE
  * lint, which runs in the per-batch verify loop.
  *
  * Reads the schema of the shared [[RegistryWalk]] build. */
class PortabilitySpec extends SparkSpec {

  private def portable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | StringType | BooleanType |
         TimestampType | DateType | BinaryType => true
    case _ => false
  }

  RegistryWalk.names.foreach { name =>
    test(s"$name result schema is driver-portable") {
      val schema = RegistryWalk.facts(sf(), name).schema
      val bad = schema.fields.filterNot(f => portable(f.dataType))
      assert(bad.isEmpty,
        s"$name has driver-unsafe result columns " +
          bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ") +
          " — serialize lists/structs to strings, keep numerics in long/double")
    }
  }
}
