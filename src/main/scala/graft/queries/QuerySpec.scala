package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-contract query: an implemented operator class from
  * SURVEY.md §2, declared once with its DuckDB oracle twin. `build`
  * runs the query over a testdata dir; `oracle` is the DuckDB SQL whose
  * result the driver hash-compares against it.
  *
  * The oracle stays lazy: building a query never evaluates its SQL, and
  * reading the SQL never builds a DataFrame.
  *
  * Float-output discipline: every double column is bit-deterministic
  * (exact integral sums / identical op sequences on both engines) —
  * see [[graft.ops.Exact]] — so the driver's hash compare is stable.
  */
final class QuerySpec(val name: String,
                      val build: (SparkSession, String) => DataFrame,
                      val oracle: () => String)

object QuerySpec {
  def apply(name: String)(build: (SparkSession, String) => DataFrame)(
      oracle: => String): QuerySpec = new QuerySpec(name, build, () => oracle)
}
