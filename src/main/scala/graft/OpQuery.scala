package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator exposed through the driver contract: a Spark build
  * function plus (when SQL-expressible) semantically-equal DuckDB SQL
  * over the same parquet tables. Determinism rules (SURVEY.md §5.2):
  * every query ends in a total-order ORDER BY and floats whose
  * accumulation order could differ between engines are rounded.
  */
final case class OpQuery(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object OpQuery {
  def apply(name: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): OpQuery =
    OpQuery(name, build, Some(oracle))

  /** Non-SQL-expressible op: driver records a weaker rows-only check. */
  def noOracle(name: String)(
      build: (SparkSession, String) => DataFrame): OpQuery =
    OpQuery(name, build, None)

  /** The graded-tail policy: persist the result, then apply the
    * total-order ORDER BY the determinism rule requires. Apply it with
    * `.transform(OpQuery.gradedSort(cols: _*))`.
    *
    *  - Why: a range exchange samples its child for the sort bounds,
    *    so an unmaterialized tail runs twice per execution.
    *  - Cost: the tail stays cached until the caller clears the SQL
    *    cache (see [[CacheLifecycle]]). A public API that ends in this
    *    sort releases the tail with `CacheLifecycle.selfReleasing`.
    *  - Measured: 1.24x at `local[4]` and 0.963x at `local[32]` in r22.
    *  - Exceptions: a tail that measured as a loss keeps a bare
    *    `orderBy`, with the reason at its call site
    *    (`Relational.scalarFuncs`). */
  def gradedSort(cols: String*): DataFrame => DataFrame =
    _.persist()
      .orderBy(cols.head, cols.tail: _*)
}
