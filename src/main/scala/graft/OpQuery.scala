package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

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

  /** The graded-tail policy: the total-order ORDER BY the determinism
    * rule requires, run as a one-partition exchange plus a local sort.
    * Apply it with `.transform(OpQuery.gradedSort("a", "b"))`, or with
    * the `Column` form for `desc` keys.
    *
    *  - Why: a global `orderBy` plans a range exchange, whose bounds
    *    sample runs the unmaterialized child once more per execution.
    *    One partition needs no bounds, so there is no sample job and no
    *    tail to cache or release. The rows and their order are those of
    *    `orderBy`.
    *  - Bound: the whole result sorts in one task. Graded results are
    *    report-sized; the largest at sf0.1 is op_fingerprint_winnow's
    *    322,934 rows, which measured 0.71 -> 0.52 s (`local[4]`) and
    *    0.80 -> 0.53 s (`local[32]`) against the persisted range sort.
    *    Public APIs over caller-sized input keep a range sort
    *    (`api.Graft.nearDupClusters`, `annProbe`, `annProbeHier`).
    *  - Exceptions: a tail whose child already satisfies the order
    *    without an exchange (a one-partition aggregate, or an order set
    *    upstream as in op_join_skew_salted) keeps a bare `orderBy`, with
    *    the reason at its call site; this helper would add an exchange
    *    there. op_sketch_bloom keeps a persisted range sort: this helper
    *    measured 1.24x slower on it at `local[4]`. */
  def gradedSort(sortCol: String, sortCols: String*): DataFrame => DataFrame =
    _.repartition(1).sortWithinPartitions(sortCol, sortCols: _*)

  def gradedSort(sortExprs: Column*): DataFrame => DataFrame =
    _.repartition(1).sortWithinPartitions(sortExprs: _*)
}
