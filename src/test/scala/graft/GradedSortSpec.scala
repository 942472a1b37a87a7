package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** OpQuery.gradedSort: the graded result lands in ONE partition with
  * exactly `orderBy`'s rows in `orderBy`'s order, for both overloads. */
class GradedSortSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("gradedSort: one partition, orderBy's rows in orderBy's order") {
    // ties on k and nulls in both keys, spread over 6 partitions
    val df = spark.range(0, 600, 1, 6).select(
      (col("id") % 7).as("k"),
      (col("id") % 5 === 0).as("z"),
      col("id").as("id"))
      .selectExpr("IF(id % 11 = 0, NULL, k) AS k", "z", "id")
    assert(df.rdd.getNumPartitions >= 4)
    def check(got: org.apache.spark.sql.DataFrame,
        want: org.apache.spark.sql.DataFrame): Unit = {
      assert(got.rdd.getNumPartitions == 1)
      assert(got.collect().toSeq == want.collect().toSeq)
    }
    check(df.transform(OpQuery.gradedSort("k", "id")), df.orderBy("k", "id"))
    check(df.transform(OpQuery.gradedSort(col("k").desc, col("z"), col("id").asc)),
      df.orderBy(col("k").desc, col("z"), col("id").asc))
  }
}
