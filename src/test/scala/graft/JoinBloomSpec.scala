package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.operators.Relational

/** B103 `op_join_bloom` — the graded runtime-filter. Pins:
  *
  *  1. soundness: n_missed = 0 (no true-join row may fail the bloom)
  *     and n_pass = n_true + n_false_pass;
  *  2. the filter actually filters: with a selective dim predicate,
  *     n_pass < n_fact (some non-matching rows are pruned at the
  *     scan) and fp_rate is well under 1;
  *  3. the probe is map-side: no exchange sits between the scan and
  *     the bloom projection (the pass flag must be computable before
  *     any shuffle);
  *  4. api.Graft.bloomPrefilter keeps every matching row and drops
  *     pruned rows on a hand corpus;
  *  5. `build` runs the jobs of ONE action (the dim keys' collect),
  *     and the driver-side bit formula equals the plan expression. */
class JoinBloomSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("soundness + ledger arithmetic + the filter filters") {
    val r = Relational.joinBloom(spark, dir).collect()(0)
    val (nFact, nDim, nPass, nTrue, nFp, nMiss, fpRate) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))
    assert(nMiss == 0L, "bloom may never miss a true join row")
    assert(nPass == nTrue + nFp)
    assert(nDim > 0 && nTrue > 0)
    assert(nPass < nFact, "a selective dim predicate must prune fact rows")
    assert(fpRate < 0.05, s"2^16 bits over a small dim: fp should be tiny, got $fpRate")
  }

  test("api.Graft.bloomPrefilter: matching rows kept, most others pruned") {
    import spark.implicits._
    val fact = (1L to 1000L).map(Tuple1(_)).toDF("k")
    val dim = Seq(10L, 20L, 30L).map(Tuple1(_)).toDF("k")
    val kept = api.Graft.bloomPrefilter(fact, "k", dim, "k")
      .select("k").as[Long].collect().toSet
    assert(Set(10L, 20L, 30L).subsetOf(kept), "no false negatives")
    assert(kept.size < 100, s"bloom must prune nearly everything: ${kept.size}")
  }

  test("build runs the jobs of one action: the dim keys' collect") {
    val sc = spark.sparkContext
    Relational.joinBloom(spark, dir) // warm the table-schema memo
    val (_, keysOnce) = Jobs.count(sc)(graft.sources.Tables.supplier(spark, dir)
      .filter(col("s_nationkey") < 5).select(col("s_suppkey").cast("long").as("k"))
      .distinct().collect())
    val (_, build) = Jobs.count(sc)(Relational.joinBloom(spark, dir))
    assert(keysOnce > 0)
    assert(build == keysOnce,
      s"op_join_bloom's build ran $build jobs; one collect of its dim keys runs $keysOnce")
  }

  test("the driver-side bloom bit equals the plan expression, and so do the masks") {
    import spark.implicits._
    import graft.operators.Curation
    val keys = Seq(0L, 1L, 7L, 42L, 65535L, 1000000006L, 123456789012L, -5L, -1000000008L)
    val df = keys.toDF("k")
    for (j <- Curation.BloomA.indices) {
      val sql = df.select(Curation.bloomBit(col("k"), j)).as[Long].collect().toSeq
      assert(sql == keys.map(Curation.bloomBit(_, j)), s"bit row $j")
    }
    val pos = keys.filter(_ >= 0)
    assert(Relational.keyBloomMaskOf(pos.toDF("k")).toSeq ==
      Curation.bloomMask(pos.iterator.flatMap(k => Curation.BloomA.indices.map(Curation.bloomBit(k, _)))).toSeq)
  }
}
