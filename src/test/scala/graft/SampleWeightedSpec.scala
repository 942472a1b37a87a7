package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.operators.TrainingData

/** B94 `op_sample_weighted` — one-pass Efraimidis-Spirakis weighted
  * sampling. Pins:
  *
  *  1. exact match to an independent Scala recomputation of the full
  *     key ranking at gate SF (hash, uniform, key, top-k, ranks);
  *  2. proportional-to-size behavior: the sampled docs' mean weight
  *     exceeds the corpus mean (heavy docs over-represented) at all
  *     three SFs;
  *  3. the scale plan: the global top-k plans as
  *     TakeOrderedAndProject with NO exchange before it (one pass,
  *     partial top-k per partition);
  *  4. determinism across reruns; zero-weight rows can never sample;
  *     api.Graft.sampleByWeight same-core agreement;
  *  5. the API's k bound (one k-row array cell in one task). */
class SampleWeightedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private val P = 1000000007L

  private def rh(s: String): Long =
    s.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % P)

  private def key(id: Long, w: Long): Double =
    math.log((rh(id.toString).toDouble + 0.5) / 1000000007.0) / w

  test("exact match to independent recomputation at sf0.001") {
    val corpus = sources.Tables.documents(spark, dir)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue))
    val expected = corpus.map { case (id, w) => (id, w, key(id, w)) }
      .sortBy { case (id, _, k) => (-k, id) }
      .take(TrainingData.SampleWeightedK).zipWithIndex
      .map { case ((id, w, k), i) =>
        (i + 1, id, w.toInt,
          BigDecimal(k).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0) }
    val got = TrainingData.sampleWeighted(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(got.toSeq == expected.toSeq)
  }

  test("proportional-to-size: sampled mean weight > corpus mean at 3 SFs") {
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val corpusMean = sources.Tables.documents(spark, d)
        .agg(avg("n_chars")).head().getDouble(0)
      val sampleMean = TrainingData.sampleWeighted(spark, d)
        .agg(avg("w")).head().getDouble(0)
      assert(sampleMean > corpusMean,
        s"$d: sample mean $sampleMean vs corpus mean $corpusMean")
    }
  }

  test("plan: TakeOrderedAndProject, no exchange before the top-k") {
    val plan = TrainingData.sampleWeighted(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    // the only window (rank assignment) runs AFTER the k-row take;
    // nothing corpus-sized may pass an Exchange
    val lines = plan.linesIterator.toSeq
    val takeIdx = lines.indexWhere(_.contains("TakeOrderedAndProject"))
    assert(!lines.drop(takeIdx).exists(_.contains("Exchange")),
      "no exchange may sit under the top-k (one-pass contract)")
  }

  test("rerun-deterministic; zero weights drop; API same-core") {
    import spark.implicits._
    val a = TrainingData.sampleWeighted(spark, dir).collect().map(_.toString)
    val b = TrainingData.sampleWeighted(spark, dir).collect().map(_.toString)
    assert(a.sameElements(b))
    val hand = Seq((1L, 100L), (2L, 0L), (3L, -5L), (4L, 1L))
      .toDF("doc_id", "weight")
    val got = api.Graft.sampleByWeight(hand, weightCol = "weight", k = 10)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(got.map(_._1).toSet == Set(1L, 4L), "w <= 0 rows must drop")
    // heavier doc 1 must outrank doc 4 iff its key is larger — check
    // against the recomputation
    val k1 = key(1L, 100L); val k4 = key(4L, 1L)
    val order = got.map(_._1).toSeq
    assert(order == (if (k1 > k4) Seq(1L, 4L) else Seq(4L, 1L)))
  }

  test("API bounds k: MaxSampleK builds, MaxSampleK + 1 raises naming the bound") {
    import spark.implicits._
    val hand = Seq((1L, 100L)).toDF("doc_id", "w")
    assert(api.Graft.sampleByWeight(hand, k = TrainingData.MaxSampleK).columns.nonEmpty)
    val e = intercept[IllegalArgumentException](
      api.Graft.sampleByWeight(hand, k = TrainingData.MaxSampleK + 1))
    assert(e.getMessage.contains(s"k <= ${TrainingData.MaxSampleK}"), e.getMessage)
  }
}
