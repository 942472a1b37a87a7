package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.CorpusStats
import graft.plans.CharEntropy

/** B91 `op_text_entropy` — character-entropy quality gate. Pins:
  *
  *  1. kernel known answers: uniform distributions hit exactly
  *     log2(k) bits; single-char runs hit 0; supplementary-plane
  *     codepoints count as ONE character;
  *  2. the graded corpus: every planted single-char clone flags
  *     (entropy 0, top_share 1), every natural row passes;
  *  3. the scale plan: the kernel rides whole-stage codegen (zero
  *     shuffles — the oracle's per-character explode is the shape
  *     this op exists to avoid);
  *  4. api.Graft.entropyStats agrees with an independent Scala
  *     recomputation on a hand corpus; empty/NULL texts drop. */
class CharEntropySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def kernel(s: String): (Long, Int, Long, Double) = {
    val a = CharEntropy.compute(UTF8String.fromString(s))
    (a.getDouble(0).toLong, a.getDouble(1).toInt, a.getDouble(2).toLong, a.getDouble(3))
  }

  test("kernel known answers: uniform = log2(k), runs = 0, astral chars count once") {
    assert(kernel("aaaa") == ((4L, 1, 4L, 0.0)))
    val (n2, d2, m2, e2) = kernel("abab")
    assert((n2, d2, m2) == ((4L, 2, 2L)) && math.abs(e2 - 1.0) < 1e-12)
    val (n4, d4, m4, e4) = kernel("abcdabcd")
    assert((n4, d4, m4) == ((8L, 4, 2L)) && math.abs(e4 - 2.0) < 1e-12)
    // U+1D11E (musical G clef) is two UTF-16 units but ONE codepoint
    val (na, da, ma, _) = kernel("𝄞a")
    assert((na, da, ma) == ((2L, 2, 1L)))
    assert(kernel("") == ((0L, 0, 0L, 0.0)))
  }

  test("kernel histogram survives many distinct codepoints (resize path)") {
    val s = (0 until 500).map(i => (0x4E00 + i).toChar).mkString + "一"
    val (n, d, m, e) = kernel(s)
    assert(n == 501L && d == 500 && m == 2L)
    // one char has p=2/501, the rest 1/501: entropy just under log2(501)
    val exact = math.log(501.0) / math.log(2.0) - (2.0 * math.log(2.0) / math.log(2.0)) / 501.0
    assert(math.abs(e - exact) < 1e-9)
  }

  test("graded corpus: plants flag, natural rows pass") {
    val out = CorpusStats.textEntropy(spark, dir).collect()
    val (plants, natural) = out.partition(_.getLong(0) % 2 == 1)
    assert(plants.nonEmpty)
    plants.foreach { r =>
      assert(r.getDouble(3) == 0.0 && r.getDouble(4) == 1.0 && r.getBoolean(5),
        s"plant ${r.getLong(0)} must flag: $r")
      assert(r.getInt(2) == 1)
    }
    natural.foreach { r =>
      assert(!r.getBoolean(5), s"natural doc ${r.getLong(0)} flagged: $r")
      assert(r.getDouble(3) > 3.0, s"natural doc entropy too low: $r")
    }
  }

  test("the kernel rides whole-stage codegen (map-side, zero shuffles)") {
    val df = spark.range(10).select(
      CharEntropy.stats(concat(lit("text"), col("id").cast("string"))).as("st"))
    val plan = df.queryExecution.executedPlan.toString
    // the `*(n)` prefix is the whole-stage-codegen marker: the kernel's
    // Project must sit INSIDE a codegen stage, not fall back
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_char_entropy") && l.trim.startsWith("*(")), plan.take(2000))
    val graded = CorpusStats.textEntropy(spark, dir)
    val shuffles = graded.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    // one exchange for the graded total sort, nothing else
    assert(shuffles <= 1, s"expected map-side plan, saw $shuffles exchanges")
  }

  test("api.Graft.entropyStats: hand corpus vs independent recomputation") {
    import spark.implicits._
    val rows = Seq(
      (1L, "the quick brown fox"),
      (2L, "zzzzzzzz"),
      (3L, "ababababab"),
      (4L, ""),
      (5L, null.asInstanceOf[String]))
    val got = api.Graft.entropyStats(rows.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5))).sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L), "empty/NULL must drop")
    def expect(s: String): (Int, Int, Double, Double, Boolean) = {
      val cnt = s.toSeq.groupBy(identity).map(_._2.size.toLong).toSeq
      val n = cnt.sum
      val ent = math.log(n.toDouble) / math.log(2.0) -
        cnt.map(c => c * math.log(c.toDouble) / math.log(2.0)).sum / n
      val mx = cnt.max
      (n.toInt, cnt.size,
        BigDecimal(ent).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(mx.toDouble / n).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        2 * mx > n)
    }
    Seq((1L, "the quick brown fox"), (2L, "zzzzzzzz"), (3L, "ababababab"))
      .foreach { case (id, s) =>
        val e = expect(s)
        val g = got.find(_._1 == id).get
        assert((g._2, g._3, g._4, g._5, g._6) == e, s"doc $id: got $g want $e")
      }
    assert(got.find(_._1 == 2L).get._6 && !got.find(_._1 == 1L).get._6)
  }
}
