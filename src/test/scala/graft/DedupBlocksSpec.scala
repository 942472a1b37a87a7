package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TrainingData

/** B82 `op_dedup_blocks` — block-level dedup over content-defined
  * chunks, the payoff composition CDC chunking exists for. Pins:
  *
  *  1. planted evidence on the graded corpus: every injected
  *     shifted copy (2·id+1) and its original (2·id, id % 5 = 0) is
  *     flagged — the INSERTION-shifted verbatim region that fixed
  *     blocks miss — and the gate is non-trivial (unflagged docs
  *     exist);
  *  2. cross-doc censusing on a hand corpus: a shared interior region
  *     produces dup mass on both sharers, none on a bystander;
  *  3. the "some OTHER document" contract: a block repeated only
  *     WITHIN one doc contributes zero dup mass;
  *  4. arithmetic: per-doc totals recompute from the B81 chunk view. */
class DedupBlocksSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def corpusOf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private def run(c: DataFrame) = CacheLifecycle.selfReleasing(TrainingData.blockDedupManaged(
    TrainingData.chunkCdcWith(c,
      TrainingData.CdcGram, TrainingData.CdcDivisor, TrainingData.CdcRem)))

  test("graded corpus: shifted copies share blocks; flags follow the mass rule") {
    val out = TrainingData.dedupBlocks(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(4), r.getBoolean(6))))
      .toMap
    val injected = out.keys.filter(_ % 2 == 1).toSeq
    assert(injected.nonEmpty)
    // a cut-poor doc (1–2 chunks) can legitimately share nothing with
    // its shifted copy — the guarantee is for docs with an INTERIOR
    // cut to re-sync on (>= 3 chunks, the ChunkCdcSpec bar): those
    // pairs must share block mass in BOTH directions
    var resync = 0
    injected.foreach { id =>
      val (nOrig, dupOrig, _) = out(id - 1)
      val (_, dupCopy, _) = out(id)
      if (nOrig >= 3) {
        resync += 1
        assert(dupOrig > 0 && dupCopy > 0,
          s"pair ${id - 1}/$id (${nOrig} chunks) failed to share blocks")
      }
    }
    assert(resync * 2 >= injected.size, s"corpus too cut-poor ($resync)")
    // the typical doc shares most of its length -> most pairs flag
    val flagged = injected.count(id => out(id)._3)
    assert(flagged * 10 >= injected.size * 6,
      s"only $flagged/${injected.size} shifted copies flagged")
    assert(out.values.exists(!_._3), "gate must be non-trivial: clean docs exist")
  }

  test("shared interior region: dup mass on both sharers, none on a bystander") {
    val interior = (0 until 40).map(i => s"common$i").mkString(" ")
    val out = run(corpusOf(
        1L -> s"alpha intro text $interior",
        2L -> s"a completely different and longer preamble here $interior",
        3L -> "nothing in this short document is shared with anyone at all"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(3), r.getInt(4), r.getBoolean(6))).toMap
    assert(out(1L)._2 > 0 && out(2L)._2 > 0,
      "both sharers must carry duplicated block mass")
    assert(out(3L) == ((0, 0, false)), "the bystander must stay clean")
  }

  test("a block repeated only WITHIN one doc contributes nothing") {
    // long enough (~1.5k chars) that the region reliably contains
    // several interior cuts, so both occurrences chunk identically
    val region = (0 until 180).map(i => s"repeated segment $i with words").mkString(" ")
    val c = corpusOf(9L -> s"head $region middle filler words $region tail")
    // the repeated region must actually produce at least one repeated
    // chunk key, or this test proves nothing about the census rule
    val keys = TrainingData.chunkCdcWith(c, TrainingData.CdcGram,
        TrainingData.CdcDivisor, TrainingData.CdcRem)
      .groupBy("chunk_md5").count().filter(col("count") >= 2).count()
    assert(keys >= 1, "corpus must contain a within-doc repeated block")
    val r = run(c).collect()
    assert(r.length == 1 && r.head.getInt(3) == 0 && r.head.getInt(4) == 0 &&
      !r.head.getBoolean(6),
      "within-doc repeats are not cross-document duplication")
  }

  test("totals recompute from the chunk view") {
    val dir = "/root/testdata/sf0.001"
    val base = sources.Tables.documents(spark, dir)
    val corpus = base.select((col("doc_id") * 2).as("doc_id"), col("text"))
      .union(base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"),
          concat(lit("injected preamble sentence "), col("text")).as("text")))
    val chunks = TrainingData.chunkCdcWith(corpus, TrainingData.CdcGram,
      TrainingData.CdcDivisor, TrainingData.CdcRem).collect()
    val byDoc = chunks.groupBy(_.getLong(0))
    val docsPerKey = chunks.groupBy(_.getString(4))
      .view.mapValues(_.map(_.getLong(0)).distinct.size).toMap
    val got = TrainingData.dedupBlocks(spark, dir).collect()
    assert(got.length == byDoc.size)
    got.foreach { r =>
      val ch = byDoc(r.getLong(0))
      val dup = ch.filter(c => docsPerKey(c.getString(4)) >= 2)
      assert(r.getInt(1) == ch.length && r.getInt(2) == ch.map(_.getInt(3)).sum)
      assert(r.getInt(3) == dup.length, s"doc ${r.getLong(0)} n_dup_chunks")
      assert(r.getInt(4) == dup.map(_.getInt(3)).sum, s"doc ${r.getLong(0)} dup_len")
      assert(r.getBoolean(6) == (r.getInt(4) * 2 >= r.getInt(2)))
    }
  }
}
