package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TrainingData

/** B82b `op_dedup_blocks_rewrite` — the rewrite leg of block-level
  * dedup (keep-one-canonical-owner, the LBFS/Venti rule). Pins:
  *
  *  1. owner preservation on the graded corpus: a doc with zero
  *     removed chunks re-emits its text EXACTLY (tiling
  *     reconstruction — concatenating every chunk in order is the
  *     identity), and every re-synced shifted copy loses mass while
  *     its original survives untouched;
  *  2. the owner rule on a hand corpus: the minimum-id sharer keeps
  *     the shared region, later sharers lose exactly it, a bystander
  *     is untouched;
  *  3. the "some OTHER document" contract: within-doc repeats of a
  *     block nobody else has are never removed;
  *  4. arithmetic: per-doc rows recompute from the chunk view with an
  *     independent owner calculation. */
class DedupBlocksRewriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def corpusOf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private def run(c: DataFrame) = CacheLifecycle.selfReleasing(TrainingData.blockRewriteManaged(
    TrainingData.chunkCdcWith(c, TrainingData.CdcGram,
      TrainingData.CdcDivisor, TrainingData.CdcRem, withText = true)))

  test("graded corpus: originals survive untouched, re-synced copies lose mass") {
    val dir = "/root/testdata/sf0.001"
    val out = TrainingData.dedupBlocksRewrite(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4), r.getBoolean(5))))
      .toMap
    val texts = sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // tiling reconstruction: n_removed == 0 => text_clean IS the text
    val untouched = out.collect { case (id, (_, 0, _, clean, _)) => (id, clean) }
    assert(untouched.nonEmpty)
    untouched.foreach { case (id, clean) =>
      val expected =
        if (id % 2 == 0) texts(id / 2)
        else "injected preamble sentence " + texts(id / 2)
      assert(clean == expected, s"doc $id: untouched doc must re-emit exactly")
    }
    // every re-synced pair (>= 3 chunks on the original, the
    // DedupBlocksSpec bar): original keeps everything it owns vs its
    // copy; the copy loses every block shared ONLY with its original
    val injected = out.keys.filter(_ % 2 == 1).toSeq
    assert(injected.nonEmpty)
    var lost = 0
    injected.foreach { id =>
      val (nOrig, _, _, _, _) = out(id - 1)
      val (_, nRemovedCopy, _, _, _) = out(id)
      if (nOrig >= 3 && nRemovedCopy > 0) lost += 1
    }
    assert(lost * 2 >= injected.size,
      s"only $lost/${injected.size} shifted copies lost mass to their originals")
  }

  test("owner rule: min-id sharer keeps the region, later sharers lose it") {
    val interior = (0 until 40).map(i => s"common$i").mkString(" ")
    val out = run(corpusOf(
        1L -> s"alpha intro text $interior",
        2L -> s"a completely different and longer preamble here $interior",
        3L -> "nothing in this short document is shared with anyone at all"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(4)))).toMap
    // doc 1 is the minimum id containing every shared key -> untouched
    assert(out(1L)._2 == 0, "the owner must keep the shared region")
    assert(out(1L)._3 == s"alpha intro text $interior")
    // doc 2 loses the shared chunks but keeps its novel preamble
    assert(out(2L)._2 > 0, "the later sharer must lose the shared blocks")
    assert(out(2L)._3.startsWith("a completely different"))
    assert(!out(2L)._3.contains("common20 common21"),
      "the shared interior must be scrubbed from the later sharer")
    // the bystander is untouched
    assert(out(3L)._2 == 0 &&
      out(3L)._3 == "nothing in this short document is shared with anyone at all")
  }

  test("within-doc repeats of an unshared block are never removed") {
    val region = (0 until 180).map(i => s"repeated segment $i with words").mkString(" ")
    val text = s"head $region middle filler words $region tail"
    val c = corpusOf(9L -> text)
    val keys = TrainingData.chunkCdcWith(c, TrainingData.CdcGram,
        TrainingData.CdcDivisor, TrainingData.CdcRem)
      .groupBy("chunk_md5").count().filter(col("count") >= 2).count()
    assert(keys >= 1, "corpus must contain a within-doc repeated block")
    val r = run(c).collect()
    assert(r.length == 1 && r.head.getInt(2) == 0 && r.head.getString(4) == text,
      "within-doc repeats are not cross-document duplication")
  }

  test("rows recompute from the chunk view with an independent owner calc") {
    val dir = "/root/testdata/sf0.001"
    val base = sources.Tables.documents(spark, dir)
    val corpus = base.select((col("doc_id") * 2).as("doc_id"), col("text"))
      .union(base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"),
          concat(lit("injected preamble sentence "), col("text")).as("text")))
    val chunks = TrainingData.chunkCdcWith(corpus, TrainingData.CdcGram,
        TrainingData.CdcDivisor, TrainingData.CdcRem, withText = true)
      .collect()
    val byKey = chunks.groupBy(_.getString(4))
    val owner = byKey.collect {
      case (k, cs) if cs.map(_.getLong(0)).distinct.size >= 2 =>
        k -> cs.map(_.getLong(0)).min
    }
    val got = TrainingData.dedupBlocksRewrite(spark, dir).collect()
    assert(got.length == chunks.map(_.getLong(0)).distinct.length)
    got.foreach { r =>
      val id = r.getLong(0)
      val ch = chunks.filter(_.getLong(0) == id).sortBy(_.getInt(1))
      val keptCh = ch.filter(c => owner.get(c.getString(4)).forall(_ == id))
      assert(r.getInt(1) == ch.length, s"doc $id n_chunks")
      assert(r.getInt(2) == ch.length - keptCh.length, s"doc $id n_removed")
      assert(r.getInt(3) == keptCh.map(_.getInt(3)).sum, s"doc $id kept_len")
      assert(r.getString(4) == keptCh.map(_.getString(5)).mkString(""),
        s"doc $id text_clean")
      assert(r.getBoolean(5) == (r.getInt(2) < r.getInt(1)), s"doc $id kept")
    }
  }
}
