package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TrainingData

/** Semantics of the round-4 training-pipeline ops beyond what the
  * DuckDB oracle pins: non-vacuous detection (the planted leaks/PII
  * really fire), scale-shape invariants (broadcast side of the
  * decontamination join), and packing arithmetic. */
class TrainingOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("langid core: marker-free adversarial texts classify on real token evidence") {
    import spark.implicits._
    // NO planted marker strings: natural-ish prose per language, each
    // salted with a cross-language distractor token that must lose to
    // the majority evidence; counts are token INSTANCES (multiplicity)
    val fixtures = Seq(
      (1L, "hello to the world indeed a fine world today hola"),       // en 4 > es 1
      (2L, "hola amigos del mundo esto es ciertamente un gran mundo hello"), // es 4 > en 1
      (3L, "hallo liebe welt das ist tatsaechlich ein tag bonjour monde"),   // de 3 > fr 2
      (4L, "bonjour tout le monde ceci est vraiment un beau monde"),   // fr 4
      (5L, "nihao pengyou shijie zhe queshi hao shijie"),              // zh 4
      (6L, "nothing recognizable appears anywhere in this text"))      // all 0
    val out = TrainingData.langIdCore(fixtures.toDF("doc_id", "body"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(1L) == (("en", 4)), s"got ${out(1L)}")
    assert(out(2L) == (("es", 4)), s"got ${out(2L)}")
    assert(out(3L) == (("de", 3)), s"got ${out(3L)}")
    assert(out(4L) == (("fr", 4)), s"got ${out(4L)}")
    assert(out(5L) == (("zh", 4)), s"got ${out(5L)}")
    // the documented all-zero tie-break: lexicographically greatest code
    assert(out(6L) == (("zh", 0)), s"got ${out(6L)}")
  }

  test("decontaminate: every planted leak is flagged, via a broadcast join") {
    val out = TrainingData.decontaminate(spark, dir)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // planted leaks carry odd ids (2·id+1); real docs are even (2·id)
    val leaks = rows.filter(_._1 % 2 == 1)
    assert(leaks.nonEmpty, "no planted leaks in the corpus")
    assert(leaks.forall(_._3), "a planted leak escaped detection")
    assert(leaks.forall(_._2 >= 1))
    assert(rows.exists(r => !r._3), "everything contaminated — detection is vacuous")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"eval n-gram set must broadcast, not shuffle:\n$plan")
  }

  test("stratified sample: deterministic, and rates land near the strata targets") {
    val df = TrainingData.sampleStratified(spark, dir)
    val sampled = df.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = graft.sources.Tables.documents(spark, dir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // md5 coins are uniform; at n≈25–110 per stratum allow wide bands
    val enRate = sampled.getOrElse("en", 0L).toDouble / totals("en")
    assert(enRate > 0.25 && enRate < 0.75, s"en rate $enRate not near 0.5")
    val deRate = sampled.getOrElse("de", 0L).toDouble / totals("de")
    assert(deRate < 0.35, s"de rate $deRate not near 0.1")
    // idempotent: same rows on a second evaluation
    assert(df.collect().toSeq == df.collect().toSeq)
  }

  test("pack sequences: offsets are per-source prefix sums; packs cut at 1024") {
    // sf0.01: each source stream is long enough to cross the budget
    val rows = TrainingData.packSequences(spark, "/root/testdata/sf0.01").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    rows.groupBy(_._2).foreach { case (src, ds) =>
      val sorted = ds.sortBy(_._1)
      var expect = 0L
      sorted.foreach { case (id, _, nTok, off, pack) =>
        assert(off === expect, s"doc $id in $src: offset $off != prefix sum $expect")
        assert(pack === off / 1024, s"doc $id: pack $pack != ${off / 1024}")
        expect += nTok
      }
    }
    assert(rows.map(_._5).max >= 1, "budget never crossed — packing untested")
  }

  test("PII mask: planted emails and ids are found and masked") {
    val rows = TrainingData.textPiiMask(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    val planted = rows.filter(_._1 % 4 == 0)
    assert(planted.nonEmpty)
    assert(planted.forall(_._2 >= 1), "planted email not counted")
    assert(planted.forall(_._3 >= 1), "planted 9-digit id not counted")
    assert(rows.map(_._4).distinct.length == rows.length,
      "masked digests collide — masking degenerate")
  }

  test("plan shapes: sampling shuffles nothing, packing shuffles once on source") {
    def exchanges(name: String): Seq[String] = {
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      plan.linesIterator.filter(_.contains("Exchange")).map(_.trim).toSeq
    }
    // stratified sample: pure map-side filter — the only exchange is the
    // graded sort's one-partition exchange
    val sample = exchanges("op_sample_stratified")
    assert(sample.count(_.contains("hashpartitioning")) === 0,
      s"sampling must not hash-shuffle:\n${sample.mkString("\n")}")
    // two-level packing: the tokenized rows cross the wire ONCE — the
    // explicit repartition on (source, chunk) that both the inner window
    // and the chunk-base aggregation hang off — plus tiny base-frame
    // exchanges; never a partition-less window or sort over the rows
    // (an ENSURE_REQUIREMENTS single-partition exchange; the graded
    // sort's own is REPARTITION_BY_NUM). Reuse is an AQE
    // runtime decision, so assert on the FINAL plan (collect first; the
    // pre-execution plan legitimately shows both exchange copies).
    val packDf = SparkEntry.queries("op_pack_sequences")(spark, dir)
    packDf.collect()
    val pack = packDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
      .linesIterator.map(_.trim).toSeq
    val bigShuffles = pack.filter(l =>
      l.contains("REPARTITION_BY_COL") && !l.contains("ReusedExchange"))
    assert(bigShuffles.size === 1 &&
      bigShuffles.head.contains("source") && bigShuffles.head.contains("chunk"),
      s"packing should repartition the full rows exactly once, on (source, chunk):\n${pack.mkString("\n")}")
    assert(pack.exists(_.contains("ReusedExchange")),
      s"the tokenize shuffle must be reused, not recomputed, by the base branch:\n${pack.mkString("\n")}")
    assert(!pack.exists(l => l.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS")),
      s"packing fell back to a global sort:\n${pack.mkString("\n")}")
  }

  test("repetition: planted spam scores high, clean docs score low") {
    val rows = TrainingData.textRepetition(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4), r.getDouble(5)))
    val (planted, clean) = rows.partition(_._1 % 6 == 0)
    assert(planted.nonEmpty && clean.nonEmpty)
    // the planted 'spam spam' x5 run must surface as the top bigram
    assert(planted.forall(_._2 >= 5L), "planted spam run not counted as top bigram")
    // and shift the distributions (absolute separation is impossible: a
    // SHORT clean doc with one repeated bigram can out-fraction a long
    // planted one)
    def mean(xs: Array[Double]) = xs.sum / xs.length
    assert(mean(planted.map(_._3)) > mean(clean.map(_._3)) + 0.02,
      "planted repetition does not shift top_frac")
    assert(mean(planted.map(_._4)) > mean(clean.map(_._4)) + 0.02,
      "planted repetition does not shift dup_frac")
  }

  test("pipeline e2e: dedup stage removes every planted copy; gate is non-trivial") {
    val out = TrainingData.pipelineE2e(spark, "/root/testdata/sf0.01")
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(4), r.getLong(5), r.getLong(6)))
    val n = graft.sources.Tables.documents(spark, "/root/testdata/sf0.01").count()
    // planted exact dups carry ODD ids (2·id+1) and always lose
    // keep-first to their even original
    assert(!rows.exists(_._1 % 2 == 1), "a planted dup survived dedup")
    // the quality gate must drop some docs and keep some
    assert(rows.length > n / 10 && rows.length < n, s"gate degenerate: ${rows.length}/$n")
    // packing really runs on the MASKED token counts: offsets are
    // per-source prefix sums of m_tok over surviving docs in id order
    rows.groupBy(_._2).foreach { case (src, ds) =>
      var expect = 0L
      ds.sortBy(_._1).foreach { case (id, _, mTok, off, pack) =>
        assert(off === expect, s"doc $id in $src: offset $off != masked prefix sum $expect")
        assert(pack === off / 1024)
        expect += mTok
      }
    }
  }

  test("export shards: manifest matches the physical partitioned write") {
    val manifest = TrainingData.exportShards(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = java.nio.file.Files.createTempDirectory("shards").toString
    TrainingData.writeShards(graft.sources.Tables.documents(spark, dir), out)
    val written = spark.read.json(out)
    // partition dirs round-trip the same shard key and per-shard counts
    val byDir = written.groupBy("shard").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDir === manifest)
    assert(manifest.keys.forall(s => s.length == 1 && "0123456789abcdef".contains(s)))
    assert(manifest.values.sum === written.count())
  }

  // ---- B49 mixture weights: hand-computed temperature scaling -------------
  // lang aa: 9 tokens, lang bb: 16 tokens. tot=25 -> shares .36/.64;
  // alpha=0.5 weights = sqrt(n)/(3+4): 3/7=.428571, 4/7=.571429;
  // oversample = weight/share: 1.1905 (low-resource UP), 0.8929 (capped).
  test("mixture weights: alpha=0.5 oversamples the low-resource language") {
    import spark.implicits._
    val corpus = Seq(
      ("aa", "t1 t2 t3 t4 t5 t6 t7 t8 t9"),
      ("bb", "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12 u13 u14 u15 u16"))
      .toDF("lang", "text")
    val got = TrainingData.mixtureWeightsOf(corpus).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq === Seq(
      ("aa", 1L, 9L, 0.36, 0.428571, 1.1905),
      ("bb", 1L, 16L, 0.64, 0.571429, 0.8929)))
  }

  // ---- B50 quality classifier: hand-computed logits -----------------------
  // "the cat": mtl=(7-2+1)/2=3.0, ar=6/7, sr=1/2 ->
  //   logit = -1.2 + 2.5*(6/7) + 1.5*.5 + .05*3 -> keep
  //   (UNROUNDED since r16: the expected value is computed below with
  //   the SAME IEEE operations in the same order the op uses — raw
  //   doubles are the cross-engine-robust grading; any rounding scale
  //   has boundary values the engines resolve differently)
  // "XYZ QQQ": ar=0 (no lowercase), sr=0, mtl=3.0 ->
  //   logit = -1.2 + .15 = -1.05 -> drop
  test("quality classifier: hand-computed logits, threshold at logit 0") {
    import spark.implicits._
    val corpus = Seq((1L, "the cat"), (2L, "XYZ QQQ")).toDF("doc_id", "text")
    val got = TrainingData.qualityClassifierOf(corpus).collect()
      .map(r => (r.getLong(0), r.getDouble(4), r.getBoolean(5)))
    val logitCat = -1.2 + 2.5 * (6.0 / 7) + 1.5 * 0.5 + 0.05 * 3.0
    val logitXyz = -1.2 + 2.5 * 0.0 + 1.5 * 0.0 + 0.05 * 3.0
    assert(got.toSeq === Seq((1L, logitCat, true), (2L, logitXyz, false)))
  }
}
