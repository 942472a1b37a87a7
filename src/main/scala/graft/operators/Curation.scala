package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.OpQuery
import graft.functions.TextShingles
import graft.plans.RollingHash.rollingHash
import graft.sources.Tables

/** B68–B71: corpus-curation operators at sketch scale — the "what do we
  * keep" decisions a production training-data pipeline makes after the
  * dedup and quality families have run: bounded-memory decontamination
  * (Bloom filter), distribution-matching data selection (DSIR),
  * corpus-level boilerplate removal (exact line dedup with rewrite),
  * and the corpus-report statistics (entropy, Zipf) that sanity-check
  * all of the above. Standing contracts as in B61–B67: whitespace
  * tokens, the B31 rolling hash as the one string-hash kernel, integer
  * predicates wherever a value crosses an engine boundary in a
  * comparison, sums-of-logs rounded to 4 decimals (the certified B46
  * rule), odd/even planted re-keying.
  */
object Curation {

  private def docs(sp: SparkSession, dir: String): DataFrame =
    Tables.documents(sp, dir)

  private def toks(c: Column): Column = filter(split(c, " "), t => t =!= "")

  // shared DuckDB fragments (mirror TextShingles.withShingles and the
  // B31 rolling hash exactly — the same expressions the B17/B36/B65
  // oracles state)
  private val shSql =
    "list_transform(range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1), " +
      "i -> concat_ws(' ', string_split(text, ' ')[i], string_split(text, ' ')[i+1], " +
      "string_split(text, ' ')[i+2]))"
  // private[graft]: single SQL owner for the B31 rolling hash — also
  // stated by the B84 mixture-apply coin (TrainingData)
  private[graft] def rhSql(col: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($col) + 1), " +
      s"i -> ord(substring($col, CAST(i AS INTEGER), 1)))), " +
      s"(a, b) -> (a * 31 + b) % 1000000007)"

  // ---- B68: Bloom-filter decontamination -----------------------------------

  /** Filter geometry: m = 2¹⁶ bits, k = 4 affine hash rows over the B31
    * rolling hash (bit_j = ((h·A_j + B_j) mod P) mod m). Sized so the
    * eval-gram load stays under ~1 bit/cell at the bench SF (sf0.1:
    * ~10⁴ eval grams × 4 / 65536 ≈ 0.6 — gram-level false-positive rate
    * ≈ 4 %, real but far under the 20 % doc flag bar); the whole filter
    * is 64 Ki rows ≈ one broadcast block at ANY corpus size. */
  private[graft] val BloomBits = 65536
  private[graft] val BloomK = 4
  private[graft] val BloomA = Seq(31L, 131L, 1313L, 13131L)
  private[graft] val BloomB = Seq(7L, 77L, 777L, 7777L)

  /** Bit `j` of key or hash `h`: the geometry's one formula, as a plan
    * expression and on the driver. The driver form uses exact
    * arithmetic, so it throws where the ANSI plan expression throws and
    * equals it everywhere else (JoinBloomSpec pins the two equal). */
  private[graft] def bloomBit(h: Column, j: Int): Column =
    (h * BloomA(j) + BloomB(j)) % 1000000007L % BloomBits
  private[graft] def bloomBit(h: Long, j: Int): Long =
    Math.addExact(Math.multiplyExact(h, BloomA(j)), BloomB(j)) % 1000000007L % BloomBits

  /** The filter as a driver-side bitmask with `bits` set: BloomBits/64
    * = 1024 longs (8 KiB) whatever the number of bits set. */
  private[graft] def bloomMask(bits: Iterator[Long]): Array[Long] = {
    val mask = new Array[Long](BloomBits / 64)
    bits.foreach(b => mask((b / 64).toInt) |= (1L << (b % 64).toInt))
    mask
  }

  /** The k-bit membership test of `h` against `mask` — a pure map-side
    * projection (zero joins, zero state), the one probe of every
    * Bloom operator and API. */
  private[graft] def bloomHit(mask: Array[Long], h: Column): Column = {
    val maskLit = typedlit(mask.toSeq)
    BloomA.indices.map { j =>
      val bit = bloomBit(h, j)
      call_function("shiftright",
        element_at(maskLit, (bit / 64).cast("int") + 1),
        (bit % 64).cast("int")).bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  /** B68 — `op_sketch_bloom`: Bloom-filter membership decontamination
    * (Bloom 1970, "Space/time trade-offs in hash coding with allowable
    * errors", CACM 13(7); the trillion-token-scale dedup/decontam
    * device of Dolma — Soldaini et al. 2024, arXiv:2402.00159). The
    * BOUNDED-MEMORY counterpart of B36's exact-join decontamination,
    * graded the B51/B67 way: sketch verdict vs exact verdict, accuracy
    * under the hash. Same corpus construction as B36 (train re-keyed
    * 2·id, planted leaked copies of held-out docs at 2·id+1): the
    * held-out docs' word 3-gram shingles set bits in an m-bit filter;
    * a training doc's gram "hits" when all k of its bits are set; a
    * doc is bloom-flagged when ≥ 20 % of its distinct grams hit
    * (integer predicate 5·n_bloom ≥ n_grams — the fraction bar real
    * decontamination pipelines use, so isolated gram-level false
    * positives cannot flag a clean doc). Graded columns: per-doc gram
    * counts (n_grams / n_bloom / n_exact), both verdicts, and the
    * one-sided Bloom invariant `sound` = n_bloom ≥ n_exact (no false
    * negatives — certified cross-engine on every doc).
    *
    * Scale shape: THIS is why the op exists next to B36 — B36
    * broadcasts the full eval gram set (eval-sized, unbounded as
    * benchmark suites grow); the Bloom filter is ≤ m set-bit rows
    * built by map-side-combined distinct partials and broadcast ONCE,
    * a fixed 64 Ki ceiling however large the eval suite. The corpus
    * side never shuffles grams across docs: the k-bit probe is a
    * broadcast left join + per-(doc, gram) rollup co-partitioned with
    * the per-doc rollup that follows. */
  def sketchBloom(sp: SparkSession, dir: String): DataFrame = {
    val base = docs(sp, dir).select((col("doc_id") * 2).as("doc_id"), col("text"))
    val heldout = base.filter(col("doc_id") % 50 === 0)
    val train = base.filter(col("doc_id") % 50 =!= 0)
      .union(heldout.select((col("doc_id") + 1).as("doc_id"),
        concat(lit("leaked copy "), col("text")).as("text")))
    val evalGrams = TextShingles.withShingles(heldout, col("text"))
      .select(explode(col("shingles")).as("sh")).distinct()
    // a persisted range sort, not gradedSort: the one-partition tail
    // measured 1.25 -> 1.55 s at local[4] (sf0.1, best of 9 interleaved
    // runs; 2.09 -> 1.81 s at local[32]). The cache stays until cleared.
    bloomWith(train, evalGrams).persist().orderBy("doc_id")
  }

  /** Core behind [[sketchBloom]] and `api.Graft.bloomContaminate`: the
    * m-bit filter build + k-bit probe + 20 %-bar doc rollup over any
    * `train(doc_id, text)` against any `evalGrams(sh)`, without the
    * graded total sort. */
  private[graft] def bloomWith(train: DataFrame, evalGrams: DataFrame): DataFrame =
    bloomManaged(train, evalGrams)._1

  /** [[bloomWith]] plus the release handle for the persisted eval-gram
    * frame. r22 probe shape: the k-bit test is the SAME literal-mask
    * membership test the streaming probe uses ([[bloomMaskOf]] — a
    * bounded driver pull, ≤ [[BloomBits]]/64 longs by the geometry
    * constant), applied per distinct gram, instead of exploding k bit
    * rows per gram into a broadcast join against the bit set plus a
    * (doc, gram) rollup — the mask IS the distinct bit set, so the
    * verdict is identical (StreamingSpec already pins mask ≡ join),
    * and the plan drops one whole aggregation and a k× row explosion
    * (guide §4: replace join+explode+agg with an expression). The
    * eval-gram frame is persisted: it feeds the mask build AND the
    * exact-membership broadcast (two held-out shingle passes → one). */
  private[graft] def bloomManaged(train: DataFrame,
      evalGrams0: DataFrame): (DataFrame, () => Unit) = {
    val evalGrams = evalGrams0.persist()
    val mask = bloomMaskOf(evalGrams)
    val inEval = evalGrams.withColumn("in_eval", lit(1))
    // cluster the corpus TEXT by doc_id before shingling: one cheap
    // text-row exchange buys BOTH the (doc_id, sh) distinct and the
    // per-doc rollup for free at ANY scale — hashpartitioning(doc_id)
    // satisfies both, so the 3x-heavier gram rows never cross an
    // exchange (verified: the whole probe fuses into one
    // whole-stage-codegen span after this exchange; relying on
    // spreadForCpu instead would lose the fusion at production scale,
    // where it is deliberately a no-op)
    val trainG = TextShingles
      .withShingles(train.repartition(col("doc_id")), col("text"))
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .distinct()
      .join(broadcast(inEval), Seq("sh"), "left")
    val result = trainG
      .withColumn("h", rollingHash(col("sh"), lit(1), length(col("sh"))))
      .select(col("doc_id"), bloomHit(mask, col("h")).as("bhit"),
        col("in_eval").isNotNull.as("ehit"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(col("bhit").cast("long")).as("n_bloom"),
        sum(col("ehit").cast("long")).as("n_exact"))
      .select(col("doc_id"), col("n_grams"), col("n_bloom"), col("n_exact"),
        (col("n_bloom") >= col("n_exact")).as("sound"),
        (lit(5) * col("n_bloom") >= col("n_grams")).as("flag_bloom"),
        (lit(5) * col("n_exact") >= col("n_grams")).as("flag_exact"))
    (result, () => { evalGrams.unpersist(); () })
  }

  /** The k (bit) rows of each gram in `df` (adds `bit`, keeps all
    * input columns). */
  private def bloomCells(df: DataFrame, gram: Column): DataFrame =
    df.withColumn("h", rollingHash(gram, lit(1), length(gram)))
      .select(col("*"), explode(array(BloomA.indices.map { j =>
        bloomBit(col("h"), j).as("b")
      }: _*)).as("bit"))
      .drop("h")

  // ---- B76s: the streaming Bloom probe -------------------------------------

  /** The filter as a DRIVER-SIDE bitmask ([[bloomMask]]) — bounded by
    * the geometry constant, the same by-construction bound as the
    * hot-prefix literal set and the k-means centroid pull. This is
    * what makes the STREAMING probe stateless: the mask embeds in the
    * plan as one literal array, so the per-row verdict needs no join,
    * no explode, no aggregation state. */
  private[graft] def bloomMaskOf(evalGrams: DataFrame): Array[Long] =
    bloomMask(bloomCells(evalGrams, col("sh")).select(col("bit")).distinct()
      .collect().iterator.map(_.getLong(0)))

  /** B76s plan builder — the Bloom probe as a STATELESS per-row
    * projection over batch OR streaming documents: shingle, hash each
    * distinct gram once, test its k bits against the literal mask,
    * emit the per-doc verdict. Zero joins, zero aggregation state,
    * zero watermarks — Append-safe at any stream rate, the ingest-time
    * decontamination gate Dolma-style pipelines run in front of the
    * exact (batch) pass. Unified API: the same builder serves the t2
    * batch grade and the MemoryStream parity spec. */
  private[graft] def bloomProbePlan(docs: DataFrame, mask: Array[Long]): DataFrame = {
    TextShingles.withShingles(docs, col("text"))
      .withColumn("g", array_distinct(col("shingles")))
      // hash once per gram (HOF lambdas re-evaluate inlined subtrees —
      // mapping to hashes first keeps it at one rolling hash per gram,
      // not k)
      .withColumn("hs", transform(col("g"), sh => rollingHash(sh, lit(1), length(sh))))
      .select(col("doc_id"), size(col("g")).cast("long").as("n_grams"),
        size(filter(col("hs"), h => bloomHit(mask, h))).cast("long").as("n_bloom"))
      .withColumn("flag_bloom", lit(5) * col("n_bloom") >= col("n_grams"))
  }

  /** B76s — `op_stream_bloom`: the batch grade of [[bloomProbePlan]]
    * on B68's exact corpus construction (train re-keyed 2·id, planted
    * leaked copies 2·id+1, filter built from the held-out docs), so
    * the streaming builder's verdicts hash-check against the same
    * DuckDB membership oracle as the batch op — n_bloom and
    * flag_bloom here must agree with op_sketch_bloom's columns row
    * for row (the bitmask and the bit-set join are the same
    * membership test; StreamingSpec pins stream ≡ batch on a
    * MemoryStream). */
  def streamBloom(sp: SparkSession, dir: String): DataFrame = {
    val base = docs(sp, dir).select((col("doc_id") * 2).as("doc_id"), col("text"))
    val heldout = base.filter(col("doc_id") % 50 === 0)
    val train = base.filter(col("doc_id") % 50 =!= 0)
      .union(heldout.select((col("doc_id") + 1).as("doc_id"),
        concat(lit("leaked copy "), col("text")).as("text")))
    val evalGrams = TextShingles.withShingles(heldout, col("text"))
      .select(explode(col("shingles")).as("sh")).distinct()
    bloomProbePlan(train, bloomMaskOf(evalGrams)).transform(OpQuery.gradedSort("doc_id"))
  }

  // ---- B69: DSIR importance weights ----------------------------------------

  /** Feature space: word bigrams hashed into F = 128 buckets (the
    * hashed bag-of-ngrams feature of DSIR, sized to this corpus's
    * ~10³ distinct bigrams so buckets are well-populated at every
    * graded SF); target slice = the curated-source analogue
    * `source = 'src0'`; selection bar = top quartile. */
  private[graft] val DsirBuckets = 128
  private[graft] val DsirTargetSource = "src0"

  /** B69 — `op_dsir_weights`: Data Selection via Importance Resampling
    * (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling", arXiv:2302.03169): estimate target and
    * raw unigram distributions over HASHED n-gram features (here: word
    * bigrams → F=128 buckets via the B31 rolling hash), score every
    * document with its mean per-bigram log importance ratio
    * λ(b) = ln p̂_target(b) − ln p̂_raw(b) (add-1 smoothed, rounded to
    * 4 decimals — the certified B46 sums-of-logs rule), and select the
    * top quartile by score. Selection is the B63 histogram-threshold
    * semantics, mirrored to the top end: the rounded score scales to
    * an exact integer w_i = round(avg_lr·10⁴), the threshold is the
    * LARGEST integer score whose descending-cumulative count reaches
    * ⌈n/4⌉, and membership is the integer comparison w_i ≥ t —
    * tie-inclusive, no float ever crosses an engine boundary in a
    * comparison. Docs with < 2 tokens have no features and are out of
    * scope (B63's rule).
    *
    * Scale shape: both feature distributions are F-row aggregates
    * (map-side partials into 128 groups however large the corpus);
    * the λ table is F rows BROADCAST to the occurrence stream; the
    * only corpus-sized exchange is the per-doc rollup. The selection
    * pass aggregates the VALUE histogram (bounded by the 4-dp score
    * range, not the corpus), exactly like B63 — one integer threshold
    * broadcasts back; never a global sort, never a rank. */
  def dsirWeights(sp: SparkSession, dir: String): DataFrame =
    dsirWith(docs(sp, dir), col("source") === DsirTargetSource)._1
      .transform(OpQuery.gradedSort("doc_id"))

  /** Core behind [[dsirWeights]] and `api.Graft.dsirWeights`: feature
    * hash → smoothed log-ratio table → per-doc mean score →
    * tie-inclusive top-fraction threshold, over any
    * `corpus(doc_id, text)` with `isTarget` any boolean expression
    * over its columns (the graded op passes `source = 'src0'`).
    * Returns the result plus a release handle for the per-doc scores
    * cache. */
  private[graft] def dsirWith(corpus: DataFrame, isTarget: Column,
      keepNum: Column => Column = n => ceil(n / 4.0)): (DataFrame, () => Unit) = {
    val (lam, perDoc, thr, release) = dsirParts(corpus, isTarget, keepNum)
    val out = perDoc.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("is_t").as("is_target"),
        col("n_bigrams"), col("avg_lr"), col("w_i"),
        (col("w_i") >= col("t")).as("selected"))
    val _ = lam // the λ frame is the B77s model export's half of the parts
    (out, release)
  }

  /** The shared DSIR machinery behind [[dsirWith]] (B69) and the B77s
    * model export: λ table (F rows), cached per-doc scores, the
    * tie-inclusive threshold frame, and ONE release handle for every
    * frame persisted here. One owner — the stream gate's literals can
    * never drift off the graded batch model. */
  private def dsirParts(corpus: DataFrame, isTarget: Column,
      keepNum: Column => Column): (DataFrame, DataFrame, DataFrame, () => Unit) = {
    val sp = corpus.sparkSession
    // persisted (r22): the hashed bucket stream feeds the F-row model
    // aggregate AND the per-doc scoring join — unpersisted, the corpus
    // tokenize + bigram concat + rolling hash (the op's dominant
    // per-row cost) ran once per consumer (the "B46 two-pass shape"
    // comment r21 left in place; VERDICT r21 item 8). Bigram-
    // occurrence-sized, three narrow columns; spills to disk at scale.
    val feats = corpus
      .select(col("doc_id"), isTarget.as("is_t"), toks(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), col("is_t"), explode(arrays_zip(
        slice(col("ts"), lit(1), size(col("ts")) - 1).as("w1"),
        slice(col("ts"), lit(2), size(col("ts")) - 1).as("w2"))).as("bg"))
      .select(col("doc_id"), col("is_t"),
        concat(col("bg.w1"), lit(" "), col("bg.w2")).as("g"))
      .withColumn("b", rollingHash(col("g"), lit(1), length(col("g"))) % DsirBuckets)
      .select(col("doc_id"), col("is_t"), col("b"))
      .persist()
    // ONE F-row aggregate carries both distributions (raw = every
    // occurrence, target = the target-slice occurrences)
    val cnts = feats.groupBy("b").agg(count(lit(1)).as("cr"),
      count(when(col("is_t"), lit(1))).as("ct"))
    // every bucket needs a λ even when unseen (add-1 keeps it finite):
    // seed from the full 0..F-1 range, not the data. Persisted (r22):
    // `totals` and `lam` BOTH hang off this frame, and without the
    // (128-row) cache each re-ran the F-row aggregate over feats.
    val buckets = sp.range(DsirBuckets).select(col("id").as("b"))
      .join(cnts, Seq("b"), "left")
      .select(col("b"), coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("ct"), lit(0L)).as("ct"))
      .persist()
    val totals = buckets.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    val lam = buckets.crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("ct") + lit(1.0)) / (col("tt") + lit(DsirBuckets.toDouble))) -
          log((col("cr") + lit(1.0)) / (col("tr") + lit(DsirBuckets.toDouble))))
          .as("lam"))
    // three consumers (doc count, histogram, final flag join) read the
    // per-doc scores — cache the skinny frame so the feature pass runs
    // once (corpus-row-sized, spills to disk at 100 TB)
    val perDoc = feats.join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"), col("is_t"))
      // + 0.0 normalizes IEEE negative zero: a tiny negative mean
      // rounds to -0.0 in one engine and 0.0 in the other, and the
      // gate's hash distinguishes them; (-0.0) + 0.0 = +0.0 and the
      // add is the identity on every other value
      .agg(count(lit(1)).as("n_bigrams"),
        (round(avg(col("lam")), 4) + lit(0.0)).as("avg_lr"))
      .withColumn("w_i", round(col("avg_lr") * 10000).cast("long"))
      .cache()
    val nDocs = perDoc.agg(count(lit(1)).as("n"))
    val hist = perDoc.groupBy("w_i").agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum",
      sum(col("c")).over(Window.orderBy(col("w_i").desc)
        .rowsBetween(Window.unboundedPreceding, 0)))
    val thr = cum.crossJoin(broadcast(nDocs))
      .filter(col("cum") >= keepNum(col("n")))
      .agg(max(col("w_i")).as("t"))
    (lam, perDoc, thr,
      () => { perDoc.unpersist(); feats.unpersist(); buckets.unpersist(); () })
  }

  /** B77s model export: train the B69 model batch-side and collect it
    * as plan-embeddable literals — the F λ doubles (bucket-ordered)
    * and the integer threshold. Bounded by the geometry constant F
    * (+1 scalar), the same by-construction driver pull as the B76s
    * bitmask. Releases the training scores cache before returning. */
  private[graft] def dsirModelOf(corpus: DataFrame, isTarget: Column,
      keepNum: Column => Column = n => ceil(n / 4.0)): (Array[Double], Long) = {
    val (lam, _, thr, release) = dsirParts(corpus, isTarget, keepNum)
    // ONE driver job for the whole model (r21): the λ table and the
    // threshold union into a single bounded collect (threshold row
    // marked b = -1; w_i is a rounded 4-dp score ×10⁴, far inside
    // double's exact-integer range) — the two sequential collects each
    // paid their own job launch.
    val arr = new Array[Double](DsirBuckets)
    var t = 0L
    lam.unionByName(thr.select(lit(-1L).as("b"), col("t").cast("double").as("lam")))
      .collect().foreach { r =>
        val b = r.getLong(0)
        if (b < 0) t = r.getDouble(1).toLong else arr(b.toInt) = r.getDouble(1)
      }
    release()
    (arr, t)
  }

  /** B77s plan builder — DSIR scoring as a STATELESS per-row
    * projection over batch OR streaming documents: the trained λ table
    * (F doubles) and the selection threshold embed in the plan as
    * literals, each doc's bigram buckets fold to a mean score in ONE
    * pass (left fold — the oracle states the identical reduction
    * order), and `selected` is the integer comparison w_i ≥ t. Zero
    * joins, zero state, zero watermarks — Append-safe: the
    * train-batch / score-stream split every production selection gate
    * runs. Docs with < 2 tokens are out of scope (the B63/B69 rule; a
    * stateless filter). */
  private[graft] def dsirStreamPlan(docs: DataFrame, lam: Array[Double],
      threshold: Long): DataFrame = {
    val lamLit = typedlit(lam.toSeq)
    docs
      .withColumn("ts", toks(col("text")))
      .filter(size(col("ts")) >= 2)
      // gram strings materialized BEFORE the hash pass (HOF lambdas
      // re-evaluate inlined subtrees — one concat per gram, one hash
      // per gram, mirroring the oracle's gl → bs CTE shape)
      .withColumn("gs", transform(sequence(lit(1), size(col("ts")) - 1),
        i => concat(element_at(col("ts"), i), lit(" "),
          element_at(col("ts"), i + 1))))
      .withColumn("bs", transform(col("gs"),
        g => rollingHash(g, lit(1), length(g)) % DsirBuckets))
      .select(col("doc_id"), size(col("bs")).cast("long").as("n_bigrams"),
        (round(aggregate(col("bs"), lit(0.0d),
          (acc, b) => acc + element_at(lamLit, b.cast("int") + 1))
          / size(col("bs")), 4) + lit(0.0)).as("avg_lr"))
      .withColumn("w_i", round(col("avg_lr") * 10000).cast("long"))
      .withColumn("selected", col("w_i") >= threshold)
  }

  /** B77s — `op_stream_dsir`: the batch grade of [[dsirStreamPlan]] —
    * train the B69 model on the corpus (λ table + tie-inclusive
    * quartile threshold, both collected as bounded literals), then
    * score the SAME corpus through the stateless per-row plan. The
    * fold's summation order is stated identically in the oracle
    * (list_reduce over the same bucket list), so the only cross-engine
    * float surface is the λ values themselves — the certified B46/B69
    * sums-of-logs class. StreamingSpec runs the plan in APPEND mode
    * without a watermark over a MemoryStream and pins stream ≡ batch;
    * the per-row fold typically agrees with B69's grouped average to
    * the rounded 4 dp, but the declared contract is the fold (the two
    * formulations are NOT asserted equal — summation order differs). */
  def streamDsir(sp: SparkSession, dir: String): DataFrame = {
    val (lam, t) = dsirModelOf(docs(sp, dir),
      col("source") === DsirTargetSource)
    dsirStreamPlan(docs(sp, dir), lam, t).transform(OpQuery.gradedSort("doc_id"))
  }

  // ---- B70: exact line-level dedup with rewrite ----------------------------

  /** Line geometry: a "line" is a non-overlapping [[LineTokens]]-token
    * block (this corpus has no newline structure — the block width is
    * the declared line unit, chosen at ~⅕ of a typical doc); a line is
    * dup-ELIGIBLE only at ≥ [[LineMinTokens]] tokens (the min-span
    * guard — RefinedWeb's own line filters carry length floors so that
    * trivially short tails cannot collide); a line is DUPLICATED when
    * its exact text occurs in ≥ [[LineMinDocs]] distinct docs. */
  private[graft] val LineTokens = 10
  private[graft] val LineMinTokens = 5
  private[graft] val LineMinDocs = 2

  /** Salt fan-out for the dup join-back's plan-time skew mitigation
    * (see the body comment in [[dedupLinesWith]]): the hottest line
    * key's probe rows spread over this many reducers instead of one.
    * Dup-side cost is a LineSalts× explode of a dup-set-sized frame. */
  private[graft] val LineSalts = 8

  /** The planted boilerplate line — exactly [[LineTokens]] tokens, so
    * every planted copy's subsequent blocks align with its original's
    * blocks (the alignment is the plant's point: original and copy
    * then share every line). */
  private[graft] val BoilerLine =
    "subscribe to the channel for more updates about spark data"

  /** B70 — `op_dedup_lines`: corpus-level EXACT line deduplication
    * with document rewrite — the line-wise dedup stage of RefinedWeb
    * (Penedo et al. 2023, arXiv:2306.01116) and the repetition-removal
    * family of MassiveText (Rae et al. 2021, arXiv:2112.11446): a line
    * whose exact text appears in ≥ 2 distinct documents is corpus
    * boilerplate; every occurrence is REMOVED and the document is
    * re-emitted from its surviving lines (order preserved), dropped
    * entirely (`kept` = false) when nothing non-duplicated remains.
    * This is the transform the flag-only ops (B16/B62) stop short of:
    * the output is the cleaned corpus itself. Planted evidence:
    * every 5th doc gains a copy (re-keyed 2·id+1, originals 2·id)
    * prefixed with the 10-token [[BoilerLine]] — block alignment makes
    * original and copy share every line, so both members must scrub to
    * (at most) a sub-[[LineMinTokens]] tail, and the boiler line
    * itself — corpus-wide boilerplate in the ~n/5 planted copies —
    * must vanish everywhere.
    *
    * Scale shape: one line-keyed exchange (the distinct-doc count per
    * line — map-side partials; at 100 TB the key is B31's 8-byte
    * rolling hash of the line as in B62, the string key here keeps the
    * oracle byte-exact), a line-keyed join back (dup set is
    * data-dependent — never broadcast-HINTED; Catalyst broadcasts a
    * runtime-small dup set and degrades to a shuffle join past the
    * threshold), and one doc-keyed rollup to
    * rebuild texts. Never all-pairs, nothing corpus-sized on the
    * driver. */
  def dedupLines(sp: SparkSession, dir: String): DataFrame = {
    val base = docs(sp, dir)
    val corpus = base.select((col("doc_id") * 2).as("doc_id"), col("text"))
      .union(base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"),
          concat(lit(BoilerLine + " "), col("text")).as("text")))
    dedupLinesWith(corpus).transform(OpQuery.gradedSort("doc_id"))
  }

  /** Core behind [[dedupLines]] and `api.Graft.dedupLines`: block
    * split → distinct-doc line counts → rewrite, over any
    * `corpus(doc_id, text)`, without the graded total sort.
    *
    * `hashLines = true` keys the dup-count exchange and the join back
    * on `xxhash64(line)` — the production 8-byte shuffle key (B62's
    * `hashGrams` rule, ~6× narrower exchange than k-token strings); a
    * 64-bit birthday collision merges two line groups, flagging the
    * colliding lines as boilerplate a count early — with ~10⁻⁷ of
    * line groups colliding even at 10¹² lines the expected affected
    * DOC count rounds to zero (DedupLinesHotKeySpec pins hash ≡
    * string verdicts row-for-row on the graded and the degenerate
    * corpus). The graded op keeps the string key for the byte-exact
    * oracle. */
  private[graft] def dedupLinesWith(corpus: DataFrame,
      lineTokens: Int = LineTokens, minTokens: Int = LineMinTokens,
      minDocs: Int = LineMinDocs, hashLines: Boolean = false): DataFrame =
    dedupLinesManaged(corpus, lineTokens, minTokens, minDocs, hashLines)._1

  /** [[dedupLinesWith]] plus the release handle for the persisted line
    * frame. */
  private[graft] def dedupLinesManaged(corpus: DataFrame,
      lineTokens: Int = LineTokens, minTokens: Int = LineMinTokens,
      minDocs: Int = LineMinDocs,
      hashLines: Boolean = false): (DataFrame, () => Unit) = {
    val lines = corpus
      .select(col("doc_id"), toks(col("text")).as("ts"))
      .filter(size(col("ts")) >= 1)
      .withColumn("n_lines",
        ceil(size(col("ts")).cast("double") / lineTokens).cast("int"))
      .select(col("doc_id"),
        explode(sequence(lit(0), col("n_lines") - 1)).as("line_id"),
        col("ts"))
      .withColumn("lt",
        slice(col("ts"), col("line_id") * lineTokens + 1, lit(lineTokens)))
      .select(col("doc_id"), col("line_id").cast("int").as("line_id"),
        array_join(col("lt"), " ").as("line"), size(col("lt")).as("llen"))
    // persisted (r21): the line frame feeds the dup-count aggregation
    // AND the join-back probe side — unpersisted, the tokenize + block
    // split ran twice per execution (4 corpus scans → 2, the union
    // arms). Line-rows-sized (the corpus re-blocked; spills at scale).
    val keyed =
      (if (hashLines) lines.withColumn("lk", xxhash64(col("line")))
       else lines.withColumn("lk", col("line"))).persist()
    val dup = keyed.filter(col("llen") >= minTokens)
      .groupBy("lk").agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("lk"), lit(true).as("isdup"))
    // 100 TB hot-key insurance (r18, measured): a boiler line in EVERY
    // doc sends the join-back's whole probe side to ONE reducer once
    // the dup set outgrows the broadcast threshold
    // (tools.DedupLinesHotKeyProbe measured the pure shape: partition
    // bytes [0, 209k, 0, 0]). AQE's OptimizeSkewedJoin CANNOT rescue
    // this plan — its matcher needs a shuffle-stage boundary directly
    // under each side's sort, and the dup aggregation sits between its
    // exchange and the join (a same-key repartition to restore the
    // boundary is eliminated by the optimizer — both verified by the
    // probe). So the mitigation is the engine's own PLAN-TIME device,
    // B4b's salted join: probe rows spread over (lk, salt-of-doc_id),
    // the dup side — ONE row per key — explodes LineSalts×
    // (dup-set-sized, the cheapest frame in the plan), and the hot
    // key's rows land on LineSalts reducers by construction, no
    // runtime statistics required. Result-invariant (left-preserving
    // salt; the graded oracle is the plain join), and when the dup set
    // is broadcast-small Catalyst still broadcasts the exploded side —
    // the salt costs nothing on the happy path.
    val result = Skew.saltedJoin(keyed, dup, Seq("lk"), LineSalts, col("doc_id"), "left")
      .withColumn("dup", coalesce(col("isdup"), lit(false)))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_lines"),
        sum(col("dup").cast("long")).cast("int").as("n_dup"),
        array_join(transform(
          array_sort(collect_list(when(!col("dup"),
            struct(col("line_id"), col("line"))))),
          s => s.getField("line")), " ").as("text_clean"))
      .withColumn("kept", col("n_dup") < col("n_lines"))
    (result, () => { keyed.unpersist(); () })
  }

  // ---- B80: corpus report — Heaps' law vocabulary growth -------------------

  /** Docs per prefix bucket for the Heaps fit: cumulative (tokens,
    * types) are evaluated at bucket boundaries in doc_id order, so the
    * cumulative frame is corpus/[[HeapsSpan]] rows — the pack-op chunk
    * discipline, never a doc-sized single-task window. */
  private[graft] val HeapsSpan = 256

  /** B80 — `op_stats_heaps`: the OTHER corpus-report law — Heaps'
    * (Herdan's) law of vocabulary growth, V(N) ≈ K·N^β (Heaps 1978,
    * "Information Retrieval: Computational and Theoretical Aspects";
    * see Egghe 2007, JASIST 58(5) for the modern treatment): as a
    * curation run ingests more text, the distinct-type count grows
    * polynomially, and the exponent β is the standard health signal
    * for dedup/boilerplate damage — heavy boilerplate depresses β long
    * before it moves B71's Zipf slope, because repeats add tokens
    * without adding types. Output: one row — corpus totals (n_docs,
    * n_tokens, n_types), the number of log-spaced prefix points, and
    * the OLS fit of ln V on ln N over those points (`heaps_beta`, and
    * `heaps_lnk` the intercept), rounded 4 dp (the B46/B71
    * sums-of-logs rule).
    *
    * Declared prefix geometry (oracle-identical): docs group into
    * [[HeapsSpan]]-doc buckets by `doc_id DIV span` (doc_id order IS
    * the ingest order here); cumulative token/type counts are taken
    * at every bucket b whose index has `(b+1) & b == 0` — powers of
    * two, ≤ 64 points for any corpus that fits in a long, and evenly
    * spaced in ln N, exactly what a log-log fit wants. A type's
    * arrival is its FIRST-occurrence bucket (min doc_id over the
    * corpus), so the cumulative V at a point counts types seen
    * anywhere in the prefix — the law's V(N).
    *
    * Scale shape: one corpus token pass feeds BOTH aggregates
    * (vocab-sized first-occurrence min, bucket-sized token counts —
    * map-side partials each); everything after is bucket-frame-sized
    * (corpus/256 rows), and the cumulative sums run as a TWO-LEVEL
    * prefix sum (r19 — the packOffsets chunk-base form): buckets sum
    * within 256-bucket super-chunks in parallel and only the chunk
    * totals (corpus/65536 rows) cross the one ordered stream, so no
    * stage is single-partition in corpus-linear rows at any scale.
    * The regression runs over ≤ 64 points. Fewer than 2 points
    * (corpora under ~2·span docs with default span) make the OLS
    * denominator zero — domain documented on the API. */
  def statsHeaps(sp: SparkSession, dir: String): DataFrame =
    // bare orderBy: a one-row aggregate report, no exchange
    statsHeapsWith(docs(sp, dir)).orderBy("n_docs")

  /** Core behind [[statsHeaps]] and `api.Graft.heapsGrowth`: the
    * one-row report over any `corpus(doc_id, text)`; `span` sizes the
    * prefix buckets. */
  private[graft] def statsHeapsWith(corpus: DataFrame,
      span: Int = HeapsSpan): DataFrame =
    statsHeapsManaged(corpus, span)._1

  /** [[statsHeapsWith]] plus the release handle for the persisted
    * bucket frame. */
  private[graft] def statsHeapsManaged(corpus: DataFrame,
      span: Int = HeapsSpan): (DataFrame, () => Unit) = {
    val dt = corpus.select(col("doc_id"), explode(toks(col("text"))).as("t"))
    // first-occurrence bucket per type (vocab-sized), new types per bucket
    val nv = dt.groupBy("t").agg(min(col("doc_id")).as("fd"))
      .groupBy(expr(s"fd DIV $span").as("b"))
      .agg(count(lit(1)).as("nv"))
    // tokens per bucket (bucket-sized after map-side partials)
    val nt = dt.groupBy(expr(s"doc_id DIV $span").as("b"))
      .agg(count(lit(1)).as("nt"))
    // cumulative (tokens, types) via the TWO-LEVEL prefix sum
    // (the packOffsets chunk-base precedent, r18 verdict watch item):
    // a flat Window.orderBy("b") would single-partition the whole
    // bucket frame (corpus/256 rows — fine to ~10⁸ docs, unbounded
    // past it). Instead buckets sum within 256-bucket super-chunks in
    // parallel, and only the super-chunk TOTALS (corpus/65536 rows)
    // cross the one ordered stream. Values are identical prefix sums;
    // the oracle is unchanged.
    val bt = nt.join(nv, Seq("b"), "left")
      .withColumn("nv", coalesce(col("nv"), lit(0L)))
      .withColumn("ck", expr(s"b DIV ${HeapsSpan.toLong}"))
      // non-null join keys by construction; pre-assert so the join
      // below can't de-canonicalize the two branches' exchanges (the
      // packOffsets reuse lesson)
      .filter(col("ck").isNotNull)
      .repartition(col("ck"))
      // persisted (r21): the bucket frame feeds both the within-chunk
      // prefix sums (pts) and the chunk-base aggregation (bases) —
      // unpersisted, each consumer re-ran the corpus tokenize +
      // both bucket aggregations (5 corpus scans per execution → 3).
      // Bucket-sized (corpus/256 rows), the cheapest frame here.
      .persist()
    val wIn = Window.partitionBy("ck").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, 0)
    val within = bt
      .withColumn("vv_in", sum(col("nv")).over(wIn))
      .withColumn("nn_in", sum(col("nt")).over(wIn))
    val wCk = Window.orderBy("ck").rowsBetween(Window.unboundedPreceding, -1)
    val bases = within.groupBy("ck")
      .agg(max(col("vv_in")).as("cv"), max(col("nn_in")).as("cn"))
      .withColumn("vbase", coalesce(sum(col("cv")).over(wCk), lit(0L)))
      .withColumn("nbase", coalesce(sum(col("cn")).over(wCk), lit(0L)))
      .select("ck", "vbase", "nbase")
    val pts = within.join(bases, Seq("ck"))
      .withColumn("vv", col("vbase") + col("vv_in"))
      .withColumn("nn", col("nbase") + col("nn_in"))
      .filter(((col("b") + 1).bitwiseAND(col("b"))) === 0)
      .select(log(col("nn")).as("x"), log(col("vv")).as("y"))
    val reg = pts.agg(count(lit(1)).as("nr"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val tot = dt.agg(countDistinct(col("doc_id")).as("n_docs"),
      count(lit(1)).as("n_tokens"), countDistinct(col("t")).as("n_types"))
    val result = tot.crossJoin(broadcast(reg))
      // try_divide: a single prefix point makes the OLS denominator 0
      // and ANSI-mode `/` throws — the declared domain edge reports a
      // NULL fit instead (the oracle never reaches it; graded corpora
      // have ≥ 2 points)
      .withColumn("beta", try_divide(
        col("nr") * col("sxy") - col("sx") * col("sy"),
        col("nr") * col("sxx") - col("sx") * col("sx")))
      .select(col("n_docs"), col("n_tokens"), col("n_types"),
        col("nr").cast("int").as("n_points"),
        (round(col("beta"), 4) + lit(0.0)).as("heaps_beta"),
        (round((col("sy") - col("beta") * col("sx")) / col("nr"), 4) + lit(0.0))
          .as("heaps_lnk"))
    (result, () => { bt.unpersist(); () })
  }

  /** B80 oracle — shared with the registry entry below. */
  private[graft] val StatsHeapsSql: String =
    s"""WITH dt AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
      |  FROM documents),
      |nv AS (
      |  SELECT fd // $HeapsSpan AS b, count(*) AS nv
      |  FROM (SELECT t, min(doc_id) AS fd FROM dt GROUP BY t) GROUP BY 1),
      |nt AS (SELECT doc_id // $HeapsSpan AS b, count(*) AS nt FROM dt GROUP BY 1),
      |cum AS (
      |  SELECT nt.b,
      |    sum(COALESCE(nv.nv, 0)) OVER (ORDER BY nt.b) AS vv,
      |    sum(nt.nt) OVER (ORDER BY nt.b) AS nn
      |  FROM nt LEFT JOIN nv ON nt.b = nv.b),
      |pts AS (
      |  SELECT ln(nn) AS x, ln(vv) AS y FROM cum WHERE ((b + 1) & b) = 0),
      |reg AS (
      |  SELECT count(*) AS nr, sum(x) AS sx, sum(y) AS sy,
      |    sum(x * y) AS sxy, sum(x * x) AS sxx
      |  FROM pts),
      |tot AS (
      |  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |    CAST(count(*) AS BIGINT) AS n_tokens,
      |    CAST(count(DISTINCT t) AS BIGINT) AS n_types
      |  FROM dt)
      |SELECT n_docs, n_tokens, n_types, CAST(nr AS INTEGER) AS n_points,
      |  round((nr * sxy - sx * sy) / (nr * sxx - sx * sx), 4) + 0.0 AS heaps_beta,
      |  round((sy - ((nr * sxy - sx * sy) / (nr * sxx - sx * sx)) * sx) / nr, 4) + 0.0 AS heaps_lnk
      |FROM tot, reg ORDER BY n_docs""".stripMargin

  // ---- B71: corpus report — entropy + Zipf ---------------------------------

  /** Regression depth for the Zipf fit: the top-[[ZipfRanks]] unigram
    * ranks (or the whole vocabulary when smaller), ties broken by
    * token text so the ranking is total. */
  private[graft] val ZipfRanks = 50

  /** B71 — `op_stats_zipf`: the corpus-report statistics a curation run
    * logs before and after every filter stage — token/type totals,
    * unigram Shannon entropy (Shannon 1948, "A Mathematical Theory of
    * Communication", BSTJ 27 — computed as ln N − (Σ c·ln c)/N, one
    * aggregate over the vocabulary), and the Zipf rank-frequency slope
    * (Zipf 1949; see Piantadosi 2014, "Zipf's word frequency law in
    * natural language", Psychon Bull Rev 21(5)): the OLS slope of
    * ln freq on ln rank over the top-[[ZipfRanks]] ranks
    * (rank = row_number by count desc, token asc — total order).
    * Sums of logs rounded to 4 decimals per the certified B46 rule;
    * one output row.
    *
    * Scale shape: everything is vocabulary-sized after one map-side-
    * combined unigram aggregate — the entropy term is a second
    * vocabulary-sized aggregate, the Zipf head is a top-K
    * (TakeOrderedAndProject, never a global sort), and the 50-row
    * regression runs in a single bounded window. Nothing corpus-sized
    * moves twice. */
  def statsZipf(sp: SparkSession, dir: String): DataFrame =
    // bare orderBy: a one-row aggregate report, no exchange
    statsZipfWith(docs(sp, dir)).orderBy("n_tokens")

  /** Core behind [[statsZipf]] and `api.Graft.corpusReport`: the
    * one-row report over any `corpus(text)`; `ranks` bounds the Zipf
    * regression head (the graded op's declared 50). */
  private[graft] def statsZipfWith(corpus: DataFrame,
      ranks: Int = ZipfRanks): DataFrame = {
    statsZipfManaged(corpus, ranks)._1
  }

  /** [[statsZipfWith]] plus the release handle for the persisted
    * unigram model. PERSISTED since r21: `uni` feeds the totals agg
    * and (through the ranked head) the regression and top-token
    * branches — the corpus tokenize + explode + count ran three times
    * per execution. Vocabulary-sized (the model; the B46 cache
    * class). Graded path drops the handle; `api.Graft.corpusReport`
    * wires the listener. */
  private[graft] def statsZipfManaged(corpus: DataFrame,
      ranks: Int = ZipfRanks): (DataFrame, () => Unit) = {
    val uni = corpus
      .select(explode(toks(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .persist()
    val tot = uni.agg(sum(col("c")).as("n_tokens"),
      count(lit(1)).as("n_types"),
      sum(col("c") * log(col("c"))).as("sclnc"))
    // rank WITHOUT a partition-less window (r22, VERDICT r21 item 7 —
    // the bm25 device): the top-k head is bounded at `ranks` rows by
    // the limit, so pack it into one sorted array and rank = array
    // position. struct sorts ascending — negate the count for
    // count-desc, token-asc order (row_number's exact ordering).
    val ranked = uni.orderBy(col("c").desc, col("t")).limit(ranks)
      .agg(sort_array(collect_list(struct((-col("c")).as("nc"), col("t")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("i", "r")))
      .select((col("i") + 1).as("rank"), col("r.t").as("t"), (-col("r.nc")).as("c"))
    val reg = ranked
      .select(log(col("rank")).as("x"), log(col("c")).as("y"))
      .agg(count(lit(1)).as("nr"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val top1 = ranked.filter(col("rank") === 1)
      .select(col("t").as("top_token"), col("c").as("top_cnt"))
    val result = tot.crossJoin(broadcast(reg)).crossJoin(broadcast(top1))
      .select(col("n_tokens"), col("n_types"), col("top_token"), col("top_cnt"),
        round(log(col("n_tokens")) - col("sclnc") / col("n_tokens"), 4)
          .as("entropy"),
        round((col("nr") * col("sxy") - col("sx") * col("sy")) /
          (col("nr") * col("sxx") - col("sx") * col("sx")), 4).as("zipf_slope"))
    (result, () => { uni.unpersist(); () })
  }

  // ---- B99: per-doc n-gram novelty -------------------------------------------

  /** B99 — `op_ngram_novelty`: each document's NOVEL-shingle share —
    * of the doc's distinct word-3-grams (the B17/B68 shingle), the
    * fraction whose FIRST corpus occurrence (minimum doc_id — the
    * declared ingest order, the B57/B90s arrival contract) is this
    * doc. The per-document form of the corpus-growth laws (B80 Heaps
    * fits vocabulary growth globally; this says which docs actually
    * contribute): novelty 1 = all-new content, 0 = every gram already
    * owned upstream — an exact duplicate OR a quote-stitched mashup,
    * which byte-digest dedup (B16) cannot see. `is_dup` is the
    * integer-exact `n_novel = 0` predicate. Plants: every 6th doc
    * re-posted verbatim at 2·id+1 — the clone's grams are all owned
    * by the 2·id original, novelty exactly 0; originals at gate SF
    * stay majority-novel.
    *
    * Scale shape: grams md5-narrowed before any exchange; ONE
    * (gram, doc)-distinct shuffle; the owner table is one min-agg on
    * the gram key; the join-back is gram-keyed (vocabulary-sized
    * sides — never broadcast, the B46 contract); per-doc rollup
    * partitions by doc. Same exchange class as B62. */
  def ngramNovelty(sp: SparkSession, dir: String): DataFrame = {
    val base = docs(sp, dir).select(col("doc_id"), col("text"))
    val corpus = base.select((col("doc_id") * 2).as("doc_id"), col("text"))
      .union(base.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"), col("text")))
    ngramNoveltyOf(corpus).transform(OpQuery.gradedSort("doc_id"))
  }

  /** Core behind [[ngramNovelty]] and `api.Graft.noveltyScores` over
    * any `corpus(doc_id, text)`; docs too short to shingle drop. */
  private[graft] def ngramNoveltyOf(corpus: DataFrame): DataFrame =
    ngramNoveltyManaged(corpus)._1

  /** [[ngramNoveltyOf]] plus the release handle for the persisted
    * distinct-gram frame — a NO-OP since r22 (kept so the public API's
    * listener wiring is shape-stable): the r21 formulation computed
    * the owner table as a separate min-agg and joined it back, which
    * keyed two different exchanges (g vs (doc_id, g)) and needed the
    * gram frame persisted to avoid re-running the shingle + md5 +
    * distinct build per consumer. r22 folds the owner attribution into
    * ONE min-over-window pass partitioned by the gram key: same
    * `own = min(doc_id) per g` values, one gram-keyed exchange + sort
    * instead of agg-exchange + join (whose SMJ sorted both sides
    * anyway), single consumer — nothing left to persist (guide §2.4:
    * remove the shuffle outright rather than cache around it). */
  private[graft] def ngramNoveltyManaged(
      corpus: DataFrame): (DataFrame, () => Unit) = {
    val gr = graft.functions.TextShingles.withShingles(corpus, col("text"))
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .select(col("doc_id"), md5(col("sh")).as("g")).distinct()
    val result = gr
      .withColumn("own", min("doc_id").over(Window.partitionBy("g")))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_grams"),
        count(when(col("own") === col("doc_id"), 1)).cast("int").as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_grams"), 6))
      .withColumn("is_dup", col("n_novel") === 0)
    (result, () => ())
  }

  // ---- registry ------------------------------------------------------------

  val queries: Seq[OpQuery] = Seq(
    OpQuery("op_ngram_novelty",
      s"""WITH corpus AS (
        |  SELECT doc_id * 2 AS doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, text FROM documents WHERE doc_id % 6 = 0),
        |s AS (SELECT doc_id, unnest($shSql) AS sh FROM corpus),
        |gr AS (SELECT DISTINCT doc_id, md5(sh) AS g FROM s),
        |o AS (SELECT g, min(doc_id) AS own FROM gr GROUP BY g)
        |SELECT gr.doc_id,
        |  CAST(count(*) AS INTEGER) AS n_grams,
        |  CAST(count(*) FILTER (WHERE o.own = gr.doc_id) AS INTEGER) AS n_novel,
        |  round(CAST(count(*) FILTER (WHERE o.own = gr.doc_id) AS DOUBLE) / count(*), 6) AS novelty,
        |  count(*) FILTER (WHERE o.own = gr.doc_id) = 0 AS is_dup
        |FROM gr JOIN o ON gr.g = o.g
        |GROUP BY gr.doc_id ORDER BY gr.doc_id""".stripMargin)(ngramNovelty),

    OpQuery("op_sketch_bloom",
      s"""WITH base AS (SELECT doc_id * 2 AS doc_id, text FROM documents),
        |heldout AS (SELECT doc_id, text FROM base WHERE doc_id % 50 = 0),
        |train AS (
        |  SELECT doc_id, text FROM base WHERE doc_id % 50 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1, 'leaked copy ' || text FROM heldout),
        |eg AS (SELECT DISTINCT unnest($shSql) AS sh FROM heldout),
        |egh AS (SELECT sh, ${rhSql("sh")} AS h FROM eg),
        |bits AS (
        |  SELECT DISTINCT
        |    (h * [${BloomA.mkString(", ")}][j + 1] + [${BloomB.mkString(", ")}][j + 1])
        |      % 1000000007 % $BloomBits AS bit
        |  FROM egh, unnest(range(0, $BloomK)) AS u(j)),
        |tg AS (SELECT DISTINCT doc_id, unnest($shSql) AS sh FROM train),
        |tgh AS (
        |  SELECT tg.doc_id, tg.sh, ${rhSql("tg.sh")} AS h,
        |    (eg.sh IS NOT NULL) AS in_eval
        |  FROM tg LEFT JOIN eg ON tg.sh = eg.sh),
        |cells AS (
        |  SELECT doc_id, sh, in_eval,
        |    (h * [${BloomA.mkString(", ")}][j + 1] + [${BloomB.mkString(", ")}][j + 1])
        |      % 1000000007 % $BloomBits AS bit
        |  FROM tgh, unnest(range(0, $BloomK)) AS u(j)),
        |grams AS (
        |  SELECT c.doc_id, c.sh,
        |    count(b.bit) = $BloomK AS bhit, max(c.in_eval) AS ehit
        |  FROM cells c LEFT JOIN bits b ON c.bit = b.bit
        |  GROUP BY c.doc_id, c.sh)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN bhit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom,
        |  CAST(sum(CASE WHEN ehit THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
        |  sum(CASE WHEN bhit THEN 1 ELSE 0 END)
        |    >= sum(CASE WHEN ehit THEN 1 ELSE 0 END) AS sound,
        |  5 * sum(CASE WHEN bhit THEN 1 ELSE 0 END) >= count(*) AS flag_bloom,
        |  5 * sum(CASE WHEN ehit THEN 1 ELSE 0 END) >= count(*) AS flag_exact
        |FROM grams GROUP BY doc_id ORDER BY doc_id""".stripMargin)(sketchBloom),

    OpQuery("op_stream_bloom",
      s"""WITH base AS (SELECT doc_id * 2 AS doc_id, text FROM documents),
        |heldout AS (SELECT doc_id, text FROM base WHERE doc_id % 50 = 0),
        |train AS (
        |  SELECT doc_id, text FROM base WHERE doc_id % 50 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1, 'leaked copy ' || text FROM heldout),
        |eg AS (SELECT DISTINCT unnest($shSql) AS sh FROM heldout),
        |egh AS (SELECT sh, ${rhSql("sh")} AS h FROM eg),
        |bits AS (
        |  SELECT DISTINCT
        |    (h * [${BloomA.mkString(", ")}][j + 1] + [${BloomB.mkString(", ")}][j + 1])
        |      % 1000000007 % $BloomBits AS bit
        |  FROM egh, unnest(range(0, $BloomK)) AS u(j)),
        |tg AS (SELECT DISTINCT doc_id, unnest($shSql) AS sh FROM train),
        |tgh AS (SELECT doc_id, sh, ${rhSql("sh")} AS h FROM tg),
        |cells AS (
        |  SELECT doc_id, sh,
        |    (h * [${BloomA.mkString(", ")}][j + 1] + [${BloomB.mkString(", ")}][j + 1])
        |      % 1000000007 % $BloomBits AS bit
        |  FROM tgh, unnest(range(0, $BloomK)) AS u(j)),
        |grams AS (
        |  SELECT c.doc_id, c.sh, count(b.bit) = $BloomK AS bhit
        |  FROM cells c LEFT JOIN bits b ON c.bit = b.bit
        |  GROUP BY c.doc_id, c.sh)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN bhit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom,
        |  5 * sum(CASE WHEN bhit THEN 1 ELSE 0 END) >= count(*) AS flag_bloom
        |FROM grams GROUP BY doc_id ORDER BY doc_id""".stripMargin)(streamBloom),

    OpQuery("op_dsir_weights",
      s"""WITH t AS (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 2),
        |g AS (
        |  -- the gram is materialized BEFORE the hash: the rolling-hash
        |  -- fragment's list_transform binds its own lambda variable i,
        |  -- which would shadow a correlated unnest alias of the same name
        |  SELECT doc_id, source, ts[p+1] || ' ' || ts[p+2] AS gr
        |  FROM t, unnest(range(0, len(ts) - 1)) AS u(p)),
        |feats AS (
        |  SELECT doc_id, source, ${rhSql("gr")} % $DsirBuckets AS b FROM g),
        |rawc AS (SELECT b, count(*) AS cr FROM feats GROUP BY b),
        |tgtc AS (SELECT b, count(*) AS ct FROM feats WHERE source = '$DsirTargetSource' GROUP BY b),
        |buckets AS (
        |  SELECT r.range AS b, coalesce(rawc.cr, 0) AS cr, coalesce(tgtc.ct, 0) AS ct
        |  FROM range(0, $DsirBuckets) r
        |  LEFT JOIN rawc ON r.range = rawc.b LEFT JOIN tgtc ON r.range = tgtc.b),
        |totals AS (SELECT CAST(sum(cr) AS BIGINT) AS tr, CAST(sum(ct) AS BIGINT) AS tt FROM buckets),
        |lam AS (
        |  SELECT b, ln((ct + 1.0) / (tt + $DsirBuckets.0)) - ln((cr + 1.0) / (tr + $DsirBuckets.0)) AS lam
        |  FROM buckets, totals),
        |perdoc AS (
        |  SELECT doc_id, source, count(*) AS n_bigrams,
        |    round(avg(lam), 4) + 0.0 AS avg_lr,
        |    CAST(round((round(avg(lam), 4) + 0.0) * 10000) AS BIGINT) AS w_i
        |  FROM feats JOIN lam USING (b) GROUP BY doc_id, source),
        |nd AS (SELECT count(*) AS n FROM perdoc),
        |hist AS (SELECT w_i, count(*) AS c FROM perdoc GROUP BY w_i),
        |cum AS (
        |  SELECT w_i, sum(c) OVER (ORDER BY w_i DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM hist),
        |thr AS (SELECT max(w_i) AS t FROM cum, nd WHERE cum >= ceil(n / 4.0))
        |SELECT doc_id, source = '$DsirTargetSource' AS is_target,
        |  n_bigrams, avg_lr, w_i, w_i >= t AS selected
        |FROM perdoc, thr ORDER BY doc_id""".stripMargin)(dsirWeights),

    OpQuery("op_stream_dsir",
      s"""WITH t AS (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 2),
        |g AS (
        |  SELECT doc_id, source, ts[p+1] || ' ' || ts[p+2] AS gr
        |  FROM t, unnest(range(0, len(ts) - 1)) AS u(p)),
        |feats AS (
        |  SELECT doc_id, source, ${rhSql("gr")} % $DsirBuckets AS b FROM g),
        |rawc AS (SELECT b, count(*) AS cr FROM feats GROUP BY b),
        |tgtc AS (SELECT b, count(*) AS ct FROM feats WHERE source = '$DsirTargetSource' GROUP BY b),
        |buckets AS (
        |  SELECT r.range AS b, coalesce(rawc.cr, 0) AS cr, coalesce(tgtc.ct, 0) AS ct
        |  FROM range(0, $DsirBuckets) r
        |  LEFT JOIN rawc ON r.range = rawc.b LEFT JOIN tgtc ON r.range = tgtc.b),
        |totals AS (SELECT CAST(sum(cr) AS BIGINT) AS tr, CAST(sum(ct) AS BIGINT) AS tt FROM buckets),
        |lam AS (
        |  SELECT b, ln((ct + 1.0) / (tt + $DsirBuckets.0)) - ln((cr + 1.0) / (tr + $DsirBuckets.0)) AS lam
        |  FROM buckets, totals),
        |perdoc AS (
        |  SELECT doc_id, count(*) AS nb,
        |    CAST(round((round(avg(lam), 4) + 0.0) * 10000) AS BIGINT) AS w_i
        |  FROM feats JOIN lam USING (b) GROUP BY doc_id),
        |nd AS (SELECT count(*) AS n FROM perdoc),
        |hist AS (SELECT w_i, count(*) AS c FROM perdoc GROUP BY w_i),
        |cum AS (
        |  SELECT w_i, sum(c) OVER (ORDER BY w_i DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM hist),
        |thr AS (SELECT max(w_i) AS t FROM cum, nd WHERE cum >= ceil(n / 4.0)),
        |ll AS (SELECT list(lam ORDER BY b) AS ll FROM lam),
        |gl AS (
        |  SELECT doc_id, list_transform(range(1, len(ts)), p -> ts[p] || ' ' || ts[p+1]) AS gs
        |  FROM t),
        |bs AS (
        |  SELECT doc_id, list_transform(gs, s -> ${rhSql("s")} % $DsirBuckets) AS bs
        |  FROM gl),
        |scored AS (
        |  SELECT doc_id, CAST(len(bs) AS BIGINT) AS n_bigrams,
        |    round(list_reduce(list_prepend(0.0,
        |      list_transform(bs, b -> ll.ll[CAST(b AS INTEGER) + 1])),
        |      (a, x) -> a + x) / len(bs), 4) + 0.0 AS avg_lr
        |  FROM bs, ll)
        |SELECT doc_id, n_bigrams, avg_lr,
        |  CAST(round(avg_lr * 10000) AS BIGINT) AS w_i,
        |  CAST(round(avg_lr * 10000) AS BIGINT) >= thr.t AS selected
        |FROM scored, thr ORDER BY doc_id""".stripMargin)(streamDsir),

    OpQuery("op_dedup_lines",
      s"""WITH corpus AS (
        |  SELECT doc_id * 2 AS doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, '$BoilerLine ' || text
        |  FROM documents WHERE doc_id % 5 = 0),
        |t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM corpus),
        |l AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS line_id,
        |    array_to_string(ts[(i * $LineTokens + 1):((i + 1) * $LineTokens)], ' ') AS line,
        |    len(ts[(i * $LineTokens + 1):((i + 1) * $LineTokens)]) AS llen
        |  FROM t, unnest(range(0, CAST(ceil(len(ts) / ${LineTokens.toDouble}) AS BIGINT))) AS u(i)
        |  WHERE len(ts) >= 1),
        |d AS (
        |  SELECT line FROM l WHERE llen >= $LineMinTokens
        |  GROUP BY line HAVING count(DISTINCT doc_id) >= $LineMinDocs),
        |m AS (
        |  SELECT l.doc_id, l.line_id, l.line, (d.line IS NOT NULL) AS dup
        |  FROM l LEFT JOIN d ON l.line = d.line)
        |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_lines,
        |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS INTEGER) AS n_dup,
        |  coalesce(string_agg(CASE WHEN NOT dup THEN line END, ' ' ORDER BY line_id), '')
        |    AS text_clean,
        |  sum(CASE WHEN dup THEN 1 ELSE 0 END) < count(*) AS kept
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin)(dedupLines),

    OpQuery("op_stats_heaps", StatsHeapsSql)(statsHeaps),

    OpQuery("op_stats_zipf",
      s"""WITH tok AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
        |  FROM documents),
        |uni AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        |tot AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
        |    sum(c * ln(c)) AS sclnc
        |  FROM uni),
        |ranked AS (
        |  SELECT t, c, CAST(row_number() OVER (ORDER BY c DESC, t) AS INTEGER) AS rank
        |  FROM (SELECT t, c FROM uni ORDER BY c DESC, t LIMIT $ZipfRanks)),
        |reg AS (
        |  SELECT count(*) AS nr, sum(ln(rank)) AS sx, sum(ln(c)) AS sy,
        |    sum(ln(rank) * ln(c)) AS sxy, sum(ln(rank) * ln(rank)) AS sxx
        |  FROM ranked),
        |top1 AS (SELECT t AS top_token, CAST(c AS BIGINT) AS top_cnt FROM ranked WHERE rank = 1)
        |SELECT n_tokens, n_types, top_token, top_cnt,
        |  round(ln(n_tokens) - sclnc / n_tokens, 4) AS entropy,
        |  round((nr * sxy - sx * sy) / (nr * sxx - sx * sx), 4) AS zipf_slope
        |FROM tot, reg, top1 ORDER BY n_tokens""".stripMargin)(statsZipf)
  )
}
