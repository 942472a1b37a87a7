package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OpQuery
import graft.plans.CharEntropy
import graft.plans.RollingHash.rollingHash
import graft.sources.Tables

/** B64–B67: corpus-statistics / corpus-quality operators a production
  * training-data pipeline runs alongside the dedup and filter families —
  * a rule-based quality gate (Gopher), positional document fingerprints
  * (winnowing), tokenizer-training statistics (BPE pair counts), and a
  * bounded-memory frequency sketch (Count-Min). All four follow the
  * engine's standing contracts: whitespace tokens (the B35/B46 declared
  * tokenizer), integer-exact predicates wherever a value crosses an
  * engine boundary in a comparison (the r16 rounding rule), the B31
  * rolling hash as the one string-hash kernel, and planted evidence
  * re-keyed odd/even as in B17/B26/B62.
  */
object CorpusStats {

  private def docs(sp: SparkSession, dir: String): DataFrame =
    Tables.documents(sp, dir)

  private def toks(c: Column): Column = filter(split(c, " "), t => t =!= "")

  // ---- B64: Gopher rule-based quality filter -------------------------------

  /** The graded stopword list — this corpus's vocabulary contains
    * exactly two function words; Gopher's bar is "≥ 2 of 8 common
    * stopwords", scaled here to ≥ 1 of the 2 that exist (the planted
    * stopword-free docs sit at 0 and must fail regardless). */
  private[graft] val GopherStops = Seq("the", "a")

  /** B64 — `op_filter_gopher`: the rule-based document quality gate of
    * Gopher (Rae et al. 2021, arXiv:2112.11446, Table A1), the
    * industry-standard companion to the continuous scorers (B30's
    * feature score, B50's logit): a battery of cheap structural rules,
    * each a per-doc INTEGER predicate, keep = all pass. Rules, scaled
    * to this corpus (10–99-token docs, 2 stopword types):
    * word count ∈ [5, 1000]; mean word length ∈ [3, 10] graded as the
    * cross-multiplied integer predicate 3·n_tok ≤ Σlen ≤ 10·n_tok (no
    * float division crosses the engine boundary); ≥ 80 % alphabetic
    * words (5·n_alpha ≥ 4·n_tok); ≥ 1 stopword; ≤ 20 % all-digit
    * words (5·n_digit ≤ n_tok). Planted evidence (odd re-keying as
    * B62): digit-substituted copies (`[a-z]` → `7`, doc_id·4+1, every
    * 7th) must fail the alpha+digit rules, 2-token truncations
    * (doc_id·4+2, every 11th) the word-count rule, stopword-stripped
    * copies (doc_id·4+3, every 13th) the stopword rule.
    *
    * Scale shape: a pure map-side projection riding the scan — every
    * statistic is a per-row array fold over the token split, zero
    * shuffles before the graded ORDER BY (a production pipeline
    * composes `keep` straight into its write filter, like B50). */
  def filterGopher(sp: SparkSession, dir: String): DataFrame = {
    val base = docs(sp, dir)
    val corpus = base.select((col("doc_id") * 4).as("doc_id"), col("text"))
      .union(base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") * 4 + 1).as("doc_id"),
          regexp_replace(col("text"), "[a-z]", "7").as("text")))
      .union(base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") * 4 + 2).as("doc_id"),
          array_join(slice(toks(col("text")), 1, 2), " ").as("text")))
      .union(base.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") * 4 + 3).as("doc_id"),
          array_join(filter(toks(col("text")),
            t => !t.isin(GopherStops: _*)), " ").as("text")))
    gopherWith(corpus).transform(OpQuery.gradedSort("doc_id"))
  }

  /** Core behind [[filterGopher]] and `api.Graft.gopherRules`: the rule
    * battery over any `corpus(doc_id, text)`, without the graded total
    * sort. Stopword list is a parameter so real deployments pass a real
    * one; thresholds are the declared graded semantics. */
  private[graft] def gopherWith(corpus: DataFrame,
      stops: Seq[String] = GopherStops): DataFrame = {
    val g = corpus
      .select(col("doc_id"), toks(col("text")).as("ts"))
      .filter(size(col("ts")) >= 1)
      .select(col("doc_id"),
        size(col("ts")).as("n_tok"),
        aggregate(col("ts"), lit(0), (a, t) => a + length(t)).as("sum_len"),
        size(filter(col("ts"), t => t.rlike("^[a-z]+$"))).as("n_alpha_w"),
        size(filter(col("ts"), t => t.isin(stops: _*))).as("n_stop"),
        size(filter(col("ts"), t => t.rlike("^[0-9]+$"))).as("n_digit_w"))
    g.select(col("*"),
        col("n_tok").between(5, 1000).as("r_wc"),
        (lit(3) * col("n_tok") <= col("sum_len") &&
          col("sum_len") <= lit(10) * col("n_tok")).as("r_mwl"),
        (lit(5) * col("n_alpha_w") >= lit(4) * col("n_tok")).as("r_alpha"),
        (col("n_stop") >= 1).as("r_stop"),
        (lit(5) * col("n_digit_w") <= col("n_tok")).as("r_digit"))
      .withColumn("keep",
        col("r_wc") && col("r_mwl") && col("r_alpha") && col("r_stop") && col("r_digit"))
  }

  // ---- B65: winnowing fingerprints -----------------------------------------

  /** Winnow gram length (chars) and window (grams). k = 8 chars makes a
    * gram roughly one-and-a-half corpus words; w = 8 gives the paper's
    * expected density 2/(w+1) ≈ 0.22 selections per gram. */
  private[graft] val WinnowGram = 8
  private[graft] val WinnowWindow = 8

  /** Position radix for the packed (hash, position) ordering key —
    * documents must be shorter than this many chars (loud guard in the
    * API; this corpus maxes at ~560). 2²⁰ keeps the packed key well
    * under 2⁶³: hash < 1e9+7 ⇒ enc < 2⁵⁰. */
  private[graft] val WinnowPosRadix = 1 << 20

  /** B65 — `op_fingerprint_winnow`: positional document fingerprints by
    * winnowing (Schleimer, Wilkerson & Aiken 2003, "Winnowing: Local
    * Algorithms for Document Fingerprinting", SIGMOD'03 — the MOSS
    * selection rule): hash every k-char gram (B31's rolling hash), then
    * in every window of w consecutive gram hashes select the minimum,
    * ties to the RIGHTMOST occurrence; the distinct selected
    * (position, hash) pairs are the document's fingerprints. Guarantees
    * (asserted by CorpusStatsSpec): any shared substring of length
    * ≥ k + w − 1 shares a fingerprint (the detection guarantee), and
    * consecutive selected positions are ≤ w apart (the coverage
    * guarantee) at expected density 2/(w+1) — the property that makes
    * winnowing the local, position-robust upgrade over B31's fixed
    * 100-char blocks (which a single-char insertion shifts wholesale).
    *
    * The min-with-rightmost-tie rule is ONE `array_min` per window over
    * a packed key: enc_i = (hash_i << 20) | (radix−1 − i) — low bits
    * descend with position, so the minimum is the least hash and, on
    * hash ties, the greatest position. No per-window reverse/scan, and
    * the same packing is plain integer arithmetic in the oracle.
    *
    * Scale shape: pure map-side per-doc array work (O(n·w) comparisons
    * per doc) + a row-level DISTINCT keyed by (doc_id, pos, fp) that
    * partitions by doc — no cross-doc data movement at any corpus
    * size; the graded ORDER BY is the only total sort. */
  def fingerprintWinnow(sp: SparkSession, dir: String): DataFrame =
    winnowWith(docs(sp, dir), WinnowGram, WinnowWindow)
      .transform(OpQuery.gradedSort("doc_id", "pos"))

  /** Core behind [[fingerprintWinnow]] and `api.Graft.winnowFingerprints`:
    * caller-sized gram/window over any `corpus(doc_id, text)`, without
    * the graded sort. The kernel walks UTF-8 BYTES, so `pos` is a byte
    * offset and grams are k bytes (≡ chars on the ASCII corpora both
    * engines verify on). Docs shorter than k + w − 1 bytes have no full
    * window and emit nothing (the paper's domain); docs at or beyond
    * [[WinnowPosRadix]] BYTES would corrupt the packed key and FAIL
    * loudly rather than fingerprint wrong — the guard measures
    * `octet_length`, the same unit the kernel packs. */
  private[graft] def winnowWith(corpus: DataFrame, k: Int, w: Int): DataFrame =
    // ONE codegen'd pass per doc (hash → pack → window minima →
    // in-row dedup, graft.plans.WinnowSelect) and ZERO shuffle: the
    // selected fingerprints dedup INSIDE the row, so the old
    // explode→distinct() exchange of every window minimum is gone
    winnowProject(corpus, k, w,
      graft.plans.WinnowSelect.winnowSelect(col("text"), k, w, 20))

  /** The pre-r18 nested-fold formulation, kept as the differential
    * oracle for WinnowSelectSpec (the RepetitionStats precedent):
    * higher-order functions are CodegenFallback, so this runs ~n
    * interpreted rollingHash evals plus an O(n·w) interpreted min fold
    * per doc — measured 2.7 s at sf0.1 where [[winnowWith]]'s kernel
    * runs the same arithmetic codegen'd. Values bit-identical (spec). */
  private[graft] def winnowFoldWith(corpus: DataFrame, k: Int, w: Int): DataFrame = {
    val radix = WinnowPosRadix
    val enc = transform(sequence(lit(0), length(col("text")) - k),
      i => shiftleft(rollingHash(col("text"), (i + 1).cast("int"), lit(k)), 20) +
        (lit(radix - 1) - i))
    winnowProject(corpus, k, w,
      array_distinct(transform(sequence(lit(0), size(col("__enc")) - w),
        j => array_min(slice(col("__enc"), j + 1, lit(w))))),
      Some(enc))
  }

  /** Shared guard + projection around a per-doc SELECTION column (the
    * array of packed `(fp << 20) + (radix-1-pos)` minima, deduped). */
  private def winnowProject(corpus: DataFrame, k: Int, w: Int,
      sel: Column, enc: Option[Column] = None): DataFrame = {
    val radix = WinnowPosRadix
    // both the row-pruning filter and the overflow guard measure BYTES
    // (octet_length): the kernel packs byte positions into the radix
    // field, so a char-based guard would let a multi-byte doc with
    // < radix chars but >= radix bytes through and silently corrupt
    // the packed key (negative position term)
    val guarded = corpus
      .filter(octet_length(col("text")) >= k + w - 1)
      .withColumn("text",
        when(octet_length(col("text")) < radix, col("text")).otherwise(raise_error(
          concat(lit(s"winnow: doc length >= $radix bytes for doc_id "),
            col("doc_id").cast("string")))))
    // the fold form must materialize the enc array as a COLUMN before
    // folding over it (the standing HOF-inlining pitfall); the kernel
    // form needs no intermediate
    enc.fold(guarded)(e => guarded.withColumn("__enc", e))
      .select(col("doc_id"), explode(sel).as("sel"))
      .select(col("doc_id"),
        (lit(radix - 1) - col("sel").bitwiseAND(lit(radix - 1).cast("long")))
          .cast("int").as("pos"),
        shiftright(col("sel"), 20).as("fp"))
  }

  // ---- B66: BPE pair statistics --------------------------------------------

  /** B66 — `op_bpe_pairs`: the counting step of byte-pair-encoding
    * tokenizer training (Sennrich, Haddow & Birch 2016, "Neural Machine
    * Translation of Rare Words with Subword Units", arXiv:1508.07909):
    * aggregate the word vocabulary with frequencies, expand each word
    * into its adjacent symbol pairs — every char bigram plus the
    * terminal (last-char, `</w>`) pair, the paper's end-of-word marker
    * so word-final merges stay distinguishable — and weight each pair
    * occurrence by its word's corpus frequency. The top pair is the
    * first BPE merge; training iterates this count after each merge.
    * Graded artifact: the top-30 pairs by (count desc, pair asc).
    *
    * Scale shape: one corpus-token shuffle collapses the stream to the
    * WORD VOCABULARY (map-side partial counts — the heavy lifting), and
    * every later stage is vocabulary-sized, not corpus-sized: the pair
    * explode fans out |vocab| × avg_len rows and the pair aggregate's
    * output is bounded by the symbol alphabet squared. The graded
    * top-30 is a `TakeOrderedAndProject`, never a global sort. */
  def bpePairs(sp: SparkSession, dir: String): DataFrame =
    bpePairsWith(docs(sp, dir)).orderBy(col("n").desc, col("pair")).limit(30)

  /** Core behind [[bpePairs]] and `api.Graft.bpePairStats`: full
    * unbounded pair counts over any `corpus(doc_id, text)` (callers
    * pick their own cut). A 1-char word contributes exactly its
    * terminal pair. */
  private[graft] def bpePairsWith(corpus: DataFrame): DataFrame = {
    val vocab = corpus
      .select(explode(toks(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    vocab
      .select(col("cnt"), explode(transform(sequence(lit(0), length(col("w")) - 1),
        i => when(i < length(col("w")) - 1, col("w").substr(i + 1, lit(2)))
          .otherwise(concat(col("w").substr(length(col("w")), lit(1)), lit("</w>")))))
        .as("pair"))
      .groupBy("pair").agg(sum(col("cnt")).as("n"))
  }

  // ---- B74: BPE merge training loop ----------------------------------------

  /** Number of unrolled merge steps the graded op trains (the oracle
    * states the same three blocks; the public API takes a caller
    * count). */
  private[graft] val BpeMerges = 3

  /** B74 — `op_bpe_train`: the BPE merge LOOP (Sennrich, Haddow &
    * Birch 2016, arXiv:1508.07909, Algorithm 1) that B66's counting
    * step feeds: T iterations of [count weighted adjacent symbol
    * pairs → take the most frequent pair (ties: lexicographically
    * smallest) → merge every left-to-right non-overlapping occurrence
    * across the vocabulary]. Output: one row per learned merge —
    * step, the merged pair, its weighted count at selection time, and
    * the total symbol-unit count after the merge. Free invariant
    * (pinned by spec): units_after = units_before − n, because each
    * merged occurrence shrinks its word by exactly one symbol.
    *
    * The merge fold is a delimited-string reduce — acc carries the
    * merged prefix as `s1|s2|…`; a step merges when the incoming
    * symbol is b and the accumulator's LAST symbol is a (exact suffix
    * test on the delimiter), which is precisely the left-to-right
    * non-overlap rule ("aaa" under (a,a) → ["aa", "a"]). Symbols are
    * corpus word characters plus `</w>` — none contain the `|`
    * delimiter (declared; the API rejects corpora that violate it).
    * The SAME fold runs in both engines (Spark `aggregate`, DuckDB
    * `list_reduce`), so the merge semantics cannot drift.
    *
    * Scale shape: the vocabulary aggregate is the only corpus-sized
    * shuffle and it is CACHED once (the B46 model-frame precedent);
    * each iteration's pair count is vocabulary-sized with map-side
    * partials, and only ONE (pair, count) row plus one scalar reach
    * the driver per step — T·2 bounded actions, the k-means loop
    * discipline. At 100 TB the vocabulary is millions of rows; the
    * loop's frames never exceed it. */
  def bpeTrain(sp: SparkSession, dir: String): DataFrame =
    bpeTrainWith(sp, docs(sp, dir).select(col("text")), BpeMerges)

  /** Core behind [[bpeTrain]] and `api.Graft.bpeTrainMerges`. The
    * learned steps are driver-side once the loop returns, so the
    * vocabulary cache is released synchronously here — no listener
    * needed on either path. */
  private[graft] def bpeTrainWith(sp: SparkSession, corpus: DataFrame,
      merges: Int): DataFrame = {
    import sp.implicits._
    val (steps, _, release) = bpeLoop(corpus, merges)
    release()
    steps.toDF("step", "pair", "n", "units_after").orderBy("step")
  }

  /** B75 — `op_bpe_segment`: the APPLY side of the BPE pair — segment
    * every corpus word with the vocabulary [[bpeTrain]]'s three merges
    * produce, and report per document how the trained tokenizer
    * compresses it: `n_words`, `n_char_units` (character symbols incl.
    * the `</w>` marker — the pre-merge unit count), `n_bpe_units`
    * (units after the learned merges). All integers; by construction
    * n_bpe_units ≤ n_char_units, with equality only for docs none of
    * whose words contain a learned pair. Train → apply on the SAME
    * corpus is the tokenizer-bootstrap a pipeline runs before packing
    * (B38 consumes per-doc token counts; this op is where they come
    * from once a real tokenizer replaces whitespace).
    *
    * Scale shape: training is B74's loop (vocab-sized, cached model
    * frame); apply is ONE corpus-word join against the final
    * vocabulary (dimension join — not hinted, Catalyst broadcasts a
    * small vocab and shuffles a huge one) and a per-doc rollup with
    * map-side partials. */
  def bpeSegment(sp: SparkSession, dir: String): DataFrame =
    bpeSegmentWith(docs(sp, dir), BpeMerges)._1.orderBy("doc_id")

  /** Core behind [[bpeSegment]], [[packSequencesBpe]] and
    * `api.Graft.bpeSegmentDocs`: per-doc unit counts under the trained
    * vocabulary, plus the release handle for the loop's cached
    * vocabulary frame (the result reads it lazily — release only
    * after the first terminal action). */
  private[graft] def bpeSegmentWith(corpus: DataFrame,
      merges: Int): (DataFrame, () => Unit) = {
    val (_, fin, release) = bpeLoop(corpus.select(col("text")), merges,
      withUnits = false)
    val vocab = fin.select(col("w"), size(col("syms")).as("n_syms"))
    val seg = corpus
      .select(col("doc_id"), explode(toks(col("text"))).as("w"))
      .join(vocab, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")) + 1).cast("long").as("n_char_units"),
        sum(col("n_syms").cast("long")).as("n_bpe_units"))
    (seg, release)
  }

  /** Lineage-truncation cadence for [[bpeLoop]]: each merge step nests
    * another aggregate-fold projection over `syms`, so unbounded
    * nesting grows the analyzed plan linearly and hits codegen/stack
    * limits long before a large `merges`. A `localCheckpoint` every
    * this-many steps bounds plan depth at the cadence (the dedup-cc
    * iterative discipline); 8 keeps checkpoint I/O negligible against
    * the per-step aggregates. */
  private val BpeCheckpointEvery = 8

  /** The shared merge loop behind [[bpeTrainWith]] (B74) and
    * [[bpeSegment]] (B75): runs UP TO `merges` iterations — the loop
    * breaks cleanly when the vocabulary runs out of adjacent pairs
    * (every word fully merged to one symbol), returning the steps
    * learned so far — and returns the learned steps, the FINAL
    * `(w, cnt, syms)` vocabulary (the trained segmenter), and a
    * release handle for the cached base vocabulary. One owner, so the
    * apply side can never drift off the training fold. */
  private def bpeLoop(corpus: DataFrame, merges: Int,
      withUnits: Boolean = true)
      : (Seq[(Int, String, Long, Long)], DataFrame, () => Unit) = {
    val vocab0 = corpus
      .select(explode(toks(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      // the fold's delimiter is reserved: a word containing '|' would
      // silently corrupt every later merge — fail loudly instead
      // (vocabulary-sized check riding the aggregate, no extra pass)
      .withColumn("w", when(col("w").contains("|"),
        raise_error(concat(lit("bpeTrain: word contains the reserved " +
          "'|' delimiter: "), col("w")))).otherwise(col("w")))
      .select(col("w"), col("cnt"),
        concat(transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))), array(lit("</w>"))).as("syms"))
      .cache()  // the model frame: every iteration and action re-reads
                // it instead of re-aggregating the corpus (vocab-sized;
                // process-scoped by the B46/annRecall precedent)
    var vocab = vocab0
    val steps = scala.collection.mutable.ArrayBuffer[(Int, String, Long, Long)]()
    var t = 1
    var exhausted = false
    while (t <= merges && !exhausted) {
      // headOption, not (0): a corpus whose words have all merged to
      // single symbols has NO adjacent pairs left — break cleanly with
      // the merges learned so far instead of an opaque
      // ArrayIndexOutOfBoundsException (ADVICE r16 medium)
      val topOpt = vocab
        .select(col("cnt"), explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1).as("pa"),
          slice(col("syms"), lit(2), size(col("syms")) - 1).as("pb"))).as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("pa"), col("pb")).limit(1)
        .collect().headOption
      topOpt match {
        case None => exhausted = true
        case Some(top) =>
          val (a, b, n) = (top.getString(0), top.getString(1), top.getLong(2))
          vocab = vocab.withColumn("syms",
            split(aggregate(col("syms"), lit(""), (acc, x) =>
              when(x === b && (acc === a || acc.endsWith(lit("|" + a))),
                concat(acc.substr(lit(1), length(acc) - a.length), lit(a + b)))
                .otherwise(when(acc === "", x)
                  .otherwise(concat(acc, lit("|"), x)))), "\\|"))
          // bound plan depth: truncate the nested-fold lineage every
          // [[BpeCheckpointEvery]] steps (vocab-sized materialization)
          if (t % BpeCheckpointEvery == 0) vocab = vocab.localCheckpoint()
          // units_after is REPORTING for B74's graded steps table; the
          // segment/pack consumers discard `steps`, so they skip this
          // one-scalar job per merge (r21 — one fewer driver job per
          // step on their paths; the merge result is unaffected)
          val units =
            if (withUnits) vocab.agg(sum(col("cnt") * size(col("syms"))))
              .collect()(0).getLong(0)
            else -1L
          steps += ((t, s"$a $b", n, units))
          t += 1
      }
    }
    (steps.toSeq, vocab, () => { vocab0.unpersist(); () })
  }

  /** B74b — `op_pack_sequences_bpe`: sequence packing under the
    * TRAINED tokenizer — the composition that closes the tokenizer →
    * packing loop (the r16 board's one declared unclosed loop): B38's
    * two-level prefix-sum packer budgets each document by the unit
    * count the B74/B75 tokenizer actually produces (`n_bpe_units`)
    * instead of whitespace tokens. This is what a real pipeline packs
    * with: batches are cut every 1024 TOKENIZER units, so a merge
    * that compresses the corpus shrinks the pack count — the
    * conservation law Σ n_tok ≡ B74's final `units_after` (pinned by
    * BpeLoopSpec) makes the composition auditable end to end.
    *
    * Scale shape: B74's loop (vocab-sized, cached model frame) + B75's
    * one corpus-word join + B38's (source, chunk) prefix sum — each
    * stage's 100 TB story is its component op's; nothing new moves.
    * Docs whose text yields no words pack with 0 units (left join,
    * the identity element of the running offset). */
  def packSequencesBpe(sp: SparkSession, dir: String): DataFrame = {
    val corpus = docs(sp, dir)
    val (seg, _) = bpeSegmentWith(
      corpus.select(col("doc_id"), col("text")), BpeMerges)
    val counted = corpus.select(col("doc_id"), col("source"))
      .join(seg.select(col("doc_id"), col("n_bpe_units").as("n_tok")),
        Seq("doc_id"), "left")
      .withColumn("n_tok", coalesce(col("n_tok"), lit(0L)))
    TrainingData.packOffsets(counted).transform(OpQuery.gradedSort("doc_id"))
  }

  /** One unrolled oracle merge block: pairs of `s${k-1}` → top pair
    * `t$k` → merged vocab `s$k` → unit total `u$k` — the same
    * delimited-string fold [[bpeTrainWith]] runs. `w` rides through
    * every block so the B75 segment oracle can join the final
    * vocabulary back to the corpus words. */
  private def bpeStepSql(k: Int): String = {
    val (p, s0, t, s1, u) = (s"p$k", s"s${k - 1}", s"t$k", s"s$k", s"u$k")
    s"""$p AS (
       |  SELECT syms[i+1] AS pa, syms[i+2] AS pb, CAST(sum(cnt) AS BIGINT) AS n
       |  FROM $s0, unnest(range(0, len(syms) - 1)) AS u(i) GROUP BY 1, 2),
       |$t AS (SELECT pa, pb, n FROM $p ORDER BY n DESC, pa, pb LIMIT 1),
       |$s1 AS (
       |  SELECT w, cnt, string_split(list_reduce(list_prepend('', syms), (acc, x) ->
       |    CASE WHEN x = $t.pb AND (acc = $t.pa OR right(acc, length($t.pa) + 1) = '|' || $t.pa)
       |         THEN left(acc, length(acc) - length($t.pa)) || $t.pa || $t.pb
       |         ELSE CASE WHEN acc = '' THEN x ELSE acc || '|' || x END END), '|') AS syms
       |  FROM $s0, $t),
       |$u AS (SELECT CAST(sum(cnt * len(syms)) AS BIGINT) AS units FROM $s1)""".stripMargin
  }

  /** Shared oracle prefix: word vocabulary + char symbols +
    * [[BpeMerges]] unrolled step blocks (final vocab CTE =
    * `s[[BpeMerges]]`). */
  private lazy val bpeBaseSql: String = {
    val blocks = (1 to BpeMerges).map(bpeStepSql).mkString(",\n")
    s"""WITH tok AS (
       |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |  FROM documents),
       |v0 AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
       |s0 AS (
       |  SELECT w, cnt, list_append(list_transform(range(1, length(w) + 1),
       |    i -> substring(w, CAST(i AS INTEGER), 1)), '</w>') AS syms
       |  FROM v0),
       |$blocks""".stripMargin
  }

  /** Full B74 oracle: the shared prefix + the per-step result rows. */
  private[graft] lazy val BpeTrainSql: String = {
    val rows = (1 to BpeMerges).map { k =>
      s"SELECT $k AS step, (SELECT pa || ' ' || pb FROM t$k) AS pair, " +
        s"(SELECT n FROM t$k) AS n, (SELECT units FROM u$k) AS units_after"
    }.mkString("\nUNION ALL ")
    s"""$bpeBaseSql
       |$rows
       |ORDER BY step""".stripMargin
  }

  /** Full B74b oracle: the shared prefix + per-doc trained-unit counts
    * + B38's per-source running-offset SQL (the chunk decomposition is
    * an implementation detail — within a source the offsets are the
    * plain doc_id-ordered prefix sum either way). */
  private[graft] lazy val PackSequencesBpeSql: String =
    s"""$bpeBaseSql,
       |dtok AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |  FROM documents),
       |units AS (
       |  SELECT doc_id, CAST(sum(len(s$BpeMerges.syms)) AS BIGINT) AS n_tok
       |  FROM dtok JOIN s$BpeMerges USING (w) GROUP BY doc_id),
       |counted AS (
       |  SELECT d.doc_id, d.source, CAST(COALESCE(u.n_tok, 0) AS BIGINT) AS n_tok
       |  FROM documents d LEFT JOIN units u USING (doc_id)),
       |offs AS (
       |  SELECT doc_id, source, n_tok,
       |    CAST(COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
       |  FROM counted)
       |SELECT doc_id, source, n_tok, tok_offset,
       |  CAST(tok_offset // 1024 AS BIGINT) AS pack_id
       |FROM offs ORDER BY doc_id""".stripMargin

  /** Full B75 oracle: the shared prefix + the corpus-word join against
    * the final vocabulary. */
  private[graft] lazy val BpeSegmentSql: String =
    s"""$bpeBaseSql,
       |dtok AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |  FROM documents)
       |SELECT doc_id, count(*) AS n_words,
       |  CAST(sum(length(w) + 1) AS BIGINT) AS n_char_units,
       |  CAST(sum(len(s$BpeMerges.syms)) AS BIGINT) AS n_bpe_units
       |FROM dtok JOIN s$BpeMerges USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- B67: Count-Min sketch heavy hitters ---------------------------------

  /** Sketch geometry: d = 4 hash rows × w = 64 buckets — 256 cells
    * total, the whole sketch smaller than one shuffle block at any
    * corpus size. Row hashes are affine maps of the B31 rolling hash:
    * bucket_j = ((h·A_j + B_j) mod P) mod 64, h < P = 1e9+7 so the
    * products stay far under 2⁶³. */
  private[graft] val CmsRows = 4
  private[graft] val CmsWidth = 64
  private[graft] val CmsA = Seq(31L, 131L, 1313L, 13131L)
  private[graft] val CmsB = Seq(7L, 77L, 777L, 7777L)
  private[graft] val CmsPanel = 40

  /** B67 — `op_sketch_cms`: Count-Min sketch frequency estimation
    * (Cormode & Muthukrishnan 2005, "An improved data stream summary:
    * the count-min sketch and its applications", J. Algorithms 55(1))
    * over the corpus's word-bigram stream (~10³ distinct items into
    * 4×64 cells — real collisions, so the demo is non-trivial), graded
    * the way B51 grades the ANN indexes: estimate vs exact, accuracy
    * under the hash. Every bigram occurrence increments one bucket per
    * hash row; a query item's estimate is the MIN of its d cells —
    * deterministic given the declared hash family, so `est` itself is
    * graded bit-exact, and the one-sided CMS invariant est ≥ exact is
    * certified cross-engine on every panel row (`over`). Panel = the
    * top-[[CmsPanel]] bigrams by (count desc, item asc) — the B18/B45
    * fixed-panel pattern.
    *
    * Scale shape: THIS is the bounded-memory alternative the sketch
    * family exists for — B53's exact histogram shuffles the full
    * vocabulary; the CMS shuffles ≤ d×w = 256 cells no matter the
    * corpus (map-side partial sums into 256 groups; the vocabulary
    * aggregate here exists only to grade est against exact, the B51
    * contract). The 256-row sketch is BROADCAST to the panel probe —
    * nothing corpus-sized moves twice. */
  def sketchCms(sp: SparkSession, dir: String): DataFrame = {
    val items = docs(sp, dir)
      .select(toks(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("ts")) - 2),
        i => concat(element_at(col("ts"), i + 1), lit(" "),
          element_at(col("ts"), i + 2)))).as("item"))
    val exact = items.groupBy("item").agg(count(lit(1)).as("cnt"))
    val panel = exact.orderBy(col("cnt").desc, col("item")).limit(CmsPanel)
    cmsEstimate(exact, panel)
      .select(col("item"), col("cnt").as("exact"), col("est"),
        (col("est") - col("cnt")).as("slack"), (col("est") >= col("cnt")).as("over"))
      .orderBy("item")
  }

  /** The d per-row (j, bucket) cells of each item in `df`. */
  private def cmsCells(df: DataFrame): DataFrame =
    df.withColumn("h", rollingHash(col("item"), lit(1), length(col("item"))))
      .select(col("*"), explode(array(CmsA.indices.map { j =>
        struct(lit(j).as("j"),
          (((col("h") * CmsA(j) + CmsB(j)) % 1000000007L) % CmsWidth).as("bkt"))
      }: _*)).as("cell"))
      .select(df.columns.map(col) :+ col("cell.j").as("j") :+ col("cell.bkt").as("bkt"): _*)

  /** Core behind [[sketchCms]]: build the d×w sketch from exact
    * per-item counts (map-side-combined increments — identical cell
    * totals to streaming the raw occurrences), then estimate each
    * panel item as the min of its d cells. `exactCounts`/`panel` must
    * both be `(item, cnt)`. The graded panel comes from the exact
    * top-40, so every probed cell exists in the sketch. */
  private[graft] def cmsEstimate(exactCounts: DataFrame, panel: DataFrame): DataFrame = {
    val sketch = cmsCells(exactCounts)
      .groupBy("j", "bkt").agg(sum(col("cnt")).as("c"))
    cmsCells(panel)
      .join(broadcast(sketch), Seq("j", "bkt"))
      .groupBy("item", "cnt").agg(min(col("c")).as("est"))
  }

  /** Production sketch build (`api.Graft.cmsEstimates`): the d×w cell
    * counts straight from an item STREAM (one row per occurrence) —
    * map-side partial counts collapse into ≤ d×w groups, so the
    * exchange carries ≤ 256 rows per map task at ANY corpus size and
    * no vocabulary aggregate ever runs. Identical cell totals to
    * [[cmsEstimate]]'s count-derived build (summing per-item counts
    * telescopes to counting occurrences). */
  private[graft] def cmsSketchOf(items: DataFrame): DataFrame =
    cmsCells(items.select(col("item")))
      .groupBy("j", "bkt").agg(count(lit(1)).as("c"))

  /** Probe a prebuilt sketch for caller candidates; a cell with no
    * entry reads as ZERO (the empty counter — an inner join would
    * instead silently over-estimate a never-seen item as the min of
    * its non-empty cells only). */
  private[graft] def cmsProbe(sketch: DataFrame, candidates: DataFrame): DataFrame =
    cmsCells(candidates.select(col("item")).distinct())
      .join(broadcast(sketch), Seq("j", "bkt"), "left")
      .groupBy("item").agg(min(coalesce(col("c"), lit(0L))).as("est"))

  // ---- B79: PMI collocations -----------------------------------------------

  /** Count floor and output depth for the collocation table: pairs
    * seen fewer than [[PmiMinCount]] times are excluded (the standard
    * guard — a hapax pair maxes the PMI estimator with no evidence),
    * top [[PmiTop]] survive. */
  private[graft] val PmiMinCount = 5
  private[graft] val PmiTop = 30

  /** B79 — `op_stats_pmi`: collocation extraction by pointwise mutual
    * information over the word-bigram stream (Church & Hanks 1990,
    * "Word association norms, mutual information, and lexicography",
    * Computational Linguistics 16(1) — THE collocation statistic):
    * for every adjacent pair seen ≥ [[PmiMinCount]] times,
    * PMI(a,b) = ln(N·c(a,b) / (c_l(a)·c_r(b))) where c_l / c_r are
    * the pair's left/right marginals over the bigram event space and
    * N the total bigram count — rounded 4 dp (+ 0.0: PMI crosses zero
    * for anti-associated pairs, the standing negative-zero rule).
    * Output: top-[[PmiTop]] by (pmi desc, w1, w2). The corpus report's
    * lexical companion: B71 describes the frequency law, this names
    * the phrases.
    *
    * Scale shape: ONE corpus bigram shuffle (map-side partials into
    * the pair table); both marginals and N derive from the PAIR TABLE
    * itself (vocabulary-sized aggregates — the corpus is never read
    * twice); top-K via TakeOrderedAndProject, never a global sort. */
  def statsPmi(sp: SparkSession, dir: String): DataFrame =
    statsPmiWith(docs(sp, dir).select(col("text")), PmiMinCount, PmiTop)._1

  /** Core behind [[statsPmi]] and `api.Graft.collocations`. Returns
    * the result plus a release handle for the cached pair table. */
  private[graft] def statsPmiWith(corpus: DataFrame, minCount: Int,
      top: Int): (DataFrame, () => Unit) = {
    val c2 = corpus
      .select(toks(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(arrays_zip(
        slice(col("ts"), lit(1), size(col("ts")) - 1).as("w1"),
        slice(col("ts"), lit(2), size(col("ts")) - 1).as("w2"))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
      .cache() // the pair table: four consumers (marginals ×2, N, the
               // PMI projection) — vocabulary-sized, the B46 precedent
    val cl = c2.groupBy("w1").agg(sum(col("c2")).as("cl"))
    val cr = c2.groupBy("w2").agg(sum(col("c2")).as("cr"))
    val n = c2.agg(sum(col("c2")).as("n"))
    val result = c2.filter(col("c2") >= minCount)
      .join(cl, Seq("w1")).join(cr, Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c2"),
        (round(log(col("n") * col("c2") / (col("cl") * col("cr")) * lit(1.0)), 4)
          + lit(0.0)).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(top)
    (result, () => { c2.unpersist(); () })
  }

  // ---- B91: character-entropy quality gate ----------------------------------

  /** B91 — `op_text_entropy`: character-level Shannon entropy + top-
    * codepoint share per document — the classic cheap gibberish /
    * degenerate-repetition screen (C4 and the CCNet line both run a
    * character-distribution sanity gate before the model-based
    * filters): natural prose sits near 4–4.5 bits/char, repeated-
    * character spam at 0, and a doc whose single top codepoint carries
    * more than half its mass is padding/boilerplate whatever its token
    * shape (B64's Gopher rules can't see it: `zzz zzz zzz` passes the
    * word-count and word-length battery). Graded per doc as
    * `(n_cp, n_distinct, entropy, top_share, flagged)`; `flagged` is
    * the INTEGER-EXACT predicate `2·max_count > n_cp` (the r16 rule:
    * no float crosses an engine boundary inside a comparison — the
    * entropy float itself is a graded STATISTIC, rounded 4 dp, never
    * a predicate input). Planted evidence (odd re-keying as B62/B64):
    * every 13th doc re-keyed `doc_id·2+1` with its text replaced by a
    * same-length single-character run — entropy exactly 0, top_share
    * 1, must flag; all natural rows must pass (space share ≈ 1/6).
    *
    * Scale shape: the oracle's explode plan moves one shuffle row PER
    * CHARACTER (100 TB of text → ~100 T exchange rows); this side is
    * the codegen'd [[graft.plans.CharEntropy]] kernel — a per-row
    * one-pass open-addressed histogram riding whole-stage codegen,
    * zero shuffles before the graded ORDER BY. */
  def textEntropy(sp: SparkSession, dir: String): DataFrame = {
    val base = docs(sp, dir)
    val corpus = base.select((col("doc_id") * 2).as("doc_id"), col("text"))
      .union(base.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"),
          repeat(lit("z"), length(col("text"))).as("text")))
    textEntropyOf(corpus).transform(OpQuery.gradedSort("doc_id"))
  }

  /** Core behind [[textEntropy]] and `api.Graft.entropyStats`: the
    * entropy projection over any `corpus(doc_id, text)`, without the
    * graded total sort. Empty/NULL texts are dropped (entropy of an
    * empty distribution is undefined; both oracle engines drop them
    * identically — filter upstream if you need them surfaced). */
  private[graft] def textEntropyOf(corpus: DataFrame): DataFrame =
    corpus.filter(col("text").isNotNull && length(col("text")) >= 1)
      .select(col("doc_id"), CharEntropy.stats(col("text")).as("st"))
      .select(col("doc_id"),
        col("st")(0).cast("long").as("n"),
        col("st")(1).cast("int").as("n_distinct"),
        col("st")(2).cast("long").as("mx"),
        // + 0.0 normalizes IEEE negative zero (house convention): a
        // single-char doc's entropy residual x − x can round to −0.0
        (round(col("st")(3), 4) + lit(0.0)).as("entropy"))
      .select(col("doc_id"),
        col("n").cast("int").as("n_cp"),
        col("n_distinct"),
        col("entropy"),
        round(col("mx").cast("double") / col("n"), 4).as("top_share"),
        (col("mx") * 2 > col("n")).as("flagged"))

  // ---- registry ------------------------------------------------------------

  val queries: Seq[OpQuery] = Seq(
    OpQuery("op_filter_gopher",
      s"""WITH corpus AS (
        |  SELECT doc_id * 4 AS doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id * 4 + 1, regexp_replace(text, '[a-z]', '7', 'g')
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id * 4 + 2,
        |    array_to_string(list_filter(string_split(text, ' '), x -> x <> '')[1:2], ' ')
        |  FROM documents WHERE doc_id % 11 = 0
        |  UNION ALL
        |  SELECT doc_id * 4 + 3,
        |    array_to_string(list_filter(string_split(text, ' '),
        |      x -> x NOT IN ('the', 'a') AND x <> ''), ' ')
        |  FROM documents WHERE doc_id % 13 = 0),
        |g AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS INTEGER) AS n_tok,
        |    CAST(list_sum(list_transform(ts, t -> length(t))) AS INTEGER) AS sum_len,
        |    CAST(len(list_filter(ts, t -> regexp_full_match(t, '[a-z]+'))) AS INTEGER) AS n_alpha_w,
        |    CAST(len(list_filter(ts, t -> t IN ('the', 'a'))) AS INTEGER) AS n_stop,
        |    CAST(len(list_filter(ts, t -> regexp_full_match(t, '[0-9]+'))) AS INTEGER) AS n_digit_w
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |        FROM corpus)
        |  WHERE len(ts) >= 1)
        |SELECT doc_id, n_tok, sum_len, n_alpha_w, n_stop, n_digit_w,
        |  n_tok BETWEEN 5 AND 1000 AS r_wc,
        |  3 * n_tok <= sum_len AND sum_len <= 10 * n_tok AS r_mwl,
        |  5 * n_alpha_w >= 4 * n_tok AS r_alpha,
        |  n_stop >= 1 AS r_stop,
        |  5 * n_digit_w <= n_tok AS r_digit,
        |  (n_tok BETWEEN 5 AND 1000) AND (3 * n_tok <= sum_len AND sum_len <= 10 * n_tok)
        |    AND (5 * n_alpha_w >= 4 * n_tok) AND (n_stop >= 1)
        |    AND (5 * n_digit_w <= n_tok) AS keep
        |FROM g ORDER BY doc_id""".stripMargin)(filterGopher),

    OpQuery("op_fingerprint_winnow",
      s"""WITH c AS (
        |  SELECT doc_id, text,
        |    list_transform(range(1, length(text) + 1),
        |      i -> ord(substring(text, CAST(i AS INTEGER), 1))) AS codes
        |  FROM documents
        |  WHERE length(text) >= ${WinnowGram + WinnowWindow - 1}),
        |h AS (
        |  SELECT doc_id,
        |    list_transform(range(0, length(text) - $WinnowGram + 1),
        |      i -> (list_reduce(list_prepend(CAST(0 AS BIGINT), codes[(i+1):(i+$WinnowGram)]),
        |        (a, b) -> (a * 31 + b) % 1000000007) << 20) + (${WinnowPosRadix - 1} - i)) AS enc
        |  FROM c),
        |s AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, len(enc) - $WinnowWindow + 1),
        |      j -> list_min(enc[(j+1):(j+$WinnowWindow)]))) AS sel
        |  FROM h)
        |SELECT DISTINCT doc_id,
        |  CAST(${WinnowPosRadix - 1} - (sel & ${WinnowPosRadix - 1}) AS INTEGER) AS pos,
        |  sel >> 20 AS fp
        |FROM s ORDER BY doc_id, pos""".stripMargin)(fingerprintWinnow),

    OpQuery("op_bpe_pairs",
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |  FROM documents),
        |vocab AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
        |pairs AS (
        |  SELECT cnt, unnest(list_transform(range(0, length(w)),
        |    i -> CASE WHEN i < length(w) - 1 THEN substring(w, CAST(i + 1 AS INTEGER), 2)
        |         ELSE substring(w, length(w), 1) || '</w>' END)) AS pair
        |  FROM vocab)
        |SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
        |FROM pairs GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 30""".stripMargin)(bpePairs),

    OpQuery("op_bpe_train", BpeTrainSql)(bpeTrain),

    OpQuery("op_bpe_segment", BpeSegmentSql)(bpeSegment),

    OpQuery("op_pack_sequences_bpe", PackSequencesBpeSql)(packSequencesBpe),

    OpQuery("op_stats_pmi",
      s"""WITH t AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
        |bg AS (
        |  SELECT ts[i+1] AS w1, ts[i+2] AS w2
        |  FROM t, unnest(range(0, len(ts) - 1)) AS u(i) WHERE len(ts) >= 2),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
        |cl AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS cl FROM c2 GROUP BY w1),
        |cr AS (SELECT w2, CAST(sum(c2) AS BIGINT) AS cr FROM c2 GROUP BY w2),
        |n AS (SELECT CAST(sum(c2) AS BIGINT) AS n FROM c2)
        |SELECT c2.w1, c2.w2, c2.c2,
        |  round(ln(n.n * c2.c2 / (cl.cl * cr.cr)), 4) + 0.0 AS pmi
        |FROM c2, n
        |JOIN cl ON cl.w1 = c2.w1
        |JOIN cr ON cr.w2 = c2.w2
        |WHERE c2.c2 >= $PmiMinCount
        |ORDER BY pmi DESC, c2.w1, c2.w2 LIMIT $PmiTop""".stripMargin)(statsPmi),

    OpQuery("op_sketch_cms",
      s"""WITH t AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ts FROM documents),
        |bg AS (
        |  SELECT unnest(list_transform(range(0, len(ts) - 1),
        |    i -> ts[i+1] || ' ' || ts[i+2])) AS item
        |  FROM t WHERE len(ts) >= 2),
        |exact AS (SELECT item, count(*) AS cnt FROM bg GROUP BY item),
        |base AS (
        |  SELECT item, cnt,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, length(item) + 1),
        |        i -> ord(substring(item, CAST(i AS INTEGER), 1)))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM exact),
        |cells AS (
        |  SELECT CAST(j AS INTEGER) AS j,
        |    (h * [${CmsA.mkString(", ")}][j + 1] + [${CmsB.mkString(", ")}][j + 1])
        |      % 1000000007 % $CmsWidth AS bkt, cnt
        |  FROM base, unnest(range(0, $CmsRows)) AS u(j)),
        |sketch AS (SELECT j, bkt, CAST(sum(cnt) AS BIGINT) AS c FROM cells GROUP BY j, bkt),
        |panel AS (SELECT item, cnt, h FROM base ORDER BY cnt DESC, item LIMIT $CmsPanel),
        |pcells AS (
        |  SELECT item, cnt, CAST(j AS INTEGER) AS j,
        |    (h * [${CmsA.mkString(", ")}][j + 1] + [${CmsB.mkString(", ")}][j + 1])
        |      % 1000000007 % $CmsWidth AS bkt
        |  FROM panel, unnest(range(0, $CmsRows)) AS u(j)),
        |est AS (
        |  SELECT item, cnt, CAST(min(c) AS BIGINT) AS est
        |  FROM pcells JOIN sketch USING (j, bkt) GROUP BY item, cnt)
        |SELECT item, CAST(cnt AS BIGINT) AS exact, est,
        |  est - cnt AS slack, est >= cnt AS over
        |FROM est ORDER BY item""".stripMargin)(sketchCms),

    OpQuery("op_text_entropy",
      """WITH corpus AS (
        |  SELECT doc_id * 2 AS doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, repeat('z', length(text))
        |  FROM documents WHERE doc_id % 13 = 0),
        |ch0 AS (
        |  SELECT doc_id, text, unnest(range(0, length(text))) AS i
        |  FROM corpus WHERE text IS NOT NULL AND length(text) >= 1),
        |ch AS (SELECT doc_id, substr(text, CAST(i AS INTEGER) + 1, 1) AS c FROM ch0),
        |cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
        |agg AS (
        |  SELECT doc_id, sum(k) AS n, count(*) AS nd, max(k) AS mx,
        |    ln(CAST(sum(k) AS DOUBLE)) * (CAST(1 AS DOUBLE) / ln(2))
        |      - sum(k * (ln(CAST(k AS DOUBLE)) * (CAST(1 AS DOUBLE) / ln(2)))) / sum(k) AS ent
        |  FROM cnt GROUP BY doc_id)
        |SELECT doc_id, CAST(n AS INTEGER) AS n_cp, CAST(nd AS INTEGER) AS n_distinct,
        |  round(ent, 4) + 0.0 AS entropy,
        |  round(CAST(mx AS DOUBLE) / n, 4) AS top_share,
        |  2 * mx > n AS flagged
        |FROM agg ORDER BY doc_id""".stripMargin)(textEntropy)
  )
}
