package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.OpQuery
import graft.sources.Tables

/** Tier-B LLM-data-pipeline operators (SURVEY.md §2 B16–B21): the
  * operations a large-scale training-data pipeline needs — exact and
  * near deduplication, similarity search, text statistics — designed
  * for 100 TB first and verified against DuckDB at test scale.
  *
  * Scale design notes per operator live on the methods; the common
  * rules: no all-pairs joins (MinHash bands make candidate generation
  * output-linear), per-row signatures computed map-side with array
  * higher-order functions (no explode-shuffle), and every hash is an
  * engine-portable digest (`md5` hex) so results are deterministic and
  * cross-checkable — no JVM-private seeds.
  */
object LlmPipeline {

  private def docs(sp: SparkSession, dir: String): DataFrame = Tables.documents(sp, dir)

  // ---- B16: exact dedup ----------------------------------------------------

  /** Exact dedup by digest of whitespace/case-normalized text. The
    * corpus is unioned with an uppercased copy of the even docs, so the
    * dedup provably collapses real duplicates (n_dups=2) while keeping
    * singletons. Planted copies are re-keyed odd/even (originals 2·id,
    * copies 2·id+1) — collision-free at ANY corpus size, where a fixed
    * +K offset would silently duplicate keys once real ids reach K.
    * At 100 TB: one hash-partitioned aggregation on a
    * 32-char digest — no window, no skew (digests are uniform), partial
    * aggs map-side. */
  def dedupExact(sp: SparkSession, dir: String): DataFrame = {
    val base = docs(sp, dir)
      .select((col("doc_id") * 2).as("doc_id"), col("text"))
    val dups = base.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 1).as("doc_id"), upper(col("text")).as("text"))
    val all = base.union(dups)
    val normed = all.withColumn("key",
      md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))))
    normed.groupBy("key")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups")
      .orderBy("keep_id")
  }

  // ---- B52: incremental dedup against a historical index -------------------

  /** B52 — `op_dedup_incremental`: dedup the NEW batch against an
    * existing corpus digest index — the shape production actually runs
    * at 100 TB (nobody re-deduplicates the historical corpus daily; the
    * increment joins the index). History = a quarter of the corpus
    * (orig doc_id % 4 == 0), keyed by the B16 normalized digest; batch
    * = the rest, plus planted re-posts of history docs (odd re-key
    * 2·id+1) that MUST flag as known.
    *
    * Scale shape: the digest index is corpus-sized — NEVER broadcast;
    * this is a digest-keyed shuffle join where the increment side is
    * the small one, and AQE picks the strategy from runtime stats.
    * Uniform md5 keys mean no skew by construction. Output is
    * batch-sized. */
  def dedupIncremental(sp: SparkSession, dir: String): DataFrame =
    dedupIncrementalOf(docs(sp, dir))

  /** Core over `corpus(doc_id, text)` for known-answer specs. */
  def dedupIncrementalOf(corpus: DataFrame): DataFrame = {
    val normed = corpus.select(col("doc_id"),
      md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("key"))
    val history = normed.filter(col("doc_id") % 4 === 0)
      .groupBy("key").agg(min(col("doc_id") * 2).as("hist_id"))
    val batch = normed.filter(col("doc_id") % 4 =!= 0)
      .select((col("doc_id") * 2).as("doc_id"), col("key"))
      .union(normed.filter(col("doc_id") % 8 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"), col("key")))
    batch.join(history, Seq("key"), "left")
      .select(col("doc_id"),
        col("hist_id").isNotNull.as("dup_of_history"),
        coalesce(col("hist_id"), lit(-1L)).as("hist_id"))
      .transform(OpQuery.gradedSort("doc_id"))
  }

  // ---- B55: index update (the write half of incremental dedup) -------------

  /** B55 — `op_index_update`: merge the batch's NOVEL digests back into
    * the history index — the write half of the daily dedup loop that
    * [[dedupIncremental]] (the read half) left open. Within-batch
    * keep-first: a key seen several times in the batch enters the index
    * once, under its smallest doc_id. Output is the full UPDATED index
    * (`is_new` marks the merged rows), so the grade pins both halves:
    * history rows must survive untouched and exactly the novel keys
    * must be added.
    *
    * Scale shape: `left_anti` against the corpus-sized index is the
    * same digest-keyed shuffle join class as the B52 lookup (never
    * broadcast the index; uniform md5 keys, no skew), the keep-first is
    * a map-side-partial min on the batch only, and the union is
    * plan-level (no shuffle). At 100 TB the updated index is written
    * back BUCKETED by `key` so tomorrow's lookup and anti-join are
    * co-located reads with no index-side shuffle at all. */
  def indexUpdate(sp: SparkSession, dir: String): DataFrame =
    indexUpdateOf(docs(sp, dir))

  /** Core over `corpus(doc_id, text)` for known-answer specs. */
  def indexUpdateOf(corpus: DataFrame): DataFrame = {
    val normed = corpus.select(col("doc_id"),
      md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("key"))
    val history = normed.filter(col("doc_id") % 4 === 0)
      .groupBy("key").agg(min(col("doc_id") * 2).as("hist_id"))
    val batch = normed.filter(col("doc_id") % 4 =!= 0)
      .select((col("doc_id") * 2).as("doc_id"), col("key"))
      .union(normed.filter(col("doc_id") % 8 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"), col("key")))
    val novel = batch.join(history, Seq("key"), "left_anti")
      .groupBy("key").agg(min("doc_id").as("entry_id"))
    history.select(col("key"), col("hist_id").as("entry_id"), lit(false).as("is_new"))
      .union(novel.select(col("key"), col("entry_id"), lit(true).as("is_new")))
      .transform(OpQuery.gradedSort("key"))
  }

  // ---- B57: deterministic train/val/test holdout split ---------------------

  /** B57 — `op_split_holdout`: the deterministic dataset split every
    * training pipeline needs — assignment must be a PURE FUNCTION of
    * the stable document id (never `rand()`: reruns, late-arriving
    * shards, and engine changes must not reshuffle the holdout), here
    * `md5("split:" || doc_id)` with LEXICOGRAPHIC hex-prefix
    * thresholds (`< "03"` → test, `< "06"` → val, else train —
    * ~1.17% each; string compare is engine-portable where hex→int
    * parsing is not). The salt pins seed-stability: a different salt
    * is a different (still deterministic) split. The graded artifact
    * is the per-(split, lang) count/char-mass/id-range profile — the
    * leakage check run before any training job (a doc in two splits or
    * a language missing from val shows up here).
    *
    * Scale shape: assignment is a map-side codegen'd projection riding
    * the scan (zero extra passes at 100 TB — it composes into any
    * write); the grade's aggregation is |splits × languages|-sized. */
  def splitHoldout(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir)
      .withColumn("h", substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 2))
      .withColumn("split",
        when(col("h") < "03", "test").when(col("h") < "06", "val").otherwise("train"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      .orderBy("split", "lang")

  // ---- B53: vocabulary frequency histogram ---------------------------------

  /** B53 — `op_token_histogram`: vocabulary mass by frequency decade
    * (digit count of the term frequency — integer-exact in both
    * engines, unlike `floor(log10(f))` whose last-ulp placement at
    * exact powers of ten is engine-dependent): how many term TYPES and
    * how much token MASS sit in each order of magnitude — the
    * head/torso/tail statistic a tokenizer/vocab design reads first.
    *
    * Scale shape: explode → (term) vocabulary-keyed count with map-side
    * partials (the op_text_tokenize_tf shuffle class) → decade agg
    * whose output is ≤ #digits rows. Nothing corpus-sized leaves the
    * first aggregation. */
  def tokenHistogram(sp: SparkSession, dir: String): DataFrame =
    tokenHistogramOf(docs(sp, dir))

  /** Core over `corpus(text)` for known-answer specs. */
  def tokenHistogramOf(corpus: DataFrame): DataFrame =
    corpus
      .select(explode(filter(split(col("text"), " "), t => t =!= "")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("f"))
      .withColumn("decade", (length(col("f").cast("string")) - 1).cast("int"))
      .groupBy("decade")
      .agg(count(lit(1)).as("n_types"), sum("f").as("n_tokens"),
        min("f").as("min_f"), max("f").as("max_f"))
      .orderBy("decade")

  // ---- B17: MinHash near-dup candidates ------------------------------------

  private val NumHashes = 8
  private val BandSize = 2 // 4 bands x 2 rows

  /** Hot-bucket cap for the LSH candidate stages (B17/B25/B27): an
    * upper bound on how many documents one band bucket may contribute
    * to pair expansion. Healthy buckets hold a handful of docs, so the
    * cap is invisible on real corpora — HotBucketSpec asserts ZERO
    * drops at the verification SF, so capped ≡ uncapped there; a
    * degenerate corpus is bounded to C(cap,2) pairs per bucket instead
    * of O(N²). Since r15 the cap is DECLARED SEMANTICS on every capped
    * structure — each oracle carries the same deterministic lowest-id
    * rank cap interpolated into its SQL (B56 pattern; see PLANS.md
    * r15 for the policy rationale), so no structure rests on an
    * uncapped-equivalence premise that real data could break. */
  val MaxBucketDocs = 64

  /** Pre-cap band-bucket stage of [[dedupMinhash]], exposed so tests
    * can measure real bucket sizes against the cap.
    *
    * Shingles materialized via TextShingles (lambda-inlining pitfall:
    * 66s -> 4s at sf0.1 when computed once per row). One md5 per
    * shingle; the 8 hash functions are hex-rotations of that digest —
    * each rotation leads with a disjoint 16-bit window, so the min
    * selection is driven by effectively independent bits at 1/8th the
    * digest cost. The rotation-minima are computed by the codegen'd
    * MinHashSignature kernel (one pass, zero per-element allocation);
    * values are bit-identical to the 8x aggregate/least fold, so the
    * oracle SQL still states the same rotations. */
  private[graft] def minhashBanded(all: DataFrame): DataFrame =
    minhashBandedRaw(graft.functions.TextShingles.spreadForCpu(all))

  /** [[minhashBanded]] minus the batch-only repartition probe
    * (`spreadForCpu` inspects `df.rdd`, which a STREAMING DataFrame
    * rejects) — every stage here is a stateless per-row projection, so
    * this form serves the streaming band probe unchanged. */
  private[graft] def minhashBandedRaw(all: DataFrame): DataFrame =
    bandsFromSigs(
      graft.functions.TextShingles.withShingles(all, col("text"))
        .withColumn("hs", graft.plans.Md5Array.md5Array(col("shingles")))
        .select(col("doc_id"),
          graft.plans.MinHashSignature.minhashSig(col("hs"), NumHashes, 4).as("sig")))

  /** The banding fold alone: `(doc_id, sig)` → one `(doc_id, band_id,
    * band_key)` row per band. Split out of [[minhashBandedRaw]] so the
    * B73 estimator can band an already-materialized signature frame
    * without re-running the shingle pass. */
  private def bandsFromSigs(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), posexplode(array((0 until NumHashes / BandSize).map { b =>
      md5(concat_ws("|", element_at(col("sig"), b * BandSize + 1),
        element_at(col("sig"), b * BandSize + 2)))
    }: _*)).as(Seq("band_id", "band_key")))

  /** The minhash corpus (base ∪ planted variants) for a dir. Originals
    * are re-keyed 2·id and planted variants 2·id+1 (odd/even — unique
    * at any corpus size, unlike a fixed +K offset that collides once
    * real ids reach K). */
  private[graft] def minhashCorpus(sp: SparkSession, dir: String): DataFrame = {
    val base = docs(sp, dir)
      .select((col("doc_id") * 2).as("doc_id"), col("text"))
    val variants = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1).as("doc_id"),
        concat(col("text"), lit(" extraneous")).as("text"))
    base.union(variants)
  }

  // ---- B56: incremental near-dup against a historical LSH index ------------

  /** B56 — `op_dedup_minhash_incremental`: the NEAR-DUP twin of B52 —
    * the new batch probes a HISTORICAL band-bucket index instead of
    * re-banding the whole corpus (nobody re-LSHes 100 TB daily).
    * History = a quarter of the corpus (orig doc_id % 4 == 0, re-keyed
    * 2·id) banded into the (band_id, band_key) index; batch = the rest
    * plus planted NEAR-posts of history docs (2·id+1, one appended
    * token → shingle Jaccard ≈ 0.9 → a shared band with p ≈ 0.999)
    * that must surface as (batch_id, hist_id) candidates. Within-batch
    * near-dup is deliberately out of scope here (that is B17's job on
    * the increment); this op is the index PROBE.
    *
    * Scale shape: at 100 TB the history index is PRECOMPUTED and
    * stored bucketed by (band_id, band_key) — probing is a shuffle
    * join where only the batch side moves; output is linear in true
    * collisions, never batch × history. The index side of each bucket
    * is capped at [[MaxBucketDocs]] by a DETERMINISTIC rank (hist_id
    * order — same rule in the oracle, so capped ≡ uncapped at verify
    * SF where HotBucketSpec certifies no bucket nears the cap, and a
    * degenerate bucket stays bounded instead of exploding the probe). */
  /** B56's history partition (quarter-corpus, re-keyed 2·id) — the
    * doc set whose banding becomes the stored index. Exposed so the
    * occupancy probes (HotBucketSpec, tools.BucketOccupancy) measure
    * the SAME bucket population the op indexes; a drift in this
    * definition must move the certification with it. */
  private[graft] def minhashHistoryDocs(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).select(col("doc_id"), col("text"))
      .filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") * 2).as("doc_id"), col("text"))

  def dedupMinhashIncremental(sp: SparkSession, dir: String): DataFrame = {
    val base = docs(sp, dir).select(col("doc_id"), col("text"))
    val history = minhashHistoryDocs(sp, dir)
    val batch = base.filter(col("doc_id") % 4 =!= 0)
      .select((col("doc_id") * 2).as("doc_id"), col("text"))
      .union(base.filter(col("doc_id") % 8 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"),
          concat(col("text"), lit(" extraneous")).as("text")))
    minhashBanded(batch)
      .join(minhashHistoryIndex(history), Seq("band_id", "band_key"))
      .select(col("doc_id").as("batch_id"), col("hist_id")).distinct()
      .transform(OpQuery.gradedSort("batch_id", "hist_id"))
  }

  /** DuckDB oracle fragment: the CTE chain `shingled → hashed → sigs →
    * bands` over a preceding `corpus(side, doc_id, text)` CTE — the
    * SQL statement of [[minhashBanded]]'s rotation-minhash banding,
    * shared by every oracle that probes or builds a band index.
    * Pre-stripped: embed after a `|` margin in the enclosing oracle. */
  private[graft] val MinhashBandsSql: String =
    """shingled AS (
      |  SELECT side, doc_id,
      |    list_transform(range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
      |      i -> concat_ws(' ', string_split(text, ' ')[i],
      |                          string_split(text, ' ')[i+1],
      |                          string_split(text, ' ')[i+2])) AS sh
      |  FROM corpus),
      |hashed AS (
      |  SELECT side, doc_id, list_transform(sh, x -> md5(x)) AS hs FROM shingled),
      |sigs AS (
      |  SELECT side, doc_id,
      |    [list_min(hs),
      |     list_min(list_transform(hs, h -> substring(h, 5, 28) || substring(h, 1, 4))),
      |     list_min(list_transform(hs, h -> substring(h, 9, 24) || substring(h, 1, 8))),
      |     list_min(list_transform(hs, h -> substring(h, 13, 20) || substring(h, 1, 12))),
      |     list_min(list_transform(hs, h -> substring(h, 17, 16) || substring(h, 1, 16))),
      |     list_min(list_transform(hs, h -> substring(h, 21, 12) || substring(h, 1, 20))),
      |     list_min(list_transform(hs, h -> substring(h, 25, 8) || substring(h, 1, 24))),
      |     list_min(list_transform(hs, h -> substring(h, 29, 4) || substring(h, 1, 28)))] AS sig
      |  FROM hashed),
      |bands AS (
      |  SELECT side, doc_id, b.band_id,
      |    md5(concat_ws('|', sig[b.band_id * 2 + 1], sig[b.band_id * 2 + 2])) AS band_key
      |  FROM sigs, (SELECT 0 AS band_id UNION ALL SELECT 1 UNION ALL SELECT 2 UNION ALL SELECT 3) b)"""
      .stripMargin

  /** DuckDB oracle fragment: the capped history band index over the
    * `bands` CTE — the SQL statement of [[minhashHistoryIndex]], with
    * [[MaxBucketDocs]] interpolated (not hardcoded: a cap change must
    * reach BOTH the Spark side and the oracle or they silently
    * desync). Pre-stripped, same embedding rule as
    * [[MinhashBandsSql]]. */
  private[graft] val MinhashHcapSql: String =
    """hcap AS (
      |  SELECT band_id, band_key, hist_id FROM (
      |    SELECT band_id, band_key, doc_id AS hist_id,
      |      row_number() OVER (PARTITION BY band_id, band_key ORDER BY doc_id) AS rn
      |    FROM bands WHERE side = 'h') WHERE rn <= MAX_BUCKET_DOCS)""".stripMargin
      .replace("MAX_BUCKET_DOCS", MaxBucketDocs.toString)

  /** DuckDB oracle fragment: the capped CORPUS band buckets over a
    * `bands(doc_id, band_id, band_key)` CTE — the SQL statement of the
    * [[MaxBucketDocs]] rank cap in [[minhashPairsFor]] (PARTITION BY
    * band_id, band_key ORDER BY doc_id — the Spark side's exact
    * deterministic rank), cap interpolated so an engine/oracle desync
    * is impossible. Fourth use of the B56 pattern (after the history
    * index, simhash, and the embedding sign buckets): since r15 the
    * corpus-band cap is declared semantics rather than an
    * uncapped-equivalence premise, because corpus-band occupancy
    * tracks true dup-CLUSTER size — a data property (boilerplate-heavy
    * corpora routinely exceed any fixed cap) that no synthetic scale
    * probe can certify against. Shared by op_dedup_minhash and
    * op_dedup_cc (whose closure runs over the same capped pairs). */
  /** The B17b closure CTE chain (planted corpus → shingles → minhash
    * signatures → capped band buckets → pairs → recursive reachability
    * → `comp(doc_id, component)`) — single SQL owner shared by the
    * `op_dedup_cc` and `op_dedup_keep_best` oracles (one closure rule,
    * two graded views; the cdcChunkCtes discipline). Callers prefix
    * `WITH RECURSIVE` and append their SELECT; the corpus CTE is
    * exposed as `unioned` for quality-feature reuse. */
  private[graft] lazy val CcCompSql: String =
    s"""unioned AS (
      |  SELECT doc_id * 2 AS doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id * 2 + 1, concat(text, ' extraneous') FROM documents WHERE doc_id % 5 = 0),
      |shingled AS (
      |  SELECT doc_id,
      |    list_transform(range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
      |      i -> concat_ws(' ', string_split(text, ' ')[i],
      |                          string_split(text, ' ')[i+1],
      |                          string_split(text, ' ')[i+2])) AS sh
      |  FROM unioned),
      |hashed AS (
      |  SELECT doc_id, list_transform(sh, x -> md5(x)) AS hs FROM shingled),
      |sigs AS (
      |  SELECT doc_id,
      |    [list_min(hs),
      |     list_min(list_transform(hs, h -> substring(h, 5, 28) || substring(h, 1, 4))),
      |     list_min(list_transform(hs, h -> substring(h, 9, 24) || substring(h, 1, 8))),
      |     list_min(list_transform(hs, h -> substring(h, 13, 20) || substring(h, 1, 12))),
      |     list_min(list_transform(hs, h -> substring(h, 17, 16) || substring(h, 1, 16))),
      |     list_min(list_transform(hs, h -> substring(h, 21, 12) || substring(h, 1, 20))),
      |     list_min(list_transform(hs, h -> substring(h, 25, 8) || substring(h, 1, 24))),
      |     list_min(list_transform(hs, h -> substring(h, 29, 4) || substring(h, 1, 28)))] AS sig
      |  FROM hashed),
      |bands AS (
      |  SELECT doc_id, b.band_id,
      |    md5(concat_ws('|', sig[b.band_id * 2 + 1], sig[b.band_id * 2 + 2])) AS band_key
      |  FROM sigs, (SELECT 0 AS band_id UNION ALL SELECT 1 UNION ALL SELECT 2 UNION ALL SELECT 3) b),
      |$MinhashBcapSql,
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bcap a JOIN bcap b
      |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(id, lab) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
      |comp AS (SELECT id AS doc_id, min(lab) AS component FROM reach GROUP BY id)""".stripMargin

  private[graft] val MinhashBcapSql: String =
    """bcap AS (
      |  SELECT doc_id, band_id, band_key FROM (
      |    SELECT doc_id, band_id, band_key,
      |      row_number() OVER (PARTITION BY band_id, band_key ORDER BY doc_id) AS rn
      |    FROM bands) WHERE rn <= MAX_BUCKET_DOCS)""".stripMargin
      .replace("MAX_BUCKET_DOCS", MaxBucketDocs.toString)

  /** The stored (band_id, band_key) → hist_id index a probe runs
    * against: banded history, each bucket capped at [[MaxBucketDocs]]
    * by deterministic hist_id rank (shared by B56, the streaming band
    * probe, and the composed incremental e2e — at 100 TB this frame is
    * PRECOMPUTED and stored bucketed by its key). */
  private[graft] def minhashHistoryIndex(history: DataFrame): DataFrame = {
    val wBucket = Window.partitionBy("band_id", "band_key").orderBy("hist_id")
    minhashBanded(history)
      .select(col("band_id"), col("band_key"), col("doc_id").as("hist_id"))
      .withColumn("rn", row_number().over(wBucket))
      .filter(col("rn") <= MaxBucketDocs)
      .drop("rn")
  }

  /** Per-document MinHash signature over word 3-gram shingles, banded
    * into 4 bands; documents sharing any band bucket are near-dup
    * candidates. A fifth of the docs get a planted near-duplicate (one
    * appended token) which the bands catch with probability
    * 1-(1-j²)⁴ ≈ 0.999 at j≈0.9.
    *
    * 100 TB story: signatures are computed per row with array
    * higher-order functions (`aggregate` over the shingle array — a
    * map-only stage, no explode shuffle); the only shuffle is the
    * band-bucket join whose build side is (band_id, digest) pairs — 4
    * rows per doc — and candidate output is proportional to true
    * collisions, never all-pairs. The hash is `md5(seed:shingle)` hex
    * compared lexicographically: deterministic, seed-stable, and
    * reproducible in any engine. */
  def dedupMinhash(sp: SparkSession, dir: String): DataFrame =
    minhashPairs(sp, dir).orderBy("doc_a", "doc_b")

  /** B73 — `op_minhash_est`: the minhash RESEMBLANCE ESTIMATOR audited
    * against exact Jaccard (Broder 1997, "On the resemblance and
    * containment of documents", SEQUENCES'97 — the theorem B17 banks
    * on: P[min-hash match] = J(A,B), so matching slots estimate
    * resemblance as n_match/k). The B51/B67 accuracy-under-the-hash
    * contract applied to the dedup family's own sketch: for every
    * banded candidate pair (B17's capped buckets — declared cap
    * semantics), emit the estimator side (n_match of 8 slots) next to
    * the exact side (distinct-shingle n_a / n_b / n_inter / n_union)
    * plus both half-resemblance verdicts (est: n_match ≥ 4; exact:
    * 2·n_inter ≥ n_union). EVERY graded column is an integer or an
    * integer predicate — nothing rounds, nothing crosses an engine
    * boundary as a float.
    *
    * Scale shape: candidates come from the capped banded buckets
    * (never all-pairs); the signature compare is a map-side 8-slot
    * zip on the pair rows; the exact-intersection join is bounded by
    * candidate-pairs × per-doc grams (candidate-bounded, not
    * corpus²). The shingle+md5 kernel — the query's dominant cost —
    * runs ONCE: a persisted `(doc_id, grams, sig)` frame feeds the
    * band buckets, the signature compare, the distinct-gram join and
    * the per-doc counts (r18; the r16 formulation re-derived it five
    * times — 5.7 s vs a 2.75 s quiet floor at sf0.1, the board's one
    * `weak`). `api.Graft.minhashAudit` wires the self-releasing
    * listener. */
  def minhashEst(sp: SparkSession, dir: String): DataFrame =
    minhashEstWith(minhashCorpus(sp, dir))._1.transform(OpQuery.gradedSort("doc_a", "doc_b"))

  /** Core behind [[minhashEst]] and `api.Graft.minhashAudit`: the
    * estimator-vs-exact audit over ANY `corpus(doc_id, text)`, without
    * the graded total sort. Returns the result plus a release handle
    * that unpersists the shared shingle/signature frame. */
  private[graft] def minhashEstWith(corpus: DataFrame): (DataFrame, () => Unit) = {
    // ONE shingle+signature pass over the corpus, persisted: grams is
    // per-doc DISTINCT shingles (array_distinct ≡ the old exploded
    // .distinct(), order irrelevant downstream), sig the 8-slot
    // rotation minhash — so n_a/n_b are map-side sizes, not a shuffle.
    val shingled = graft.functions.TextShingles
      .withShingles(graft.functions.TextShingles.spreadForCpu(corpus), col("text"))
      .withColumn("hs", graft.plans.Md5Array.md5Array(col("shingles")))
      .select(col("doc_id"),
        array_distinct(col("shingles")).as("grams"),
        graft.plans.MinHashSignature.minhashSig(col("hs"), NumHashes, 4).as("sig"))
      .persist()
    val pairs = pairsFromBanded(bandsFromSigs(shingled.select(col("doc_id"), col("sig"))))
    val sigs = shingled.select(col("doc_id"), col("sig"))
    val grams = shingled.select(col("doc_id"), explode(col("grams")).as("sh"))
    val counts = shingled.select(col("doc_id"),
      size(col("grams")).cast("long").as("n"))
    val inter = pairs
      .join(grams.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(grams.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    val result = pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("doc_b"))
      .withColumn("n_match",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b)))
      .join(counts.select(col("doc_id").as("doc_a"), col("n").as("n_a")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("doc_b"))
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        col("n_a"), col("n_b"), col("n_inter"), col("n_union"),
        (col("n_match") >= NumHashes / 2).as("est_high"),
        (lit(2) * col("n_inter") >= col("n_union")).as("jac_high"))
    (result, () => { shingled.unpersist(); () })
  }

  /** Candidate pairs (doc_a < doc_b) shared by B17 and the component
    * closure below. */
  private[graft] def minhashPairs(sp: SparkSession, dir: String): DataFrame =
    minhashPairsFor(minhashCorpus(sp, dir))

  /** Candidate pairs over ANY (doc_id, text) corpus — the reusable
    * form behind [[minhashPairs]] and `api.Graft.nearDupClusters`. */
  private[graft] def minhashPairsFor(corpus: DataFrame): DataFrame =
    pairsFromBanded(minhashBanded(corpus))

  /** The capped pair expansion alone, over any `(doc_id, band_id,
    * band_key)` frame — split out so the B73 estimator can expand
    * bands derived from its shared signature frame. */
  private def pairsFromBanded(banded: DataFrame): DataFrame = {
    // Candidate pairs via bucket grouping, NOT a self-join: a self-join
    // re-computes the signature subtree on both sides (no exchange reuse
    // under a broadcast join), doubling the dominant cost. Bucket
    // membership is tiny for healthy bands; a degenerate corpus (N
    // identical docs) would make one bucket's collect_set + pair
    // expansion O(N²), so membership is CAPPED at MaxBucketDocs first:
    // row_number over the bucket key (same hash partitioning the
    // following groupBy needs — no extra exchange; the per-bucket sort
    // is external/spillable, unlike an unbounded agg buffer), keeping
    // the MaxBucketDocs smallest doc_ids deterministically. Dropped
    // members cost recall only on buckets that are ~all mutual
    // duplicates anyway — the kept members still link as one dup
    // cluster (HotBucketSpec pins the bounded-output behavior; at
    // 100 TB the drop count is an ops metric, watched, not fatal).
    // Since r15 the cap is declared semantics: both consuming oracles
    // (op_dedup_minhash, op_dedup_cc) interpolate the same rank cap
    // via MinhashBcapSql, so a dup-cluster larger than the cap
    // truncates IDENTICALLY on both engines instead of silently
    // diverging from an uncapped definition.
    val wb = Window.partitionBy("band_id", "band_key").orderBy("doc_id")
    banded
      .withColumn("rn", row_number().over(wb))
      .filter(col("rn") <= LlmPipeline.MaxBucketDocs)
      .groupBy("band_id", "band_key")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()
  }

  // ---- B17b: duplicate-cluster closure (connected components) --------------

  /** Connected components over the MinHash candidate pairs — the step
    * that turns pairwise near-dup evidence into actionable dedup
    * groups (pairs (A,B) and (B,C) must collapse to ONE kept doc, not
    * two independent keeps). Output: one row per document that appears
    * in any candidate pair, with its cluster's canonical id (the
    * cluster-minimum doc_id — the member a dedup pass would keep) and
    * the cluster size.
    *
    * Algorithm: BSP min-label propagation — every node starts as its
    * own component; each superstep sends the current component id over
    * every edge and keeps the minimum seen; fixpoint when no label
    * changes. This is the standard Pregel formulation of CC (GraphX's
    * built-in uses the same message), expressed directly on DataFrames
    * so Catalyst plans it: one superstep = one hash-shuffle join of
    * labels onto edges + one min-aggregation, both keyed on node id —
    * AQE-coalesced, spillable, no driver data path. The driver-side
    * while loop holds only a CHANGE COUNT scalar per superstep (the
    * canonical Spark iterative-algorithm shape, not a collect()
    * anti-pattern), and `localCheckpoint` truncates the growing lineage
    * so superstep N does not replay supersteps 1..N-1.
    *
    * Scale: each superstep ends with POINTER JUMPING (replace a node's
    * label by its label's label — a labels⋈labels self-join on the
    * comp key), the classic parallel-CC shortcutting step, so label
    * distances halve per round and convergence is O(log diameter)
    * supersteps rather than O(diameter): a 200-node chain closes in 8
    * supersteps (DedupCcSpec), 2^40 nodes fit the 40-superstep guard.
    * Near-dup graphs are unions of band-bucket CLIQUES (diameter in
    * low single digits even at 100 TB), so the jump is usually one
    * wasted cheap join — it exists for adversarial shapes. Edges are
    * cached for reuse across supersteps; each label frame is
    * materialized and the previous one unpersisted, so peak footprint
    * is 2 label sets + the edge list. */
  def dedupCc(sp: SparkSession, dir: String): DataFrame =
    connectedComponents(minhashPairs(sp, dir)).transform(OpQuery.gradedSort("doc_id"))

  /** B85 — `op_dedup_keep_best`: canonical selection BY QUALITY — the
    * duplicate-cluster policy real curation pipelines run where
    * B17b's min-id canonical stops short (e.g. the CCNet/RefinedWeb
    * practice of keeping the best-scoring member of a duplicate
    * group): compose the B17b closure (which doc belongs to which
    * near-dup cluster) with the B50 quality logit (how good each
    * member is) and keep, per component, the member with the HIGHEST
    * logit (ties → lowest doc_id). On the B17b planted corpus the
    * ' extraneous'-suffixed variants score a (slightly) different
    * logit than their originals, so `kept` genuinely follows quality,
    * not id order — the spec pins at least one cluster whose keeper
    * is NOT the min id, which the B17b rule would have chosen.
    *
    * Scale shape: the closure is B17b's BSP job unchanged; the logit
    * is a map-side projection riding the scan ([[graft.operators
    * .TrainingData.qualityLogitOf]] — no sort, the B50 plan minus its
    * graded ORDER BY); the join is doc_id-keyed where the component
    * side holds only docs that appear in some candidate pair; the
    * argmax window partitions by component, whose size the
    * MaxBucketDocs candidate-cap geometry already bounds. Nothing new
    * is corpus-quadratic or driver-sized. */
  def dedupKeepBest(sp: SparkSession, dir: String): DataFrame = {
    val comp = connectedComponents(minhashPairs(sp, dir))
    val q = TrainingData.qualityLogitOf(minhashCorpus(sp, dir))
      .select(col("doc_id"), col("logit"))
    val w = Window.partitionBy("component")
      .orderBy(col("logit").desc, col("doc_id").asc)
    comp.join(q, Seq("doc_id"))
      .withColumn("kept", row_number().over(w) === 1)
      .select(col("doc_id"), col("component"), col("csize"),
        col("logit"), col("kept"))
      .transform(OpQuery.gradedSort("doc_id"))
  }

  /** The closure itself, over any (doc_a, doc_b) pair frame — see
    * [[dedupCc]] for the algorithm and scale notes. Unsorted: the
    * graded builders apply [[OpQuery.gradedSort]]. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    // persist the pair list BEFORE mirroring it (r22 — the pagerank
    // pairs0 repair, guide §2.4): `pairs` appears in BOTH union arms
    // below, so materializing the edge cache ran the entire upstream
    // candidate build (shingle + md5 + banding + capped pair
    // expansion, the closure callers' dominant cost) TWICE per
    // execution. One compute now feeds both arms; pair-list-sized,
    // released with the edge cache.
    val pairs0 = pairs.persist()
    // cached CO-PARTITIONED on src: the seed aggregation and every
    // superstep's labels⋈edges join key on src, so the corpus-sized
    // edge list crosses the wire once here instead of once per
    // consumer (InMemoryRelation preserves partitioning — the same
    // repair as pagerank's edge cache, pinned by PlanEvidenceSpec)
    val edges = pairs0.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs0.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .repartition(col("src"))
      .cache()
    // Seed comp = min(id, min neighbor) instead of comp = id: one
    // aggregation over the edge list (no jump join, no changed-agg —
    // cheaper than a superstep) that completes every single-bucket
    // CLIQUE immediately. Near-dup graphs are overwhelmingly such
    // cliques, so the loop's first changed-count is usually already 0
    // and the whole closure costs ONE superstep instead of a
    // propagate+confirm pair; multi-bucket clusters start one hop
    // ahead. Both directions are in `edges`, so every node appears as
    // src and no node is lost by the groupBy.
    // LAZY checkpoint (one job saved per run): the first superstep's
    // convergence probe is the next action anyway, and it reads the
    // seed TWICE (the msgs join and the jump lookup) — the lazy
    // persist materializes the seed blocks on first use inside that
    // job, so the second consumer reads blocks, same as eager, without
    // the separate up-front materialization job.
    var labels = graft.functions.Checkpoints.truncate(
      edges.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("nbr"))
        .select(col("id"), least(col("id"), col("nbr")).as("comp")),
      eager = false)
    // every currently-persisted label frame (at most 2 mid-superstep);
    // the failure path unpersists them ALL, the success path keeps only
    // the final one (whose blocks the returned frame reads)
    var pinned: List[DataFrame] = List(labels)
    var changed = 1L
    var steps = 0
    try {
      while (changed > 0 && steps < 40) {
      val msgs = edges
        // no shuffle_hash hint here, unlike pagerankStep: CC usually
        // converges in ONE superstep (the min-neighbor seed completes
        // cliques), so the per-superstep edge re-sort SMJ pays is
        // amortized once — measured a wash, not worth the SHJ rigidity
        .join(labels.select(col("id").as("src"), col("comp")), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("comp")).as("nbr_min"))
      // pointer jumping: comp := comp(comp). The min-propagation
      // invariant comp <= id makes every comp a valid node id; the
      // lookup side is the PREVIOUS superstep's label frame — already
      // materialized, so the round costs one checkpoint, not two (the
      // "asynchronous" compression variant: same fixpoint, since at a
      // fixpoint the previous and current mappings coincide).
      val next = labels.join(msgs, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr_min"), col("comp"))).as("comp"),
          col("comp").as("old_comp"))
        .join(labels.select(col("id").as("comp"), col("comp").as("jumped")),
          Seq("comp"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("jumped"), col("comp"))).as("comp"),
          (least(col("comp"), coalesce(col("jumped"), col("comp"))) < col("old_comp"))
            .cast("long").as("chg"))
        // LAZY checkpoint: the convergence probe right below is the
        // superstep's action anyway, so it materializes the blocks AND
        // folds the change count in ONE job — an eager checkpoint here
        // would run a second job per superstep just to re-scan blocks
        // the probe could have produced (measured ~2 jobs -> 1 per
        // round; the lineage truncation is identical). Session-aware:
        // reliable on a checkpoint-dir'd cluster session.
        .transform(graft.functions.Checkpoints.truncate(_, eager = false))
      pinned = next :: pinned // pin BEFORE the agg so a failure there cleans it
      changed = Option(next.agg(sum("chg")).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      pinned.tail.foreach(_.unpersist())
      pinned = List(next)
      // no re-checkpoint: the lazy select reads next's cached blocks
      labels = next.select("id", "comp")
      steps += 1
      }
      require(changed == 0, s"component propagation did not converge in $steps supersteps")
    } catch { case e: Throwable =>
      // don't pin blocks for the session's lifetime on a failed run
      // (on success the final frame stays persisted deliberately: the
      // returned frame reads its checkpoint blocks)
      pinned.foreach(_.unpersist()); edges.unpersist(); pairs0.unpersist(); throw e
    }
    edges.unpersist(); pairs0.unpersist()
    val sizes = labels.groupBy("comp").agg(count(lit(1)).as("csize"))
    labels.join(sizes, "comp")
      .select(col("id").as("doc_id"), col("comp").as("component"), col("csize"))
    }

  // ---- B18: cosine top-k similarity ----------------------------------------

  /** Brute-force exact cosine top-5 for a small query set against the
    * full corpus: the baseline ANN oracle. The query side is broadcast
    * (10 rows), the dot product runs as a fused array fold inside
    * codegen — no explode, no shuffle except the final per-query top-k
    * (TakeOrdered-sized).
    *
    * 100 TB path (documented, not needed at this SF): LSH/IVF bucket
    * the corpus by a coarse quantizer (e.g. sign of a few random
    * projections — derivable with the same md5-seeded determinism),
    * then run this exact kernel within buckets; recall/latency trades
    * by bucket count. */
  def similarityTopk(sp: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(sp, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("score",
        round(graft.plans.VectorKernels.cosine(col("q_emb"), col("embedding")), 4))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("vec_id"), col("score"))
      .orderBy("q_id", "rank")
  }

  // ---- B19: tokenize + term frequency --------------------------------------

  /** Whitespace tokenization + global term frequency, top 50 terms.
    * At scale: explode + partial-agg (map-side combine collapses the
    * tiny vocabulary before the shuffle), final top-k via
    * TakeOrderedAndProject — no global sort. */
  def textTokenizeTf(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc)
      .limit(50)

  // ---- B20: per-language corpus stats --------------------------------------

  def textLangStats(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        round(avg("n_chars"), 6).as("avg_chars"),
        countDistinct("source").as("n_sources"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"))
      .orderBy("lang")

  // ---- B21: JSON props extraction ------------------------------------------

  def jsonPropsExtract(sp: SparkSession, dir: String): DataFrame =
    Tables.events(sp, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("k").as("sum_k"),
        round(avg("k"), 6).as("avg_k"),
        min("k").as("min_k"),
        max("k").as("max_k"))
      .orderBy("event_type")

  // ---- oracle SQL ----------------------------------------------------------

  val queries: Seq[OpQuery] = Seq(
    OpQuery("op_dedup_exact",
      """WITH unioned AS (
        |  SELECT doc_id * 2 AS doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, upper(text) FROM documents WHERE doc_id % 2 = 0)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS key
        |      FROM unioned)
        |GROUP BY key ORDER BY keep_id""".stripMargin)(dedupExact),

    OpQuery("op_dedup_minhash",
      s"""WITH unioned AS (
        |  SELECT doc_id * 2 AS doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, concat(text, ' extraneous') FROM documents WHERE doc_id % 5 = 0),
        |shingled AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
        |      i -> concat_ws(' ', string_split(text, ' ')[i],
        |                          string_split(text, ' ')[i+1],
        |                          string_split(text, ' ')[i+2])) AS sh
        |  FROM unioned),
        |hashed AS (
        |  SELECT doc_id, list_transform(sh, x -> md5(x)) AS hs FROM shingled),
        |sigs AS (
        |  SELECT doc_id,
        |    [list_min(hs),
        |     list_min(list_transform(hs, h -> substring(h, 5, 28) || substring(h, 1, 4))),
        |     list_min(list_transform(hs, h -> substring(h, 9, 24) || substring(h, 1, 8))),
        |     list_min(list_transform(hs, h -> substring(h, 13, 20) || substring(h, 1, 12))),
        |     list_min(list_transform(hs, h -> substring(h, 17, 16) || substring(h, 1, 16))),
        |     list_min(list_transform(hs, h -> substring(h, 21, 12) || substring(h, 1, 20))),
        |     list_min(list_transform(hs, h -> substring(h, 25, 8) || substring(h, 1, 24))),
        |     list_min(list_transform(hs, h -> substring(h, 29, 4) || substring(h, 1, 28)))] AS sig
        |  FROM hashed),
        |bands AS (
        |  SELECT doc_id, b.band_id,
        |    md5(concat_ws('|', sig[b.band_id * 2 + 1], sig[b.band_id * 2 + 2])) AS band_key
        |  FROM sigs, (SELECT 0 AS band_id UNION ALL SELECT 1 UNION ALL SELECT 2 UNION ALL SELECT 3) b),
        |$MinhashBcapSql
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM bcap a JOIN bcap b
        |  ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin)(dedupMinhash),

    OpQuery("op_minhash_est",
      s"""WITH unioned AS (
        |  SELECT doc_id * 2 AS doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, concat(text, ' extraneous') FROM documents WHERE doc_id % 5 = 0),
        |shingled AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
        |      i -> concat_ws(' ', string_split(text, ' ')[i],
        |                          string_split(text, ' ')[i+1],
        |                          string_split(text, ' ')[i+2])) AS sh
        |  FROM unioned),
        |hashed AS (
        |  SELECT doc_id, list_transform(sh, x -> md5(x)) AS hs FROM shingled),
        |sigs AS (
        |  SELECT doc_id,
        |    [list_min(hs),
        |     list_min(list_transform(hs, h -> substring(h, 5, 28) || substring(h, 1, 4))),
        |     list_min(list_transform(hs, h -> substring(h, 9, 24) || substring(h, 1, 8))),
        |     list_min(list_transform(hs, h -> substring(h, 13, 20) || substring(h, 1, 12))),
        |     list_min(list_transform(hs, h -> substring(h, 17, 16) || substring(h, 1, 16))),
        |     list_min(list_transform(hs, h -> substring(h, 21, 12) || substring(h, 1, 20))),
        |     list_min(list_transform(hs, h -> substring(h, 25, 8) || substring(h, 1, 24))),
        |     list_min(list_transform(hs, h -> substring(h, 29, 4) || substring(h, 1, 28)))] AS sig
        |  FROM hashed),
        |bands AS (
        |  SELECT doc_id, b.band_id,
        |    md5(concat_ws('|', sig[b.band_id * 2 + 1], sig[b.band_id * 2 + 2])) AS band_key
        |  FROM sigs, (SELECT 0 AS band_id UNION ALL SELECT 1 UNION ALL SELECT 2 UNION ALL SELECT 3) b),
        |$MinhashBcapSql,
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bcap a JOIN bcap b
        |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |g AS (SELECT DISTINCT doc_id, unnest(sh) AS sh FROM shingled),
        |cnt AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |inter AS (
        |  SELECT p.doc_a, p.doc_b, count(*) AS n_inter
        |  FROM pairs p
        |  JOIN g ga ON ga.doc_id = p.doc_a
        |  JOIN g gb ON gb.doc_id = p.doc_b AND gb.sh = ga.sh
        |  GROUP BY p.doc_a, p.doc_b)
        |SELECT p.doc_a, p.doc_b,
        |  CAST(len(list_filter(range(1, 9), i -> sa.sig[i] = sb.sig[i])) AS INTEGER) AS n_match,
        |  ca.n AS n_a, cb.n AS n_b,
        |  coalesce(i.n_inter, 0) AS n_inter,
        |  ca.n + cb.n - coalesce(i.n_inter, 0) AS n_union,
        |  CAST(len(list_filter(range(1, 9), i -> sa.sig[i] = sb.sig[i])) AS INTEGER) >= 4 AS est_high,
        |  2 * coalesce(i.n_inter, 0) >= ca.n + cb.n - coalesce(i.n_inter, 0) AS jac_high
        |FROM pairs p
        |JOIN sigs sa ON sa.doc_id = p.doc_a
        |JOIN sigs sb ON sb.doc_id = p.doc_b
        |JOIN cnt ca ON ca.doc_id = p.doc_a
        |JOIN cnt cb ON cb.doc_id = p.doc_b
        |LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
        |ORDER BY p.doc_a, p.doc_b""".stripMargin)(minhashEst),

    // independent closure implementation: DuckDB computes reachability
    // by recursive CTE where Spark runs BSP label propagation
    OpQuery("op_dedup_cc",
      s"""WITH RECURSIVE $CcCompSql
        |SELECT c.doc_id, c.component, s.csize
        |FROM comp c JOIN (
        |  SELECT component, CAST(count(*) AS BIGINT) AS csize FROM comp GROUP BY component) s
        |  USING (component)
        |ORDER BY doc_id""".stripMargin)(dedupCc),

    OpQuery("op_dedup_keep_best",
      s"""WITH RECURSIVE $CcCompSql,
        |qf AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS INTEGER) AS len,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
        |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS DOUBLE) AS n_stop
        |  FROM unioned),
        |qz AS (
        |  SELECT doc_id,
        |    CAST(-1.2 AS DOUBLE)
        |      + CAST(2.5 AS DOUBLE) * (n_alpha / len)
        |      + CAST(1.5 AS DOUBLE) * (n_stop / n_tok)
        |      + CAST(0.05 AS DOUBLE) * (CAST(len - n_tok + 1 AS DOUBLE) / n_tok) AS logit
        |  FROM qf),
        |withq AS (
        |  SELECT c.doc_id, c.component, s.csize, q.logit,
        |    row_number() OVER (PARTITION BY c.component
        |      ORDER BY q.logit DESC, c.doc_id ASC) AS rn
        |  FROM comp c
        |  JOIN (SELECT component, CAST(count(*) AS BIGINT) AS csize
        |        FROM comp GROUP BY component) s USING (component)
        |  JOIN qz q ON q.doc_id = c.doc_id)
        |SELECT doc_id, component, csize, logit, rn = 1 AS kept
        |FROM withq ORDER BY doc_id""".stripMargin)(dedupKeepBest),

    OpQuery("op_similarity_topk",
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, e.vec_id,
        |    round(list_dot_product(q.q_emb, e.embedding) /
        |      (sqrt(list_dot_product(q.q_emb, q.q_emb)) * sqrt(list_dot_product(e.embedding, e.embedding))), 4) AS score
        |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
        |ranked AS (
        |  SELECT q_id, vec_id, score,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT q_id, rank, vec_id, score FROM ranked WHERE rank <= 5
        |ORDER BY q_id, rank""".stripMargin)(similarityTopk),

    OpQuery("op_dedup_incremental",
      """WITH normed AS (
        |  SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS key
        |  FROM documents),
        |history AS (
        |  SELECT key, min(doc_id * 2) AS hist_id FROM normed WHERE doc_id % 4 = 0 GROUP BY key),
        |batch AS (
        |  SELECT doc_id * 2 AS doc_id, key FROM normed WHERE doc_id % 4 <> 0
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, key FROM normed WHERE doc_id % 8 = 0)
        |SELECT b.doc_id, h.hist_id IS NOT NULL AS dup_of_history,
        |  COALESCE(h.hist_id, -1) AS hist_id
        |FROM batch b LEFT JOIN history h USING (key)
        |ORDER BY b.doc_id""".stripMargin)(dedupIncremental),

    OpQuery("op_dedup_minhash_incremental",
      s"""WITH corpus AS (
        |  SELECT 'h' AS side, doc_id * 2 AS doc_id, text FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT 'b', doc_id * 2, text FROM documents WHERE doc_id % 4 <> 0
        |  UNION ALL
        |  SELECT 'b', doc_id * 2 + 1, concat(text, ' extraneous') FROM documents WHERE doc_id % 8 = 0),
        |$MinhashBandsSql,
        |$MinhashHcapSql
        |SELECT DISTINCT bb.doc_id AS batch_id, h.hist_id
        |FROM bands bb JOIN hcap h ON bb.band_id = h.band_id AND bb.band_key = h.band_key
        |WHERE bb.side = 'b'
        |ORDER BY batch_id, hist_id""".stripMargin)(dedupMinhashIncremental),

    OpQuery("op_index_update",
      """WITH normed AS (
        |  SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS key
        |  FROM documents),
        |history AS (
        |  SELECT key, min(doc_id * 2) AS hist_id FROM normed WHERE doc_id % 4 = 0 GROUP BY key),
        |batch AS (
        |  SELECT doc_id * 2 AS doc_id, key FROM normed WHERE doc_id % 4 <> 0
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, key FROM normed WHERE doc_id % 8 = 0),
        |novel AS (
        |  SELECT key, min(doc_id) AS entry_id FROM batch b
        |  WHERE NOT EXISTS (SELECT 1 FROM history h WHERE h.key = b.key)
        |  GROUP BY key)
        |SELECT key, hist_id AS entry_id, FALSE AS is_new FROM history
        |UNION ALL
        |SELECT key, entry_id, TRUE FROM novel
        |ORDER BY key""".stripMargin)(indexUpdate),

    OpQuery("op_split_holdout",
      """WITH assigned AS (
        |  SELECT doc_id, lang, n_chars,
        |    CASE WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '03' THEN 'test'
        |         WHEN substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '06' THEN 'val'
        |         ELSE 'train' END AS split
        |  FROM documents)
        |SELECT split, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM assigned GROUP BY split, lang
        |ORDER BY split, lang""".stripMargin)(splitHoldout),

    OpQuery("op_token_histogram",
      """WITH freq AS (
        |  SELECT term, count(*) AS f
        |  FROM (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
        |        FROM documents)
        |  GROUP BY term)
        |SELECT CAST(length(CAST(f AS VARCHAR)) - 1 AS INTEGER) AS decade,
        |  count(*) AS n_types, CAST(sum(f) AS BIGINT) AS n_tokens,
        |  CAST(min(f) AS BIGINT) AS min_f, CAST(max(f) AS BIGINT) AS max_f
        |FROM freq GROUP BY decade ORDER BY decade""".stripMargin)(tokenHistogram),

    OpQuery("op_text_tokenize_tf",
      """SELECT term, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |WHERE term <> ''
        |GROUP BY term ORDER BY n DESC, term ASC LIMIT 50""".stripMargin)(textTokenizeTf),

    OpQuery("op_text_lang_stats",
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  round(avg(n_chars), 6) AS avg_chars,
        |  count(DISTINCT source) AS n_sources,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)(textLangStats),

    OpQuery("op_json_props_extract",
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 6) AS avg_k,
        |  min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)(jsonPropsExtract))
}
