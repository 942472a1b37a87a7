package graft.api

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Fragments, Normalizer}
// (Fragments/Normalizer still used by the Scala-side single-doc APIs)

/** The library's user-facing surface: the reference's top-level
  * `parse_file(text)` API (`/root/reference/etl_parser.py:1053-1082` —
  * fragments + per-format summary + normalized records) lifted to a
  * whole-corpus DataFrame operation: one input row per document, three
  * derived columns. Detection and normalization run as deterministic
  * per-row Scala functions (embarrassingly parallel, no shuffle); any
  * aggregation the caller adds on top (corpus-wide summaries, dedup)
  * is ordinary declarative Spark.
  */
object Graft {

  /** Adds `fragments` (typed span structs), `summary`
    * (format_type → count map) and `records` (normalized record JSON
    * strings) for the document text in `textCol`. Detection and
    * normalization share ONE native kernel invocation per row
    * ([[graft.plans.ParseDocument]] — the cascade is the dominant
    * per-doc cost, and no reflective encoder runs). */
  def parseDocuments(df: DataFrame, textCol: Column): DataFrame =
    df.withColumn("parsed", graft.plans.ParseDocument.parse(textCol))
      .withColumn("fragments", col("parsed.fragments"))
      .withColumn("records", col("parsed.records"))
      .drop("parsed")
      .withColumn("summary", map_from_entries(
        transform(array_distinct(transform(col("fragments"), f => f.getField("format_type"))),
          t => struct(t.as("k"),
            size(filter(col("fragments"), f => f.getField("format_type") === t)).as("v")))))

  /** The reference's second program as a column: `DataConverter.parse`
    * (`script.py:93-104` — section split, format dispatch, coercion,
    * title-class merge, single-key flatten) applied per row, emitting
    * the result JSON as a string ([[graft.plans.ConvertDocument]] —
    * native, codegen-friendly). Embarrassingly parallel — a
    * deterministic per-row function with no shuffle. */
  def convert(df: DataFrame, textCol: Column): DataFrame =
    df.withColumn("converted", graft.plans.ConvertDocument.convert(textCol))

  /** Whole-file document source (= the reference's `open(f).read()`,
    * `etl_parser.py:1093-1094`, lifted to a corpus): one row per file
    * with its path and full text, read through
    * [[graft.sources.v2.TextDirSource]], the engine's one whole-document
    * reader. `path` is a directory, a file or a glob (a last segment
    * such as `*.txt`); only the direct children of each match are read,
    * and names starting with `.` or `_` are skipped (the source's
    * listing rule). A path that matches nothing raises
    * `PATH_NOT_FOUND`, as Spark's file sources do. The source bins
    * files by their bytes plus a 4 KiB open cost each, so partitions
    * carry similar byte counts however skewed the document sizes.
    * `path` is Hadoop's `Path.toString` (`file:/d/b c.txt`), not
    * URL-encoded, so its last segment is the file's real name. */
  def readDocuments(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (Option(fs.globStatus(p)).forall(_.isEmpty))
      throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> fs.makeQualified(p).toString))
    spark.read.format("graft.sources.v2.TextDirSource")
      .option("path", path).option("recursive", "false").load()
      .select(col("path"), col("text"))
  }

  /** One-call near-duplicate clustering for any corpus — the dedup
    * story end to end: word-3-gram MinHash signatures (codegen'd
    * kernel, map-side) → banded LSH candidates (capped buckets, never
    * all-pairs) → connected-components closure (pointer-jumping label
    * propagation, O(log n) supersteps). Returns one row per document
    * that has at least one near-duplicate: `(id, component, csize)`
    * where `component` is the cluster-minimum id — keep `id ==
    * component` rows (or anti-join the rest away) to dedup. `df` needs
    * a unique numeric id in `idCol` and the text in `textCol`; an id
    * that does not cast to long fails the job (a silent null would
    * instead report "no duplicates" on a corpus full of them). */
  def nearDupClusters(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val idType = df.select(idCol).schema.head.dataType
    graft.operators.LlmPipeline.connectedComponents(
      graft.operators.LlmPipeline.minhashPairsFor(
        df.select(validatedId(idCol, idType, "nearDupClusters").as("doc_id"),
          textCol.as("text"))))
      .withColumnRenamed("doc_id", "id")
  }

  /** [[nearDupClusters]] plus the keep-best-by-quality policy — the
    * general form of the graded `op_dedup_keep_best` (CCNet/RefinedWeb
    * practice: keep the best-scoring member of each duplicate group,
    * not the arbitrary min-id one): per cluster, `kept = true` on the
    * member with the highest B50 quality logit (ties → lowest id).
    * One row per document that appears in any near-dup candidate
    * pair: `(id, component, csize, logit, kept)`; the deduped corpus
    * is the kept ids plus every doc absent from this frame
    * (singletons). The logit is a map-side projection riding the
    * scan; the argmax window partitions by component, whose size the
    * candidate-cap geometry bounds. */
  def nearDupKeepBest(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val idType = df.select(idCol).schema.head.dataType
    val corpus = df.select(
      validatedId(idCol, idType, "nearDupKeepBest").as("doc_id"),
      textCol.as("text"))
    val comp = graft.operators.LlmPipeline.connectedComponents(
      graft.operators.LlmPipeline.minhashPairsFor(corpus))
    val q = graft.operators.TrainingData.qualityLogitOf(corpus)
      .select(col("doc_id"), col("logit"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("component")
      .orderBy(col("logit").desc, col("doc_id").asc)
    comp.join(q, Seq("doc_id"))
      .withColumn("kept",
        org.apache.spark.sql.functions.row_number().over(w) === 1)
      .select(col("doc_id").as("id"), col("component"), col("csize"),
        col("logit"), col("kept"))
  }

  /** Epoch composition under the α=0.5 temperature mixture — the
    * general form of the graded `op_mixture_apply` (temperature
    * sampling, Arivazhagan et al. 2019): per-group repeat factor
    * r_g = T·w_g / tok_g over the whitespace token masses, per-doc
    * copies = floor(r_g) + a deterministic md5-hash coin draw on the
    * factor's fractional part — never `rand()`, so reruns, late
    * shards, and engine swaps reproduce the epoch exactly. One row
    * per doc: `(doc_id, lang, n_tok, base, coin, n_copies)` — `lang`
    * carries whatever `groupCol` named (source, domain, language);
    * over-represented groups get `n_copies = 0` rows (the
    * downsample), rare groups repeat. Materialize the epoch by
    * exploding `n_copies`. The group aggregate is
    * group-cardinality-sized, the repeat factors broadcast, and the
    * copy computation is map-side — nothing corpus-sized shuffles.
    * Rows with a NULL group form their own mixture group; coalesce
    * them to a sentinel first if that is not intended (and note a
    * NULL group's position in the sorted fold is engine-dependent, so
    * cross-engine reproducibility of the factors requires non-null
    * groups). */
  def epochCompose(df: DataFrame, idCol: String = "doc_id",
      groupCol: String = "lang", textCol: String = "text"): DataFrame =
    graft.operators.TrainingData.mixtureApplyOf(
      df.select(col(idCol).as("doc_id"), col(groupCol).as("lang"),
        col(textCol).as("text")))

  /** Per-domain frequency capping for any corpus — the general form
    * of the graded `op_domain_cap` (same core; the Gopher/C4 recipe:
    * cap documents per domain before mixing so one over-crawled
    * source cannot dominate the training set). Keeps at most `cap`
    * rows per `domainCol` value, ranked by `(md5(id), id)` — a
    * deterministic HASH order, so the survivors are an unbiased
    * sample of the domain, not its oldest-id prefix. Returns the
    * kept rows as `(doc_id, source, rk)`; anti-join the input on
    * doc_id for the dropped set. The rank-≤-cap filter plans as
    * WindowGroupLimit: every map task keeps ≤ cap rows per domain
    * BEFORE the shuffle, so a hot mega-domain ships its cap, not its
    * crawl. */
  def capDomains(df: DataFrame, idCol: String = "doc_id",
      domainCol: String = "source", cap: Int = 100): DataFrame = {
    require(cap >= 1, s"capDomains: need cap >= 1 (got $cap)")
    graft.operators.TrainingData.domainCapOf(
      df.select(col(idCol).as("doc_id"), col(domainCol).as("source")), cap)
  }

  /** Unicode text canonicalization for any corpus — the general form
    * of the graded `op_text_normalize` (same core; NFC composition per
    * UAX #15 via the codegen [[graft.plans.NfcNormalize]] kernel, then
    * whitespace-run collapse and trim). Run it BEFORE any byte-keyed
    * dedup/fingerprint op: the same visible text arrives in different
    * codepoint sequences (é as U+00E9 vs e+U+0301) and un-normalized
    * they key as distinct documents. Emits the input columns plus
    * `norm` (the canonical text) and `changed`. Map-side only. NFC,
    * not NFKC — compatibility forms (ligatures, full-width digits)
    * are preserved; add a casefold/NFKC pass downstream if your
    * matching needs it. */
  def normalizeText(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("norm",
        graft.operators.TrainingData.normExpr(col(textCol)))
      .withColumn("changed", col("norm") =!= col(textCol))

  /** Character-entropy quality screen for any corpus — the general
    * form of the graded `op_text_entropy` (same core; the C4/CCNet
    * character-distribution sanity gate that catches what token-level
    * rules can't: repeated-character spam, padding, binary junk).
    * Emits `(doc_id, n_cp, n_distinct, entropy, top_share, flagged)`
    * per doc; `flagged` is the integer-exact `2·max_count > n_cp`
    * rule (the top codepoint carries over half the document).
    * Empty/NULL texts are dropped. Pure map-side — the codegen'd
    * [[graft.plans.CharEntropy]] kernel rides the scan, zero
    * shuffles; compose `flagged` straight into a write filter. */
  def entropyStats(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.operators.CorpusStats.textEntropyOf(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** Join-key skew diagnostics for any frame — the general form of
    * the graded `op_skew_report` (same core; the advisor that decides
    * when salted joins / AQE skew splits are worth their overhead):
    * per candidate key column, the distinct-key count, the heaviest
    * key (ties to the lowest id) and its share, exact p50/p99 of the
    * group-size distribution, and the integer-exact `skewed` verdict
    * (heaviest key > 10× the mean). One pass over the input feeds
    * every column (the keys explode into a single count). Key
    * columns must be integral (the lowest-id tie-break negates the
    * key): hash string keys to a long upstream (`xxhash64`) for
    * domain/URL skew — the counts are hash-invariant. */
  def skewReport(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types._
    keyCols.foreach { c =>
      val dt = df.schema(c).dataType
      require(dt == ByteType || dt == ShortType || dt == IntegerType ||
        dt == LongType,
        s"skewReport: key column '$c' must be integral (got $dt) — " +
          "hash string keys to a long (xxhash64) upstream")
    }
    graft.operators.Relational.skewReportOf(df, keyCols)
  }

  /** Bloom runtime prefilter for a fact⋈dim join — the general form
    * of the graded `op_join_bloom` (same cores; build an 8 KiB Bloom
    * mask over the dim side's integer keys — an EAGER dim-bounded
    * collect — and keep only the fact rows whose key passes the
    * map-side probe, BEFORE any shuffle). One-sided: every matching
    * row survives (graded n_missed = 0); a small fraction of
    * non-matching rows leak through (measured fp_rate on the graded
    * ledger) and die in the real join that follows. Use when the dim
    * side is selective and the fact side is huge — the pruning
    * happens at the scan. */
  def bloomPrefilter(fact: DataFrame, factKey: String,
      dim: DataFrame, dimKey: String): DataFrame = {
    val mask = graft.operators.Relational.keyBloomMaskOf(
      dim.select(col(dimKey).cast("long").as("k")).distinct())
    fact.filter(graft.operators.Relational.keyBloomPass(
      col(factKey).cast("long"), mask))
  }

  /** Slowly-changing-dimension type-2 merge — the general form of
    * the graded `op_scd2_merge` (same core; Kimball SCD2, the MERGE
    * INTO a warehouse runs nightly): apply `changes(key, nbal)` to
    * `dim(key, bal)`. True changes close the current row and open
    * version 2, no-op updates (same value) do NOT version, unknown
    * keys insert at version 1, untouched keys carry. Returns one row
    * per (key, ver) with `(bal, is_current, change)`. A batch with
    * MORE THAN ONE change row per key fails loudly (SQL MERGE
    * semantics — applying two updates to one key in one merge would
    * leave two current versions); collapse the batch to final state
    * per key first. One key-keyed
    * full-outer shuffle join; the 1-or-2 output rows per key explode
    * from a nullable-struct array — no second pass over the join.
    * Store the dimension bucketed on the key so tomorrow's merge
    * co-locates. */
  def scd2Merge(dim: DataFrame, changes: DataFrame,
      keyCol: String = "key", valueCol: String = "bal",
      newValueCol: String = "nbal"): DataFrame =
    graft.operators.Relational.scd2MergeOf(
      dim.select(col(keyCol).as("key"), col(valueCol).as("bal")),
      changes.select(col(keyCol).as("key"), col(newValueCol).as("nbal")))

  /** Per-document n-gram novelty for any corpus — the general form
    * of the graded `op_ngram_novelty` (same core; of each doc's
    * distinct word-3-grams, the share whose first corpus occurrence
    * — minimum id, the ingest order — is this doc). Novelty 0 means
    * every gram is owned upstream: an exact duplicate or a
    * quote-stitched mashup that byte-digest dedup cannot see; use
    * `is_dup` (n_novel = 0, integer-exact) as the drop signal and
    * low-but-nonzero novelty as a review queue. Docs too short to
    * shingle drop. One (gram, doc)-distinct shuffle + a gram-keyed
    * min-owner join — the B62 exchange class. */
  def noveltyScores(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.CacheLifecycle.selfReleasing(
      graft.operators.Curation.ngramNoveltyManaged(
        df.select(col(idCol).as("doc_id"), col(textCol).as("text"))))

  /** k-anonymity risk report for any quasi-identifier columns — the
    * general form of the graded `op_k_anonymity` (same core; Sweeney
    * 2002: docs in QI groups smaller than k are re-identifiable even
    * with the payload scrubbed). One ROLLUP pass grades the whole
    * generalization ladder: per level (the GROUPING_ID bitmask — 0 =
    * full QI, each set bit = that column rolled away), the group
    * count, risky-group count, risky-doc mass, and smallest group.
    * Read it as the privacy/utility tradeoff curve: the first level
    * whose risky_docs is acceptable is the release granularity. */
  def kAnonymity(df: DataFrame, qiCols: Seq[String], k: Int = 5): DataFrame = {
    require(k >= 2, s"kAnonymity: need k >= 2 (got $k)")
    graft.operators.TrainingData.kAnonymityOf(df, qiCols, k)
  }

  /** Checksum-validated payment-card screen for any corpus — the
    * general form of the graded `op_pii_luhn` (same core; maximal
    * 13–19-digit runs validated with the ISO/IEC 7812 Luhn check
    * digit, which rejects 90% of random digit runs — the precision
    * upgrade over a raw "has long digits" PII rule that would
    * quarantine every invoice corpus). Returns `(doc_id,
    * n_candidates, n_valid, has_card)` per doc. Pure map-side; the
    * per-candidate fold is bounded at 19 digits. Compose `has_card`
    * into a quarantine filter, or follow with `piiMask`-style
    * scrubbing on the flagged docs. */
  def luhnScreen(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    graft.operators.TrainingData.piiLuhnOf(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** Exact-moment Pearson correlation matrix for any numeric columns —
    * the general form of the graded `op_corr_matrix` (same core; the
    * pre-training feature screen for collinearity and leakage). The
    * moment sums accumulate as exact integers (values × 10^scale must
    * land on int64 — pass the inputs' decimal places as `scale`), so
    * the result is bit-stable across runs, partitionings, and engines
    * — no float accumulation-order noise. Returns `(x, y, n, r)` per
    * unordered column pair; `r` is NULL when either column has zero
    * variance (a dead feature — the screen's loudest signal, never a
    * silent NaN). One aggregation pass at any input size; the pair
    * rows explode from the single aggregated row. */
  def correlations(df: DataFrame, cols: Seq[String], scale: Int = 2): DataFrame =
    graft.operators.Relational.corrMatrixOf(df, cols, scale)

  /** Benford first-digit conformance screen for any numeric column —
    * the general form of the graded `op_stats_benford` (same core;
    * the Nigrini forensic-accounting test: organically-grown
    * multiplicative quantities put leading digit d at frequency
    * log10(1 + 1/d); fabricated, truncated, or synthetically-uniform
    * data deviates loudly). Returns one row per digit 1–9:
    * `(digit, n, share, benford, dev)`. Values < 1 are dropped, and
    * values must fit int64 after flooring (ANSI cast — a quantity
    * past 9.2e18 throws rather than silently wrapping). The digit
    * extraction is integer-exact (decimal-string head, never
    * floor(log10)); the whole screen is one map-side projection plus
    * a 9-group aggregate at any input size. */
  def benfordScreen(df: DataFrame, valueCol: String): DataFrame =
    graft.operators.Mining.benfordOf(df.select(col(valueCol).as("v")))

  /** One-pass weighted sampling without replacement for any corpus —
    * the general form of the graded `op_sample_weighted` (same core;
    * Efraimidis-Spirakis 2006: rank by u^(1/w) with a deterministic
    * rolling-hash uniform, keep the top k — inclusion probability
    * proportional to weight, exact-k, no cumulative distribution
    * materialized, no rand(): reruns and engine swaps keep the same
    * sample). Returns `(rnk, doc_id, w, r)`. Rows with w ≤ 0 are
    * dropped (they can never be sampled). The key is a map-side
    * projection and the top-k plans as TakeOrderedAndProject — one
    * pass, no shuffle, at any corpus size. */
  def sampleByWeight(df: DataFrame, idCol: String = "doc_id",
      weightCol: String = "w", k: Int = 25): DataFrame = {
    require(k >= 1, s"sampleByWeight: need k >= 1 (got $k)")
    graft.operators.TrainingData.sampleWeightedOf(
      df.select(col(idCol).as("doc_id"), col(weightCol).as("w")), k)
  }

  /** Per-document keyword extraction for any corpus — the general
    * form of the graded `op_tfidf_topk` (same core; smoothed tf-idf,
    * score = tf · (ln((N+1)/(df+1)) + 1), the scikit-learn idf).
    * Returns each doc's top-k terms as `(doc_id, rnk, term, tf, df,
    * score)`, ties broken by term. The document-centric complement
    * to `bm25Rank` (that ranks docs for a query; this labels every
    * doc with its own most-distinctive terms — tagging, routing,
    * index building). The per-doc top-k plans as WindowGroupLimit
    * (map-side partial top-K per doc); the tf×df join shuffles on
    * the vocabulary key, never broadcasts. */
  def keywords(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3): DataFrame = {
    require(k >= 1, s"keywords: need k >= 1 (got $k)")
    graft.CacheLifecycle.selfReleasing(graft.operators.Mining.tfidfTopkManaged(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")), k))
  }

  /** Edit-distance-1 fuzzy self-join for any keyed corpus — the
    * general form of the graded `op_fuzzy_join` (same core;
    * deletion-neighborhood blocking per FastSS/SymSpell: two keys at
    * Levenshtein distance ≤ 1 must share a member of {key} ∪ {key
    * minus one char}, so candidates are variant-hash collisions and
    * the all-pairs scan never happens; candidates are confirmed with
    * native `levenshtein`). Returns `(a_id, b_id, dist)` with
    * a_id < b_id and dist ≤ 1 — dist 0 pairs are exact key
    * duplicates. `bucketCap` bounds any one variant bucket (kept by
    * deterministic (md5(id), id) rank — a degenerate identical-key
    * flood truncates reproducibly instead of going quadratic); the
    * cap filter plans as WindowGroupLimit, map-side per-bucket top-K.
    * Exact for radius 1 only — larger radii need d-deletion
    * neighborhoods. Keep keys short (a name/title/prefix): variant
    * fan-out is len+1 rows per input row. */
  def fuzzyJoin(df: DataFrame, idCol: String = "doc_id",
      keyCol: String = "key", bucketCap: Int = 16): DataFrame = {
    require(bucketCap >= 2, s"fuzzyJoin: need bucketCap >= 2 (got $bucketCap)")
    graft.CacheLifecycle.selfReleasing(graft.operators.Mining.fuzzyJoinManaged(
      df.select(col(idCol).as("doc_id"), col(keyCol).as("key")), bucketCap))
  }

  /** Reciprocal-rank fusion of ranker panels — the general form of
    * the graded `op_rank_fusion` (Cormack, Clarke & Buettcher 2009):
    * `rankings` needs `(method, q_id, id, rank)` rows (each method's
    * per-query ranking, rank ≥ 1); returns each query's fused top-N
    * as `(q_id, f_rank, id, rrf, n_methods)`. Scores are EXACT
    * integers — each rank-r hit contributes `M / (k + r)` where
    * `M = Π (k + r)` over r ∈ [1, maxRank], so every division is
    * exact and no float ever enters the ordering (rows ranked past
    * `maxRank` are ignored; pass a larger `maxRank` for deeper
    * panels, keeping maxRank small enough that M fits a long —
    * ~10 at k = 60). Ties
    * break to the lower id. Fusion work is panel-sized (≤ methods ×
    * maxRank rows per query), independent of the corpus. */
  def fuseRankings(rankings: DataFrame, k: Int = 60, topN: Int = 3,
      maxRank: Int = 3): DataFrame = {
    require(k >= 0 && topN >= 1 && maxRank >= 1,
      s"fuseRankings: need k >= 0, topN >= 1, maxRank >= 1 (got $k, $topN, $maxRank)")
    // checked product: M = Π(k+r) overflows Long around maxRank ≈ 10
    // at k = 60, and a wrapped M silently breaks the exact-integer
    // ordering guarantee — fail fast like the other guards
    val m = (1 to maxRank).map(r => (k + r).toLong).foldLeft(1L) { (acc, d) =>
      try math.multiplyExact(acc, d)
      catch {
        case _: ArithmeticException => throw new IllegalArgumentException(
          s"fuseRankings: the exact-integer scale M = prod(k+r) overflows Long " +
            s"at k=$k, maxRank=$maxRank — use a smaller maxRank (~10 at k=60) " +
            s"or fuse in score bands")
      }
    }
    val contrib = (1 to maxRank).map(r => (r, m / (k + r)))
      .foldLeft(lit(0L)) { case (acc, (r, c)) =>
        when(col("rank") === r, lit(c)).otherwise(acc)
      }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("rrf").desc, col("id").asc)
    rankings.filter(col("rank").between(1, maxRank))
      .withColumn("contrib", contrib)
      .groupBy("q_id", "id")
      .agg(sum("contrib").as("rrf"), count(lit(1)).as("n_methods"))
      .withColumn("f_rank", row_number().over(w)).filter(col("f_rank") <= topN)
      .select(col("q_id"), col("f_rank").cast("int").as("f_rank"), col("id"),
        col("rrf").cast("long").as("rrf"),
        col("n_methods").cast("int").as("n_methods"))
  }

  /** [[epochCompose]] MATERIALIZED: one row per physical epoch copy —
    * `(doc_id, lang, n_tok, copy, shard)`, where `copy` indexes the
    * document's repeats (0-based) and `shard` is the first hex char
    * of `md5(doc_id ':' copy)` (the `op_export_shards` derivation
    * extended with the copy index so a repeat-heavy document's copies
    * spread across shards instead of landing as adjacent duplicates
    * in one training file). Docs the manifest downsamples to
    * `n_copies = 0` are absent. Join `doc_id` back to the corpus for
    * the text payload, then write with
    * `df.write.partitionBy("shard")` — the graded `op_epoch_export`
    * is the per-(shard, lang) rollup of exactly this frame. Domain
    * note (shared with [[epochCompose]]): every language group needs
    * nonzero token mass and non-NULL `lang`; a zero-token group
    * raises explicitly. */
  def epochMaterialize(df: DataFrame, idCol: String = "doc_id",
      groupCol: String = "lang", textCol: String = "text"): DataFrame =
    graft.operators.TrainingData.epochMaterialize(
      df.select(col(idCol).as("doc_id"), col(groupCol).as("lang"),
        col(textCol).as("text")))

  /** Banded sign-LSH embedding near-dup — the decided 100 TB path for
    * embedding-cosine deduplication (PLANS.md r15 design note), shipped
    * as code: `tables` independent hash tables of `planes` sign bits
    * each (the minhash band architecture with hyperplane signs instead
    * of minhash slices), candidate = same bucket in ANY table, exact
    * cosine ≥ `threshold` confirms. One kernel pass computes all
    * `tables × planes` sign bits per vector; per-table keys are
    * substrings of that one signature, so the input is scanned once
    * and the corpus shuffles once per table row (output-linear
    * candidates, never all-pairs; per-bucket `bucketCap` keeps a
    * degenerate bucket's pair expansion bounded at C(cap, 2) — the
    * B27 hot-bucket treatment). Returns distinct `(vec_a, vec_b, cos)`
    * pairs, vec_a < vec_b, cos rounded to 4.
    *
    * Sizing (derived from three measured data-decades, PLANS.md r15):
    * occupancy max ≈ 5N/2^planes, so pick
    * `planes ≈ log2(5N / targetBucketSize)` (~30 at 10¹¹ vectors,
    * T = 512) and recall at per-plane agreement p is
    * 1 − (1 − p^planes)^tables — at the 0.995-cosine threshold
    * (p ≈ 0.968), planes = 30 / tables = 8 gives ≈ 0.98, vs 0.77 for
    * the single 8-plane table the graded `op_dedup_embedding` uses at
    * verification SF. Defaults (8 × 16) suit ~10⁶-vector corpora.
    *
    * Ids must be unique per vector (the [[nearDupClusters]] contract):
    * two vectors sharing an id would lose their own pair to the a<b
    * filter and collapse third-party pairs under the distinct. `dims`
    * must match the embedding width — a mismatched row cannot be
    * sign-hashed and fails the job explicitly (silently zero-keying it
    * would funnel the whole corpus into one truncated bucket). */
  def nearDupEmbeddings(df: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding", tables: Int = 8, planes: Int = 16,
      threshold: Double = 0.995,
      bucketCap: Int = graft.operators.TrainingData.MaxBucketVecs,
      dims: Int = 64): DataFrame = {
    require(tables >= 1 && planes >= 1,
      s"need at least one table and one plane (got $tables x $planes)")
    val prep = df.select(
      validatedId(col(idCol), df.schema(idCol).dataType, "nearDupEmbeddings")
        .as("vec_id"),
      transform(col(embCol), x => x.cast("double")).as("e"))
      .withColumn("e", when(size(col("e")) === dims, col("e"))
        .otherwise(raise_error(concat(
          lit(s"nearDupEmbeddings: embedding width != dims=$dims for id "),
          col("vec_id").cast("string")))))
    // the banded core (signature pass, substring keys, capped
    // expansion, confirm-then-distinct) is shared with the graded
    // `op_dedup_embedding_banded` — ONE owner of the cap rule /
    // tie-break / rounding / dedup ordering
    graft.operators.TrainingData.bandedPairs(prep, tables, planes,
      bucketCap, dims, threshold)
  }

  /** Incremental ANN against a stored history, with a CALLER-TRAINED
    * coarse codebook — the general form of the graded
    * `op_ann_incremental`, which runs this same core over its own
    * corpus-scaled every-Nth-vector codebook (K ≈ |corpus|/157,
    * candidate volume linear; see TrainingData.annIncremental — the
    * r15 fixed-8 stand-in and its quadratic term are history, PLANS.md
    * r15/r16). Use THIS entry point when the centroids should come
    * from a real trainer rather than a stride rule. Each batch vector
    * is assigned to its nearest centroid (argmax cosine, ties to the
    * lower c_id) and scored by exact cosine against ONLY that cell's
    * history members; the top `topK` per batch id are returned as
    * `(batch_id, rank, hist_id, score)` — score rounded to 4, rank
    * ties to the lower hist_id.
    *
    * `centroids` needs `(c_id: integral, centroid: array<numeric>)`
    * and must stay broadcastable (it is K×dims — e.g. K = 10⁶ 64-dim
    * doubles ≈ 0.5 GB is the practical ceiling). Size
    * K ≈ |history| / target cell occupancy so per-probe work stays
    * flat as the corpus grows (train with KMeansLite or any external
    * trainer). `history`/`batch` need `(idCol, embCol)`; ids must
    * cast to long losslessly (same guard as [[nearDupClusters]]). */
  def annProbe(history: DataFrame, batch: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding",
      topK: Int = 3): DataFrame = {
    def prep(df: DataFrame): DataFrame =
      df.select(
        validatedId(col(idCol), df.schema(idCol).dataType, "annProbe").as("vec_id"),
        transform(col(embCol), x => x.cast("double")).as("e"))
    // c_id gets the same lossless guard as the vector ids: a null or
    // fractional c_id would otherwise assign vectors to a null/merged
    // cell and silently drop them from the equi-join
    val cents = centroids.select(
      validatedId(col("c_id"), centroids.schema("c_id").dataType, "annProbe")
        .as("c_id"),
      transform(col("centroid"), x => x.cast("double")).as("ce"))
    graft.operators.TrainingData.annProbeWith(prep(history), prep(batch), cents, topK)
  }

  /** [[annProbe]] with a HIERARCHICAL two-level coarse assign — the
    * production form once the flat codebook outgrows its broadcast
    * ceiling (K ≈ 10⁶ 64-dim doubles ≈ 0.5 GB): each vector scores the
    * ~√K `superCentroids` first (map-side), keeps its top-`superProbe`
    * supers, and argmaxes only among THEIR child centroids — assign
    * work N×(√K + S·K/√K) instead of N×K. The assignment is
    * approximate (the probed supers' children need not contain the
    * globally nearest centroid); raising `superProbe` buys fidelity
    * linearly in cost — measured 84–97 % of the flat assign's recall@3
    * vs brute force at S = 1…16 on the uniform-embedding worst case,
    * at 6–8× less assign wall (tools.AnnHierProbe, PLANS.md r16).
    * With `superProbe` ≥ the super count the result is IDENTICAL to
    * [[annProbe]] (spec-pinned). Identical re-posts co-locate under
    * any `superProbe` — both sides share the rule — so the
    * incremental-dedup use is exact whatever the setting.
    *
    * `superCentroids` needs `(c_id: integral, centroid:
    * array<numeric>)` like `centroids`; size it ~√K (train both
    * levels with KMeansLite or any external trainer — or take every
    * √K-th trained centroid as its own super, the stride rule). Both
    * codebooks must individually stay broadcastable; the child→super
    * map is codebook-sized (K rows) and computed once per call. */
  def annProbeHier(history: DataFrame, batch: DataFrame,
      centroids: DataFrame, superCentroids: DataFrame,
      idCol: String = "vec_id", embCol: String = "embedding",
      superProbe: Int = 4, topK: Int = 3): DataFrame = {
    require(superProbe >= 1,
      s"annProbeHier: need superProbe >= 1 (got $superProbe)")
    def prep(df: DataFrame): DataFrame =
      df.select(
        validatedId(col(idCol), df.schema(idCol).dataType, "annProbeHier").as("vec_id"),
        transform(col(embCol), x => x.cast("double")).as("e"))
    def prepC(df: DataFrame): DataFrame = df.select(
      validatedId(col("c_id"), df.schema("c_id").dataType, "annProbeHier")
        .as("c_id"),
      transform(col("centroid"), x => x.cast("double")).as("ce"))
    graft.operators.TrainingData.annProbeHierWith(prep(history), prep(batch),
      prepC(centroids), prepC(superCentroids), superProbe, topK)
  }

  /** Sliding-window token chunking for any corpus — the general form
    * of the graded `op_chunk_sliding` (same core,
    * [[graft.operators.TrainingData.chunkWith]]), with caller-sized
    * window/stride in tokens (whitespace tokenizer). Emits one row per
    * chunk: `(doc_id, chunk_id, n_chunks, start_tok, chunk_len,
    * chunk)`; chunk `i` covers tokens `[i·stride+1, i·stride+window]`
    * so every token lands in ≥ 1 chunk, and interior tokens in
    * ⌊window/stride⌋ or ⌈window/stride⌉ chunks (exactly window/stride
    * when stride divides window — position mod stride decides which
    * side of the fraction a token falls on). Pure map-side (one
    * bounded explode, no shuffle);
    * `doc_id` may be any type — nothing joins or sorts on it here.
    * `stride > window` is rejected: it would silently DROP the tokens
    * between consecutive windows. */
  def chunkDocuments(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", window: Int = 256,
      stride: Int = 192): DataFrame = {
    require(stride >= 1, s"stride must be >= 1 (got $stride)")
    require(window >= stride,
      s"window must be >= stride or inter-chunk tokens are silently lost " +
        s"(got window=$window, stride=$stride)")
    graft.operators.TrainingData.chunkWith(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      window, stride)
  }

  /** Content-defined chunking for any corpus — the general form of
    * the graded `op_chunk_cdc` (same core,
    * [[graft.operators.TrainingData.chunkCdcWith]]; Manber 1994, the
    * fingerprint-boundary rule behind Rabin/FastCDC chunking). Cuts
    * after every `gramChars`-CHAR window whose codepoint rolling hash
    * ≡ `rem` (mod `divisor`) — since r20 the window, hash, offsets,
    * and slices all count CODEPOINTS (one unit everywhere, ≡ bytes on
    * ASCII), so expected chunk size ≈ `divisor` chars, an
    * edit perturbs only the chunks it touches (chunks re-synchronize
    * at the next content-defined cut — spec-pinned), and identical
    * regions of different documents produce identical `chunk_md5`
    * block keys for block-level dedup. Use [[chunkDocuments]] when
    * you want fixed token geometry instead (RAG windows); use THIS
    * when downstream dedup/caching keys on content. The pure mod rule
    * is the declared semantics; clamp pathological chunk sizes
    * downstream if your corpus needs FastCDC-style min/max bounds. */
  def chunkContentDefined(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      gramChars: Int = graft.operators.TrainingData.CdcGram,
      divisor: Int = graft.operators.TrainingData.CdcDivisor,
      rem: Int = graft.operators.TrainingData.CdcRem): DataFrame = {
    require(gramChars >= 1, s"chunkContentDefined: need gramChars >= 1 (got $gramChars)")
    require(divisor >= 2 && rem >= 0 && rem < divisor,
      s"chunkContentDefined: need divisor >= 2 and 0 <= rem < divisor " +
        s"(got $divisor, $rem)")
    graft.operators.TrainingData.chunkCdcWith(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      gramChars, divisor, rem)
  }

  /** Block-level dedup over content-defined chunks — the general form
    * of the graded `op_dedup_blocks` (same core,
    * [[graft.operators.TrainingData.blockDedupWith]]; Manber 1994 §3 —
    * the cross-document shared-region detection CDC chunking exists
    * for). Chunks each document with [[chunkContentDefined]]'s rule,
    * calls a block duplicated when its `chunk_md5` appears in ≥ 2
    * DISTINCT documents (within-doc repeats alone do not count — the
    * "some OTHER document" contract of [[repeatedSpans]]), and emits
    * one row per doc: `(doc_id, n_chunks, total_len, n_dup_chunks,
    * dup_len, dup_ratio, flagged)` with `flagged` at ≥ half the doc's
    * length duplicated. Because boundaries are content-defined, a
    * verbatim region shared under an insertion-shifted wrapper still
    * keys identically — the case fixed blocks and fixed-stride chunks
    * both miss. The chunk pass is cached with one self-releasing
    * handle (two consumers); census + rollup are digest-keyed
    * aggregates with map-side partials, never pairs. */
  def dedupBlocks(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      gramChars: Int = graft.operators.TrainingData.CdcGram,
      divisor: Int = graft.operators.TrainingData.CdcDivisor,
      rem: Int = graft.operators.TrainingData.CdcRem): DataFrame =
    graft.operators.TrainingData.blockDedupWith(
      chunkContentDefined(df, idCol, textCol, gramChars, divisor, rem))

  /** Block-level dedup REWRITE — the transform leg of [[dedupBlocks]]
    * (same chunking rule, graded as `op_dedup_blocks_rewrite`): every
    * block whose `chunk_md5` appears in ≥ 2 distinct documents is
    * kept only in its canonical OWNER document (the minimum id
    * containing it — the store-each-unique-block-once rule of
    * LBFS/Venti-style dedup stores) and removed everywhere else; each
    * document re-emits as the in-order concatenation of its surviving
    * chunks. One row per doc: `(doc_id, n_chunks, n_removed,
    * kept_len, text_clean, kept)` with `kept = false` when nothing
    * survives. Where [[dedupLines]] scrubs corpus boilerplate from
    * EVERY document (the line is noise), this preserves the earliest
    * copy of a shared region (the region is content someone owns) —
    * the semantics a training pipeline wants for shifted verbatim
    * re-posts: originals stay intact, re-posts shrink to their novel
    * wrapper. The owner join-back is salted against a corpus-wide
    * boilerplate block (plan-time hot-key device; AQE cannot split
    * this join geometry). */
  def dedupBlocksRewrite(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      gramChars: Int = graft.operators.TrainingData.CdcGram,
      divisor: Int = graft.operators.TrainingData.CdcDivisor,
      rem: Int = graft.operators.TrainingData.CdcRem): DataFrame = {
    require(gramChars >= 1, s"dedupBlocksRewrite: need gramChars >= 1 (got $gramChars)")
    require(divisor >= 2 && rem >= 0 && rem < divisor,
      s"dedupBlocksRewrite: need divisor >= 2 and 0 <= rem < divisor " +
        s"(got $divisor, $rem)")
    graft.operators.TrainingData.blockRewriteWith(
      graft.operators.TrainingData.chunkCdcWith(
        df.select(col(idCol).as("doc_id"), col(textCol).as("text")),
        gramChars, divisor, rem, withText = true))
  }

  /** Exact repeated-span detection for any corpus — the general form
    * of the graded `op_dedup_substring` (same core,
    * [[graft.operators.TrainingData.repeatedSpansWith]]; the
    * ExactSubstr contract of Lee et al. 2021, arXiv:2107.06499) with a
    * caller-sized gram length (tokens; the paper's choice is ~50).
    * Emits one row per doc with ≥ `gramTokens` tokens: `(doc_id,
    * n_grams, n_dup, dup_ratio, flagged)` where `flagged` means ≥ half
    * the doc's distinct grams appear verbatim in another document.
    * This entry point runs the PRODUCTION shuffle key — `xxhash64` of
    * each gram (8 bytes instead of a k-token string, ~6× narrower
    * exchange). A 64-bit birthday collision merges two gram groups,
    * perturbing the affected docs' counts by ±1 per colliding pair —
    * in either direction, so a doc sitting exactly on the half bar can
    * flip either way; with ~10⁻⁷ of gram groups colliding even at
    * 10¹² grams, the expected number of affected DOCS rounds to zero
    * at any practical corpus size (the graded op keeps the
    * collision-free string key for the byte-exact oracle). */
  def repeatedSpans(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", gramTokens: Int = 50): DataFrame = {
    require(gramTokens >= 2,
      s"a repeated-span gram needs >= 2 tokens (got $gramTokens)")
    val (result, release) = graft.operators.TrainingData.repeatedSpansManaged(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      gramTokens, hashGrams = true)
    selfReleasing(result, release)
  }

  /** CCNet perplexity bucketing for any corpus (Wenzek et al. 2019,
    * arXiv:1911.00359) — the general form of the graded
    * `op_perplexity_filter` (same core,
    * [[graft.operators.Mining.perplexityBucketsWith]]): score every
    * doc with a bigram LM trained on the corpus itself, then split on
    * integer thresholds over the scaled-score histogram. Returns
    * `(doc_id, avg_logp, bucket, kept)` with `bucket` ∈ tail (lowest
    * log-prob = highest perplexity, the fraction `tailFraction`),
    * middle, head, and `kept` = not tail. Thresholds are tie-inclusive
    * (all docs sharing the boundary score share its bucket), so
    * realized fractions can exceed the requested ones by the boundary
    * tie group — CCNet's threshold-based semantics, and the property
    * that keeps the cut deterministic without ranking the corpus.
    * Docs with < 2 tokens (no bigram) are absent from the result.
    *
    * Two operational notes. (1) CONSTRUCTION IS NOT FULLY LAZY: the LM
    * scorer runs its bounded hot-prefix probe (one vocabulary-sized
    * aggregation job, see `ngramLmScores`) while BUILDING the plan —
    * call this when you intend to execute the result. (2) CACHING
    * CONTRACT: the scores frame is cached so the bigram scoring runs
    * once across its three consumers; as with [[ingestTriage]], a
    * one-shot listener unpersists it after the first terminal action
    * on the result, so repeated materializations recompute the scoring
    * (correct, just slower). */
  def perplexityBuckets(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", tailFraction: Double = 1.0 / 3,
      headFraction: Double = 2.0 / 3): DataFrame = {
    require(tailFraction > 0 && tailFraction <= headFraction && headFraction < 1,
      s"need 0 < tailFraction <= headFraction < 1 " +
        s"(got $tailFraction, $headFraction)")
    val (result, release) = graft.operators.Mining.perplexityBucketsWith(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      n => ceil(n * tailFraction), n => ceil(n * headFraction))
    selfReleasing(result, release)
  }

  /** The Gopher rule-based quality gate for any corpus — the general
    * form of the graded `op_filter_gopher` (same core,
    * [[graft.operators.CorpusStats.gopherWith]]; Rae et al. 2021,
    * arXiv:2112.11446 Table A1) with a caller-supplied stopword list
    * (real deployments pass a real one — the graded list is the two
    * function words this synthetic corpus contains). Emits one row per
    * non-empty doc: the five count statistics, the five rule booleans
    * (word count ∈ [5,1000], mean word length ∈ [3,10], ≥ 80 %
    * alphabetic words, ≥ 1 stopword, ≤ 20 % all-digit words — all
    * integer predicates), and `keep` = all pass. Pure map-side: a
    * production pipeline composes `keep` straight into its write
    * filter. `doc_id` may be any type — nothing joins or sorts on it
    * here. */
  def gopherRules(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      stopwords: Seq[String] = graft.operators.CorpusStats.GopherStops): DataFrame = {
    require(stopwords.nonEmpty,
      "gopherRules: empty stopword list would fail every document")
    graft.operators.CorpusStats.gopherWith(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")), stopwords)
  }

  /** Winnowing document fingerprints for any corpus — the general form
    * of the graded `op_fingerprint_winnow` (same core,
    * [[graft.operators.CorpusStats.winnowWith]]; Schleimer, Wilkerson
    * & Aiken 2003, SIGMOD'03). Emits the distinct selected
    * `(doc_id, pos, fp)` triples: every `gramChars`-char gram is
    * rolling-hashed, each window of `window` consecutive gram hashes
    * selects its minimum (ties to the RIGHTMOST — the MOSS rule).
    * Guarantees: two docs sharing any substring of
    * ≥ gramChars + window − 1 chars share a fingerprint hash, and a
    * doc's selected positions are ≤ window apart (expected density
    * 2/(window+1)). The kernel walks UTF-8 BYTES: grams are gramChars
    * bytes and `pos` is a BYTE offset (≡ char offset for ASCII text).
    * Docs shorter than gramChars + window − 1 bytes emit nothing; docs
    * of ≥ 2²⁰ BYTES FAIL loudly (packed-key bound, guarded in the same
    * byte unit the kernel packs) — pre-chunk monster docs with
    * [[chunkDocuments]] first. Pure map-side per-doc work plus a
    * doc-partitioned DISTINCT. */
  def winnowFingerprints(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", gramChars: Int = 8,
      window: Int = 8): DataFrame = {
    require(gramChars >= 1 && window >= 1,
      s"winnowFingerprints: need gramChars >= 1 and window >= 1 " +
        s"(got $gramChars, $window)")
    graft.operators.CorpusStats.winnowWith(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      gramChars, window)
  }

  /** BPE pair statistics for any corpus — the general form of the
    * graded `op_bpe_pairs` (same core,
    * [[graft.operators.CorpusStats.bpePairsWith]]; Sennrich et al.
    * 2016, arXiv:1508.07909): frequency-weighted adjacent-symbol pair
    * counts over the word vocabulary, including the terminal
    * (last-char, `</w>`) end-of-word pair. Returns the FULL unbounded
    * `(pair, n)` table (alphabet²-bounded; the graded op cuts top-30)
    * — the caller's tokenizer trainer picks its merge and iterates.
    * One corpus-token shuffle to the vocabulary; everything after is
    * vocabulary-sized. */
  def bpePairStats(df: DataFrame, textCol: String = "text"): DataFrame =
    graft.operators.CorpusStats.bpePairsWith(df.select(col(textCol).as("text")))

  /** BPE merge training for any corpus — the general form of the
    * graded `op_bpe_train` (same core,
    * [[graft.operators.CorpusStats.bpeTrainWith]]; Sennrich, Haddow &
    * Birch 2016, arXiv:1508.07909, Algorithm 1): `merges` iterations
    * of count-pairs → take the most frequent (ties lexicographic) →
    * merge left-to-right non-overlapping occurrences vocabulary-wide.
    * Returns one row per learned merge (step, pair, weighted count,
    * total symbol units after) — the ordered merge table IS the
    * tokenizer. Contract: corpus words must not contain the reserved
    * `|` fold delimiter (violations fail loudly, vocabulary-sized
    * check). Driver traffic is one (pair, count) row plus one scalar
    * per step — the k-means loop discipline; everything else is
    * vocabulary-sized. The loop breaks cleanly when the vocabulary
    * runs out of adjacent pairs, returning the merges learned so far.
    * `merges` is capped at 64 — the bound the suite actually
    * exercises (BpeLoopSpec: 64 real merge steps under the periodic
    * lineage truncation); each step costs two vocabulary-sized Spark
    * jobs, so a 32k-merge production vocabulary belongs in a real
    * tokenizer trainer, not this audit-grade loop. */
  def bpeTrainMerges(df: DataFrame, textCol: String = "text",
      merges: Int = graft.operators.CorpusStats.BpeMerges): DataFrame = {
    require(merges >= 1 && merges <= 64,
      s"bpeTrainMerges: need 1 <= merges <= 64 (got $merges; the bound " +
        "is what the suite certifies — see scaladoc)")
    graft.operators.CorpusStats.bpeTrainWith(df.sparkSession,
      df.select(col(textCol).as("text")), merges)
  }

  /** BPE train-then-apply for any corpus — the general form of the
    * graded `op_bpe_segment` (same core,
    * [[graft.operators.CorpusStats.bpeSegmentWith]]): learn `merges`
    * merges on the corpus vocabulary, then report per document how
    * the trained tokenizer compresses it (`n_words`, `n_char_units`,
    * `n_bpe_units` — all integers, n_bpe ≤ n_char). Same reserved-`|`
    * contract, exhaustion behavior and tested `merges` cap as
    * [[bpeTrainMerges]]; the loop's vocabulary cache is released by
    * the self-releasing listener after the first consuming action. */
  def bpeSegmentDocs(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      merges: Int = graft.operators.CorpusStats.BpeMerges): DataFrame = {
    require(merges >= 1 && merges <= 64,
      s"bpeSegmentDocs: need 1 <= merges <= 64 (got $merges; the bound " +
        "is what the suite certifies — see bpeTrainMerges)")
    val idT = df.schema(idCol).dataType
    val (result, release) = graft.operators.CorpusStats.bpeSegmentWith(
      df.select(validatedId(col(idCol), idT, "bpeSegmentDocs").as("doc_id"),
        col(textCol).as("text")), merges)
    selfReleasing(result, release)
  }

  /** Count-Min frequency estimates for caller candidates over an item
    * stream — the PRODUCTION form of the graded `op_sketch_cms`
    * (Cormode & Muthukrishnan 2005): the d×w sketch is built straight
    * from `stream` (one row per occurrence) with map-side partial
    * counts into ≤ 256 groups — no vocabulary aggregate, no
    * corpus-sized shuffle at ANY scale — then each distinct candidate
    * reads the MIN of its d cells (an absent cell reads ZERO, so a
    * never-seen candidate estimates 0, never a phantom min). Returns
    * `(item, est)`; the one-sided guarantee est ≥ true count holds by
    * construction, est ≤ true + εN with probability 1 − (1/2)^d for
    * ε = 2/w. The sketch geometry is the graded op's declared d = 4 ×
    * w = 64 — callers needing tighter ε re-derive from the same core
    * with a wider sketch (the geometry constants are the declared
    * graded semantics, like the chunking window). */
  def cmsEstimates(stream: DataFrame, candidates: DataFrame,
      itemCol: String = "item"): DataFrame = {
    val sketch = graft.operators.CorpusStats.cmsSketchOf(
      stream.select(col(itemCol).as("item")))
    graft.operators.CorpusStats.cmsProbe(sketch,
      candidates.select(col(itemCol).as("item")))
  }

  /** PMI collocation extraction for any corpus — the general form of
    * the graded `op_stats_pmi` (same core,
    * [[graft.operators.CorpusStats.statsPmiWith]]; Church & Hanks
    * 1990, Computational Linguistics 16(1)): the top-`top` adjacent
    * word pairs by pointwise mutual information over the bigram event
    * space, pairs under `minCount` occurrences excluded (a hapax pair
    * maxes the estimator with no evidence — minCount 1 is allowed but
    * you will get hapax noise at the top). One corpus bigram shuffle;
    * marginals and the normalizer derive from the pair table itself.
    * The cached pair table is released by the self-releasing listener
    * after the first consuming action. */
  def collocations(df: DataFrame, textCol: String = "text",
      minCount: Int = graft.operators.CorpusStats.PmiMinCount,
      top: Int = graft.operators.CorpusStats.PmiTop): DataFrame = {
    require(minCount >= 1 && top >= 1,
      s"collocations: need minCount >= 1 and top >= 1 (got $minCount, $top)")
    val (result, release) = graft.operators.CorpusStats.statsPmiWith(
      df.select(col(textCol).as("text")), minCount, top)
    selfReleasing(result, release)
  }

  /** Bloom-filter decontamination of a training corpus against an eval
    * corpus — the general form of the graded `op_sketch_bloom` (same
    * core, [[graft.operators.Curation.bloomWith]]; Bloom 1970, CACM
    * 13(7); the trillion-token-scale device of Dolma, Soldaini et al.
    * 2024, arXiv:2402.00159). The eval docs' word 3-gram shingles set
    * k = 4 bits of an m = 2¹⁶ filter (built by map-side distinct
    * partials and broadcast ONCE — a fixed 64 Ki ceiling however
    * large the eval suite); a training gram "hits" when all k of its
    * bits are set, a doc flags at ≥ 20 % gram hits. Emits per doc the
    * gram counts, both verdicts (`flag_bloom` alongside the
    * exact-membership `flag_exact` the same pass derives), and the
    * one-sided invariant `sound` = n_bloom ≥ n_exact — Bloom filters
    * have NO false negatives, so a production run can drop the exact
    * columns and keep only the sketch verdict; they are computed here
    * because auditing the sketch against truth is this API's point
    * (the B51/B67 grading contract). Docs with id null or a lossy
    * numeric id fail loudly. */
  def bloomContaminate(train: DataFrame, eval: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      evalTextCol: String = "text"): DataFrame = {
    val idT = train.schema(idCol).dataType
    val prepped = train.select(
      validatedId(col(idCol), idT, "bloomContaminate").as("doc_id"),
      col(textCol).as("text"))
    val evalGrams = graft.functions.TextShingles
      .withShingles(eval.select(col(evalTextCol).as("text")), col("text"))
      .select(explode(col("shingles")).as("sh")).distinct()
    graft.operators.Curation.bloomWith(prepped, evalGrams)
  }

  /** The Bloom decontamination gate for a LIVE STREAM (or any batch
    * frame) — the general form of the graded `op_stream_bloom` (same
    * builder, [[graft.operators.Curation.bloomProbePlan]]): builds the
    * ≤ 8 KiB filter bitmask from the eval corpus NOW (one bounded
    * driver action — the only eager step), then returns a fully
    * STATELESS per-row plan over `docs`: no join, no aggregation
    * state, no watermark, Append-safe at any stream rate. Emits
    * (doc_id, n_grams, n_bloom, flag_bloom) per document; verdicts are
    * identical to [[bloomContaminate]]'s sketch columns (one
    * membership test, two formulations — pinned by spec). Use this in
    * front of the ingest; run [[bloomContaminate]] batch-side when you
    * also want the exact audit columns. */
  def bloomStreamGate(docs: DataFrame, eval: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      evalTextCol: String = "text"): DataFrame = {
    val evalGrams = graft.functions.TextShingles
      .withShingles(eval.select(col(evalTextCol).as("text")), col("text"))
      .select(explode(col("shingles")).as("sh")).distinct()
    // same lossless-id guard as every sibling corpus API (ADVICE r16:
    // this gate was the one entry point skipping it — a null or lossy
    // numeric id would pass the stateless plan silently)
    val idT = docs.schema(idCol).dataType
    graft.operators.Curation.bloomProbePlan(
      docs.select(validatedId(col(idCol), idT, "bloomStreamGate").as("doc_id"),
        col(textCol).as("text")),
      graft.operators.Curation.bloomMaskOf(evalGrams))
  }

  /** DSIR importance weights and top-fraction selection for any corpus
    * — the general form of the graded `op_dsir_weights` (same core,
    * [[graft.operators.Curation.dsirWith]]; Xie et al. 2023,
    * arXiv:2302.03169). `isTarget` is any boolean Column over the
    * input's columns marking the target-distribution slice (the graded
    * op passes `col("source") === "src0"`; a real deployment passes
    * its curated-set membership). Word bigrams hash into 128 buckets;
    * each doc scores its mean per-bigram log importance ratio
    * (add-1 smoothed, rounded 4 dp); `selected` keeps the top
    * `keepFraction` by the tie-inclusive integer-histogram threshold —
    * ties at the cut are all kept, so slightly MORE than the fraction
    * can select (CCNet-style threshold, not rank, semantics). Docs
    * with < 2 tokens have no features and are out of scope. The
    * per-doc scores frame is cached (three plan consumers) and
    * released by a self-releasing listener after the first action
    * that consumes the result. */
  def dsirWeights(df: DataFrame, isTarget: Column,
      idCol: String = "doc_id", textCol: String = "text",
      keepFraction: Double = 0.25): DataFrame = {
    require(keepFraction > 0 && keepFraction <= 1,
      s"dsirWeights: need 0 < keepFraction <= 1 (got $keepFraction)")
    val idT = df.schema(idCol).dataType
    val (result, release) = graft.operators.Curation.dsirWith(
      df.withColumn("doc_id", validatedId(col(idCol), idT, "dsirWeights"))
        .withColumn("text", col(textCol)),
      isTarget, n => ceil(n * keepFraction))
    selfReleasing(result, release)
  }

  /** Train the DSIR model batch-side and export it as bounded literals
    * — the F λ doubles (bucket-ordered) and the tie-inclusive
    * top-`keepFraction` integer threshold — for [[dsirScoreStream]].
    * Runs the full B69 scoring once (training IS scoring the training
    * corpus); the driver pull is F + 1 values, bounded by the geometry
    * constant. */
  def dsirModel(df: DataFrame, isTarget: Column,
      idCol: String = "doc_id", textCol: String = "text",
      keepFraction: Double = 0.25): (Array[Double], Long) = {
    require(keepFraction > 0 && keepFraction <= 1,
      s"dsirModel: need 0 < keepFraction <= 1 (got $keepFraction)")
    val idT = df.schema(idCol).dataType
    graft.operators.Curation.dsirModelOf(
      df.withColumn("doc_id", validatedId(col(idCol), idT, "dsirModel"))
        .withColumn("text", col(textCol)),
      isTarget, n => ceil(n * keepFraction))
  }

  /** Score a LIVE STREAM (or any batch frame) with a trained DSIR
    * model — the general form of the graded `op_stream_dsir` (same
    * builder, [[graft.operators.Curation.dsirStreamPlan]]): the model
    * embeds in the plan as literals, each doc's bigram buckets fold to
    * a mean score in one stateless per-row pass, `selected` is the
    * integer comparison against the threshold. No join, no state, no
    * watermark — Append-safe; the train-batch / score-stream split of
    * [[dsirModel]] + this call is the production selection gate. Docs
    * with < 2 tokens have no features and are filtered out. */
  def dsirScoreStream(docs: DataFrame, model: (Array[Double], Long),
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(model._1.length == graft.operators.Curation.DsirBuckets,
      s"dsirScoreStream: model must carry exactly " +
        s"${graft.operators.Curation.DsirBuckets} bucket weights " +
        s"(got ${model._1.length})")
    graft.operators.Curation.dsirStreamPlan(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      model._1, model._2)
  }

  /** Corpus-level exact line deduplication with rewrite — the general
    * form of the graded `op_dedup_lines` (same core,
    * [[graft.operators.Curation.dedupLinesWith]]; the line-wise dedup
    * stage of RefinedWeb, Penedo et al. 2023, arXiv:2306.01116).
    * Lines are non-overlapping `lineTokens`-token blocks (callers with
    * real newline structure should pre-split and pass their own unit);
    * a line occurring in ≥ `minDocs` distinct docs is boilerplate and
    * every occurrence is removed; `minTokens` is the min-span guard —
    * shorter tails never count as duplicates (they would collide by
    * chance, not by copying). Emits per doc the line counts, the
    * rewritten `text_clean` (surviving lines in order), and `kept` =
    * something survived.
    *
    * This entry point runs the PRODUCTION shuffle key — `xxhash64` of
    * each line (8 bytes instead of a `lineTokens`-token string, ~6×
    * narrower exchange; B62's rule). A 64-bit birthday collision
    * merges two line groups — flagging both as boilerplate one
    * distinct-doc count early — but with ~10⁻⁷ of line groups
    * colliding even at 10¹² lines, the expected number of affected
    * docs rounds to zero at any practical corpus size (hash ≡ string
    * verdicts are spec-pinned on the graded and a degenerate corpus;
    * pass `hashLines = false` for the byte-exact string key). */
  def dedupLines(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", lineTokens: Int = 10,
      minTokens: Int = 5, minDocs: Int = 2,
      hashLines: Boolean = true): DataFrame = {
    require(lineTokens >= 1 && minTokens >= 1 && minDocs >= 2,
      s"dedupLines: need lineTokens >= 1, minTokens >= 1, minDocs >= 2 " +
        s"(got $lineTokens, $minTokens, $minDocs)")
    val idT = df.schema(idCol).dataType
    graft.CacheLifecycle.selfReleasing(graft.operators.Curation.dedupLinesManaged(
      df.select(validatedId(col(idCol), idT, "dedupLines").as("doc_id"),
        col(textCol).as("text")),
      lineTokens, minTokens, minDocs, hashLines))
  }

  /** MinHash sketch audit for any corpus — the general form of the
    * graded `op_minhash_est` (same core,
    * [[graft.operators.LlmPipeline.minhashEstWith]]; Broder 1997, "On
    * the resemblance and containment of documents", SEQUENCES'97).
    * For every banded candidate pair (the SAME capped buckets
    * [[nearDupClusters]] links), emits the resemblance estimator
    * (n_match of 8 signature slots — est ≈ n_match/8) next to exact
    * distinct-shingle set sizes (n_a, n_b, n_inter, n_union) and both
    * half-resemblance verdicts. Run this before trusting a banded
    * dedup sweep on a new corpus: the estimator's calibration against
    * exact Jaccard on YOUR data is the evidence the band thresholds
    * rest on. All columns are integers or integer predicates. */
  def minhashAudit(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val idT = df.schema(idCol).dataType
    val (result, release) = graft.operators.LlmPipeline.minhashEstWith(
      df.select(validatedId(col(idCol), idT, "minhashAudit").as("doc_id"),
        col(textCol).as("text")))
    selfReleasing(result, release)
  }

  /** Greedy k-center coreset selection over an embedding column — the
    * general form of the graded `op_select_kcenter` (same core,
    * [[graft.operators.Mining.selectKcenterWith]]; Gonzalez 1985;
    * Sener & Savarese 2018, arXiv:1708.00489): seed with the minimum
    * id, then repeatedly pick the vector farthest (rounded cosine
    * distance, ties → lowest id) from the selected set. Returns the
    * ordered (step, vec_id, mindist) table — the picks ARE the
    * coreset, and each pick's mindist traces the shrinking coverage
    * radius. Driver traffic is one (id, vector, distance) row per
    * step (k·(dims+2) values — the k-means pull); `k` is capped so
    * that stays bounded. Embeddings must be castable to
    * array<double>. */
  def coresetKcenter(df: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding", k: Int = 8): DataFrame = {
    require(k >= 2 && k <= 4096,
      s"coresetKcenter: need 2 <= k <= 4096 (got $k)")
    val idT = df.schema(idCol).dataType
    graft.operators.Mining.selectKcenterWith(
      df.select(validatedId(col(idCol), idT, "coresetKcenter").as("vec_id"),
        col(embCol).cast("array<double>").as("e")), k)
  }

  /** The one-row corpus report — the general form of the graded
    * `op_stats_zipf` (same core,
    * [[graft.operators.Curation.statsZipfWith]]): token/type totals,
    * unigram Shannon entropy (Shannon 1948), and the OLS Zipf slope of
    * ln freq on ln rank over the top-`ranks` unigram ranks (Zipf 1949;
    * Piantadosi 2014). Log a row before and after every curation stage
    * and watch the totals, entropy, and slope move. `ranks` must be
    * ≥ 2 (a one-point regression has no slope); when the vocabulary
    * itself has fewer than 2 types the slope is NaN — a degenerate
    * corpus, reported as such rather than masked. */
  def corpusReport(df: DataFrame, textCol: String = "text",
      ranks: Int = graft.operators.Curation.ZipfRanks): DataFrame = {
    require(ranks >= 2, s"corpusReport: need ranks >= 2 (got $ranks)")
    graft.CacheLifecycle.selfReleasing(
      graft.operators.Curation.statsZipfManaged(
        df.select(col(textCol).as("text")), ranks))
  }

  /** Heaps'-law vocabulary-growth fit — the general form of the graded
    * `op_stats_heaps` (same core,
    * [[graft.operators.Curation.statsHeapsWith]]; Heaps 1978; Egghe
    * 2007, JASIST 58(5)): V(N) ≈ K·N^β over log-spaced prefix points
    * (docs bucketed by `idCol DIV span` — pass ids in ingest order;
    * points at power-of-two bucket indices). Log a row alongside
    * [[corpusReport]]: boilerplate and duplication depress β (repeats
    * add tokens without types) before they move the Zipf slope.
    * Domain: the OLS needs ≥ 2 prefix points — corpora under ~2·span
    * token-bearing docs yield a single point and a null/NaN fit;
    * shrink `span` for small corpora. */
  def heapsGrowth(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      span: Int = graft.operators.Curation.HeapsSpan): DataFrame = {
    require(span >= 1, s"heapsGrowth: need span >= 1 (got $span)")
    val idT = df.schema(idCol).dataType
    graft.CacheLifecycle.selfReleasing(graft.operators.Curation.statsHeapsManaged(
      df.select(validatedId(col(idCol), idT, "heapsGrowth").as("doc_id"),
        col(textCol).as("text")), span))
  }

  /** Shared id guard for the corpus APIs: `id` must cast to long
    * LOSSLESSLY. Rejects nulls (with a readable message — a bare
    * `raise_error(concat(lit(...), null_col))` would raise a null
    * message), and for NUMERIC ids rejects lossy casts (doubles 3.2
    * and 3.7 both truncating to 3 would silently merge distinct docs)
    * via a null-safe round-trip through the original type (an integral
    * 3.0 survives; 3.2 does not). The round-trip applies to numeric
    * types ONLY: a string id like "000123" or " 7" is numerically
    * lossless but not textually canonical, and must not start failing
    * jobs that accepted it before. Non-numeric STRING ids fail the
    * cast itself under ANSI mode with Spark's own cast error before
    * this check runs — still an error, just Spark-worded. */
  private def validatedId(idCol: Column,
      idType: org.apache.spark.sql.types.DataType, api: String): Column = {
    val asLong = idCol.cast("long")
    val lossy = idType match {
      case _: org.apache.spark.sql.types.NumericType => !(asLong.cast(idType) <=> idCol)
      case _ => lit(false)
    }
    when(idCol.isNull || asLong.isNull || lossy,
      raise_error(concat(lit(s"$api: id not losslessly castable to long: "),
        coalesce(idCol.cast("string"), lit("NULL")))))
      .otherwise(asLong)
  }

  /** One-call incremental-ingest triage — the daily-ingest pipeline
    * for any corpus: the new `batch` probes `history`'s exact-digest
    * index (normalized-md5), the exact-novel docs probe its MinHash
    * band index, and the survivors are admitted with keep-first index
    * entries. Returns one row per batch doc:
    * `(id, fate, exact_dup_of, near_dup_of, entry_id)` with fate in
    * {'exact_dup', 'near_dup', 'admitted'} and null evidence where a
    * stage did not apply. Both frames need a unique numeric id in
    * `idCol` and the text in `textCol`.
    *
    * Scale: history-sized frames are the STORED side of natural-key
    * shuffle joins — only the (shrinking) batch moves through the
    * stages; nothing is broadcast. The graded end-to-end form (with
    * the IVF vector-probe stage) is `op_incremental_e2e`.
    *
    * CACHING CONTRACT: the triage pins three BATCH-sized intermediate
    * frames (probe/band-hit/admit) with `.cache()` — each feeds two
    * consumers, and without the pin every consumer would replay all
    * stages above it. The entries are plan-keyed, so a long-lived
    * session calling this once per daily batch would otherwise
    * accumulate one trio per distinct batch. This overload is
    * SELF-RELEASING: a one-shot listener unpersists the trio after the
    * first terminal action whose plan reads the returned frame, so the
    * default API does not leak. Re-running an action on the result
    * after that recomputes the stages (correct, just slower) — callers
    * that materialize the result more than once should hold the
    * explicit release handle from [[ingestTriageManaged]] instead. */
  def ingestTriage(history: DataFrame, batch: DataFrame,
      idCol: String = "id", textCol: String = "text"): DataFrame = {
    val (result, release) = ingestTriageManaged(history, batch, idCol, textCol)
    selfReleasing(result, release)
  }

  /** Cache-lifecycle helper for the caching APIs ([[ingestTriage]],
    * [[perplexityBuckets]]): the shared [[graft.CacheLifecycle]]
    * one-shot listener — `release()` fires after the first terminal
    * action whose plan reads `result`, so the default API never leaks
    * its cached intermediates into a long-lived session. */
  private def selfReleasing(result: DataFrame, release: () => Unit): DataFrame =
    graft.CacheLifecycle.selfReleasing(result, release)

  /** [[ingestTriage]] plus a release handle: `_2()` unpersists the
    * three cached triage frames backing the result. Call it AFTER the
    * result has been fully materialized (written/collected) — the
    * result plan reads the cached frames, so releasing first forces a
    * recompute (correct, just slower). */
  def ingestTriageManaged(history: DataFrame, batch: DataFrame,
      idCol: String = "id", textCol: String = "text"): (DataFrame, () => Unit) = {
    def prep(df: DataFrame): DataFrame =
      df.select(
        validatedId(col(idCol), df.schema(idCol).dataType, "ingestTriage").as("doc_id"),
        col(textCol).as("text"))
    val (probed, nearHits, admitted) =
      graft.operators.Incremental.triageFrames(prep(history), prep(batch))
    val entries = admitted.groupBy("key").agg(min("doc_id").as("entry_id"))
    val result = probed
      .join(nearHits, Seq("doc_id"), "left")
      .join(entries, Seq("key"), "left")
      .select(col("doc_id").as("id"),
        when(col("exact_hist").isNotNull, "exact_dup")
          .when(col("near_hist").isNotNull, "near_dup")
          .otherwise("admitted").as("fate"),
        col("exact_hist").as("exact_dup_of"),
        col("near_hist").as("near_dup_of"),
        when(col("exact_hist").isNull && col("near_hist").isNull,
          col("entry_id")).as("entry_id"))
    val release = () => Seq(probed, nearHits, admitted)
      .foreach(_.unpersist(blocking = false))
    (result, release)
  }

  /** Whole-file document SINK (the [[readDocuments]] counterpart, and
    * the reference's native output shape — one processed text file per
    * document): writes `df`'s `pathCol` (bare file name) / `textCol`
    * rows through the V2 two-phase committer
    * ([[graft.sources.v2.TextDirSource]] `SupportsWrite`) into `path`.
    * `overwrite = true` truncates existing files at job commit. */
  def writeDocuments(df: DataFrame, path: String,
      pathCol: String = "path", textCol: String = "text",
      overwrite: Boolean = false): Unit =
    df.select(col(pathCol).as("path"), col(textCol).as("text"))
      .write.format("graft.sources.v2.TextDirSource")
      .option("path", path)
      .mode(if (overwrite) "overwrite" else "append")
      .save()

  /** Scala-side single-document convert (= `python script.py <file>`). */
  def convertText(text: String): String =
    graft.functions.DataConverter.parseToJson(text)

  /** Scala-side `parse_file` for single-document use and tests. */
  def parseFile(text: String): (Seq[graft.functions.Fragment], Map[String, Int], Seq[String]) = {
    val frags = Fragments.detect(text)
    val summary = frags.groupBy(_.format_type).map { case (k, v) => k -> v.size }
    val records = frags.flatMap(Normalizer.normalize)
    (frags, summary, records)
  }
}
