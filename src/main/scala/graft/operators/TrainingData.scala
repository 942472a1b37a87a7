package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.OpQuery
import graft.sources.Tables
import graft.functions.TextShingles

/** Training-data pipeline extensions beyond the reference surface
  * (SURVEY.md §2 Tier B, B25–B42): the additional dedup / similarity /
  * text-analysis / multimodal operators a 100 TB LLM-data pipeline
  * needs. Shared design rules with B16–B24: candidate generation is
  * always bucketed (never all-pairs), per-row signatures are map-side
  * array folds, every hash/projection is engine-portable and
  * deterministic (md5 hex, fixed LCG hyperplanes) so DuckDB can verify
  * bit-for-bit, and outputs carry total ORDER BY.
  */
object TrainingData {

  /** Hot-bucket cap for the embedding LSH dedup (B27) — see
    * `LlmPipeline.MaxBucketDocs` for the rationale. 512 keeps every
    * healthy sign bucket intact at bench scale while bounding a
    * degenerate corpus to C(512,2) pairs per bucket. */
  val MaxBucketVecs = 512

  private def docs(sp: SparkSession, dir: String): DataFrame = Tables.documents(sp, dir)

  // shared DuckDB shingle expression (mirrors TextShingles.withShingles)
  private val shSql =
    "list_transform(range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1), " +
      "i -> concat_ws(' ', string_split(text, ' ')[i], string_split(text, ' ')[i+1], " +
      "string_split(text, ' ')[i+2]))"

  // ---- B25: SimHash near-dup ----------------------------------------------

  /** 32-bit SimHash over shingle md5s (bit j = majority of hex digit j's
    * top bit, ±1 votes). Candidates agree on ≥2 of 4 8-bit bands (any
    * ≤2-bit corruption leaves ≥2 bands intact); confirmed at true
    * Hamming distance ≤ 2. One signature pass, bucket-grouped pair
    * expansion — no self-join, no all-pairs. */
  /** Pre-cap banded stage of [[dedupSimhash]] (doc_id, sig, key),
    * exposed so tests can measure real bucket sizes against the cap.
    * The vote kernel is the codegen'd SimHashSignature (one int[32]
    * per row instead of a 32-int array allocation per digest); values
    * are bit-identical to the transform/aggregate/zip_with fold, so
    * the oracle SQL still states the fold's semantics. */
  private[graft] def simhashKeyed(sp: SparkSession, dir: String): DataFrame = {
    val all = LlmPipeline.minhashCorpus(sp, dir)
    val sigs = TextShingles.withShingles(TextShingles.spreadForCpu(all), col("text"))
      .withColumn("hs", graft.plans.Md5Array.md5Array(col("shingles")))
      .withColumn("sig", graft.plans.SimHashSignature.simhashSig(col("hs")))
      .select("doc_id", "sig")
    def band(k: Int): Column = substring(col("sig"), k * 8 + 1, 8)
    val combos = Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3))
    sigs.select(col("doc_id"), col("sig"),
      explode(array(combos.zipWithIndex.map { case ((i, j), c) =>
        concat(lit(s"$c:"), band(i), band(j))
      }: _*)).as("key"))
  }

  def dedupSimhash(sp: SparkSession, dir: String): DataFrame = {
    val keyed = simhashKeyed(sp, dir)

    // native per-pair confirm (fold-identical; see HammingDistance) —
    // pair volume is the near-dup output, so the confirm must cost
    // like the signature, not 32 interpreted lambdas per pair
    def hamming(a: Column, b: Column): Column =
      graft.plans.HammingDistance.hamming(a, b, 32)
    // hot-bucket cap before the pair expansion (see LlmPipeline
    // .MaxBucketDocs): row_number over the bucket key — same hash
    // partitioning the groupBy needs, no extra exchange, bounded agg.
    // DECLARED SEMANTICS since r14 (cap interpolated into the oracle
    // SQL, B56 pattern): the combo key space is FIXED at 6 × 2^16, so
    // occupancy grows linearly once the key space saturates —
    // BucketOccupancy measured max 11 at 10× sf0.1 but 55-of-64 at
    // 100× — and the next order of magnitude would have silently
    // diverged from an uncapped oracle. Past the boundary both engines
    // truncate each bucket to its MaxBucketDocs lowest-id members
    // deterministically. (minhash's content-derived band keys grow
    // WITH the corpus — measured max 23 at 100× — but since r15 their
    // oracle carries the same cap clause anyway: corpus-band occupancy
    // tracks true dup-cluster size, a data property; see
    // LlmPipeline.MinhashBcapSql.)
    val wk = Window.partitionBy("key").orderBy("doc_id")
    keyed
      .withColumn("rn", row_number().over(wk))
      .filter(col("rn") <= LlmPipeline.MaxBucketDocs)
      .groupBy("key")
      .agg(collect_set(struct(col("doc_id"), col("sig"))).as("vs"))
      .filter(size(col("vs")) > 1)
      .select(explode(col("vs")).as("a"), col("vs"))
      .select(col("a"), explode(col("vs")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming(col("a.sig"), col("b.sig")).as("hamming"))
      .filter(col("hamming") <= 2)
      .distinct()
      .transform(OpQuery.gradedSort("doc_a", "doc_b"))
  }

  // ---- B26: exact n-gram Jaccard ------------------------------------------

  /** Exact 3-gram Jaccard for the planted near-dup pairs — the ground
    * truth the MinHash/SimHash approximations are judged against. At
    * scale this runs on CANDIDATE pairs from B17/B25, never all-pairs. */
  def dedupNgramJaccard(sp: SparkSession, dir: String): DataFrame = {
    // odd/even re-keying: originals 2·id, planted variants 2·id+1 —
    // collision-free at any corpus size (a fixed +K offset would
    // silently duplicate keys once real ids reach K)
    val base = TextShingles.withShingles(
      docs(sp, dir).select((col("doc_id") * 2).as("doc_id"), col("text")), col("text"))
      .select(col("doc_id"), array_distinct(col("shingles")).as("sa"))
    val variants = TextShingles.withShingles(
      docs(sp, dir).filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"),
          concat(col("text"), lit(" extraneous")).as("text")),
      col("text"))
      .select(col("doc_id").as("doc_b"), array_distinct(col("shingles")).as("sb"))
    base.join(variants, col("doc_b") === col("doc_id") + 1)
      .withColumn("ni", size(array_intersect(col("sa"), col("sb"))))
      .select(col("doc_id").as("doc_a"), col("doc_b"),
        round(col("ni").cast("double") /
          (size(col("sa")) + size(col("sb")) - col("ni")), 6).as("jaccard"))
      .transform(OpQuery.gradedSort("doc_a"))
  }

  // ---- B27/B28: hyperplane LSH over embeddings -----------------------------

  /** Deterministic random hyperplanes: Knuth-LCG values in [-1, 1),
    * generated once here and embedded as identical literals in both the
    * Spark plan and the DuckDB oracle — no cross-engine RNG. `dims`
    * generalizes the plane dimension for caller-supplied embedding
    * widths (api.Graft.nearDupEmbeddings); at the default 64 the
    * values are bit-identical to the original fixed-width formula. */
  def hyperplane(k: Int, dims: Int = 64): IndexedSeq[Double] = (0 until dims).map { d =>
    val x = ((k.toLong * dims + d + 1) * 2654435761L) % 4294967296L
    x.toDouble / 4294967296.0 * 2.0 - 1.0
  }
  private val NumPlanes = 8

  /** 8-bit sign bucket of a double-array embedding column — native
    * kernel (one fused loop over the plane matrix; fold-identical
    * values, see VectorKernelsSpec). */
  private def bucketOf(e: Column): Column =
    graft.plans.VectorKernels.lshBucket(e, (0 until NumPlanes).map(hyperplane(_)))

  /** SQL sign signature over the first `n` hyperplanes — ONE owner of
    * the oracle-side sign rule and literal formatting, shared by the
    * single-table B27 key (n = NumPlanes) and the B27b banded
    * signature (n = tables × planes), so the two oracles can never
    * diverge on the sign convention. */
  private def sigSql(e: String, n: Int): String =
    (0 until n).map { k =>
      val lits = hyperplane(k).mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product($e, $lits) >= 0 THEN '1' ELSE '0' END)"
    }.mkString("concat(", ", ", ")")

  private def bucketSql(e: String): String = sigSql(e, NumPlanes)

  /** The B27b oracle's full tables×planes sign signature — same
    * hyperplane literals as the Spark kernel pass, so the per-table
    * substring keys agree bit-for-bit across engines. */
  private def bandedSigSql(e: String): String =
    sigSql(e, BandedTables * BandedPlanes)

  private def cosine(a: Column, b: Column): Column =
    round(graft.plans.VectorKernels.cosine(a, b), 4)

  /** B27 — embedding-cosine near-dup: perturbed copies of a fifth of
    * the vectors are planted; LSH sign-buckets generate candidates
    * (same-bucket only, output-linear) and exact cosine ≥ 0.995
    * confirms. Deterministic: same-bucket survival of a planted pair is
    * a fixed function of the literals. */
  /** Pre-cap sign-bucketed corpus of [[dedupEmbedding]]
    * (vec_id, e, bk), exposed so tests can measure real bucket sizes
    * against the cap. */
  /** The B27/B27b corpus construction: originals re-keyed 2·id plus
    * perturbed copies 2·id+1 of every fifth vector. Odd/even
    * re-keying is unique at any corpus size, unlike a fixed +K
    * offset. */
  private[graft] def embeddingCorpus(sp: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(sp, dir)
      .select((col("vec_id") * 2).as("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
    val variants = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1).as("vec_id"),
        transform(col("e"), (x, i) => when(i === 0, x + 0.01).otherwise(x)).as("e"))
    base.union(variants)
  }

  private[graft] def embeddingBucketed(sp: SparkSession, dir: String): DataFrame =
    embeddingCorpus(sp, dir).withColumn("bk", bucketOf(col("e")))

  def dedupEmbedding(sp: SparkSession, dir: String): DataFrame = {
    val corpus = embeddingBucketed(sp, dir)
    // hot-bucket cap (see LlmPipeline.MaxBucketDocs): with only 2^8
    // sign buckets, a degenerate corpus (all-identical vectors) would
    // otherwise collect every 64-dim vector into one agg buffer. The
    // cap is higher than the band ops' — sign buckets of a HEALTHY
    // corpus legitimately reach ~100 members at sf0.1 (measured max 87),
    // unlike band buckets which only hold true near-dups.
    //
    // The cap is DECLARED SEMANTICS, interpolated into the oracle SQL
    // (B56 pattern): a fixed 2^NumPlanes key makes occupancy LINEAR in
    // corpus size, and the r14 BucketOccupancy probe measured the
    // uncapped premise breaking between sf0.1 (max 87) and 10× sf0.1
    // (max 911 > 512) — so past ~sf1 the capped op truncates each
    // bucket to its MaxBucketVecs lowest-id members, deterministically
    // on BOTH engines, instead of silently diverging from an uncapped
    // oracle. At 100 TB a fixed key is the wrong index regardless of
    // cap; the decided production path (PLANS.md r15 design note) is
    // BANDED sign-LSH — L ≈ 8 tables × P ≈ log2(5N/T) planes, the
    // minhash band architecture with sign bits — which restores both
    // occupancy (max ≈ 5N/2^P, measured across three decades) and
    // recall (1−(1−p^P)^L ≈ 0.98 at the 0.995-cosine threshold);
    // op_similarity_ivf remains the top-k SEARCH path, not a near-dup
    // bucketing structure (its cell count is broadcast-bounded at
    // ~√N, five orders too coarse for pair expansion).
    cappedBucketPairs(corpus, Seq("bk"), TrainingData.MaxBucketVecs)
      .filter(col("cos") >= 0.995)
      .select("vec_a", "vec_b", "cos")
      .transform(OpQuery.gradedSort("vec_a", "vec_b"))
  }

  /** Graded banded instance (B27b): small enough that the oracle's
    * literal hyperplane matrix stays manageable (48 planes ≈ 60 KB of
    * SQL), big enough that the banded recall formula separates it from
    * the single table (1−(1−p^12)^4 ≈ 0.99 vs p^8 ≈ 0.77 at the
    * 0.995-cosine threshold). */
  private[graft] val BandedTables = 4
  private[graft] val BandedPlanes = 12

  /** Banded sign-LSH pair core shared by [[dedupEmbeddingBanded]] and
    * `api.Graft.nearDupEmbeddings`: ONE kernel pass computes all
    * tables×planes sign bits; per-table keys are substrings of that
    * signature; capped buckets expand through [[cappedBucketPairs]];
    * candidates confirm by exact cosine BEFORE the cross-table
    * distinct (so only (id, id, cos) triples shuffle — deduplicating
    * first drags the embedding arrays through an aggregate exchange,
    * measured 10× slower at 20 copies). */
  private[graft] def bandedPairs(corpus: DataFrame, tables: Int, planes: Int,
      cap: Int, dims: Int, threshold: Double): DataFrame = {
    val allPlanes = (0 until tables * planes).map(hyperplane(_, dims))
    val keyed = corpus
      .withColumn("sig", graft.plans.VectorKernels.lshBucket(col("e"), allPlanes))
      .withColumn("t", explode(array((0 until tables).map(lit): _*)))
      .withColumn("bk", expr(s"substring(sig, t * $planes + 1, $planes)"))
    cappedBucketPairs(keyed, Seq("t", "bk"), cap)
      .filter(col("cos") >= threshold)
      .distinct()
  }

  /** B27b — `op_dedup_embedding_banded`: the PRODUCTION near-dup
    * bucketing shape (PLANS.md r15 design note, shipped as
    * `api.Graft.nearDupEmbeddings` r16) graded cross-engine: L
    * independent sign-LSH tables of P planes each (the minhash band
    * architecture with hyperplane signs), candidate = same bucket in
    * ANY table, exact cosine ≥ 0.995 confirms, distinct over
    * confirmed pairs. Same corpus construction and cap as B27; the
    * single-table B27 remains the fixed-key baseline whose recall the
    * banding repairs (measured planted recall 77.4% → 100% at 20
    * copies, PLANS.md r16). Scale shape identical to B17's banded
    * minhash: corpus shuffles once per table row, candidates
    * output-linear, per-bucket cap bounds the degenerate expansion. */
  def dedupEmbeddingBanded(sp: SparkSession, dir: String): DataFrame =
    bandedPairs(embeddingCorpus(sp, dir), BandedTables, BandedPlanes,
      TrainingData.MaxBucketVecs, 64, 0.995)
      .transform(OpQuery.gradedSort("vec_a", "vec_b"))

  /** Capped-bucket pair expansion shared by [[dedupEmbedding]] (keyed
    * by the single sign bucket) and `api.Graft.nearDupEmbeddings`
    * (keyed per (table, bucket)): rank-cap each bucket to its `cap`
    * lowest vec_ids, collect, double-explode into a<b pairs, score by
    * rounded exact cosine. ONE owner for the cap rule / tie-break /
    * rounding — thresholding and output shaping stay with the
    * callers. */
  private[graft] def cappedBucketPairs(keyed: DataFrame, keyCols: Seq[String],
      cap: Int): DataFrame = {
    val wb = Window.partitionBy(keyCols.map(col): _*).orderBy("vec_id")
    keyed
      .withColumn("rn", row_number().over(wb))
      .filter(col("rn") <= cap)
      .groupBy(keyCols.map(col): _*)
      .agg(collect_list(struct(col("vec_id"), col("e"))).as("vs"))
      .filter(size(col("vs")) > 1)
      .select(explode(col("vs")).as("a"), col("vs"))
      .select(col("a"), explode(col("vs")).as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(graft.plans.VectorKernels.cosine(col("a.e"), col("b.e")), 4).as("cos"))
  }

  /** B28 — the documented 100 TB path for B18 made concrete: LSH
    * sign-bucket the corpus, run the exact cosine kernel only within
    * the query's bucket, top-3. Trades recall for a candidate set
    * ~1/2^8 of the corpus per query; recall vs exact B18 is measured in
    * LshSpec. */
  def similarityLsh(sp: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(sp, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("bk", bucketOf(col("e")))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("bk").as("qbk"))
    val scored = emb.join(broadcast(queries),
        col("bk") === col("qbk") && col("vec_id") =!= col("q_id"))
      .withColumn("score", cosine(col("qe"), col("e")))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id"), col("score"))
      .transform(OpQuery.gradedSort("q_id", "rank"))
  }

  /** B28b (bonus, r3) — IVF-style ANN: the brief's other scale path for
    * similarity search. A coarse quantizer assigns every vector to its
    * nearest CENTROID cell; a query probes only its own cell with the
    * exact cosine kernel. Centroids are the CORPUS-SCALED
    * every-[[AnnCodebookStride]]th-vector codebook (r16 — same rule as
    * B58, so both engines derive identical cells AND per-query
    * candidate work stays ~constant at stride/4 as the corpus grows;
    * the r15 fixed 8-literal stand-in left it linear in the corpus) —
    * at 100 TB they come from sampled k-means
    * ([[graft.functions.KMeansLite]]: Lloyd's iterations as Spark
    * aggregations, k×dims driver traffic only), with the SAME plan
    * shape: one broadcast join to
    * assign cells (map-side), one cell-equi-join to probe (no
    * all-pairs), per-query top-k window. nprobe=1 trades recall for a
    * candidate set ~1/K of the corpus, like LSH's bucket trade
    * (`similarityLsh`); IVF's cells adapt to the data distribution
    * where LSH's hyperplanes are oblivious. */
  /** IVF coarse-quantizer cell assignment over `emb(vec_id, e)`:
    * argmax RAW cosine against the [[annCodebook]] centroids (the
    * rounded form could flip a near-tie vs the oracle's unrounded
    * ordering); ties break on lower c_id. Shared by `similarityIvf`
    * and the `annRecall` contract. */
  private def ivfAssign(emb: DataFrame): DataFrame =
    ivfAssignWith(emb, annCodebook(emb))

  /** Cell assignment against an EXPLICIT (c_id, ce) codebook — the
    * incremental probe assigns history and batch against the same
    * fixed coarse quantizer, not one derived from each subset.
    *
    * The argmax is a `max_by` AGGREGATION, not a row_number window:
    * the window would shuffle all K×N exploded (vector × centroid)
    * rows and sort them per key, while the agg combines map-side
    * partials so at most N rows cross the wire — K× less shuffle
    * volume in every cell assign at any scale. Semantics identical:
    * max raw cosine, ties to the LOWER c_id (the `-c_id` ordering
    * component; struct comparison is lexicographic). */
  private[graft] def ivfAssignWith(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.join(broadcast(cents))
      .withColumn("cos_c", graft.plans.VectorKernels.cosine(col("e"), col("ce")))
      .groupBy("vec_id")
      .agg(max_by(struct(col("e"), col("c_id")),
        struct(col("cos_c"), (-col("c_id")).as("neg"))).as("m"))
      .select(col("vec_id"), col("m.e").as("e"), col("m.c_id").as("cell"))

  /** HIERARCHICAL two-level cell assignment — the documented
    * production escape past [[ivfAssignWith]]'s broadcast ceiling
    * (K ≈ 10⁶ centroids ≈ 0.5 GB): score the ~√K super-centroids
    * first (map-side, broadcast), keep each vector's top-`superProbe`
    * supers, then argmax ONLY among those supers' child centroids —
    * N×(√K + S·K/√K) assign work instead of N×K, at the cost of an
    * approximate assignment (the probed supers' children need not
    * contain the globally nearest centroid; raising `superProbe` buys
    * fidelity linearly — the standard IVF nprobe trade one level up).
    * Measured on the 20-copy corpus at an assign-dominated K = 2353:
    * 28 s → 3.3–5.0 s with 84–97 % of the flat assign's recall@3 vs
    * brute force (tools.AnnHierProbe, PLANS.md r16 — uniform
    * synthetic embeddings, the worst case for super-probing).
    *
    * Output schema and tie rules match [[ivfAssignWith]] exactly
    * (`(vec_id, e, cell)`, max raw cosine, ties to the lower id at
    * BOTH levels), so with `superProbe` ≥ the super count the
    * assignment is IDENTICAL to flat (every centroid is some super's
    * child; probing all supers restores the full candidate set —
    * AnnHierApiSpec pins that equivalence). Promoted from the r16
    * evidence tool to the engine proper (r17/r18 verdict task 5). */
  private[graft] def hierAssignWith(emb: DataFrame, cents: DataFrame,
      supers: DataFrame, superProbe: Int): DataFrame = {
    // child → parent map: each centroid assigned to its nearest super
    // (K rows — codebook-sized, stays broadcastable by construction)
    val c2s = ivfAssignWith(
        cents.select(col("c_id").as("vec_id"), col("ce").as("e")), supers)
      .select(col("vec_id").as("c_id"), col("cell").as("sup"))
    val centsSup = cents.join(c2s, Seq("c_id"))
    // rank only supers that HAVE child centroids: with an externally
    // trained super codebook a super can be no centroid's nearest, and
    // a vector whose top-S probes were all such empty supers would
    // vanish from the output through the inner join below (r18
    // ADVICE). Empty supers contribute no candidates, so spending
    // probe budget on them is pure loss; restricting the ranking keeps
    // every vector assigned and leaves the superProbe ≥ |supers|
    // flat-equivalence untouched (the candidate union is still all
    // centroids). √K rows — broadcastability unchanged.
    val liveSupers = supers.join(
      c2s.select(col("sup").as("c_id")).distinct(), Seq("c_id"), "left_semi")
    val ws = Window.partitionBy("vec_id")
      .orderBy(col("cos_s").desc, col("sup_id").asc)
    val v2s = emb.join(broadcast(
        liveSupers.select(col("c_id").as("sup_id"), col("ce").as("se"))))
      .withColumn("cos_s", graft.plans.VectorKernels.cosine(col("e"), col("se")))
      .withColumn("rn", row_number().over(ws)).filter(col("rn") <= superProbe)
      .select(col("vec_id"), col("e"), col("sup_id").as("sup"))
    v2s.join(broadcast(centsSup), Seq("sup"))
      .withColumn("cos_c", graft.plans.VectorKernels.cosine(col("e"), col("ce")))
      .groupBy("vec_id")
      .agg(max_by(struct(col("e"), col("c_id")),
        struct(col("cos_c"), (-col("c_id")).as("neg"))).as("m"))
      .select(col("vec_id"), col("m.e").as("e"), col("m.c_id").as("cell"))
  }

  // ---- B58: incremental ANN against a historical IVF index -----------------

  /** B58 — `op_ann_incremental`: the EMBEDDING leg of the incremental
    * family (B52 exact digests, B56 minhash bands, B58 vectors) — a
    * new embedding batch probes the HISTORICAL IVF index for its top-3
    * nearest history vectors inside its coarse cell (nprobe=1), never
    * re-indexing the corpus. History = orig vec_id % 4 == 0 (re-keyed
    * 2·id); batch = the rest plus planted RE-POSTS of history vectors
    * (2·id+1, identical embedding → same cell, cosine 1.0, rank 1)
    * that must surface against their originals. Both sides assign
    * cells against the SAME coarse quantizer — the CORPUS-SCALED
    * every-[[AnnCodebookStride]]th-vector codebook (see [[annCodebook]]),
    * conceptually the stored, pre-trained codebook.
    *
    * Scale shape: at 100 TB the index is STORED partitioned by cell,
    * so the probe is a cell-keyed shuffle join where only the batch
    * moves (the B52/B56 contract) and the per-batch-vector top-3
    * window shares the join's partitioning. Candidate volume is
    * batch × cell occupancy = batch × history/K. K here SCALES with
    * the corpus (K ≈ |corpus|/157 — every-Nth selection is as
    * deterministic and oracle-expressible as a literal list, one
    * `vec_id % 157` predicate on either engine), so mean occupancy is
    * the CONSTANT ≈ stride/4 history members per cell and candidate
    * volume is LINEAR in the corpus — this re-keying (r16) replaced
    * the r15 fixed 8-literal stand-in whose measured candidate growth
    * was quadratic (cand/batch 15.7 → 1255 across sf0.01 → 20×;
    * PLANS.md r15, fix measured 6.8× wall at 20 copies before
    * porting here). The residual scale term is
    * the ASSIGN step: N×K broadcast map-side cosines (no shuffle),
    * viable to the `api.Graft.annProbe` broadcast ceiling of K ≈ 10⁶;
    * past that a production deployment assigns HIERARCHICALLY (score
    * ~√K super-cells, argmax among the top-S supers' children:
    * N×(√K+S·√K) work) — demonstrated executable in this repo at an
    * assign-dominated K=2353: 28 s → 3.3–5.0 s with 84–97% of the
    * flat assign's recall@3 vs brute force (tools.AnnHierProbe,
    * PLANS.md r16 — uniform-embedding worst case). The probe shape
    * (batch-only movement, shared partitioning) is unchanged by how K
    * is chosen. */
  def annIncremental(sp: SparkSession, dir: String): DataFrame = {
    // persisted (r21): codebook + both split arms re-evaluated the
    // prep (5 embeddings scans per execution → 1; ScanCount census)
    val emb = Tables.embeddings(sp, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
      .persist()
    val (history, batch, cents) = annSplit(emb)
    annProbeWith(history, batch, cents, topK = 3)
      .transform(OpQuery.gradedSort("batch_id", "rank"))
  }

  /** B83 — `op_ann_pq_incremental`: the DEPLOYABLE 100 TB incremental
    * ANN read path — IVF cells + PQ codes (Jégou, Douze & Schmid 2011,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 33(1),
    * the IVFADC system of §5): the daily batch probes a STORED
    * historical index in which each history vector is represented only
    * by its coarse cell and its 8-block PQ code, and scoring is ADC —
    * asymmetric distance computation, the batch's EXACT vector against
    * the history's RECONSTRUCTED code words — so the probe never
    * touches an original history vector. B58 (`op_ann_incremental`)
    * grades the same probe against exact history vectors; this op
    * grades the compressed layout a production deployment actually
    * stores (8 bytes/vector at k=256 instead of 512 bytes of doubles —
    * the 64× that makes a 100 TB corpus' index fit its cluster). Same
    * split, codebook, candidate geometry, and output schema as B58
    * (`(batch_id, rank, hist_id, score)`), so the two ops are directly
    * comparable; the fidelity cost of compression is measured, not
    * guessed, by AnnPqIncrementalSpec's recall-vs-exact contract (the
    * B51 pattern).
    *
    * Scale shape: the index build (cell assign by exact vector +
    * per-block argmin encode) is the one-time STORED artifact — both
    * are broadcast-join map-side passes with a `min_by` aggregate
    * (map-side partials, the B28c discipline). The probe is B58's
    * cell-keyed shuffle join where only the batch moves; the history
    * side ships 8 reconstructed doubles per block from the code
    * lookup, never the original 64. Candidate volume is linear (the
    * corpus-scaled [[AnnCodebookStride]] codebook, occupancy ≈
    * stride/4). */
  def annPqIncremental(sp: SparkSession, dir: String): DataFrame = {
    // persisted (r21): codebook, split arms, PQ training (init + block
    // passes) and the reconstruct side all read the prep (6 embeddings
    // scans per execution → 1; ScanCount census)
    val emb = Tables.embeddings(sp, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
      .persist()
    val (history, batch, cents) = annSplit(emb)
    // stored side: coarse cell by EXACT vector (standard IVF-PQ build),
    // probe representation = the PQ reconstruction only
    val hIndexed = ivfAssignWith(history, cents).select(col("vec_id"), col("cell"))
      .join(pqReconstruct(history, pqCodebook(emb)), Seq("vec_id"))
      .select(col("vec_id"), col("e"), col("cell"))
    probeAssigned(hIndexed, ivfAssignWith(batch, cents), topK = 3)
      .transform(OpQuery.gradedSort("batch_id", "rank"))
  }

  /** PQ codebook geometry: k entries per block, Lloyd iterations, and
    * the per-iteration mean quantization scale (the op_kmeans_train
    * cross-engine device: a distributed avg and a single-node avg
    * differ in the last ulp, so the ONLY order-sensitive value in the
    * loop is rounded identically on both engines). */
  private[graft] val PqK = 4
  private[graft] val PqIters = 2
  private[graft] val PqMeanScale = 6

  /** B28c PQ codebook rule — per-block codebooks TRAINED with
    * [[PqIters]] Lloyd iterations (k = [[PqK]], L2 assignment matching
    * the encode rule's `min_by(d2, c_id)`, ties to the lower cell;
    * init = the block slices of the [[PqK]] smallest-`vec_id` vectors;
    * empty cells keep their previous centroid; per-iteration means
    * quantized at [[PqMeanScale]] dp HALF_UP — the `op_kmeans_train`
    * determinism device, mirrored by the oracle's `round(avg, 6)`).
    * Replaces the r16–r19 fixed-vector stand-in (corpus vectors
    * 100–103 sliced per block): the codebook is now the real
    * data-adaptive artifact a deployment stores, and the DuckDB
    * oracle derives the IDENTICAL centroids through the shared
    * [[PqCodebookCtes]] Lloyd chain, so training is under the oracle
    * hash, not a determinism shortcut. Returns `(b, c_id, csub)` —
    * one 8-dim entry per (block, cell). Single owner shared by B28c,
    * B51's pq leg, and B83.
    *
    * Scale shape: the k-means discipline — per iteration ONE
    * broadcast-join map-side assign pass (32-row build side) + one
    * (b, cell, dim)-keyed partial-avg shuffle whose payload is
    * 8×k×8 = 256 doubles regardless of corpus size; only those 256
    * rows reach the driver per iteration. */
  /** Trained per call — the r20 process-scoped memo (trained codebooks
    * keyed by canonical plan + input files) was REMOVED in r21: a
    * module-level memo of computed results means a repeated graded
    * invocation skips the training work, which the optimization-round
    * rules class as result caching, not optimization. Two r21 plan
    * changes keep the per-call cost tight (an all-lazy single-plan
    * Lloyd chain was ALSO tried and measured SLOWER — nested
    * broadcast-stage scheduling under AQE cost more than the loop's
    * small driver jobs; see OPTIMIZATION_r21.md):
    *  - the exploded `blocks` frame is persisted for the loop and
    *    released when training ends — the corpus is scanned once per
    *    build, not once per iteration;
    *  - per-iteration means are 8 scalar `round(avg(sub[d]))`
    *    aggregates over the block arrays instead of a posexplode to
    *    8× rows plus a third (b, cell, d)-keyed exchange — one fewer
    *    exchange per iteration and an 8× narrower aggregation input;
    *    the in-plan `round(_, PqMeanScale)` is the same
    *    shortest-decimal HALF_UP the driver-side BigDecimal applied
    *    (both round via Double.toString), oracle-verified. */
  private[graft] def pqCodebook(emb: DataFrame): DataFrame = {
    val sp = emb.sparkSession
    def centsDf(cents: Array[Array[Array[Double]]]): DataFrame = {
      val sq = sp
      import sq.implicits._
      (for (b <- 0 until 8; c <- 0 until PqK) yield (b, c, cents(b)(c).toSeq))
        .toDF("b", "c_id", "csub")
    }
    val blocks = emb
      .select(col("vec_id"), col("e"), explode(sequence(lit(0), lit(7))).as("b"))
      .select(col("vec_id"), col("b"),
        slice(col("e"), col("b") * 8 + 1, lit(8)).as("sub"))
      .persist()
    val init: Array[Array[Double]] = emb.orderBy("vec_id").limit(PqK)
      .select("e").collect().map(_.getSeq[Double](0).toArray)
    require(init.length == PqK,
      s"corpus has only ${init.length} vectors for k=$PqK PQ codebooks")
    var cents: Array[Array[Array[Double]]] = // [block][cell][dim]
      Array.tabulate(8)(b => Array.tabulate(PqK)(c => init(c).slice(b * 8, b * 8 + 8)))
    try for (_ <- 1 to PqIters) {
      val means = blocks.join(broadcast(centsDf(cents)), Seq("b"))
        .withColumn("d2", aggregate(zip_with(col("sub"), col("csub"),
          (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v))
        .groupBy("vec_id", "b")
        .agg(min_by(struct(col("c_id").as("cell"), col("sub").as("sub")),
          struct(col("d2"), col("c_id"))).as("m"))
        .select(col("b"), col("m.cell").as("cell"), col("m.sub").as("sub"))
        .groupBy("b", "cell")
        .agg(array((1 to 8).map(d =>
          round(avg(element_at(col("sub"), lit(d))), PqMeanScale)): _*).as("msub"))
        .collect()
      val next = Array.tabulate(8)(b => Array.tabulate(PqK)(c => cents(b)(c).clone()))
      means.foreach { r =>
        next(r.getAs[Int]("b"))(r.getAs[Int]("cell")) =
          r.getSeq[Double](2).toArray
      }
      cents = next
    } finally blocks.unpersist()
    centsDf(cents)
  }

  /** The trained per-block codebook as a shared oracle CTE chain —
    * assumes a CTE `emb(vec_id, e)` is in scope and exposes
    * `pqc(b, c_id, csub)`; single SQL owner for the B28c, B51-pq, and
    * B83 oracles (one training rule, three graded views). Mirrors
    * [[pqCodebook]] exactly: same init, L2 argmin with ties to the
    * lower cell, `round(avg, PqMeanScale)` means, empty cells keep
    * the previous centroid (the coalesce). */
  private[graft] lazy val PqCodebookCtes: String = {
    def round(a: String, m: String, cOut: String, cIn: String): String =
      s"""$a AS (SELECT b, cell, sub FROM (
        |  SELECT k.vec_id AS vec_id, k.b AS b, k.sub AS sub, $cIn.cell AS cell,
        |    row_number() OVER (PARTITION BY k.vec_id, k.b ORDER BY
        |      list_sum(list_transform(range(1, 9),
        |        pd -> (k.sub[pd] - $cIn.ce[pd]) * (k.sub[pd] - $cIn.ce[pd]))) ASC,
        |      $cIn.cell ASC) AS rn
        |  FROM pqblk k JOIN $cIn ON k.b = $cIn.b) WHERE rn = 1),
        |$m AS (SELECT b, cell, d, round(avg(v), $PqMeanScale) AS v FROM (
        |    SELECT b, cell, generate_subscripts(sub, 1) AS d, unnest(sub) AS v FROM $a)
        |  GROUP BY b, cell, d),
        |$cOut AS (SELECT i.b, i.cell, coalesce(mm.ce, i.ce) AS ce
        |  FROM $cIn i LEFT JOIN
        |    (SELECT b, cell, list(v ORDER BY d) AS ce FROM $m GROUP BY b, cell) mm
        |    ON mm.b = i.b AND mm.cell = i.cell)""".stripMargin
    s"""pqblk AS (
      |  SELECT vec_id, CAST(u.b AS INTEGER) AS b,
      |    list_slice(e, u.b * 8 + 1, u.b * 8 + 8) AS sub
      |  FROM emb, (SELECT unnest(range(0, 8)) AS b) u),
      |pqinit AS (
      |  SELECT b,
      |    CAST(row_number() OVER (PARTITION BY b ORDER BY vec_id) - 1 AS INTEGER) AS cell,
      |    sub AS ce
      |  FROM pqblk
      |  WHERE vec_id IN (SELECT vec_id FROM emb ORDER BY vec_id LIMIT $PqK)),
      |${round("pqa1", "pqm1", "pqc1", "pqinit")},
      |${round("pqa2", "pqm2", "pqc2", "pqc1")},
      |pqc AS (SELECT b, cell AS c_id, ce AS csub FROM pqc2)""".stripMargin
  }

  /** The four ranked probe legs as a shared oracle CTE chain —
    * assumes `emb(vec_id, e)` and exposes `ex/ls/iv/pq`, each
    * `(q_id, vec_id, rank)` with rank ≤ 3; single SQL owner for the
    * B51 and B89 oracles (mirrors [[annLegsRanked]]). Includes
    * [[PqCodebookCtes]]. */
  private[graft] lazy val AnnLegsCtes: String =
    s"""bucketed AS (SELECT vec_id, e, ${bucketSql("e")} AS bk FROM emb),
      |q AS (SELECT vec_id AS q_id, e AS qe, bk AS qbk FROM bucketed WHERE vec_id < 10),
      |ex AS (SELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT q.q_id, c.vec_id,
      |    row_number() OVER (PARTITION BY q.q_id ORDER BY
      |      round(list_dot_product(q.qe, c.e) /
      |        (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(c.e, c.e))), 4) DESC,
      |      c.vec_id ASC) AS rank
      |  FROM emb c, q WHERE c.vec_id <> q.q_id) WHERE rank <= 3),
      |ls AS (SELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT q.q_id, c.vec_id,
      |    row_number() OVER (PARTITION BY q.q_id ORDER BY
      |      round(list_dot_product(q.qe, c.e) /
      |        (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(c.e, c.e))), 4) DESC,
      |      c.vec_id ASC) AS rank
      |  FROM bucketed c JOIN q ON c.bk = q.qbk AND c.vec_id <> q.q_id) WHERE rank <= 3),
      |cents AS (
      |  SELECT vec_id AS c_id, e AS ce FROM emb WHERE vec_id % $AnnCodebookStride = 0),
      |assigned AS (
      |  SELECT vec_id, e, c_id AS cell FROM (
      |    SELECT emb.vec_id, emb.e, cents.c_id,
      |      row_number() OVER (PARTITION BY emb.vec_id ORDER BY
      |        list_dot_product(emb.e, cents.ce) /
      |          (sqrt(list_dot_product(emb.e, emb.e)) * sqrt(list_dot_product(cents.ce, cents.ce))) DESC,
      |        cents.c_id ASC) AS rn
      |    FROM emb, cents)
      |  WHERE rn = 1),
      |qi AS (SELECT vec_id AS q_id, e AS qe, cell AS qcell FROM assigned WHERE vec_id < 10),
      |iv AS (SELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT qi.q_id, a.vec_id,
      |    row_number() OVER (PARTITION BY qi.q_id ORDER BY
      |      round(list_dot_product(qi.qe, a.e) /
      |        (sqrt(list_dot_product(qi.qe, qi.qe)) * sqrt(list_dot_product(a.e, a.e))), 4) DESC,
      |      a.vec_id ASC) AS rank
      |  FROM assigned a JOIN qi ON a.cell = qi.qcell AND a.vec_id <> qi.q_id) WHERE rank <= 3),
      |$PqCodebookCtes,
      |codedsc AS (
      |  SELECT bl.vec_id, bl.b, c.c_id, c.csub,
      |    list_sum(list_transform(range(1, 9),
      |      i -> (bl.sub[i] - c.csub[i]) * (bl.sub[i] - c.csub[i]))) AS d2
      |  FROM pqblk bl JOIN pqc c ON bl.b = c.b),
      |coded AS (
      |  SELECT vec_id, b, csub FROM (
      |    SELECT vec_id, b, c_id, csub,
      |      row_number() OVER (PARTITION BY vec_id, b ORDER BY d2 ASC, c_id ASC) AS rn
      |    FROM codedsc) WHERE rn = 1),
      |qp AS (SELECT vec_id AS q_id, e AS qe FROM emb WHERE vec_id < 10),
      |pqsc AS (
      |  SELECT cd.vec_id, qp.q_id,
      |    sum(list_dot_product(list_slice(qp.qe, cd.b * 8 + 1, cd.b * 8 + 8), cd.csub)) AS dot,
      |    sum(list_dot_product(cd.csub, cd.csub)) AS rn2,
      |    sum(list_dot_product(list_slice(qp.qe, cd.b * 8 + 1, cd.b * 8 + 8),
      |                         list_slice(qp.qe, cd.b * 8 + 1, cd.b * 8 + 8))) AS qn2
      |  FROM coded cd, qp WHERE cd.vec_id <> qp.q_id
      |  GROUP BY cd.vec_id, qp.q_id),
      |pq AS (SELECT q_id, vec_id, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT q_id, vec_id,
      |    row_number() OVER (PARTITION BY q_id ORDER BY
      |      round(dot / (sqrt(qn2) * sqrt(rn2)), 4) DESC, vec_id ASC) AS rank
      |  FROM pqsc) WHERE rank <= 3)""".stripMargin

  /** PQ encode-then-reconstruct over a prepped `(vec_id, e)` frame:
    * each vector's 8 contiguous 8-dim blocks are coded as their
    * L2-nearest codebook entry for THAT block (RAW distances, ties to
    * the lower c_id — the B28c `min_by` rule) and the reconstruction
    * is the coded blocks re-concatenated in order. At scale the
    * reconstruction is a codebook LOOKUP from the stored 8-byte code;
    * here it is derived in the same plan because the graded corpus
    * builds its index inline. Broadcast codebook, map-side blocks,
    * `min_by` aggregate with map-side partials — no corpus
    * self-join. */
  private[graft] def pqReconstruct(vecs: DataFrame, pqc: DataFrame): DataFrame =
    vecs.select(col("vec_id"), col("e"), explode(sequence(lit(0), lit(7))).as("b"))
      .withColumn("sub", slice(col("e"), col("b") * 8 + 1, lit(8)))
      .join(broadcast(pqc), Seq("b"))
      .withColumn("d2", aggregate(zip_with(col("sub"), col("csub"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v))
      .groupBy("vec_id", "b")
      .agg(min_by(col("csub"), struct(col("d2"), col("c_id"))).as("csub"))
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("b"), col("csub")))).as("bs"))
      .select(col("vec_id"),
        flatten(transform(col("bs"), s => s.getField("csub"))).as("e"))

  /** Coarse-codebook selection rule shared by the graded B58 op and
    * the e2e nn stage (B59b): every `AnnCodebookStride`-th vector of
    * the base embeddings frame is a centroid, so K ≈ |corpus|/stride
    * GROWS with the corpus and mean cell occupancy stays the constant
    * ≈ stride/4 history members — the property that keeps the probe's
    * candidate volume linear (see [[annIncremental]]). 157 is the
    * stride validated in PLANS.md r15 (K = 255 / 6.8× wall on the
    * 20-copy corpus); it also lands K = 4 at the sf0.01 gate and
    * stays nonempty on any corpus containing vec_id 0. The scale
    * corpora's copy re-key (+k·10⁶, and 10⁶ mod 157 = 67 ≠ 0)
    * scatters centroids uniformly across copies, so K tracks total
    * volume there too. */
  private[graft] val AnnCodebookStride = 157

  /** The [[AnnCodebookStride]] rule over a prepped `(vec_id, e)`
    * frame: `(c_id, ce)` centroids. Single owner — the graded op, the
    * e2e nn stage, and the oracles' `vec_id % 157` predicate must
    * stay one rule. */
  private[graft] def annCodebook(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % AnnCodebookStride === 0)
      .select(col("vec_id").as("c_id"), col("e").as("ce"))

  /** B86 super-codebook rule: every 2nd [[annCodebook]] centroid is a
    * super-centroid (`vec_id % (2·stride) = 0` — the stride rule one
    * level up, as deterministic and oracle-expressible as the child
    * rule). A production run sizes supers ~√K and trains both levels
    * (KMeansLite); the GEOMETRY graded here — two-level assign,
    * liveness semi-join, per-level tie rules — is what the 100 TB
    * path runs, with K and √K substituted. */
  private[graft] val AnnSuperStride = 2 * AnnCodebookStride

  /** Probed supers per vector for the graded B86 op: 1, the maximally
    * approximate setting — the op must grade the HIERARCHICAL
    * semantics, and superProbe ≥ |supers| would collapse it to the
    * flat assign B58 already grades (AnnHierApiSpec pins that
    * equivalence separately). */
  private[graft] val AnnHierSuperProbe = 1

  /** The [[AnnSuperStride]] rule over a prepped `(vec_id, e)` frame —
    * single owner shared by the graded op and its oracle's
    * `vec_id % 314` predicate. */
  private[graft] def annSuperCodebook(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % AnnSuperStride === 0)
      .select(col("vec_id").as("c_id"), col("e").as("ce"))

  /** B86 — `op_ann_hier`: the incremental ANN probe under the
    * HIERARCHICAL (two-level) coarse assign — the documented
    * production escape past [[ivfAssignWith]]'s broadcast ceiling
    * (K ≈ 10⁶ centroids ≈ 0.5 GB of doubles), here promoted from
    * public API (`api.Graft.annProbeHier`, r17) to a graded op so the
    * LAST approximate index path sits under the oracle hash (r19
    * verdict task 1): both sides score the ~√K super-centroids first,
    * keep their top-[[AnnHierSuperProbe]] supers, and argmax only
    * among those supers' child centroids ([[hierAssignWith]] — the
    * IVF nprobe trade one level up). Same split, child codebook,
    * candidate geometry, and output schema as B58
    * (`(batch_id, rank, hist_id, score)`), so the approximation cost
    * is directly measurable: AnnHierApiSpec's recall-vs-flat contract
    * pins the measured floor, and identical re-posts still co-locate
    * at ANY superProbe (both sides share the assignment rule), so the
    * incremental-dedup use stays exact — the same two-contract
    * pattern as B83's recall-vs-exact.
    *
    * Scale shape: the super scoring and the child argmax are BOTH
    * broadcast map-side passes (√K-row and K-row build sides; the
    * child→super map is codebook-sized and computed once); the probe
    * is B58's cell-keyed shuffle join where only the batch moves.
    * Assign work drops from N×K to N×(√K + S·√K) — the difference
    * between a 0.5 GB broadcast per executor and a 0.5 MB one at
    * K = 10⁶. */
  def annHier(sp: SparkSession, dir: String): DataFrame = {
    // persisted (r21): the prepped frame feeds the child + super
    // codebooks, both split arms, and both hierarchical assigns (whose
    // broadcast sides nest further codebook evaluations) — the r21
    // ScanCount census measured FIFTEEN embeddings scans per execution
    // collapsing to one cached compute. Corpus-embedding-sized (the
    // graded op builds its index inline; a deployment probes a stored
    // one).
    val emb = Tables.embeddings(sp, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
      .persist()
    val (history, batch, cents) = annSplit(emb)
    annProbeHierWith(history, batch, cents, annSuperCodebook(emb),
      AnnHierSuperProbe, topK = 3)
      .transform(OpQuery.gradedSort("batch_id", "rank"))
  }

  /** The graded op's history/batch/codebook split over a prepped
    * `(vec_id, e)` embeddings frame — SINGLE owner shared with
    * tools.AnnHierProbe so the scale evidence (PLANS.md r15, r16) can
    * never drift onto a different workload than the op it describes. History = orig
    * vec_id % 4 == 0 (re-keyed 2·id); batch = the rest plus planted
    * re-posts (% 8, 2·id+1); codebook = [[annCodebook]]'s
    * corpus-scaled centroids. */
  private[graft] def annSplit(emb: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val cents = annCodebook(emb)
    val history = emb.filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") * 2).as("vec_id"), col("e"))
    val batch = emb.filter(col("vec_id") % 4 =!= 0)
      .select((col("vec_id") * 2).as("vec_id"), col("e"))
      .union(emb.filter(col("vec_id") % 8 === 0)
        .select((col("vec_id") * 2 + 1).as("vec_id"), col("e")))
    (history, batch, cents)
  }

  /** Generic cell-probe core behind [[annIncremental]] and
    * `api.Graft.annProbe`: assign both sides against ONE explicit
    * codebook `cents(c_id, ce)`, score each batch vector against its
    * cell's history members only, keep the exact-cosine top-`topK`
    * (rank ties to the lower hist_id, score rounded to 4). Per-probe
    * work is |history|/K, so K must scale with the corpus for the
    * probe to stay sub-quadratic — the graded op's [[annCodebook]]
    * does so by construction (every-Nth selection, K ≈ |corpus|/157);
    * the public API takes a caller-trained codebook sized to the
    * data. */
  private[graft] def annProbeWith(history: DataFrame, batch: DataFrame,
      cents: DataFrame, topK: Int): DataFrame =
    probeAssigned(ivfAssignWith(history, cents), ivfAssignWith(batch, cents), topK)

  /** [[annProbeWith]] with the HIERARCHICAL assign on both sides —
    * the >broadcast-ceiling form behind `api.Graft.annProbeHier`.
    * Identical re-posts co-locate under ANY `superProbe` (both sides
    * share whichever assignment rule is in force), so the incremental-
    * dedup contract survives the approximation. */
  private[graft] def annProbeHierWith(history: DataFrame, batch: DataFrame,
      cents: DataFrame, supers: DataFrame, superProbe: Int,
      topK: Int): DataFrame =
    probeAssigned(hierAssignWith(history, cents, supers, superProbe),
      hierAssignWith(batch, cents, supers, superProbe), topK)

  /** The cell-probe core over two pre-assigned `(vec_id, e, cell)`
    * sides — single owner of the score/rank/tie rules for the flat
    * and hierarchical probes (tools.AnnHierProbe measures through the
    * same core). Unsorted: the graded builders apply
    * [[OpQuery.gradedSort]]. */
  private[graft] def probeAssigned(assignH: DataFrame, assignB: DataFrame,
      topK: Int): DataFrame = {
    val histIdx = assignH
      .select(col("cell"), col("vec_id").as("hist_id"), col("e").as("he"))
    val probe = assignB
      .select(col("cell"), col("vec_id").as("batch_id"), col("e").as("be"))
    val w = Window.partitionBy("batch_id").orderBy(col("score").desc, col("hist_id").asc)
    probe.join(histIdx, Seq("cell"))
      // + 0.0: the r16 negative-zero convention — ADC scores (B83) can
      // round to zero FROM BELOW, and DuckDB keeps the -0.0 the hash
      // distinguishes; (-0.0)+0.0 = +0.0, identity elsewhere
      .withColumn("score", round(cosine(col("be"), col("he")), 4) + lit(0.0))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("batch_id"), col("rank"), col("hist_id"), col("score"))
  }

  // ---- B60: SemDeDup — cluster-scoped semantic dedup -----------------------

  /** Semantic-dup confirmation threshold — deliberately BELOW the
    * near-dup family's 0.995: SemDeDup prunes *semantically redundant*
    * documents (paraphrases, templated rewrites), not just byte-level
    * near-copies, so the cosine bar sits where the B27 planted
    * perturbations still qualify but the rule is visibly a different
    * contract than near-dup. */
  private[graft] val SemDedupTau = 0.97

  /** B60 — `op_semdedup`: cluster-scoped SEMANTIC dedup (the SemDeDup
    * recipe, Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
    * embedding space, then look for high-cosine pairs ONLY within each
    * cluster — the cluster structure bounds the pairwise expansion the
    * way LSH bands do for near-dup, but with a data-dependent Voronoi
    * partition instead of random hyperplanes, so lower-threshold
    * semantic duplicates that straddle sign-LSH buckets are still
    * co-located. Completes the dedup family: exact (B16), minhash
    * (B17), simhash (B25), n-gram Jaccard (B26), embedding near-dup
    * (B27/B27b), semantic (B60).
    *
    * Determinism contract: the "trained" clustering is the
    * corpus-scaled [[annCodebook]] stride rule (every 157th base
    * vector is a centroid — the same declared, oracle-expressible
    * quantizer the B58 family runs; a production run substitutes real
    * k-means centroids via [[graft.api.Graft]] without changing the
    * plan shape). Keep rule: within a cell, every pair a<b with
    * rounded cosine ≥ [[SemDedupTau]] drops b; a dropped vector's
    * `rep` is its LOWEST-id qualifying neighbor (the direct-neighbor
    * variant — transitive-closure grouping is B17b's contract), kept
    * vectors are their own rep. Output = one row per corpus vector
    * with (cell, rep, kept): the pruned corpus is `WHERE kept`.
    * Known recall limit (inherent to cluster-scoped dedup and named
    * in the paper): a dup pair whose members assign to DIFFERENT
    * cells is never compared — measured 2/100 planted pairs at
    * sf0.001 (SemDedupSpec pins the bound); the near-dup ops (B27b
    * banding) remain the high-recall path for byte-level copies.
    *
    * Scale shape: K grows with the corpus (stride rule) so mean cell
    * occupancy is CONSTANT ≈ stride — per-cell pairwise work is
    * O(occupancy²) = O(1) and total work is LINEAR in the corpus;
    * [[cappedBucketPairs]]'s rank cap bounds the degenerate
    * all-identical-embeddings cell exactly as in B27. The assign is
    * broadcast map-side (see [[annIncremental]] for the K ceiling and
    * the demonstrated hierarchical escape); the pair expansion and the
    * rep aggregation shuffle only (id, id, cos) triples; the final
    * left join is corpus-sized on the unique vec_id key. */
  def semDedup(sp: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(sp, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    // persisted (r21): `assigned` feeds the pair expansion and the
    // final rep join — unpersisted, each consumer re-ran the corpus
    // prep + codebook + assign (6 embeddings scans per execution → 3,
    // the one assign build; ScanCount census). (vec_id, e, cell)-sized.
    val assigned = ivfAssignWith(embeddingCorpus(sp, dir), annCodebook(emb))
      .persist()
    val drops = cappedBucketPairs(assigned, Seq("cell"), TrainingData.MaxBucketVecs)
      .filter(col("cos") >= SemDedupTau)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("nbr"))
    assigned.select("vec_id", "cell")
      .join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("nbr"), col("vec_id")).as("rep"),
        col("nbr").isNull.as("kept"))
      .transform(OpQuery.gradedSort("vec_id"))
  }

  // ---- B61: sliding-window token chunking ----------------------------------

  /** Chunk window (tokens) for B61. */
  private[graft] val ChunkWindow = 16

  /** Chunk stride for B61 — stride < window gives the fixed overlap
    * (window − stride = 4 tokens) every retrieval / training-sequence
    * pipeline wants so no span is split across a chunk boundary
    * without also appearing whole in a neighbor. */
  private[graft] val ChunkStride = 12

  /** B61 — `op_chunk_sliding`: sliding-window token chunking, the
    * document → training-sequence / retrieval-unit splitter every LLM
    * data pipeline runs between cleaning and packing (B38 packs
    * whole docs into budgets; B61 splits docs into overlapping
    * fixed-width units first — RAG indexing and long-doc pretraining
    * both need it). Tokens are the non-empty whitespace split (the
    * engine's declared tokenizer, same as B35/B46); chunk `i` covers
    * tokens `[i·stride+1, i·stride+window]`, `n_chunks =
    * ceil(n_tok/stride)` so every token appears in ≥ 1 chunk and
    * interior tokens in ⌊window/stride⌋ or ⌈window/stride⌉ chunks
    * (exactly window/stride when stride divides window; with the
    * graded 16/12 a token's position mod 12 decides 1 vs 2).
    *
    * Scale shape: pure map-side — tokenize, one bounded `sequence`
    * explode per doc (fan-out ≈ n_tok/stride rows, each
    * window-bounded), no shuffle at all until the graded ORDER BY
    * (which a production pipeline drops). Row count is
    * corpus-token-linear with constant ~4/3 overlap factor; nothing
    * is driver-side and nothing is quadratic at any corpus size. */
  def chunkSliding(sp: SparkSession, dir: String): DataFrame =
    chunkWith(docs(sp, dir), ChunkWindow, ChunkStride)
      .transform(OpQuery.gradedSort("doc_id", "chunk_id"))

  /** Core behind [[chunkSliding]] and `api.Graft.chunkDocuments`: the
    * same plan with caller-sized window/stride over any
    * `corpus(doc_id, text)` (extra columns ignored), WITHOUT the
    * graded total sort — a production pipeline chunks map-side and
    * never globally orders the result. */
  private[graft] def chunkWith(corpus: DataFrame,
      window: Int, stride: Int): DataFrame = {
    val toks = corpus
      .select(col("doc_id"), filter(split(col("text"), " "), t => t =!= "").as("ts"))
      .withColumn("n_tok", size(col("ts")))
      .filter(col("n_tok") >= 1)
    toks
      .withColumn("n_chunks",
        ceil(col("n_tok").cast("double") / stride).cast("int"))
      .select(col("doc_id"), col("ts"), col("n_chunks"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"))
      .withColumn("ck",
        slice(col("ts"), col("chunk_id") * stride + 1, lit(window)))
      .select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
        col("n_chunks"),
        (col("chunk_id") * stride).cast("int").as("start_tok"),
        size(col("ck")).as("chunk_len"),
        array_join(col("ck"), " ").as("chunk"))
  }

  // ---- B81: content-defined chunking ----------------------------------------

  /** CDC geometry: k-byte fingerprint windows, boundary when the
    * window's rolling hash ≡ [[CdcRem]] mod [[CdcDivisor]] — expected
    * chunk size ≈ divisor bytes. Declared rule (oracle-identical);
    * production min/max chunk clamps are caller knobs on the API. */
  private[graft] val CdcGram = 8
  private[graft] val CdcDivisor = 64
  private[graft] val CdcRem = 0

  /** B81 — `op_chunk_cdc`: CONTENT-DEFINED chunking — the fingerprint-
    * boundary rule of Manber 1994 ("Finding similar files in a large
    * file system", USENIX; the ancestor of Rabin/FastCDC chunking used
    * for block-level dedup and shift-resistant document segmentation).
    * B61 cuts at fixed token offsets, so ONE inserted byte shifts
    * every later chunk and defeats block dedup; CDC cuts where the
    * CONTENT says so — after every k-byte window whose [[RollingHash]]
    * ≡ r (mod D) — so an edit perturbs only the chunks it touches and
    * identical regions of different documents chunk identically (the
    * property block-level dedup needs). Output: one row per chunk —
    * `(doc_id, chunk_id, start, chunk_len, chunk_md5)`, offsets
    * 0-based end-exclusive, `chunk_md5` the engine-portable block key
    * a dedup pass groups on. Docs shorter than k are one whole chunk;
    * a boundary at the exact text end would create an empty tail
    * chunk, which is dropped.
    *
    * Scale shape: pure map-side — the [[graft.plans.CdcCuts]] kernel
    * emits each doc's cut offsets in one codegen'd byte pass (the
    * WinnowSelect discipline: no interpreted per-position HOFs), and
    * the chunk expansion folds over the SMALL cuts array (per-chunk,
    * not per-byte). No shuffle before the graded total sort (dropped
    * in production); corpus-byte-linear at any scale. */
  def chunkCdc(sp: SparkSession, dir: String): DataFrame =
    chunkCdcWith(chunkCdcCorpus(sp, dir), CdcGram, CdcDivisor, CdcRem)
      .transform(OpQuery.gradedSort("doc_id", "chunk_id"))

  /** The B81 graded corpus: originals (2·id) plus, for id % 25 = 3, a
    * UNICODE-wrapped variant (2·id+1) — multi-byte text in the graded
    * corpus itself (r19 verdict task 3), so the codepoint-unit
    * contract (cut offsets, window, hash, md5 of the char slice) sits
    * under the oracle hash permanently, not only under specs. The
    * wrapper mixes 2-byte Latin, 3-byte CJK, and 2-byte Greek around
    * the ASCII body; odd/even re-keying per the collision-safety
    * rule. */
  private[graft] def chunkCdcCorpus(sp: SparkSession, dir: String): DataFrame = {
    val base = docs(sp, dir)
    base.select((col("doc_id") * 2).as("doc_id"), col("text"))
      .union(base.filter(col("doc_id") % 25 === 3)
        .select((col("doc_id") * 2 + 1).as("doc_id"),
          concat(lit("Üñíçødé → "), col("text"), lit(" — 中文 κείμενο"))
            .as("text")))
  }

  /** Core behind [[chunkCdc]] and `api.Graft.chunkContentDefined`:
    * caller-sized geometry over any `corpus(doc_id, text)`, without
    * the graded sort. `withText = true` additionally emits the chunk's
    * character slice as `chunk_txt` (the rewrite consumers need the
    * bytes back; the census-only consumers keep the narrow frame). */
  private[graft] def chunkCdcWith(corpus: DataFrame, k: Int,
      divisor: Int, rem: Int, withText: Boolean = false): DataFrame = {
    val bounds = corpus
      .withColumn("cuts", graft.plans.CdcCuts.cdcCuts(col("text"), k, divisor, rem))
      .withColumn("bs", concat(array(lit(0)),
        col("cuts"), array(length(col("text")))))
    val sliced = bounds
      .select(col("doc_id"), col("text"),
        posexplode(transform(sequence(lit(0), size(col("bs")) - 2),
          q => struct(element_at(col("bs"), q + 1).as("start"),
            (element_at(col("bs"), q + 2) - element_at(col("bs"), q + 1))
              .as("clen")))))
      .filter(col("col.clen") > 0)
    val base = Seq(col("doc_id"), col("pos").cast("int").as("chunk_id"),
      col("col.start").as("start"), col("col.clen").as("chunk_len"),
      md5(substring(col("text"), col("col.start") + 1, col("col.clen")))
        .as("chunk_md5"))
    val cols = if (withText)
      base :+ substring(col("text"), col("col.start") + 1, col("col.clen"))
        .as("chunk_txt")
    else base
    sliced.select(cols: _*)
  }

  /** B82 — `op_dedup_blocks`: BLOCK-LEVEL dedup over B81's
    * content-defined chunks — the payoff CDC chunking exists for in
    * storage/dedup systems (Manber 1994 §3; the block-store idea
    * behind LBFS/Venti-style dedup): group chunks by `chunk_md5`, call
    * a block duplicated when it appears in ≥ 2 DISTINCT documents, and
    * roll up per doc the duplicated-length ratio + a ≥-half flag.
    * This is the byte-level analog of B62 (token grams) and B70
    * (lines): because the chunk boundaries are content-defined, a
    * verbatim region shared under an INSERTION-shifted wrapper still
    * yields identical block keys (the planted corpus is exactly that —
    * originals re-keyed 2·id, plus for id % 5 = 0 a copy at 2·id+1
    * with an injected preamble that shifts every byte offset), which
    * fixed 100-char blocks (B31) and fixed-stride chunks (B61) both
    * miss. Within-doc repeats alone do NOT count (the B62 "appears in
    * some OTHER document" contract): the block census counts DISTINCT
    * docs per key.
    *
    * Scale shape: chunking is the B81 map-side kernel pass; the block
    * census is one `(chunk_md5, doc_id)`-distinct shuffle collapsed to
    * key-sized groups with map-side partials (the B16/B70 digest-keyed
    * discipline — never pairs, so a 100-copy degenerate corpus grows a
    * key's group linearly, not quadratically); the join-back is a
    * left-semi on the same key, re-using the exchange, and the per-doc
    * rollup partitions by doc. A corpus-wide boilerplate block makes
    * one hot key on the semi-join's streamed side — the AQE skew-split
    * geometry already certified for B70's join-back
    * (tools.DedupLinesHotKeyProbe). */
  def dedupBlocks(sp: SparkSession, dir: String): DataFrame = {
    val base = docs(sp, dir)
    val corpus = base.select((col("doc_id") * 2).as("doc_id"), col("text"))
      .union(base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"),
          concat(lit("injected preamble sentence "), col("text")).as("text")))
    blockDedupManaged(chunkCdcWith(corpus, CdcGram, CdcDivisor, CdcRem))._1
      .transform(OpQuery.gradedSort("doc_id"))
  }

  /** Core behind `api.Graft.dedupBlocks`: the block census + per-doc
    * rollup over ANY `chunks(doc_id, chunk_len, chunk_md5, …)` frame
    * (extra columns ignored) — compose with [[chunkCdcWith]] /
    * `api.Graft.chunkContentDefined`, or feed externally stored chunk
    * manifests. Returns the result plus the release handle for the
    * persisted chunk frame (the chunk kernel pass is the dominant cost
    * and has two consumers — the per-doc totals and the census
    * semi-join). */
  private[graft] def blockDedupManaged(chunks: DataFrame): (DataFrame, () => Unit) = {
    val ch = chunks.select(col("doc_id"), col("chunk_len"), col("chunk_md5"))
      .persist()
    // DISTINCT docs per block key: the pre-aggregate on the distinct
    // pair dodges countDistinct's Expand (the standing gotcha) and is
    // itself the map-side-combined heavy step
    val shared = ch.select(col("chunk_md5"), col("doc_id")).distinct()
      .groupBy("chunk_md5").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
    val tot = ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"),
      sum(col("chunk_len")).as("total_len"))
    val dup = ch.join(shared.select("chunk_md5"), Seq("chunk_md5"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_chunks"),
        sum(col("chunk_len")).as("dup_len"))
    val result = tot.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_chunks").cast("int").as("n_chunks"),
        col("total_len").cast("int").as("total_len"),
        coalesce(col("n_dup_chunks"), lit(0L)).cast("int").as("n_dup_chunks"),
        coalesce(col("dup_len"), lit(0L)).cast("int").as("dup_len"),
        (coalesce(col("dup_len"), lit(0L)).cast("double") / col("total_len"))
          .as("dup_ratio"),
        (coalesce(col("dup_len"), lit(0L)) * 2 >= col("total_len")).as("flagged"))
    (result, () => { ch.unpersist(); () })
  }

  /** Salt fan-out for the rewrite's owner join-back (the B70
    * [[graft.operators.Curation.LineSalts]] device): a corpus-wide
    * boilerplate block is one hot `chunk_md5` key whose probe rows
    * would otherwise land on a single reducer; the owner side is one
    * row per duplicated key, so its salts× explode is the cheapest
    * frame in the plan. */
  private[graft] val BlockSalts = 8

  /** B82b — `op_dedup_blocks_rewrite`: the REWRITE leg of block-level
    * dedup — where B82 flags, this TRANSFORMS (the B70 rewrite
    * pattern at byte granularity): every block key appearing in ≥ 2
    * DISTINCT documents is kept only in its canonical OWNER document
    * (the minimum doc_id containing that `chunk_md5` — the
    * store-each-unique-block-once rule of LBFS/Venti-style dedup
    * stores, Manber 1994 §3) and removed from every other document;
    * each document is re-emitted as the in-order concatenation of its
    * surviving chunks. This differs from B70's line scrub
    * deliberately: RefinedWeb-style boilerplate removal deletes every
    * occurrence (the line is noise), while block-level dedup
    * PRESERVES one canonical copy (the region is content some doc
    * legitimately owns — the earliest), which is what a training
    * pipeline wants for shifted verbatim re-posts: the original stays
    * intact, the re-posts shrink to their novel wrapper. Planted
    * corpus = B82's (originals 2·id ∪ id % 5 = 0 copies at 2·id+1
    * behind an injected preamble): originals out-rank their copies
    * (2·id < 2·id+1), so every original must survive untouched and
    * every copy must lose exactly its shared region, keeping the
    * preamble splice. Within-doc repeats of a non-shared block have
    * one distinct doc — never removed (the B62/B82 "some OTHER
    * document" contract).
    *
    * Scale shape: the chunk pass is the B81 map-side kernel (cached
    * once — the census and the rollup both read it); the owner census
    * is the same `(chunk_md5, doc_id)`-distinct shuffle as B82
    * collapsed to key-sized `(key, min-doc)` rows with map-side
    * partials; the join-back is [[graft.operators.Skew]]'s salted
    * join on the block key ([[BlockSalts]]× spread — the plan-time
    * hot-key device certified for B70's identical geometry, since AQE
    * cannot split a join whose build side aggregates between exchange
    * and join); the rebuild is one doc-keyed rollup whose
    * `collect_list` is per-doc bounded (a doc's own chunks). Nothing
    * is pairwise, nothing corpus-sized reaches the driver. */
  def dedupBlocksRewrite(sp: SparkSession, dir: String): DataFrame = {
    val base = docs(sp, dir)
    val corpus = base.select((col("doc_id") * 2).as("doc_id"), col("text"))
      .union(base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"),
          concat(lit("injected preamble sentence "), col("text")).as("text")))
    blockRewriteManaged(
        chunkCdcWith(corpus, CdcGram, CdcDivisor, CdcRem, withText = true))._1
      .transform(OpQuery.gradedSort("doc_id"))
  }

  /** Core behind `api.Graft.dedupBlocksRewrite`: owner census +
    * rewrite over ANY `chunks(doc_id, chunk_id, chunk_len, chunk_md5,
    * chunk_txt, …)` frame (extra columns ignored) — compose with
    * [[chunkCdcWith]]`(withText = true)`. Returns the result plus the
    * release handle for the persisted chunk frame (the chunk kernel
    * pass has two consumers — the owner census and the rewrite
    * join). */
  private[graft] def blockRewriteManaged(chunks: DataFrame): (DataFrame, () => Unit) = {
    val ch = chunks.select(col("doc_id"), col("chunk_id"), col("chunk_len"),
        col("chunk_md5"), col("chunk_txt"))
      .persist()
    // owner per duplicated block: one row per key — min doc over the
    // DISTINCT (key, doc) pairs (pre-aggregated, dodging countDistinct's
    // Expand as in blockDedupManaged)
    val owners = ch.select(col("chunk_md5"), col("doc_id")).distinct()
      .groupBy("chunk_md5")
      .agg(count(lit(1)).as("nd"), min(col("doc_id")).as("owner"))
      .filter(col("nd") >= 2)
      .select(col("chunk_md5"), col("owner"))
    val marked = Skew.saltedJoin(ch, owners, Seq("chunk_md5"), BlockSalts,
        col("doc_id"), "left")
      .withColumn("removed",
        col("owner").isNotNull && col("doc_id") =!= col("owner"))
    val result = marked.groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        sum(col("removed").cast("long")).cast("int").as("n_removed"),
        sum(when(!col("removed"), col("chunk_len")).otherwise(lit(0L)))
          .cast("int").as("kept_len"),
        array_join(transform(
          array_sort(collect_list(when(!col("removed"),
            struct(col("chunk_id"), col("chunk_txt"))))),
          s => s.getField("chunk_txt")), "").as("text_clean"))
      .withColumn("kept", col("n_removed") < col("n_chunks"))
    (result, () => { ch.unpersist(); () })
  }

  /** The CDC chunking CTE chain over a caller-named corpus relation —
    * single SQL owner shared by the B81 and B82 oracles (one chunking
    * rule, two graded views; the bpeLoop/packOffsets shared-owner
    * discipline). Same windowed hash as the kernel (`q` binds the
    * inner hash lambda, `p` the outer position: nested lambdas with
    * DISTINCT variables, per the r16 shadowing rule), cut packing, and
    * chunk slicing; exposes `chunks(doc_id, chunk_id, start,
    * chunk_len, chunk_md5)`. */
  private[graft] def cdcChunkCtes(corpus: String, pfx: String = ""): String =
    s"""${pfx}c AS (
      |  SELECT doc_id, text, length(text) AS n FROM $corpus),
      |${pfx}cuts AS (
      |  SELECT doc_id, text, n,
      |    list_filter(list_transform(range(1, greatest(n - $CdcGram + 1, 0) + 1),
      |      p -> CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
      |             list_transform(range(1, $CdcGram + 1),
      |               q -> ord(substring(text, CAST(p + q - 1 AS INTEGER), 1)))),
      |             (a, b) -> (a * 31 + b) % 1000000007) % $CdcDivisor = $CdcRem
      |           THEN p + $CdcGram - 1 ELSE NULL END), x -> x IS NOT NULL) AS cl
      |  FROM ${pfx}c),
      |${pfx}b AS (
      |  SELECT doc_id, text, list_concat(list_concat([0], cl), [n]) AS bs
      |  FROM ${pfx}cuts),
      |${pfx}ch AS (
      |  SELECT doc_id, CAST(u.q AS INTEGER) AS chunk_id,
      |    CAST(bs[CAST(u.q + 1 AS INTEGER)] AS INTEGER) AS start,
      |    CAST(bs[CAST(u.q + 2 AS INTEGER)] - bs[CAST(u.q + 1 AS INTEGER)] AS INTEGER) AS chunk_len,
      |    md5(substring(text, CAST(bs[CAST(u.q + 1 AS INTEGER)] + 1 AS INTEGER),
      |      CAST(bs[CAST(u.q + 2 AS INTEGER)] - bs[CAST(u.q + 1 AS INTEGER)] AS INTEGER))) AS chunk_md5
      |  FROM ${pfx}b, unnest(range(0, len(bs) - 1)) AS u(q)),
      |${pfx}chunks AS (
      |  SELECT doc_id, chunk_id, start, chunk_len, chunk_md5
      |  FROM ${pfx}ch WHERE chunk_len > 0)""".stripMargin

  /** B81 oracle — the shared chunking chain over the graded corpus
    * (originals ∪ unicode-wrapped variants; see [[chunkCdcCorpus]]). */
  private[graft] val ChunkCdcSql: String =
    s"""WITH corpus AS (
      |  SELECT doc_id * 2 AS doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id * 2 + 1, 'Üñíçødé → ' || text || ' — 中文 κείμενο'
      |  FROM documents WHERE doc_id % 25 = 3),
      |${cdcChunkCtes("corpus")}
      |SELECT doc_id, chunk_id, start, chunk_len, chunk_md5
      |FROM chunks
      |ORDER BY doc_id, chunk_id""".stripMargin

  /** B82 oracle — the same chunking chain over the planted shifted-copy
    * corpus, then the block-level rollup (≥ 2 DISTINCT docs per
    * `chunk_md5` ⇒ duplicated block; per-doc duplicated-length ratio,
    * flagged at ≥ half). */
  private[graft] val DedupBlocksSql: String =
    s"""WITH corpus AS (
      |  SELECT doc_id * 2 AS doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id * 2 + 1, 'injected preamble sentence ' || text
      |  FROM documents WHERE doc_id % 5 = 0),
      |${cdcChunkCtes("corpus")},
      |shared AS (
      |  SELECT chunk_md5 FROM (SELECT DISTINCT chunk_md5, doc_id FROM chunks)
      |  GROUP BY chunk_md5 HAVING count(*) >= 2),
      |tot AS (
      |  SELECT doc_id, count(*) AS n_chunks, sum(chunk_len) AS total_len
      |  FROM chunks GROUP BY doc_id),
      |dup AS (
      |  SELECT doc_id, count(*) AS n_dup_chunks, sum(chunk_len) AS dup_len
      |  FROM chunks WHERE chunk_md5 IN (SELECT chunk_md5 FROM shared)
      |  GROUP BY doc_id)
      |SELECT t.doc_id,
      |  CAST(t.n_chunks AS INTEGER) AS n_chunks,
      |  CAST(t.total_len AS INTEGER) AS total_len,
      |  CAST(coalesce(d.n_dup_chunks, 0) AS INTEGER) AS n_dup_chunks,
      |  CAST(coalesce(d.dup_len, 0) AS INTEGER) AS dup_len,
      |  CAST(coalesce(d.dup_len, 0) AS DOUBLE) / t.total_len AS dup_ratio,
      |  coalesce(d.dup_len, 0) * 2 >= t.total_len AS flagged
      |FROM tot t LEFT JOIN dup d ON t.doc_id = d.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** B82b oracle — the same chunking chain + planted corpus as B82,
    * then the owner census (min doc per duplicated key) and the
    * kept-chunk rewrite (chunk text re-sliced from the corpus text by
    * char offsets; `coalesce(string_agg, '')` covers a fully-scrubbed
    * doc, where Spark's `array_join` over an empty array yields ''). */
  private[graft] val DedupBlocksRewriteSql: String =
    s"""WITH corpus AS (
      |  SELECT doc_id * 2 AS doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id * 2 + 1, 'injected preamble sentence ' || text
      |  FROM documents WHERE doc_id % 5 = 0),
      |${cdcChunkCtes("corpus")},
      |cht AS (
      |  SELECT k.doc_id, k.chunk_id, k.chunk_len, k.chunk_md5,
      |    substring(c.text, k.start + 1, k.chunk_len) AS chunk_txt
      |  FROM chunks k JOIN c ON k.doc_id = c.doc_id),
      |owners AS (
      |  SELECT chunk_md5, min(doc_id) AS owner
      |  FROM (SELECT DISTINCT chunk_md5, doc_id FROM chunks)
      |  GROUP BY chunk_md5 HAVING count(*) >= 2),
      |m AS (
      |  SELECT t.doc_id, t.chunk_id, t.chunk_len, t.chunk_txt,
      |    (o.owner IS NOT NULL AND t.doc_id <> o.owner) AS removed
      |  FROM cht t LEFT JOIN owners o ON t.chunk_md5 = o.chunk_md5)
      |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_chunks,
      |  CAST(sum(CASE WHEN removed THEN 1 ELSE 0 END) AS INTEGER) AS n_removed,
      |  CAST(sum(CASE WHEN removed THEN 0 ELSE chunk_len END) AS INTEGER)
      |    AS kept_len,
      |  coalesce(string_agg(CASE WHEN NOT removed THEN chunk_txt END, ''
      |    ORDER BY chunk_id), '') AS text_clean,
      |  sum(CASE WHEN removed THEN 1 ELSE 0 END) < count(*) AS kept
      |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- B62: exact repeated-substring dedup ---------------------------------

  /** Gram length (tokens) for B62's repeated-span detection — long
    * enough that natural language repeats it only when text was
    * actually copied (the "50-token window" idea of Lee et al. 2021
    * scaled to this corpus's ~54-token documents). */
  private[graft] val SubstrGram = 8

  /** B62 — `op_dedup_substring`: EXACT repeated-span detection
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499 — the ExactSubstr contract):
    * flag documents much of whose token stream appears verbatim in
    * some OTHER document, which byte-level exact dedup (B16) misses
    * whenever copies carry a distinct wrapper (boilerplate headers,
    * quoted reposts). Every `SubstrGram`-token window is a gram; a
    * gram occurring in ≥ 2 distinct docs is a duplicated span; a doc
    * is flagged when ≥ half its distinct grams are duplicated.
    * Planted evidence (odd/even re-keying as B17/B26): originals
    * 2·id, and every 5th doc also appears as 2·id+1 with an injected
    * 3-token preamble — a wrapper that defeats B16 but leaves every
    * interior gram shared, so both sides of each planted pair MUST
    * flag for originals of ≥ 10 tokens (this corpus's minimum is 10:
    * at 10, all 3 original grams recur in the variant's 6 — exactly
    * the half bar; an 8–9-token original would sit below it, and one
    * under 8 tokens would be absent from the output entirely while
    * its ≥ 8-token variant remains, unflagged). `dup_ratio` is a per-row IEEE division, graded raw (r16
    * rounding rule); `flagged` is the integer predicate
    * `2·n_dup ≥ n_grams` — no float ever crosses an engine boundary
    * in a comparison.
    *
    * Scale shape: grams are generated map-side (one bounded explode,
    * n_tok − k + 1 rows per doc), de-duplicated per doc, then ONE
    * shuffle keyed by gram (the suffix-array of the paper re-expressed
    * as a group-by — Spark's sort-based shuffle IS the suffix sort,
    * restricted to width-k windows); the per-doc rollup joins back
    * semi-join-gated so only grams known duplicated shuffle twice. At
    * 100 TB the gram KEY is the 8-byte rolling hash (B31's kernel)
    * instead of the token string — identical grouping, ~6× narrower
    * shuffle; the string key here keeps the oracle byte-exact. */
  def dedupSubstring(sp: SparkSession, dir: String): DataFrame = {
    val base = docs(sp, dir)
    val corpus = base.select((col("doc_id") * 2).as("doc_id"), col("text"))
      .union(base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"),
          concat(lit("injected preamble sentence "), col("text")).as("text")))
    repeatedSpansWith(corpus, SubstrGram, hashGrams = false)
      .transform(OpQuery.gradedSort("doc_id"))
  }

  /** Core behind [[dedupSubstring]] and `api.Graft.repeatedSpans`:
    * the same plan over any `corpus(doc_id, text)` with caller-sized
    * gram length. `hashGrams = true` is the production shuffle key —
    * `xxhash64` of the gram (8 bytes instead of a k-token string,
    * ~6× narrower exchange; a 64-bit birthday collision merges two
    * gram groups and perturbs the affected docs' counts by ±1 per
    * colliding pair — either direction — at ~10⁻⁷ of groups even at
    * 10¹² grams); `false` keeps the string key the byte-exact DuckDB
    * oracle grades. */
  private[graft] def repeatedSpansWith(corpus: DataFrame, k: Int,
      hashGrams: Boolean): DataFrame =
    repeatedSpansManaged(corpus, k, hashGrams)._1

  /** [[repeatedSpansWith]] plus the release handle for the persisted
    * distinct-gram frame. The gram build (the codegen'd
    * [[graft.plans.WordGrams]] window kernel since r21) and its dedup
    * shuffle have THREE consumers (the shared-gram counts, the
    * per-doc totals, the semi-join); persisting runs them once
    * (r18 — the minhash_est/B46 precedent; the graded path drops the
    * handle, `api.Graft.repeatedSpans` wires the listener). */
  private[graft] def repeatedSpansManaged(corpus: DataFrame, k: Int,
      hashGrams: Boolean): (DataFrame, () => Unit) = {
    // r21: the gram windows come from the codegen'd WordGrams kernel
    // (one pass over the UTF-8 bytes) instead of a
    // transform/slice/array_join HOF fold — HOF lambdas are
    // CodegenFallback and copy the token array per window, and this
    // build was the op's measured dominant cost. Byte-identical
    // output by WordGramsSpec's pinned semantics: split on single
    // spaces dropping empties, < k tokens ⇒ no gram rows (the old
    // size(ts) >= k filter), windows joined by single spaces.
    val grams0 = corpus.select(col("doc_id"),
      explode(graft.plans.WordGrams.grams(col("text"), k)).as("g"))
    val grams =
      (if (hashGrams) grams0.select(col("doc_id"), xxhash64(col("g")).as("g"))
       else grams0).distinct().persist()
    val shared = grams.groupBy("g").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2)
    val ng = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val nd = grams.join(shared.select("g"), Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    val result = ng.join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_grams").cast("int").as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).cast("int").as("n_dup"),
        (coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_grams"))
          .as("dup_ratio"),
        (coalesce(col("n_dup"), lit(0L)) * 2 >= col("n_grams")).as("flagged"))
    (result, () => { grams.unpersist(); () })
  }

  def similarityIvf(sp: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(sp, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    // persisted (r21): `assigned` feeds the query slice and the scored
    // probe — unpersisted, each re-ran the prep + codebook + assign
    // (4 embeddings scans per execution → 2; ScanCount census; the
    // annLegsRanked precedent)
    val assigned = ivfAssign(emb).persist()
    val queries = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("cell").as("qcell"))
    val scored = assigned.join(broadcast(queries),
        col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .withColumn("score", cosine(col("qe"), col("e")))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("rank"), col("vec_id"), col("score"))
      .transform(OpQuery.gradedSort("q_id", "rank"))
  }

  // ---- B51: ANN recall contract --------------------------------------------

  /** B51 — `op_ann_recall`: measured recall@3 of each approximate
    * index — LSH buckets (B28), IVF cells (B28b), and PQ codes (B28c,
    * scored by ADC: the query's EXACT sub-vectors against the corpus
    * side's RECONSTRUCTED code words, `dot(q, recon) /
    * (|q|·|recon|)` accumulated per block) — against the exact
    * brute-force top-3 (B18's kernel), per query. This is the contract
    * that keeps an approximate index honest ("measure, don't guess"):
    * an index rebuild that silently collapses recall fails the oracle
    * hash instead of shipping. 3 methods × 10 queries = 30 graded rows.
    *
    * Scale shape: the exact side is the documented small-query-set
    * baseline (10 broadcast query rows — the op_similarity_topk
    * pattern); the LSH side probes buckets only; the PQ/ADC side scans
    * CODES (8 small doubles per block joined from a broadcast
    * codebook), never the original vectors — exactly why IVF-PQ is the
    * deployable 100 TB layout. The graded artifact is
    * query-count-sized. At 100 TB recall is estimated over a SAMPLED
    * query set with this same plan — recall estimation never needs
    * every query, only an unbiased panel. */
  /** The four ranked probe legs over the gate corpus — exact top-3
    * plus the three index methods' top-3 WITH per-method ranks; the
    * single owner shared by B51 (`annRecall`, which drops the ranks
    * into hit sets) and B89 (`rankFusion`, which fuses them). Returns
    * `(exact(q_id, vec_id, rank), methods(method, q_id, vec_id,
    * rank))`. */
  private[graft] def annLegsRanked(sp: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // all four probe branches (exact, lsh, ivf, pq) scan the same
    // cast+bucketed corpus, and without a cache each branch re-runs
    // the parquet scan, the double cast, and the 8-plane bucket kernel
    // (the r8 +8% drift was exactly this recompute, x5). The cache is
    // plan-keyed, so repeated runs reuse one entry; at 100 TB the
    // recall contract runs over a SAMPLED query panel against STORED
    // indexes — the graded full-corpus cache is a bench-SF shape only.
    val emb = Tables.embeddings(sp, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("bk", bucketOf(col("e")))
      .cache()
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("bk").as("qbk"))
    val w = Window.partitionBy("q_id").orderBy(col("score").desc, col("vec_id").asc)
    val exact = emb
      .join(broadcast(queries.select(col("q_id"), col("qe"))), col("vec_id") =!= col("q_id"))
      .withColumn("score", cosine(col("qe"), col("e")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("q_id"), col("vec_id"), col("rank"))
    val lsh = emb
      .join(broadcast(queries), col("bk") === col("qbk") && col("vec_id") =!= col("q_id"))
      .withColumn("score", cosine(col("qe"), col("e")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(lit("lsh").as("method"), col("q_id"), col("vec_id"), col("rank"))
    // cell assignment (broadcast-join + per-vector argmax window) is
    // consumed by both the ivf corpus side and its query slice — cache
    // it once rather than running the window pass twice
    val assigned = ivfAssign(emb.select(col("vec_id"), col("e"))).cache()
    val qIvf = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("cell").as("qcell"))
    val ivf = assigned
      .join(broadcast(qIvf), col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .withColumn("score", cosine(col("qe"), col("e")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(lit("ivf").as("method"), col("q_id"), col("vec_id"), col("rank"))
    // pq: the B28c code assignment (L2 argmin per 8-dim block against
    // the broadcast codebook), then ADC scoring of exact query slices
    // against the reconstructed blocks; round-4 before ranking so the
    // DuckDB oracle's rounded ordering is the same ordering. The
    // argmin is a min_by AGGREGATION (the r10 IVF treatment): map-side
    // partials mean at most N×blocks rows cross the wire, vs the
    // window shuffling and sorting all N×blocks×k scored rows. The
    // (d2, c_id) ordering struct is UNIQUE per group, so min_by's
    // tie-break indeterminacy never applies (ties on d2 fall to the
    // lower c_id, identical to the old window's ordering).
    // train from the CACHED emb frame (r21): the pre-r21 code prepped
    // a fresh frame so its canonical plan could key the (since
    // removed) codebook memo — without the memo that just re-scanned
    // the parquet for init + every Lloyd pass. The projection drops
    // the bucket column; training reads the one cached corpus copy.
    val cents4 = pqCodebook(emb.select(col("vec_id"), col("e")))
    val coded = emb
      .select(col("vec_id"), col("e"), explode(sequence(lit(0), lit(7))).as("b"))
      .withColumn("sub", slice(col("e"), col("b") * 8 + 1, lit(8)))
      .join(broadcast(cents4), Seq("b"))
      .withColumn("d2", aggregate(zip_with(col("sub"), col("csub"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v))
      .groupBy("vec_id", "b")
      .agg(min_by(col("csub"), struct(col("d2"), col("c_id"))).as("csub"))
    val qpq = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("e").as("qe"))
    val pq = coded.join(broadcast(qpq), col("vec_id") =!= col("q_id"))
      .withColumn("qsub", slice(col("qe"), col("b") * 8 + 1, lit(8)))
      .withColumn("pdot", aggregate(zip_with(col("qsub"), col("csub"),
        (x, y) => x * y), lit(0.0), (acc, v) => acc + v))
      .withColumn("pn2", aggregate(col("csub"), lit(0.0), (acc, v) => acc + v * v))
      .withColumn("qn2", aggregate(col("qsub"), lit(0.0), (acc, v) => acc + v * v))
      .groupBy("q_id", "vec_id")
      .agg(sum("pdot").as("dot"), sum("pn2").as("rn2"), sum("qn2").as("qn2"))
      .withColumn("score", round(col("dot") / (sqrt(col("qn2")) * sqrt(col("rn2"))), 4))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(lit("pq").as("method"), col("q_id"), col("vec_id"), col("rank"))
    (exact, lsh.union(ivf).union(pq))
  }

  def annRecall(sp: SparkSession, dir: String): DataFrame = {
    val (exact, methods) = annLegsRanked(sp, dir)
    val hits = methods.select("method", "q_id", "vec_id").withColumn("hit", lit(1))
    exact.select("q_id", "vec_id")
      .withColumn("method", explode(array(lit("ivf"), lit("lsh"), lit("pq"))))
      .join(hits, Seq("method", "q_id", "vec_id"), "left")
      .groupBy("method", "q_id")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn("recall", round(col("n_hit") / col("n_exact"), 4))
      .transform(OpQuery.gradedSort("method", "q_id"))
  }

  /** B89 RRF constants: the standard k = 60 (Cormack, Clarke &
    * Buettcher 2009, "Reciprocal rank fusion outperforms Condorcet and
    * individual rank learning methods", SIGIR), and the exact-integer
    * scale M = 61·62·63 — each rank-r hit contributes M/(60+r), an
    * EXACT integer for r ∈ {1,2,3}, so fused scores are integer sums
    * and no float ever crosses the engine boundary (the B84 coin
    * discipline applied to ranking). */
  private[graft] val RrfK = 60
  private[graft] val RrfM: Long = 61L * 62L * 63L

  /** B89 — `op_rank_fusion`: reciprocal-rank fusion of the three
    * approximate index rankings (lsh, ivf, pq) into one hybrid top-3
    * per query — the standard consensus step of hybrid retrieval
    * (sparse + dense rankers fused by RRF; here the engine's three
    * dense indexes stand in as the ranker panel, so the op grades the
    * FUSION algebra on rankings whose own correctness B51 already
    * grades). Score(v) = Σ over methods ranking v in their top-3 of
    * M/(k + rank) — integer-exact (see [[RrfM]]); ties break to the
    * lower vec_id; `n_methods` counts the consensus breadth and
    * `in_exact` marks whether the fused pick is in the TRUE top-3
    * (the B51 "measure, don't guess" contract carried to fusion).
    * Measured honestly: on this corpus fusion lands BETWEEN the best
    * single index and the ranker average (0.37 fused vs ivf 0.57 /
    * pq 0.10 / lsh 0.00 at sf0.01) — RRF's consensus assumes
    * comparably-informative rankers, and two of these three are weak
    * at gate SF, so the spec pins the claim RRF actually makes
    * (fused ≥ the MEAN of its input rankers, Cormack et al. §3) plus
    * the exact integer algebra, never "fusion beats the best".
    *
    * Scale shape: the legs are B51's plans (shared single owner —
    * one cached corpus scan feeds all branches); the fusion itself
    * aggregates ≤ 3·|methods| rows per query with map-side partials
    * and windows per query — candidate-panel-sized, independent of
    * the corpus. */
  def rankFusion(sp: SparkSession, dir: String): DataFrame = {
    val (exact, methods) = annLegsRanked(sp, dir)
    val contrib = when(col("rank") === 1, lit(RrfM / (RrfK + 1)))
      .when(col("rank") === 2, lit(RrfM / (RrfK + 2)))
      .otherwise(lit(RrfM / (RrfK + 3)))
    val w2 = Window.partitionBy("q_id")
      .orderBy(col("rrf").desc, col("vec_id").asc)
    methods
      .withColumn("contrib", contrib)
      .groupBy("q_id", "vec_id")
      .agg(sum("contrib").as("rrf"), count(lit(1)).as("n_methods"))
      .withColumn("f_rank", row_number().over(w2)).filter(col("f_rank") <= 3)
      .join(exact.select(col("q_id"), col("vec_id"), lit(true).as("in_exact")),
        Seq("q_id", "vec_id"), "left")
      .select(col("q_id"), col("f_rank").cast("int").as("f_rank"), col("vec_id"),
        col("rrf").cast("long").as("rrf"),
        col("n_methods").cast("int").as("n_methods"),
        coalesce(col("in_exact"), lit(false)).as("in_exact"))
      .transform(OpQuery.gradedSort("q_id", "f_rank"))
  }

  // ---- B28c: product quantization ------------------------------------------

  /** Product quantization — the standard 100 TB embedding-compression
    * layout (IVF-PQ): each 64-dim vector splits into 8 contiguous
    * 8-dim blocks, each block coded as its nearest of 4 codebook
    * entries ([[pqCodebook]] — per-block Lloyd-TRAINED centroids
    * since r20, mirrored step-for-step by the oracle's shared
    * [[PqCodebookCtes]] chain). Output: the 8-digit code word
    * (64 dims → 8 bytes, an 8× compression at k=4 / 256× at k=256
    * with the identical plan) and the reconstruction MSE the code
    * implies. Argmin uses RAW distances (rounding could flip a
    * near-tie vs the oracle's unrounded ordering); MSE is rounded.
    *
    * Scale: codebooks broadcast (k×blocks×dim doubles — KBs); the
    * vector side is one explode to blocks×k rows, a per-(vec, block)
    * argmin as a `min_by` AGGREGATION (map-side partials — at most
    * N×blocks rows shuffle, k× less than a window over all scored
    * rows; the (d2, c_id) ordering struct is unique per group so the
    * argmin stays deterministic), and one vec_id-keyed aggregation.
    * No corpus self-join anywhere. */
  def vectorPq(sp: SparkSession, dir: String): DataFrame =
    vectorPqOf(Tables.embeddings(sp, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e")))

  /** Core over a prepped `(vec_id, e)` frame for known-answer specs
    * (the trained-codebook fixed point needs a hand corpus). */
  private[graft] def vectorPqOf(emb: DataFrame): DataFrame = {
    val cents = pqCodebook(emb)
    val blocks = emb
      .select(col("vec_id"), col("e"), explode(sequence(lit(0), lit(7))).as("b"))
      .withColumn("sub", slice(col("e"), col("b") * 8 + 1, lit(8)))
    val coded = blocks.join(broadcast(cents), Seq("b"))
      .withColumn("d2", aggregate(zip_with(col("sub"), col("csub"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v))
      .groupBy("vec_id", "b")
      .agg(min_by(struct(col("c_id"), col("d2")), struct(col("d2"), col("c_id"))).as("m"))
      .select(col("vec_id"), col("b"), col("m.c_id").as("c_id"), col("m.d2").as("d2"))
    coded.groupBy("vec_id")
      .agg(sort_array(collect_list(struct(col("b"), col("c_id")))).as("bc"),
        sum(col("d2")).as("sum_d2"))
      .select(col("vec_id"),
        concat_ws("", transform(col("bc"), s => s.getField("c_id").cast("string")))
          .as("code"),
        round(col("sum_d2") / 64.0, 6).as("recon_mse"))
      .transform(OpQuery.gradedSort("vec_id"))
  }

  // ---- B90: per-domain frequency capping -------------------------------------

  /** Max docs kept per domain for B90 — small enough that the planted
    * mega-domain is capped hard at every SF while the legit 20-doc
    * (sf0.01) sources pass whole. */
  private[graft] val DomainCap = 20

  /** B90 — `op_domain_cap`: per-domain frequency capping — the
    * curation rule that stops one over-crawled domain from dominating
    * the training mix (the Gopher/C4/CommonCrawl recipe: cap documents
    * per registered domain before mixing; the α-mixture B84 then
    * balances LANGUAGES, this balances SOURCES one level down). Keep
    * rule: within each `source`, rank docs by `(md5(doc_id), doc_id)`
    * — a deterministic HASH order, so the kept subset is an unbiased
    * sample of the domain rather than the lowest-id (oldest) prefix a
    * naive `ORDER BY doc_id` would keep — and retain rank ≤
    * [[DomainCap]]. The graded artifact is the CAPPED MANIFEST itself
    * (doc_id, source, rk of the kept rows): emitting kept rows rather
    * than flags is what lets Spark plan the map-side partial top-K.
    * Planted skew: docs with id % 3 ≠ 0 are re-sourced to one
    * 'boilerplate-farm' mega-domain (~2/3 of the corpus), which must
    * come out capped at exactly [[DomainCap]] while every legit
    * source survives whole at the gate SF.
    *
    * Scale shape: the rank ≤ cap filter under a windowed row_number
    * plans as WindowGroupLimit (spec-pinned) — every partition keeps
    * at most cap rows PER KEY map-side before the shuffle, so the
    * exchange carries ≤ cap × |domains| rows per map task, not the
    * corpus, and the hot mega-domain never concentrates on one
    * reducer beyond its cap. */
  def domainCap(sp: SparkSession, dir: String): DataFrame =
    domainCapOf(docs(sp, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 3 =!= 0, lit("boilerplate-farm"))
          .otherwise(col("source")).as("source")), DomainCap)
      .transform(OpQuery.gradedSort("doc_id"))

  /** Core over `corpus(doc_id, source)` for known-answer specs and
    * `api.Graft.capDomains`. */
  private[graft] def domainCapOf(corpus: DataFrame, cap: Int): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    corpus.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .select(col("doc_id"), col("source"), col("rk").cast("int").as("rk"))
  }

  // ---- B88: unicode text normalization --------------------------------------

  /** Planted suffix for B88's graded corpus: DECOMPOSED sequences
    * (e + combining acute U+0301), doubled spaces, and a tab — text
    * whose NFC form AND whitespace-collapsed form both differ from
    * the raw input. One Scala constant interpolated verbatim into the
    * oracle literal (single owner, the NfcSuffix bytes ARE the
    * contract). */
  private[graft] val NfcSuffix = "  résumé \t café"

  /** B88 — `op_text_normalize`: Unicode canonicalization — NFC
    * composition (UAX #15) + whitespace-run collapse + trim, the
    * text-canonicalization step a multilingual pipeline runs BEFORE
    * any byte-keyed dedup/fingerprint (é arrives both as U+00E9 and
    * as e+U+0301; un-normalized, every digest op in this engine would
    * treat the two as distinct documents). Graded per doc as
    * `(doc_id, n_before, n_after, changed, norm_md5)` — char counts,
    * a changed flag, and the md5 of the normalized text, so the
    * normalized BYTES sit under the oracle hash (JDK
    * `java.text.Normalizer` vs DuckDB `nfc_normalize`/utf8proc — two
    * independent UAX #15 implementations agreeing byte-for-byte is
    * the graded claim). Corpus plants decomposed+messy-whitespace
    * variants on id % 11 = 5 ([[NfcSuffix]]); ASCII rows pass through
    * with `changed = false` unless their own whitespace collapses.
    *
    * Scale shape: pure map-side — one codegen'd JDK call
    * ([[graft.plans.NfcNormalize]], NFC quick-check fast path makes
    * composed/ASCII rows a near-no-op) + one regexp_replace + trim
    * riding the scan; zero shuffles before the graded sort. */
  def textNormalize(sp: SparkSession, dir: String): DataFrame =
    textNormalizeOf(docs(sp, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 5, concat(col("text"), lit(NfcSuffix)))
          .otherwise(col("text")).as("text")))

  /** The whitespace-run class, pinned EXPLICITLY on both engines:
    * Java's `\s` matches vertical tab (U+000B) but RE2's does not —
    * a latent byte divergence for any corpus containing one (r20
    * review). One literal class, two engines, no shorthand. */
  private[graft] val WsClass = "[ \t\n\u000B\f\r]+"

  /** The normalization expression — SINGLE owner shared by the graded
    * core below and `api.Graft.normalizeText` (the same-core
    * discipline: two copies of this expression could drift). */
  private[graft] def normExpr(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(graft.plans.NfcNormalize.nfc(text), WsClass, " "))

  /** Core over `corpus(doc_id, text)` for known-answer specs and
    * `api.Graft.normalizeText`: emits the normalized text itself as
    * `norm` plus the graded stats. */
  private[graft] def textNormalizeOf(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("norm", normExpr(col("text")))
      .select(col("doc_id"),
        length(col("text")).as("n_before"),
        length(col("norm")).as("n_after"),
        (col("norm") =!= col("text")).as("changed"),
        md5(col("norm")).as("norm_md5"))
      .transform(OpQuery.gradedSort("doc_id"))

  // ---- B29: language identification ----------------------------------------

  /** Marker-token language ID: score = marker hits per language over
    * the token stream, argmax with a deterministic tie-break. The test
    * corpus plants three disjoint marker tokens per document in its
    * `lang`, so the classifier must recover the label exactly. */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("hello", "world", "indeed"),
    "es" -> Seq("hola", "mundo", "ciertamente"),
    "de" -> Seq("hallo", "welt", "tatsaechlich"),
    "fr" -> Seq("bonjour", "monde", "vraiment"),
    "zh" -> Seq("nihao", "shijie", "queshi"))

  /** Marker-scoring CORE over any `corpus(..., body)`: per-language
    * evidence counts (marker-token instances in the whitespace token
    * stream), argmax via the greatest-struct rule (higher count wins;
    * an all-zero tie deterministically falls to the lexicographically
    * greatest language code). All non-`body` columns pass through.
    * Exposed so the known-answer spec can grade MARKER-FREE
    * adversarial texts — prose in each language with cross-language
    * distractor tokens and no planted marker string — proving the
    * classifier reads real token evidence, not the plant. */
  private[graft] def langIdCore(corpus: DataFrame): DataFrame = {
    val keep = corpus.columns.filterNot(_ == "body").map(col)
    val scored = corpus.withColumn("toks", split(col("body"), " "))
      .select(keep ++ LangMarkers.map { case (l, ms) =>
        size(filter(col("toks"), t => t.isin(ms.map(lit(_)): _*))).as(s"s_$l")
      }: _*)
    val best = greatest(LangMarkers.map { case (l, _) =>
      struct(col(s"s_$l").as("s"), lit(l).as("l"))
    }: _*)
    scored.withColumn("pred", best.getField("l"))
      .withColumn("n_hits", best.getField("s"))
      .select(keep :+ col("pred") :+ col("n_hits"): _*)
  }

  def textLangId(sp: SparkSession, dir: String): DataFrame = {
    val markers = LangMarkers.map { case (l, ms) => (l, ms.mkString(" ")) }.toMap
    val markerCol = LangMarkers.foldLeft(lit(markers("en"))) { case (acc, (l, _)) =>
      when(col("lang") === l, lit(markers(l))).otherwise(acc)
    }
    langIdCore(docs(sp, dir)
        .select(col("doc_id"), col("lang"),
          concat(col("text"), lit(" "), markerCol).as("body")))
      .select(col("doc_id"), col("pred"), col("n_hits"),
        (col("pred") === col("lang")).as("is_match"))
      .transform(OpQuery.gradedSort("doc_id"))
  }

  // ---- B30: document quality scoring ---------------------------------------

  /** Heuristic quality features over the raw text (length, token
    * shape, alpha ratio, stopword ratio) combined into one score —
    * single map-side projection, verified arithmetically in DuckDB. */
  def textQuality(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir)
      .withColumn("len", length(col("text")))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")))
      .withColumn("mean_tok_len",
        (col("len") - col("n_tok") + 1).cast("double") / col("n_tok"))
      .withColumn("alpha_ratio",
        length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") / col("len"))
      .withColumn("stop_ratio",
        size(filter(col("toks"), t => t.isin("the", "a"))).cast("double") / col("n_tok"))
      // UNROUNDED doubles (r16): these are per-row DETERMINISTIC
      // expression trees over exact integer counts — IEEE division /
      // multiply / add of identical operands in identical order is
      // bit-identical across engines, so the raw doubles hash-match
      // at any data. Rounding would INTRODUCE the only hazard: a
      // value near a rounding boundary is resolved by different
      // mechanisms per engine (Spark rounds the shortest decimal
      // repr, DuckDB scales in binary — measured divergent on
      // 1.0432875 at 6 dp, r16).
      .select(col("doc_id"), col("n_tok"),
        col("mean_tok_len"), col("alpha_ratio"), col("stop_ratio"),
        (col("alpha_ratio") * 0.6 + col("stop_ratio") * 0.2 +
          col("mean_tok_len") / lit(10.0) * 0.2).as("quality"))
      .transform(OpQuery.gradedSort("doc_id"))

  // ---- B31: document fingerprinting ----------------------------------------

  /** Polynomial rolling-hash fingerprints (base 31 mod 1e9+7): one for
    * the whole document plus one per 100-char block — pure BIGINT
    * arithmetic, bit-identical across engines. The kernel is the
    * custom codegen'd Catalyst expression [[graft.plans.RollingHash]]
    * (tight byte loop in whole-stage codegen; no per-char array
    * materialization). */
  def textFingerprint(sp: SparkSession, dir: String): DataFrame = {
    import graft.plans.RollingHash.rollingHash
    docs(sp, dir)
      .withColumn("n_blocks", ceil(length(col("text")) / lit(100.0)).cast("int"))
      .withColumn("fp", rollingHash(col("text"), lit(1), length(col("text"))))
      .withColumn("fpb", transform(sequence(lit(0), col("n_blocks") - 1),
        b => rollingHash(col("text"), b * 100 + 1, lit(100))))
      .select(col("doc_id"), col("fp"), col("n_blocks"),
        coalesce(try_element_at(col("fpb"), lit(1)), lit(-1L)).as("fp_b1"),
        coalesce(try_element_at(col("fpb"), lit(2)), lit(-1L)).as("fp_b2"))
      .transform(OpQuery.gradedSort("doc_id"))
  }

  // ---- B32/B33: multimodal (binary payload) --------------------------------

  /** B32 — multimodal decode plumbing: documents carry an opaque binary
    * payload (here: the first 48 UTF-8 bytes of the text — the real
    * pipeline would read image/audio bytes) plus typed metadata; the
    * decoder runs as typed `mapPartitions` with an iterator-per-batch
    * shape, exactly where a real image library would be invoked. The
    * decode itself is a clearly-marked deterministic STUB (no media
    * libs in this environment): dimensions derived from the leading
    * bytes, mean byte value as the "feature". Partitioning, schema,
    * batch shape and the DuckDB-checked arithmetic are real. */
  def multimodalDecode(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val src = docs(sp, dir)
      .select(col("doc_id"), substring(col("text"), 1, 48).cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
    src.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val mean =
          if (bytes.isEmpty) 0.0
          else bytes.map(_ & 0xff).sum.toDouble / bytes.length
        val mean4 = BigDecimal(mean).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        graft.functions.MediaHeaders.parse(bytes) match {
          case Some(h) =>
            // REAL decode: PNG/JPEG/GIF/BMP/WebP dimensions are
            // dependency-free fixed-offset/marker-scan byte reads
            // (MediaHeaders)
            (id, h.mime, bytes.length, h.width, h.height, h.channels, mean4)
          case None =>
            // STUB for unrecognized containers (full pixel decode needs
            // the image libs this environment lacks): deterministic
            // fake properties keep the pipeline shape testable, and
            // truncated payloads read as zeroed headers instead of
            // crashing the task — mirroring a real decoder's rejects
            val b0 = if (bytes.length > 0) bytes(0) & 0xff else 0
            val b1 = if (bytes.length > 1) bytes(1) & 0xff else 0
            (id, "application/octet-stream", bytes.length,
              64 + b0 % 64, 48 + b1 % 48, 3, mean4)
        }
      }
    }.toDF("doc_id", "mime", "n_bytes", "width", "height", "channels", "mean_byte")
      .transform(OpQuery.gradedSort("doc_id"))
  }

  /** B34 — resize analog: the payload is downsampled to a fixed
    * 8-point "thumbnail" (stride = len/8) — the shape of an image
    * resize kernel without the absent media libs; emits the thumbnail
    * head and a rolling checksum of it. */
  def multimodalResize(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir)
      .withColumn("plen", least(length(col("text")), lit(48)))
      .withColumn("stride", (col("plen") / 8).cast("int"))
      .withColumn("thumb", transform(sequence(lit(0), lit(7)),
        k => ascii(col("text").substr(k * col("stride") + 1, lit(1)))))
      .select(col("doc_id"), col("stride"),
        size(col("thumb")).as("n_points"),
        element_at(col("thumb"), 1).as("t0"),
        element_at(col("thumb"), 4).as("t3"),
        element_at(col("thumb"), 8).as("t7"),
        aggregate(col("thumb"), lit(0L),
          (a, c) => (a * 31 + c) % 1000000007L).as("thumb_fp"))
      .transform(OpQuery.gradedSort("doc_id"))

  /** B35 — token counting two ways (whitespace + BPE-ish regex pieces
    * word/number/punct), the per-doc stats a tokenizer-budget pipeline
    * needs. Pure projection; regexp stays in the RE2 subset. */
  def textTokenCount(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir)
      .withColumn("n_ws", size(filter(split(col("text"), " "), t => t =!= "")))
      .withColumn("n_bpe", regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")))
      .select(col("doc_id"), col("n_ws"), col("n_bpe"),
        round(length(col("text")).cast("double") / col("n_bpe"), 4).as("chars_per_tok"))
      .transform(OpQuery.gradedSort("doc_id"))

  /** B49 — `op_mixture_weights`: per-language token mass → temperature-
    * scaled (α = 0.5) sampling weights, the standard multilingual
    * mixture rule w_l ∝ p_l^α renormalized — low-resource languages
    * oversampled, high-resource capped. Since Σ√(n/tot) = Σ√n / √tot,
    * the weight simplifies to √n_l / Σ√n — ONE 1-row normalizer join.
    *
    * Scale shape: map-side token-count projection + one lang-keyed
    * partial-agg shuffle (output = |languages| rows); the normalizer
    * crossJoin broadcasts a single row — bounded by construction, same
    * class as op_bm25's corpus stats. Σ√n is the only order-sensitive
    * accumulation: |languages| terms, final round(6). */
  def mixtureWeights(sp: SparkSession, dir: String): DataFrame =
    mixtureWeightsOf(docs(sp, dir))

  /** Core over `corpus(lang, text)` for known-answer specs. */
  def mixtureWeightsOf(corpus: DataFrame): DataFrame = {
    // localCheckpoint the |languages|-row aggregate: it feeds BOTH the
    // output rows and the 1-row normalizer, and a broadcast consumer
    // does not reuse the other side's exchange (SKILL.md) — without the
    // checkpoint the full corpus token-count pass runs TWICE
    val perLang = corpus
      .select(col("lang"),
        size(filter(split(col("text"), " "), t => t =!= "")).cast("long").as("n"))
      .groupBy("lang").agg(count(lit(1)).as("n_docs"), sum("n").as("n_tok"))
      .transform(graft.functions.Checkpoints.truncate(_))
    val tot = perLang.agg(sum("n_tok").as("tot"), sum(sqrt(col("n_tok"))).as("s"))
    perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("n_tok"),
        round(col("n_tok") / col("tot"), 6).as("share"),
        round(sqrt(col("n_tok")) / col("s"), 6).as("weight"),
        round((sqrt(col("n_tok")) / col("s")) / (col("n_tok") / col("tot")), 4)
          .as("oversample"))
      .transform(OpQuery.gradedSort("lang"))
  }

  /** Coin modulus for B84's per-doc extra-copy draw: the fractional
    * part of a repeat factor is quantized to 1/10000ths and compared
    * against an integer coin — integers cross the engine boundary,
    * never a float. */
  private[graft] val MixCoinMod = 10000

  /** B84 — `op_mixture_apply`: EPOCH COMPOSITION under the
    * α-temperature mixture — the step that turns B49's per-language
    * weights into the actual per-document repeat counts a pretraining
    * epoch materializes (temperature-based mixing of Arivazhagan et
    * al. 2019, arXiv:1907.05019 §4; the (sqrt-scaled) sampling the
    * Llama/PaLM data recipes describe): with per-language repeat
    * factor r_l = T·w_l / tok_l (T = total corpus tokens, w_l the B49
    * α=0.5 weight — so the epoch is token-budget-neutral but
    * rebalanced), every doc of language l emits `floor(r_l)` copies
    * plus one more when its deterministic coin clears the factor's
    * fractional part. Over-represented languages get r < 1 (some docs
    * drop — `n_copies = 0` rows document the downsample); rare
    * languages get r > 1 (docs repeat). The coin is the B31 rolling
    * hash of the doc id string mod [[MixCoinMod]] — never `rand()`:
    * reruns, late shards, and engine swaps must reproduce the epoch
    * exactly (B57's determinism contract), and the fractional
    * threshold is `floor(frac·10000)` so only INTEGERS are compared
    * (floor is unambiguous where round-half and double→int casts
    * diverge across engines).
    *
    * Cross-engine determinism of r itself: Σ√tok and Σtok are folded
    * over the per-language rows in SORTED language order via one
    * collected array (the r16 two-engine ordered-fold device — a
    * plain SUM's accumulation order is engine-dependent and √-sums
    * are order-sensitive in the last ulp), and r's expression tree is
    * stated identically on both sides, so the doubles are
    * bit-identical without rounding.
    *
    * Scale shape: the per-language aggregate is
    * language-cardinality-sized (map-side partials), checkpointed
    * once; the fold runs over ONE |languages|-length array on one
    * row; rates broadcast back; the per-doc copy computation is a
    * map-side projection riding the scan — zero corpus-sized shuffles
    * before the graded sort. The epoch MATERIALIZATION (explode by
    * n_copies) is the caller's write step; the graded artifact is the
    * manifest. */
  def mixtureApply(sp: SparkSession, dir: String): DataFrame =
    mixtureApplyOf(docs(sp, dir)).transform(OpQuery.gradedSort("doc_id"))

  /** The B84 manifest as a shared oracle CTE chain exposing
    * `manifest(doc_id, lang, n_tok, base, coin, n_copies)` over
    * `documents` — single SQL owner for the B84 and B87 oracles (one
    * composition rule, two graded views; the cdcChunkCtes
    * discipline). */
  private[graft] lazy val MixtureManifestCtes: String = {
    val coin = graft.operators.Curation.rhSql("md5(CAST(t.doc_id AS VARCHAR))")
    s"""t AS (SELECT doc_id, lang,
      |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
      |  FROM documents),
      |pl AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS tok_l FROM t GROUP BY lang),
      |fold AS (SELECT list(struct_pack(lang := lang, tok_l := tok_l) ORDER BY lang) AS ls FROM pl),
      |sc AS (SELECT
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(ls, x -> sqrt(CAST(x.tok_l AS DOUBLE)))), (a, b) -> a + b) AS s,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(ls, x -> x.tok_l)), (a, b) -> a + b) AS tot
      |  FROM fold),
      |rates AS (SELECT u.x.lang AS lang,
      |    CAST(sc.tot AS DOUBLE) * sqrt(CAST(u.x.tok_l AS DOUBLE)) / sc.s / CAST(u.x.tok_l AS DOUBLE) AS r
      |  FROM fold, sc, unnest(fold.ls) AS u(x)),
      |manifest AS (SELECT t.doc_id, t.lang, CAST(t.n_tok AS INTEGER) AS n_tok,
      |  CAST(floor(r) AS INTEGER) AS base,
      |  CAST($coin % $MixCoinMod AS INTEGER) AS coin,
      |  CAST(floor(r) + CASE WHEN
      |      $coin % $MixCoinMod
      |      < floor((r - floor(r)) * $MixCoinMod) THEN 1 ELSE 0 END AS INTEGER) AS n_copies
      |FROM t JOIN rates USING (lang))""".stripMargin
  }

  /** B87 — `op_epoch_export`: EPOCH MATERIALIZATION — the composition
    * of B84's per-document repeat manifest with the explode-by-
    * `n_copies` write and B41's deterministic shard key, graded as the
    * per-shard manifest a training run actually consumes (r19 verdict
    * task 2; B84 grades the per-doc counts, THIS grades what lands on
    * disk). Every doc emits `n_copies` physical rows (`n_copies = 0`
    * docs drop — the downsample is real at materialization); each
    * copy's shard is the first hex char of `md5(doc_id ':' copy)` —
    * the B41 derivation EXTENDED with the copy index, so a
    * repeat-heavy document's copies spread across shards instead of
    * piling adjacent duplicates into one training file (loaders
    * stream shards sequentially; co-sharded identical copies defeat
    * the shuffle the epoch composition exists to provide). Output:
    * one row per (shard, lang) — `n_docs` distinct docs, `n_copies`
    * physical rows, `sum_tok` token mass — the loader's validation
    * manifest. EpochExportSpec pins conservation (Σ n_copies ≡ the
    * B84 manifest's, Σ sum_tok within B84's 5% budget-drift bound)
    * and measured per-shard balance.
    *
    * Scale shape: the manifest is B84's plan (language-sized
    * aggregate + broadcast rates, map-side projection); the explode
    * is map-side and bounded by the repeat factor (a training epoch
    * is ≈ 1× the corpus by construction — token-budget neutrality is
    * the POINT of the α-mixture); the rollup is two keyed
    * aggregations with map-side partials, pre-aggregating (shard,
    * lang, doc) so no countDistinct Expand touches the exploded rows;
    * output is 16×|languages| rows. The physical write is
    * [[writeShards]]' `partitionBy(shard)` over [[epochMaterialize]]'s
    * per-copy frame. */
  def epochExport(sp: SparkSession, dir: String): DataFrame =
    epochExportOf(docs(sp, dir))

  /** Core over `corpus(doc_id, lang, text)` for known-answer specs. */
  private[graft] def epochExportOf(corpus: DataFrame): DataFrame =
    epochMaterialize(corpus)
      .groupBy("shard", "lang", "doc_id")
      .agg(count(lit(1)).as("nc"), first(col("n_tok")).as("n_tok"))
      .groupBy("shard", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_copies"),
        sum(col("nc") * col("n_tok")).as("sum_tok"))
      .transform(OpQuery.gradedSort("shard", "lang"))

  /** The per-copy epoch frame behind [[epochExportOf]] and
    * `api.Graft.epochMaterialize`: one row per physical copy —
    * `(doc_id, copy, shard, lang, n_tok)` (join `doc_id` back to the
    * corpus for the text payload; the graded rollup never ships
    * text). */
  private[graft] def epochMaterialize(corpus: DataFrame): DataFrame =
    mixtureApplyOf(corpus)
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("lang"), col("n_tok"),
        explode(sequence(lit(0), col("n_copies") - 1)).as("copy"))
      .withColumn("shard",
        substring(md5(concat(col("doc_id").cast("string"), lit(":"),
          col("copy").cast("string"))), 1, 1))

  /** Core over `corpus(doc_id, lang, text)` for known-answer specs. */
  private[graft] def mixtureApplyOf(corpus: DataFrame): DataFrame = {
    val toks = corpus.select(col("doc_id"), col("lang"),
      size(filter(split(col("text"), " "), t => t =!= "")).cast("long").as("n_tok"))
    // |languages|-row aggregate; checkpointed — it feeds the fold AND
    // the join-back, and a broadcast consumer does not reuse the other
    // side's exchange (the B49 rule)
    val perLang = toks.groupBy("lang").agg(sum("n_tok").as("tok_l"))
      .transform(graft.functions.Checkpoints.truncate(_))
    // ordered fold in sorted-language order: one |languages|-length
    // array on one row — deterministic accumulation order both engines
    val folded = perLang
      .agg(sort_array(collect_list(struct(col("lang"), col("tok_l")))).as("ls"))
      .select(col("ls"),
        aggregate(col("ls"), lit(0.0),
          (a, x) => a + sqrt(x.getField("tok_l").cast("double"))).as("s"),
        aggregate(col("ls"), lit(0L),
          (a, x) => a + x.getField("tok_l")).as("tot"))
    val rates = folded
      .select(explode(col("ls")).as("x"), col("s"), col("tot"))
      // tok_l = 0 (a language whose every doc is empty/whitespace)
      // would give r = tot·√0/s/0 = NaN, and floor(NaN) then yields a
      // silently meaningless n_copies — fail loudly instead (the
      // winnow-guard / validatedId convention; r19 ADVICE)
      .select(col("x.lang").as("lang"),
        when(col("x.tok_l") === 0,
          raise_error(concat(lit("mixtureApply: language '"), col("x.lang"),
            lit("' has zero token mass — its repeat factor is undefined; " +
              "drop empty-token documents before composing the epoch")))
            .cast("double"))
          .otherwise(col("tot").cast("double") * sqrt(col("x.tok_l").cast("double"))
            / col("s") / col("x.tok_l").cast("double")).as("r"))
    toks.join(broadcast(rates), Seq("lang"))
      .withColumn("base", floor(col("r")).cast("int"))
      .withColumn("frac_q",
        floor((col("r") - floor(col("r"))) * MixCoinMod).cast("int"))
      // coin = rolling hash of the id's md5 HEX (32 chars): a short
      // raw id string keeps the polynomial under the modulus and the
      // residues badly non-uniform (measured +15% epoch bias at
      // sf0.01); 32 mixed chars wrap it ~many times → near-uniform
      .withColumn("coin",
        pmod(graft.plans.RollingHash.rollingHash(
            md5(col("doc_id").cast("string")), lit(1), lit(32)),
          lit(MixCoinMod.toLong)).cast("int"))
      .select(col("doc_id"), col("lang"), col("n_tok").cast("int").as("n_tok"),
        col("base"), col("coin"),
        (col("base") + when(col("coin") < col("frac_q"), 1).otherwise(0))
          .cast("int").as("n_copies"))
  }

  /** B50 — `op_quality_classifier`: linear quality-model INFERENCE as a
    * pure codegen projection — fixed literal weights over the B30
    * features, graded on the exact logit. The keep/drop label is
    * `logit >= 0` (sigmoid is monotone), so no transcendental `exp`
    * reaches the graded output — engines differ in exp's last ulp.
    *
    * Scale shape: ZERO shuffles beyond the output sort — model
    * inference rides the scan's whole-stage codegen, which is what
    * makes classifier-gating effectively free at 100 TB. Features and
    * logit are graded as RAW doubles (r16): per-row deterministic
    * expression trees over exact integer counts are IEEE-identical
    * across engines when written in the same left-associated order —
    * rounding them was the only cross-engine hazard (boundary values
    * are resolved by different mechanisms per engine; see the body
    * comment). */
  def qualityClassifier(sp: SparkSession, dir: String): DataFrame =
    qualityClassifierOf(docs(sp, dir))

  /** Core over `corpus(doc_id, text)` for known-answer specs. */
  def qualityClassifierOf(corpus: DataFrame): DataFrame =
    qualityLogitOf(corpus)
      .select(col("doc_id"), col("mtl"), col("ar"), col("sr"),
        col("logit"), (col("logit") >= 0).as("keep"))
      .transform(OpQuery.gradedSort("doc_id"))

  /** The feature/logit projection WITHOUT the graded sort — reused by
    * [[qualityClassifierOf]] and the B85 keep-best canonical selection
    * (`LlmPipeline.dedupKeepBest`), where the logit feeds a window
    * and a global sort here would be a wasted exchange. */
  private[graft] def qualityLogitOf(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("len", length(col("text")))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")))
      // UNROUNDED (r16, second pass): rounding per-row deterministic
      // quotients is what CREATED the cross-engine hazard — a value
      // near a rounding boundary is resolved by different mechanisms
      // per engine (Spark rounds the shortest decimal repr, DuckDB
      // scales in binary; measured divergent on 1.0432875 at 6 dp).
      // The raw doubles are IEEE-identical across engines: exact
      // integer counts through the SAME division / multiply / add
      // tree in the SAME left-associated order. (The first r16 fix
      // moved the logit 6→8 dp, which closed only the logit's own
      // boundary; a reviewer showed the same mechanism one level up
      // in the 6-dp features.)
      .withColumn("mtl",
        (col("len") - col("n_tok") + 1).cast("double") / col("n_tok"))
      .withColumn("ar",
        length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") / col("len"))
      .withColumn("sr",
        size(filter(col("toks"), t => t.isin("the", "a"))).cast("double") / col("n_tok"))
      .withColumn("logit", lit(-1.2) + lit(2.5) * col("ar")
        + lit(1.5) * col("sr") + lit(0.05) * col("mtl"))

  /** B33 — frame-sampling analog: every 8th byte of the payload is a
    * "frame"; emits the sample vector head. Pure projection. */
  def multimodalFeatures(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir)
      .withColumn("samples", transform(sequence(lit(0), lit(5)),
        k => ascii(col("text").substr(k * 8 + 1, lit(1)))))
      .select(col("doc_id"), size(col("samples")).as("n_samples"),
        element_at(col("samples"), 1).as("f0"),
        element_at(col("samples"), 2).as("f1"),
        element_at(col("samples"), 3).as("f2"),
        element_at(col("samples"), 4).as("f3"))
      .transform(OpQuery.gradedSort("doc_id"))

  // ---- B36: eval-set decontamination ---------------------------------------

  /** Benchmark decontamination — the training-data op that keeps eval
    * answers out of the training set: flag every training document
    * sharing a word 3-gram with a held-out eval set. Corpus: docs with
    * doc_id % 25 == 0 are the eval set; the rest train, plus planted
    * leaks (each eval doc re-keyed odd/even, 2·id+1, with a 2-word prefix) so the
    * detection is provably non-vacuous.
    *
    * 100 TB shape: the eval side of a decontamination pass is always
    * small (benchmarks are MBs), so its distinct n-gram digests
    * BROADCAST; the training side streams map-side — shingle kernel,
    * explode, broadcast hash join — and only MATCHED n-grams reach the
    * one doc_id-keyed shuffle (output-linear, like the LSH ops). The
    * n-grams travel as md5 digests, not text, keeping the exchange
    * narrow and engine-portable. */
  def decontaminate(sp: SparkSession, dir: String): DataFrame = {
    // odd/even re-keying: every real doc carries 2·id, every planted
    // leak 2·id+1 — ids stay unique at ANY corpus size, so the train
    // left-join below cannot silently change cardinality (a fixed +K
    // offset would collide once real ids reach K)
    val base = docs(sp, dir).select((col("doc_id") * 2).as("doc_id"), col("text"))
    val heldout = base.filter(col("doc_id") % 50 === 0)
    val train = base.filter(col("doc_id") % 50 =!= 0)
      .union(heldout.select((col("doc_id") + 1).as("doc_id"),
        concat(lit("leaked copy "), col("text")).as("text")))
    val evalGrams = TextShingles.withShingles(heldout, col("text"))
      .select(explode(col("shingles")).as("sh"))
      .select(md5(col("sh")).as("g")).distinct()
    val hits = TextShingles.withShingles(TextShingles.spreadForCpu(train), col("text"))
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
      .select(col("doc_id"), md5(col("sh")).as("g"))
      .join(broadcast(evalGrams), "g")
      .groupBy("doc_id").agg(countDistinct("g").as("n_overlap"))
    train.select("doc_id").join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= 1).as("contaminated"))
      .transform(OpQuery.gradedSort("doc_id"))
  }

  // ---- B37: stratified sampling --------------------------------------------

  /** Deterministic stratified sampling — the mixture-weights op of a
    * training-data pipeline: keep each language at its own rate, with
    * membership decided by an engine-portable coin (first 2 hex chars
    * of md5(doc_id) compared against the rate's hex threshold —
    * floor(rate·256)), so the SAME rows are kept on any engine, any
    * run, any partitioning. Rates: en 50% ('80'), zh 25% ('40'),
    * others 10% ('19').
    *
    * 100 TB shape: a pure map-side filter — no shuffle, no sort, no
    * state; composes with any downstream op. The final ORDER BY exists
    * for the determinism contract only. */
  def sampleStratified(sp: SparkSession, dir: String): DataFrame = {
    val coin = substring(md5(col("doc_id").cast("string")), 1, 2)
    val threshold = when(col("lang") === "en", "80")
      .when(col("lang") === "zh", "40").otherwise("19")
    docs(sp, dir)
      .withColumn("coin", coin)
      .filter(col("coin") < threshold)
      .select(col("doc_id"), col("lang"), col("coin"), col("n_chars"))
      .transform(OpQuery.gradedSort("doc_id"))
  }

  // ---- B94: one-pass weighted sampling ---------------------------------------

  /** Sample size for B94. */
  private[graft] val SampleWeightedK = 25

  /** Largest k `api.Graft.sampleByWeight` accepts: the sample is packed
    * into ONE array cell by one task ([[sampleWeightedOf]]), about 40 B
    * per row, so 100,000 rows is a ~4 MB cell. */
  private[graft] val MaxSampleK = 100000

  /** B94 — `op_sample_weighted`: weighted sampling WITHOUT replacement
    * in one pass (Efraimidis & Spirakis 2006, "Weighted random
    * sampling with a reservoir": draw u_i ~ U(0,1), rank by
    * u_i^(1/w_i), keep the top k — every item's inclusion probability
    * is proportional-to-size without materializing a cumulative
    * distribution, THE one-pass answer to "sample 25 docs by token
    * mass from 100 TB"). B37 keeps per-stratum RATES; this keeps an
    * exact-k sample under per-item weights. The uniform is
    * deterministic and engine-portable: u = (B31-rolling-hash(id) +
    * 0.5) / P — an exact dyadic-free rational from integer inputs, no
    * rand(), so reruns and engine swaps keep the same sample (the B57
    * no-reshuffle rule). Ranking runs on the raw double key
    * ln(u)/w (monotone in u^(1/w); identical IEEE tree from integer
    * inputs on both engines — the B93/B45 log-scorer discipline);
    * the REPORTED key is rounded 6 dp (+0.0: a near-1 uniform rounds
    * to −0.0).
    *
    * Scale shape: the key is a pure map-side projection riding the
    * scan; the global top-k plans as TakeOrderedAndProject — per-
    * partition partial top-k merged on the driver, NO exchange at
    * all (the spec pins the plan). The final rank window runs on the
    * k-row result. */
  def sampleWeighted(sp: SparkSession, dir: String): DataFrame =
    sampleWeightedOf(docs(sp, dir)
      .select(col("doc_id"), col("n_chars").as("w")), SampleWeightedK)

  /** Core behind [[sampleWeighted]] and `api.Graft.sampleByWeight`:
    * top-k E-S sample over any `corpus(doc_id, w)`, w > 0 (zero- or
    * negative-weight rows are dropped — they can never be sampled). */
  private[graft] def sampleWeightedOf(corpus: DataFrame, k: Int): DataFrame = {
    import graft.plans.RollingHash.rollingHash
    val s = col("doc_id").cast("string")
    val keyed = corpus.filter(col("w") > 0)
      .withColumn("h", rollingHash(s, lit(1), length(s)))
      .withColumn("key",
        log((col("h").cast("double") + lit(0.5)) / lit(1000000007.0)) / col("w"))
    val top = keyed.orderBy(col("key").desc, col("doc_id")).limit(k)
    // rank WITHOUT a partition-less window (r22, VERDICT r21 item 7 —
    // the bm25 device): the frame is bounded at k rows by the limit,
    // so pack it into one sorted array and rank = array position.
    // struct sorts ascending — negate the (strictly negative) key for
    // key-desc, doc_id-asc order (row_number's exact ordering).
    top.agg(sort_array(collect_list(
        struct((-col("key")).as("nk"), col("doc_id"), col("w")))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("i", "s")))
      .select((col("i") + 1).as("rnk"), col("s.doc_id").as("doc_id"),
        col("s.w").cast("int").as("w"),
        (round(-col("s.nk"), 6) + lit(0.0)).as("r"))
  }

  // ---- B38: sequence packing -----------------------------------------------

  /** Token-budget sequence packing — how pretraining actually batches
    * text: concatenate documents in a deterministic order, cut every
    * `budget` tokens; a document belongs to the pack where it STARTS
    * (its whitespace-token offset ÷ 1024). Emits per-doc pack
    * assignments a loader materializes batches from.
    *
    * 100 TB shape: a TWO-LEVEL prefix sum. A window partitioned only by
    * source would funnel each source's entire stream through ONE task
    * (sources number ~20; a source at 100 TB is terabytes), so the
    * running offset is instead computed per (source, chunk) — chunk =
    * `doc_id DIV chunkSpan`, an ORDERED doc_id range, so within a
    * source every chunk-c doc precedes every chunk-(c+1) doc — and the
    * per-chunk bases come from a prefix sum over the tiny
    * (source, chunk, sum) frame. Parallelism is sources × chunks and
    * chunk size is bounded by chunkSpan regardless of corpus size; the
    * base frame is corpus/chunkSpan rows, joined back on
    * (source, chunk). Both the inner window and the base aggregation
    * hang off ONE explicit repartition on (source, chunk), so the
    * exchange is planned once and reused — the map-side token counting
    * (the dominant scan cost) runs exactly once; the inner window is
    * spillable. */
  def packSequences(sp: SparkSession, dir: String): DataFrame =
    packOffsets(docs(sp, dir)
      .withColumn("n_tok",
        size(filter(split(col("text"), " "), t => t =!= "")).cast("long"))
      .select("doc_id", "source", "n_tok"))
      .transform(OpQuery.gradedSort("doc_id"))

  /** The two-level prefix-sum pack core over ANY `(doc_id, source,
    * n_tok)` frame — shared by [[packSequences]] (whitespace token
    * budgets) and `CorpusStats.packSequencesBpe` (trained-tokenizer
    * unit budgets), so the offset/pack rule cannot drift between the
    * two token units. Scale shape documented on [[packSequences]]. */
  private[graft] def packOffsets(counted: DataFrame, budget: Int = 1024,
      chunkSpan: Int = 256): DataFrame = {
    val toks = counted
      .withColumn("chunk", expr(s"doc_id DIV $chunkSpan"))
      .select("doc_id", "source", "chunk", "n_tok")
      // pre-assert the join keys non-null: the join below would push
      // isnotnull(source, chunk) into ONE branch's scan but not below
      // the other branch's window, de-canonicalizing the two copies of
      // the exchange and breaking its reuse (both keys are non-null by
      // construction, so this filters nothing)
      .filter(col("source").isNotNull && col("chunk").isNotNull)
      .repartition(col("source"), col("chunk"))
    val wIn = Window.partitionBy("source", "chunk").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val within = toks
      .withColumn("in_off", coalesce(sum(col("n_tok")).over(wIn), lit(0L)))
    val wChunk = Window.partitionBy("source").orderBy("chunk")
      .rowsBetween(Window.unboundedPreceding, -1)
    // chunk total = the chunk's LAST offset + its tokens; deriving it
    // from `within` (not `toks`) keeps the subtree below the window
    // byte-identical in both join branches, so the shuffled tokenize
    // stage is planned once and REUSED (deriving from `toks` directly
    // lets column pruning specialize each branch's projection and the
    // exchanges stop canonicalizing equal — tokenize would run twice).
    val bases = within.groupBy("source", "chunk")
      .agg(max(col("in_off") + col("n_tok")).as("chunk_tok"))
      .withColumn("chunk_base", coalesce(sum(col("chunk_tok")).over(wChunk), lit(0L)))
      .select("source", "chunk", "chunk_base")
    within.join(bases, Seq("source", "chunk"))
      .withColumn("tok_offset", col("chunk_base") + col("in_off"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("tok_offset"),
        floor(col("tok_offset") / budget).cast("long").as("pack_id"))
  }

  // ---- B39: PII masking ----------------------------------------------------

  /** Shared PII patterns — referenced by B39 AND the composed pipeline
    * (B42) so the policy cannot silently drift between them. */
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val NumRe = "[0-9]{6,}"

  /** PII scrubbing — emails and long digit runs replaced by typed
    * placeholders before text ships to training. PII is planted on a
    * quarter of the docs (address + 9-digit id) so masking provably
    * fires; patterns stay in the RE2 subset (no lookaround) so any
    * engine applies the same policy.
    *
    * 100 TB shape: pure map-side projection (regexp inside codegen);
    * counts are emitted per doc so a pipeline can quarantine
    * high-PII-density sources instead of silently rewriting them. */
  def textPiiMask(sp: SparkSession, dir: String): DataFrame = {
    val planted = docs(sp, dir).select(col("doc_id"),
      when(col("doc_id") % 4 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com id 123456789")))
        .otherwise(col("text")).as("text"))
    planted
      .withColumn("n_emails", regexp_count(col("text"), lit(EmailRe)))
      .withColumn("n_nums", regexp_count(col("text"), lit(NumRe)))
      .withColumn("masked",
        regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"), NumRe, "<NUM>"))
      .select(col("doc_id"), col("n_emails"), col("n_nums"), md5(col("masked")).as("masked_md5"))
      .transform(OpQuery.gradedSort("doc_id"))
  }

  // ---- B97: Luhn-validated card-number detection -----------------------------

  /** B97 — `op_pii_luhn`: payment-card PII detection with CHECKSUM
    * validation — the precision upgrade over B39's raw digit-run rule
    * (a 16-digit order id is not a card; a Luhn-valid 16-digit run
    * very probably is — the ISO/IEC 7812 check digit, Luhn 1960,
    * rejects 90% of random runs, so quarantining on `has_card`
    * instead of "has digits" stops a pipeline from shredding every
    * invoice corpus). Candidates = maximal digit runs of 13–19 chars
    * (maximal via `[0-9]+` extraction then length filter — RE2 has
    * no lookaround, the B39 portability rule). The Luhn fold is ONE
    * lambda expressed identically on both engines (the B72/BPE
    * two-engine-fold discipline): state packs (sum, parity) into a
    * single long — acc = sum·2 + parity — folded over the reversed
    * run's digits; valid ⟺ (acc >> 1) % 10 = 0, integer-exact
    * end-to-end. Plants: every 17th doc carries the classic Visa
    * test number 4111111111111111 (Luhn-valid, must count), every
    * 19th a check-digit-off variant …1112 (candidate, must NOT
    * validate).
    *
    * Scale shape: pure map-side projection — extraction, the
    * per-candidate fold, and the counts all ride the scan (the fold
    * is a HOF and thus interpreted, but bounded at ≤ 19 digits per
    * candidate); zero shuffles before the graded sort. */
  def piiLuhn(sp: SparkSession, dir: String): DataFrame = {
    val planted = docs(sp, dir).select(col("doc_id"),
      when(col("doc_id") % 17 === 0,
        concat(col("text"), lit(" card 4111111111111111")))
        .when(col("doc_id") % 19 === 0,
          concat(col("text"), lit(" num 4111111111111112")))
        .otherwise(col("text")).as("text"))
    piiLuhnOf(planted).transform(OpQuery.gradedSort("doc_id"))
  }

  /** The Luhn validity of one digit-run column — the single fold
    * owner shared by the graded core and `api.Graft.luhnScreen`. */
  private[graft] def luhnValid(c: Column): Column = {
    val rev = reverse(c)
    val acc = aggregate(
      transform(sequence(lit(1), length(rev)),
        i => (ascii(rev.substr(i, lit(1))) - 48).cast("long")),
      lit(0L),
      (acc, d) => (shiftright(acc, 1) +
        when(acc % 2 === 0, d).when(d > 4, d * 2 - 9).otherwise(d * 2)) * 2
        + (lit(1) - acc % 2))
    shiftright(acc, 1) % 10 === 0
  }

  /** Core behind [[piiLuhn]] and `api.Graft.luhnScreen` over any
    * `corpus(doc_id, text)`, without the graded total sort. */
  private[graft] def piiLuhnOf(corpus: DataFrame): DataFrame =
    corpus
      // NULL text screens as (0, 0, false), never a NULL verdict that
      // silently drops the row from BOTH sides of a quarantine filter
      .withColumn("cands",
        filter(regexp_extract_all(coalesce(col("text"), lit("")),
          lit("[0-9]+"), lit(0)),
          r => length(r).between(13, 19)))
      .select(col("doc_id"),
        size(col("cands")).as("n_candidates"),
        size(filter(col("cands"), c => luhnValid(c))).as("n_valid"))
      .withColumn("has_card", col("n_valid") >= 1)

  // ---- B98: k-anonymity generalization ladder ---------------------------------

  /** Minimum group size below which a quasi-identifier combination is
    * a re-identification risk (B98). */
  private[graft] val KAnonK = 5

  /** B98 — `op_k_anonymity`: quasi-identifier re-identification risk
    * across a GENERALIZATION LADDER (Sweeney 2002, "k-Anonymity: a
    * model for protecting privacy") — before releasing a corpus with
    * per-doc metadata, measure how many docs sit in quasi-identifier
    * groups smaller than k (unique (lang, source, length-bucket)
    * combinations re-identify their author even with the text
    * scrubbed). One ROLLUP pass grades every generalization level at
    * once — full QI, drop the length bucket, drop the source, corpus
    * — so the report IS the privacy/utility tradeoff curve: per
    * level, (n_groups, risky_groups, risky_docs, min_group), risky =
    * group size < [[KAnonK]] (integer-exact). `level` is the
    * GROUPING_ID bitmask (0 = full QI, 1 = bucket rolled, 3 =
    * source+bucket, 7 = corpus).
    *
    * Scale shape: ROLLUP plans as Expand(×levels) + ONE hash agg
    * with map-side partials — group state bounded by the QI
    * cardinality product, never the corpus; the level summary
    * aggregates the group-sized frame down to ≤ 4 rows. */
  def kAnonymity(sp: SparkSession, dir: String): DataFrame =
    kAnonymityOf(docs(sp, dir)
      .select(col("lang"), col("source"),
        floor(col("n_chars") / 100).cast("long").as("len_b")),
      Seq("lang", "source", "len_b"), KAnonK)
      .transform(OpQuery.gradedSort("level"))

  /** Core behind [[kAnonymity]] and `api.Graft.kAnonymity`: the
    * per-level risk report over any quasi-identifier columns. */
  private[graft] def kAnonymityOf(df: DataFrame, qiCols: Seq[String],
      k: Int): DataFrame = {
    require(qiCols.nonEmpty, "kAnonymityOf: need >= 1 quasi-identifier column")
    val g = df.rollup(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
    g.groupBy(col("gid").cast("int").as("level"))
      .agg(count(lit(1)).cast("int").as("n_groups"),
        count(when(col("n") < k, 1)).cast("int").as("risky_groups"),
        coalesce(sum(when(col("n") < k, col("n")).otherwise(0L)), lit(0L))
          .as("risky_docs"),
        min(col("n")).as("min_group"))
  }

  // ---- B40: intra-document repetition --------------------------------------

  /** Repetition quality signals — the filter family that catches
    * degenerate generated/boilerplate text by measuring how much a
    * document repeats ITSELF: per-doc word-bigram totals, distinct
    * counts, the heaviest bigram's share, and the duplicate-bigram
    * fraction. A sixth of the docs get planted repetition so high
    * scores provably appear. Thresholding these is the classic
    * corpus-quality gate (alongside [[textQuality]]'s length/ratio
    * features, which cannot see repetition).
    *
    * 100 TB shape: the stats are PER-DOCUMENT, so no cross-row data
    * movement exists at all — the codegen'd
    * [[graft.plans.RepetitionStats]] kernel counts each doc's bigrams
    * in one pass and the op is a pure map-side projection (the first
    * formulation here exploded bigrams into a (doc_id, bigram)
    * aggregation, shuffling every bigram string off every document —
    * 4.8 s of bench for data that never needed to move; the explode
    * formulation survives as the parity oracle in
    * RepetitionStatsSpec, and the DuckDB SQL still states it). */
  def textRepetition(sp: SparkSession, dir: String): DataFrame =
    repetitionFrom(docs(sp, dir))

  /** Kernel-based stats over any (doc_id, text) frame — split out so
    * the parity spec can run it against the explode formulation on
    * arbitrary corpora. */
  private[graft] def repetitionFrom(base: DataFrame): DataFrame =
    base.select(col("doc_id"),
      when(col("doc_id") % 6 === 0,
        concat(col("text"), lit(" spam spam spam spam spam spam")))
        .otherwise(col("text")).as("text"))
      .withColumn("st", graft.plans.RepetitionStats.stats(col("text")))
      .select(col("doc_id"),
        col("st.n_bigrams").as("n_bigrams"),
        col("st.n_distinct").as("n_distinct"),
        col("st.top_n").as("top_n"),
        round(col("st.top_n").cast("double") / col("st.n_bigrams"), 4).as("top_frac"),
        round(lit(1.0) - col("st.n_distinct").cast("double") / col("st.n_bigrams"), 4)
          .as("dup_frac"))
      .transform(OpQuery.gradedSort("doc_id"))

  // ---- B41: sharded training export ----------------------------------------

  /** Deterministic shard assignment for training export — the sink
    * side of the pipeline: every doc lands in one of 16 shards by the
    * first hex char of md5(doc_id), so ANY engine (or a re-run on
    * different partitioning) produces the same shard membership. The
    * query emits the per-shard manifest (counts, id range, payload
    * bytes) a loader validates against; the physical sharded JSONL
    * write is [[writeShards]], exercised in TrainingOpsSpec.
    *
    * 100 TB shape: the manifest is one 16-group aggregation; the write
    * is `partitionBy(shard)` — each task streams to its shard
    * directories, no pre-shuffle required (or one `repartition(shard)`
    * first to get exactly one file per shard when file count matters). */
  def exportShards(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir)
      .withColumn("shard", substring(md5(col("doc_id").cast("string")), 1, 1))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"),
        sum("n_chars").as("sum_chars"))
      .transform(OpQuery.gradedSort("shard"))

  /** The physical write behind [[exportShards]]: JSONL partitioned by
    * the same deterministic shard key. */
  def writeShards(df: DataFrame, path: String): Unit =
    df.withColumn("shard", substring(md5(col("doc_id").cast("string")), 1, 1))
      .write.partitionBy("shard").mode("overwrite").json(path)

  // ---- B42: end-to-end pipeline composition --------------------------------

  /** The whole training-data path as ONE composed query — the proof
    * that the operators chain: corpus (+ planted exact dups) → quality
    * gate (B30's scored formula; the 0.595 threshold is this fixture
    * corpus's measured median — a corpus-relative gate would compute
    * it with `approx_percentile` first) → exact dedup keep-first
    * (B16's normalized digest) → PII masking (B39's shared patterns) →
    * token-budget packing of the masked text (B38). A user's real
    * pipeline is this shape; every stage keeps its
    * individually-verified semantics, and DuckDB runs the identical
    * five-stage chain as one SQL statement. Planted dups are re-keyed
    * 2·id+1 against the originals' 2·id — odd/even, so ids stay unique
    * and keep-first keeps the original at ANY corpus size (a fixed
    * +K offset would collide once real ids reach K).
    *
    * Plan: quality + masking fuse into the scan's projection (one
    * codegen stage, no shuffle); dedup adds one digest-keyed window
    * shuffle; packing one source-keyed window shuffle — three
    * exchanges total including the contract sort. Each stage's scale
    * story is unchanged from its standalone op. */
  def pipelineE2e(sp: SparkSession, dir: String): DataFrame = {
    val base = docs(sp, dir)
      .select((col("doc_id") * 2).as("doc_id"), col("source"), col("text"))
    val planted = base.filter(col("doc_id") % 9 === 4)
      .select((col("doc_id") + 1).as("doc_id"), col("source"), col("text"))
    val corpus = base.union(planted)

    val scored = corpus
      .withColumn("len", length(col("text")))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")))
      .withColumn("mean_tok_len",
        (col("len") - col("n_tok") + 1).cast("double") / col("n_tok"))
      .withColumn("alpha_ratio",
        length(regexp_replace(col("text"), "[^a-z]", "")).cast("double") / col("len"))
      .withColumn("stop_ratio",
        size(filter(col("toks"), t => t.isin("the", "a"))).cast("double") / col("n_tok"))
      .withColumn("quality",
        round(col("alpha_ratio") * 0.6 + col("stop_ratio") * 0.2 +
          col("mean_tok_len") / lit(10.0) * 0.2, 4))
      .filter(col("quality") >= 0.595)

    val wd = Window.partitionBy("key").orderBy("doc_id")
    val deduped = scored
      .withColumn("key", md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))))
      .withColumn("rn", row_number().over(wd))
      .filter(col("rn") === 1)

    val masked = deduped.withColumn("masked",
      regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"), NumRe, "<NUM>"))
      .withColumn("m_tok",
        size(filter(split(col("masked"), " "), w => w =!= "")).cast("long"))

    val wp = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    masked
      .withColumn("tok_offset", coalesce(sum(col("m_tok")).over(wp), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tok"), col("quality"),
        col("m_tok"), col("tok_offset"),
        floor(col("tok_offset") / 1024).cast("long").as("pack_id"))
      .transform(OpQuery.gradedSort("doc_id"))
  }

  // ---- oracle SQL ----------------------------------------------------------

  val queries: Seq[OpQuery] = Seq(
    OpQuery("op_dedup_simhash",
      s"""WITH unioned AS (
        |  SELECT doc_id * 2 AS doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, concat(text, ' extraneous') FROM documents WHERE doc_id % 5 = 0),
        |shingled AS (SELECT doc_id, $shSql AS sh FROM unioned),
        |hashes AS (SELECT doc_id, unnest(list_transform(sh, x -> md5(x))) AS h FROM shingled),
        |bits AS (
        |  SELECT doc_id, j,
        |    sum(CASE WHEN substring(h, CAST(j AS INTEGER), 1) >= '8' THEN 1 ELSE -1 END) AS c
        |  FROM hashes, range(1, 33) t(j) GROUP BY doc_id, j),
        |sigs AS (
        |  SELECT doc_id, string_agg(CASE WHEN c > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS sig
        |  FROM bits GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, sig, c.cid,
        |    concat(substring(sig, c.s1, 8), substring(sig, c.s2, 8)) AS key
        |  FROM sigs, (VALUES (0, 1, 9), (1, 1, 17), (2, 1, 25),
        |              (3, 9, 17), (4, 9, 25), (5, 17, 25)) c(cid, s1, s2)),
        |capped AS (
        |  SELECT doc_id, sig, cid, key FROM (
        |    SELECT doc_id, sig, cid, key,
        |      row_number() OVER (PARTITION BY cid, key ORDER BY doc_id) AS rn
        |    FROM bands) WHERE rn <= ${LlmPipeline.MaxBucketDocs}),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb
        |  FROM capped a JOIN capped b
        |    ON a.cid = b.cid AND a.key = b.key AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(len(list_filter(range(1, 33), j -> sa[j] <> sb[j])) AS INTEGER) AS hamming
        |FROM pairs
        |WHERE len(list_filter(range(1, 33), j -> sa[j] <> sb[j])) <= 2
        |ORDER BY doc_a, doc_b""".stripMargin)(dedupSimhash),

    OpQuery("op_dedup_ngram_jaccard",
      s"""WITH base AS (
        |  SELECT doc_id * 2 AS doc_id, list_distinct($shSql) AS sa FROM documents),
        |vars AS (
        |  SELECT doc_id * 2 + 1 AS doc_b, list_distinct($shSql) AS sb
        |  FROM (SELECT doc_id, concat(text, ' extraneous') AS text
        |        FROM documents WHERE doc_id % 5 = 0)),
        |joined AS (
        |  SELECT base.doc_id AS doc_a, vars.doc_b,
        |    len(list_intersect(sa, sb)) AS ni, len(sa) AS la, len(sb) AS lb
        |  FROM base JOIN vars ON vars.doc_b = base.doc_id + 1)
        |SELECT doc_a, doc_b, round(CAST(ni AS DOUBLE) / (la + lb - ni), 6) AS jaccard
        |FROM joined ORDER BY doc_a""".stripMargin)(dedupNgramJaccard),

    OpQuery("op_dedup_embedding",
      s"""WITH corpus AS (
        |  SELECT vec_id * 2 AS vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  UNION ALL
        |  SELECT vec_id * 2 + 1,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      (x, i) -> CASE WHEN i = 1 THEN x + 0.01 ELSE x END)
        |  FROM embeddings WHERE vec_id % 5 = 0),
        |bucketed AS (SELECT vec_id, e, ${bucketSql("e")} AS bk FROM corpus),
        |capped AS (
        |  SELECT vec_id, e, bk FROM (
        |    SELECT vec_id, e, bk,
        |      row_number() OVER (PARTITION BY bk ORDER BY vec_id) AS rn
        |    FROM bucketed) WHERE rn <= $MaxBucketVecs),
        |pairs AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    round(list_dot_product(a.e, b.e) /
        |      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4) AS cos
        |  FROM capped a JOIN capped b ON a.bk = b.bk AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, cos FROM pairs WHERE cos >= 0.995
        |ORDER BY vec_a, vec_b""".stripMargin)(dedupEmbedding),

    OpQuery("op_dedup_embedding_banded",
      s"""WITH corpus AS (
        |  SELECT vec_id * 2 AS vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  UNION ALL
        |  SELECT vec_id * 2 + 1,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      (x, i) -> CASE WHEN i = 1 THEN x + 0.01 ELSE x END)
        |  FROM embeddings WHERE vec_id % 5 = 0),
        |sig AS (SELECT vec_id, e, ${bandedSigSql("e")} AS sig FROM corpus),
        |keyed AS (
        |  SELECT s.vec_id, s.e, tt.t,
        |    substring(s.sig, CAST(tt.t * $BandedPlanes + 1 AS INTEGER), $BandedPlanes) AS bk
        |  FROM sig s, (SELECT unnest(range(0, $BandedTables)) AS t) tt),
        |capped AS (
        |  SELECT vec_id, e, t, bk FROM (
        |    SELECT vec_id, e, t, bk,
        |      row_number() OVER (PARTITION BY t, bk ORDER BY vec_id) AS rn
        |    FROM keyed) WHERE rn <= $MaxBucketVecs),
        |scored AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    round(list_dot_product(a.e, b.e) /
        |      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4) AS cos
        |  FROM capped a JOIN capped b ON a.t = b.t AND a.bk = b.bk AND a.vec_id < b.vec_id)
        |SELECT DISTINCT vec_a, vec_b, cos FROM scored WHERE cos >= 0.995
        |ORDER BY vec_a, vec_b""".stripMargin)(dedupEmbeddingBanded),

    OpQuery("op_similarity_lsh",
      s"""WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |bucketed AS (SELECT vec_id, e, ${bucketSql("e")} AS bk FROM emb),
        |q AS (SELECT vec_id AS q_id, e AS qe, bk AS qbk FROM bucketed WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, c.vec_id,
        |    round(list_dot_product(q.qe, c.e) /
        |      (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(c.e, c.e))), 4) AS score
        |  FROM bucketed c JOIN q ON c.bk = q.qbk AND c.vec_id <> q.q_id),
        |ranked AS (
        |  SELECT q_id, vec_id, score,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT q_id, rank, vec_id, score FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin)(similarityLsh),

    OpQuery("op_ann_recall",
      s"""WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |$AnnLegsCtes,
        |hits AS (
        |  SELECT 'lsh' AS method, q_id, vec_id FROM ls
        |  UNION ALL SELECT 'ivf', q_id, vec_id FROM iv
        |  UNION ALL SELECT 'pq', q_id, vec_id FROM pq),
        |ex2 AS (
        |  SELECT 'ivf' AS method, q_id, vec_id FROM ex
        |  UNION ALL SELECT 'lsh', q_id, vec_id FROM ex
        |  UNION ALL SELECT 'pq', q_id, vec_id FROM ex),
        |agg AS (
        |  SELECT e.method, e.q_id, count(*) AS n_exact,
        |    CAST(sum(CASE WHEN h.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        |  FROM ex2 e LEFT JOIN hits h
        |    ON e.method = h.method AND e.q_id = h.q_id AND e.vec_id = h.vec_id
        |  GROUP BY e.method, e.q_id)
        |SELECT method, q_id, n_exact, n_hit, round(n_hit / n_exact, 4) AS recall
        |FROM agg ORDER BY method, q_id""".stripMargin)(annRecall),

    OpQuery("op_rank_fusion",
      s"""WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |$AnnLegsCtes,
        |m AS (
        |  SELECT q_id, vec_id, rank FROM ls
        |  UNION ALL SELECT q_id, vec_id, rank FROM iv
        |  UNION ALL SELECT q_id, vec_id, rank FROM pq),
        |f AS (
        |  SELECT q_id, vec_id,
        |    CAST(sum(CASE rank WHEN 1 THEN ${RrfM / (RrfK + 1)}
        |                       WHEN 2 THEN ${RrfM / (RrfK + 2)}
        |                       ELSE ${RrfM / (RrfK + 3)} END) AS BIGINT) AS rrf,
        |    CAST(count(*) AS INTEGER) AS n_methods
        |  FROM m GROUP BY q_id, vec_id),
        |r AS (
        |  SELECT q_id, vec_id, rrf, n_methods,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, vec_id ASC) AS INTEGER) AS f_rank
        |  FROM f)
        |SELECT r.q_id, r.f_rank, r.vec_id, r.rrf, r.n_methods,
        |  (e.vec_id IS NOT NULL) AS in_exact
        |FROM r LEFT JOIN ex e ON r.q_id = e.q_id AND r.vec_id = e.vec_id
        |WHERE r.f_rank <= 3
        |ORDER BY r.q_id, r.f_rank""".stripMargin)(rankFusion),

    OpQuery("op_similarity_ivf",
      s"""WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS c_id, e AS ce FROM emb WHERE vec_id % $AnnCodebookStride = 0),
        |assigned AS (
        |  SELECT vec_id, e, c_id AS cell FROM (
        |    SELECT emb.vec_id, emb.e, cents.c_id,
        |      row_number() OVER (PARTITION BY emb.vec_id ORDER BY
        |        list_dot_product(emb.e, cents.ce) /
        |          (sqrt(list_dot_product(emb.e, emb.e)) * sqrt(list_dot_product(cents.ce, cents.ce))) DESC,
        |        cents.c_id ASC) AS rn
        |    FROM emb, cents)
        |  WHERE rn = 1),
        |q AS (SELECT vec_id AS q_id, e AS qe, cell AS qcell FROM assigned WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, a.vec_id,
        |    round(list_dot_product(q.qe, a.e) /
        |      (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(a.e, a.e))), 4) AS score
        |  FROM assigned a JOIN q ON a.cell = q.qcell AND a.vec_id <> q.q_id),
        |ranked AS (
        |  SELECT q_id, vec_id, score,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT q_id, rank, vec_id, score FROM ranked WHERE rank <= 3
        |ORDER BY q_id, rank""".stripMargin)(similarityIvf),

    OpQuery("op_ann_incremental",
      s"""WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS c_id, e AS ce FROM emb WHERE vec_id % $AnnCodebookStride = 0),
        |corpus AS (
        |  SELECT 'h' AS side, vec_id * 2 AS vid, e FROM emb WHERE vec_id % 4 = 0
        |  UNION ALL
        |  SELECT 'b', vec_id * 2, e FROM emb WHERE vec_id % 4 <> 0
        |  UNION ALL
        |  SELECT 'b', vec_id * 2 + 1, e FROM emb WHERE vec_id % 8 = 0),
        |assigned AS (
        |  SELECT side, vid, e, c_id AS cell FROM (
        |    SELECT corpus.side, corpus.vid, corpus.e, cents.c_id,
        |      row_number() OVER (PARTITION BY corpus.side, corpus.vid ORDER BY
        |        list_dot_product(corpus.e, cents.ce) /
        |          (sqrt(list_dot_product(corpus.e, corpus.e)) * sqrt(list_dot_product(cents.ce, cents.ce))) DESC,
        |        cents.c_id ASC) AS rn
        |    FROM corpus, cents)
        |  WHERE rn = 1),
        |scored AS (
        |  SELECT b.vid AS batch_id, h.vid AS hist_id,
        |    round(list_dot_product(b.e, h.e) /
        |      (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(h.e, h.e))), 4) + 0.0 AS score
        |  FROM assigned b JOIN assigned h
        |    ON b.cell = h.cell AND b.side = 'b' AND h.side = 'h'),
        |ranked AS (
        |  SELECT batch_id, hist_id, score,
        |    CAST(row_number() OVER (PARTITION BY batch_id ORDER BY score DESC, hist_id ASC) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT batch_id, rank, hist_id, score FROM ranked WHERE rank <= 3
        |ORDER BY batch_id, rank""".stripMargin)(annIncremental),

    OpQuery("op_ann_pq_incremental",
      s"""WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS c_id, e AS ce FROM emb WHERE vec_id % $AnnCodebookStride = 0),
        |$PqCodebookCtes,
        |corpus AS (
        |  SELECT 'h' AS side, vec_id * 2 AS vid, e FROM emb WHERE vec_id % 4 = 0
        |  UNION ALL
        |  SELECT 'b', vec_id * 2, e FROM emb WHERE vec_id % 4 <> 0
        |  UNION ALL
        |  SELECT 'b', vec_id * 2 + 1, e FROM emb WHERE vec_id % 8 = 0),
        |assigned AS (
        |  SELECT side, vid, e, c_id AS cell FROM (
        |    SELECT corpus.side, corpus.vid, corpus.e, cents.c_id,
        |      row_number() OVER (PARTITION BY corpus.side, corpus.vid ORDER BY
        |        list_dot_product(corpus.e, cents.ce) /
        |          (sqrt(list_dot_product(corpus.e, corpus.e)) * sqrt(list_dot_product(cents.ce, cents.ce))) DESC,
        |        cents.c_id ASC) AS rn
        |    FROM corpus, cents)
        |  WHERE rn = 1),
        |hblocks AS (
        |  SELECT h.vid, CAST(b.b AS INTEGER) AS b,
        |    list_slice(h.e, b.b * 8 + 1, b.b * 8 + 8) AS sub
        |  FROM (SELECT vid, e FROM corpus WHERE side = 'h') h,
        |       (SELECT unnest(range(0, 8)) AS b) b),
        |hscored AS (
        |  SELECT hb.vid, hb.b, c.c_id, c.csub,
        |    list_sum(list_transform(range(1, 9),
        |      i -> (hb.sub[i] - c.csub[i]) * (hb.sub[i] - c.csub[i]))) AS d2
        |  FROM hblocks hb JOIN pqc c ON hb.b = c.b),
        |hbest AS (
        |  SELECT vid, b, csub,
        |    row_number() OVER (PARTITION BY vid, b ORDER BY d2 ASC, c_id ASC) AS rn
        |  FROM hscored),
        |hrecon AS (
        |  SELECT vid, flatten(list(csub ORDER BY b)) AS e
        |  FROM hbest WHERE rn = 1 GROUP BY vid),
        |scored AS (
        |  SELECT b.vid AS batch_id, h.vid AS hist_id,
        |    round(list_dot_product(b.e, r.e) /
        |      (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(r.e, r.e))), 4) + 0.0 AS score
        |  FROM assigned b
        |  JOIN assigned h ON b.cell = h.cell AND b.side = 'b' AND h.side = 'h'
        |  JOIN hrecon r ON r.vid = h.vid),
        |ranked AS (
        |  SELECT batch_id, hist_id, score,
        |    CAST(row_number() OVER (PARTITION BY batch_id ORDER BY score DESC, hist_id ASC) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT batch_id, rank, hist_id, score FROM ranked WHERE rank <= 3
        |ORDER BY batch_id, rank""".stripMargin)(annPqIncremental),

    OpQuery("op_ann_hier",
      s"""WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS c_id, e AS ce FROM emb WHERE vec_id % $AnnCodebookStride = 0),
        |sups AS (
        |  SELECT vec_id AS s_id, e AS se FROM emb WHERE vec_id % $AnnSuperStride = 0),
        |c2s AS (
        |  SELECT c_id, ce, s_id AS sup FROM (
        |    SELECT cents.c_id, cents.ce, sups.s_id,
        |      row_number() OVER (PARTITION BY cents.c_id ORDER BY
        |        list_dot_product(cents.ce, sups.se) /
        |          (sqrt(list_dot_product(cents.ce, cents.ce)) * sqrt(list_dot_product(sups.se, sups.se))) DESC,
        |        sups.s_id ASC) AS rn
        |    FROM cents, sups)
        |  WHERE rn = 1),
        |live AS (
        |  SELECT s_id, se FROM sups WHERE s_id IN (SELECT DISTINCT sup FROM c2s)),
        |corpus AS (
        |  SELECT 'h' AS side, vec_id * 2 AS vid, e FROM emb WHERE vec_id % 4 = 0
        |  UNION ALL
        |  SELECT 'b', vec_id * 2, e FROM emb WHERE vec_id % 4 <> 0
        |  UNION ALL
        |  SELECT 'b', vec_id * 2 + 1, e FROM emb WHERE vec_id % 8 = 0),
        |v2s AS (
        |  SELECT side, vid, e, s_id AS sup FROM (
        |    SELECT corpus.side, corpus.vid, corpus.e, live.s_id,
        |      row_number() OVER (PARTITION BY corpus.side, corpus.vid ORDER BY
        |        list_dot_product(corpus.e, live.se) /
        |          (sqrt(list_dot_product(corpus.e, corpus.e)) * sqrt(list_dot_product(live.se, live.se))) DESC,
        |        live.s_id ASC) AS rn
        |    FROM corpus, live)
        |  WHERE rn <= $AnnHierSuperProbe),
        |assigned AS (
        |  SELECT side, vid, e, c_id AS cell FROM (
        |    SELECT v.side, v.vid, v.e, c.c_id,
        |      row_number() OVER (PARTITION BY v.side, v.vid ORDER BY
        |        list_dot_product(v.e, c.ce) /
        |          (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.ce, c.ce))) DESC,
        |        c.c_id ASC) AS rn
        |    FROM v2s v JOIN c2s c ON v.sup = c.sup)
        |  WHERE rn = 1),
        |scored AS (
        |  SELECT b.vid AS batch_id, h.vid AS hist_id,
        |    round(list_dot_product(b.e, h.e) /
        |      (sqrt(list_dot_product(b.e, b.e)) * sqrt(list_dot_product(h.e, h.e))), 4) + 0.0 AS score
        |  FROM assigned b JOIN assigned h
        |    ON b.cell = h.cell AND b.side = 'b' AND h.side = 'h'),
        |ranked AS (
        |  SELECT batch_id, hist_id, score,
        |    CAST(row_number() OVER (PARTITION BY batch_id ORDER BY score DESC, hist_id ASC) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT batch_id, rank, hist_id, score FROM ranked WHERE rank <= 3
        |ORDER BY batch_id, rank""".stripMargin)(annHier),

    OpQuery("op_semdedup",
      s"""WITH emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |cents AS (
        |  SELECT vec_id AS c_id, e AS ce FROM emb WHERE vec_id % $AnnCodebookStride = 0),
        |corpus AS (
        |  SELECT vec_id * 2 AS vec_id, e FROM emb
        |  UNION ALL
        |  SELECT vec_id * 2 + 1,
        |    list_transform(e, (x, i) -> CASE WHEN i = 1 THEN x + 0.01 ELSE x END)
        |  FROM emb WHERE vec_id % 5 = 0),
        |assigned AS (
        |  SELECT vec_id, e, c_id AS cell FROM (
        |    SELECT corpus.vec_id, corpus.e, cents.c_id,
        |      row_number() OVER (PARTITION BY corpus.vec_id ORDER BY
        |        list_dot_product(corpus.e, cents.ce) /
        |          (sqrt(list_dot_product(corpus.e, corpus.e)) * sqrt(list_dot_product(cents.ce, cents.ce))) DESC,
        |        cents.c_id ASC) AS rn
        |    FROM corpus, cents)
        |  WHERE rn = 1),
        |capped AS (
        |  SELECT vec_id, e, cell FROM (
        |    SELECT vec_id, e, cell,
        |      row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
        |    FROM assigned) WHERE rn <= $MaxBucketVecs),
        |drops AS (
        |  SELECT b.vec_id AS vec_id, min(a.vec_id) AS nbr
        |  FROM capped a JOIN capped b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.e, b.e) /
        |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4) >= $SemDedupTau
        |  GROUP BY b.vec_id)
        |SELECT s.vec_id, s.cell, coalesce(d.nbr, s.vec_id) AS rep, d.nbr IS NULL AS kept
        |FROM assigned s LEFT JOIN drops d ON s.vec_id = d.vec_id
        |ORDER BY s.vec_id""".stripMargin)(semDedup),

    OpQuery("op_chunk_cdc", ChunkCdcSql)(chunkCdc),

    OpQuery("op_dedup_blocks", DedupBlocksSql)(dedupBlocks),

    OpQuery("op_dedup_blocks_rewrite", DedupBlocksRewriteSql)(dedupBlocksRewrite),

    OpQuery("op_chunk_sliding",
      s"""WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, ts,
        |    CAST(ceil(len(ts) / $ChunkStride.0) AS INTEGER) AS n_chunks
        |  FROM t WHERE len(ts) >= 1),
        |e AS (
        |  SELECT doc_id, ts, n_chunks, unnest(range(0, n_chunks)) AS chunk_id
        |  FROM n)
        |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id, n_chunks,
        |  CAST(chunk_id * $ChunkStride AS INTEGER) AS start_tok,
        |  CAST(len(ts[chunk_id * $ChunkStride + 1 : chunk_id * $ChunkStride + $ChunkWindow]) AS INTEGER) AS chunk_len,
        |  array_to_string(ts[chunk_id * $ChunkStride + 1 : chunk_id * $ChunkStride + $ChunkWindow], ' ') AS chunk
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin)(chunkSliding),

    OpQuery("op_dedup_substring",
      s"""WITH corpus AS (
        |  SELECT doc_id * 2 AS doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, 'injected preamble sentence ' || text
        |  FROM documents WHERE doc_id % 5 = 0),
        |t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM corpus),
        |g0 AS (
        |  SELECT doc_id, unnest(list_transform(range(0, len(ts) - $SubstrGram + 1),
        |    i -> array_to_string(ts[i + 1 : i + $SubstrGram], ' '))) AS g
        |  FROM t WHERE len(ts) >= $SubstrGram),
        |g AS (SELECT DISTINCT doc_id, g FROM g0),
        |shared AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
        |ng AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
        |nd AS (SELECT g.doc_id, count(*) AS n_dup
        |       FROM g JOIN shared USING (g) GROUP BY g.doc_id)
        |SELECT ng.doc_id,
        |  CAST(n_grams AS INTEGER) AS n_grams,
        |  CAST(coalesce(n_dup, 0) AS INTEGER) AS n_dup,
        |  CAST(coalesce(n_dup, 0) AS DOUBLE) / n_grams AS dup_ratio,
        |  coalesce(n_dup, 0) * 2 >= n_grams AS flagged
        |FROM ng LEFT JOIN nd ON ng.doc_id = nd.doc_id
        |ORDER BY ng.doc_id""".stripMargin)(dedupSubstring),

    OpQuery("op_domain_cap",
      s"""WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 <> 0 THEN 'boilerplate-farm' ELSE source END AS source
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rk
        |  FROM corpus)
        |SELECT doc_id, source, rk FROM r WHERE rk <= $DomainCap
        |ORDER BY doc_id""".stripMargin)(domainCap),

    OpQuery("op_text_normalize",
      s"""WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 5 THEN text || '$NfcSuffix' ELSE text END AS text
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(nfc_normalize(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS norm
        |  FROM corpus)
        |SELECT doc_id,
        |  CAST(length(text) AS INTEGER) AS n_before,
        |  CAST(length(norm) AS INTEGER) AS n_after,
        |  norm <> text AS changed,
        |  md5(norm) AS norm_md5
        |FROM n ORDER BY doc_id""".stripMargin)(textNormalize),

    OpQuery("op_text_langid",
      """SELECT doc_id, lang AS pred, CAST(3 AS INTEGER) AS n_hits, true AS is_match
        |FROM documents ORDER BY doc_id""".stripMargin)(textLangId),

    OpQuery("op_text_quality",
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS INTEGER) AS len,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
        |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS DOUBLE) AS n_stop
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, n_tok,
        |    CAST(len - n_tok + 1 AS DOUBLE) / n_tok AS mean_tok_len,
        |    n_alpha / len AS alpha_ratio,
        |    n_stop / n_tok AS stop_ratio
        |  FROM f)
        |SELECT doc_id, n_tok,
        |  mean_tok_len, alpha_ratio, stop_ratio,
        |  alpha_ratio * 0.6 + stop_ratio * 0.2 + mean_tok_len / 10.0 * 0.2 AS quality
        |FROM g ORDER BY doc_id""".stripMargin)(textQuality),

    OpQuery("op_text_fingerprint",
      """WITH c AS (
        |  SELECT doc_id, text,
        |    list_transform(range(1, length(text) + 1),
        |      i -> ord(substring(text, CAST(i AS INTEGER), 1))) AS codes,
        |    CAST(ceil(length(text) / 100.0) AS INTEGER) AS n_blocks
        |  FROM documents),
        |fp AS (
        |  SELECT doc_id, n_blocks,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS fp,
        |    list_transform(range(0, n_blocks),
        |      b -> list_reduce(list_prepend(CAST(0 AS BIGINT), codes[(b*100+1):((b+1)*100)]),
        |        (a, x) -> (a * 31 + x) % 1000000007)) AS fpb
        |  FROM c)
        |SELECT doc_id, fp, n_blocks,
        |  coalesce(fpb[1], -1) AS fp_b1, coalesce(fpb[2], -1) AS fp_b2
        |FROM fp ORDER BY doc_id""".stripMargin)(textFingerprint),

    OpQuery("op_multimodal_decode",
      """SELECT doc_id,
        |  'application/octet-stream' AS mime,
        |  CAST(length(substring(text, 1, 48)) AS INTEGER) AS n_bytes,
        |  CAST(64 + ord(substring(text, 1, 1)) % 64 AS INTEGER) AS width,
        |  CAST(48 + ord(substring(text, 2, 1)) % 48 AS INTEGER) AS height,
        |  CAST(3 AS INTEGER) AS channels,
        |  round(list_avg(list_transform(range(1, least(length(text), 48) + 1),
        |    i -> ord(substring(text, CAST(i AS INTEGER), 1)))), 4) AS mean_byte
        |FROM documents ORDER BY doc_id""".stripMargin)(multimodalDecode),

    OpQuery("op_multimodal_resize",
      """WITH p AS (
        |  SELECT doc_id, least(length(text), 48) AS plen, text FROM documents),
        |t AS (
        |  SELECT doc_id, CAST(plen // 8 AS INTEGER) AS stride,
        |    list_transform(range(0, 8),
        |      k -> ord(substring(text, CAST(k * (plen // 8) + 1 AS INTEGER), 1))) AS thumb
        |  FROM p)
        |SELECT doc_id, stride,
        |  CAST(8 AS INTEGER) AS n_points,
        |  CAST(thumb[1] AS INTEGER) AS t0,
        |  CAST(thumb[4] AS INTEGER) AS t3,
        |  CAST(thumb[8] AS INTEGER) AS t7,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), thumb),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS thumb_fp
        |FROM t ORDER BY doc_id""".stripMargin)(multimodalResize),

    OpQuery("op_text_token_count",
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS INTEGER) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INTEGER) AS n_bpe,
        |  round(CAST(length(text) AS DOUBLE) /
        |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')), 4) AS chars_per_tok
        |FROM documents ORDER BY doc_id""".stripMargin)(textTokenCount),

    OpQuery("op_multimodal_features",
      """SELECT doc_id, CAST(6 AS INTEGER) AS n_samples,
        |  CAST(ord(substring(text, 1, 1)) AS INTEGER) AS f0,
        |  CAST(ord(substring(text, 9, 1)) AS INTEGER) AS f1,
        |  CAST(ord(substring(text, 17, 1)) AS INTEGER) AS f2,
        |  CAST(ord(substring(text, 25, 1)) AS INTEGER) AS f3
        |FROM documents ORDER BY doc_id""".stripMargin)(multimodalFeatures),

    OpQuery("op_mixture_weights",
      """WITH t AS (SELECT lang,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n
        |  FROM documents),
        |agg AS (SELECT lang, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tok
        |  FROM t GROUP BY lang),
        |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS tot, sum(sqrt(n_tok)) AS s FROM agg)
        |SELECT lang, n_docs, n_tok,
        |  round(n_tok / tot.tot, 6) AS share,
        |  round(sqrt(n_tok) / tot.s, 6) AS weight,
        |  round((sqrt(n_tok) / tot.s) / (n_tok / tot.tot), 4) AS oversample
        |FROM agg, tot ORDER BY lang""".stripMargin)(mixtureWeights),

    OpQuery("op_mixture_apply",
      s"""WITH $MixtureManifestCtes
        |SELECT doc_id, lang, n_tok, base, coin, n_copies FROM manifest
        |ORDER BY doc_id""".stripMargin)(mixtureApply),

    OpQuery("op_epoch_export",
      s"""WITH $MixtureManifestCtes,
        |cp AS (
        |  SELECT doc_id, lang, n_tok, unnest(range(0, n_copies)) AS cp_i
        |  FROM manifest WHERE n_copies >= 1),
        |sh AS (
        |  SELECT substring(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(cp_i AS VARCHAR)), 1, 1)
        |    AS shard, lang, doc_id, n_tok
        |  FROM cp),
        |d AS (
        |  SELECT shard, lang, doc_id, count(*) AS nc, any_value(n_tok) AS n_tok
        |  FROM sh GROUP BY shard, lang, doc_id)
        |SELECT shard, lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS n_copies,
        |  CAST(sum(nc * n_tok) AS BIGINT) AS sum_tok
        |FROM d GROUP BY shard, lang
        |ORDER BY shard, lang""".stripMargin)(epochExport),

    OpQuery("op_quality_classifier",
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS INTEGER) AS len,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
        |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS DOUBLE) AS n_stop
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CAST(len - n_tok + 1 AS DOUBLE) / n_tok AS mtl,
        |    n_alpha / len AS ar,
        |    n_stop / n_tok AS sr
        |  FROM f),
        |z AS (
        |  SELECT doc_id, mtl, ar, sr,
        |    CAST(-1.2 AS DOUBLE) + CAST(2.5 AS DOUBLE) * ar
        |      + CAST(1.5 AS DOUBLE) * sr + CAST(0.05 AS DOUBLE) * mtl AS logit
        |  FROM g)
        |SELECT doc_id, mtl, ar, sr, logit, logit >= 0 AS keep
        |FROM z ORDER BY doc_id""".stripMargin)(qualityClassifier),

    OpQuery("op_decontaminate",
      s"""WITH heldout AS (SELECT doc_id * 2 AS doc_id, text FROM documents WHERE doc_id % 25 = 0),
        |train AS (
        |  SELECT doc_id * 2 AS doc_id, text FROM documents WHERE doc_id % 25 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1, concat('leaked copy ', text) FROM heldout),
        |eg AS (SELECT DISTINCT md5(g) AS g
        |       FROM (SELECT unnest($shSql) AS g FROM heldout)),
        |tg AS (SELECT doc_id, md5(g) AS g
        |       FROM (SELECT doc_id, unnest($shSql) AS g FROM train)),
        |hits AS (
        |  SELECT t.doc_id, count(DISTINCT t.g) AS n_overlap
        |  FROM tg t JOIN eg USING (g) GROUP BY t.doc_id)
        |SELECT tr.doc_id,
        |  CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  COALESCE(h.n_overlap, 0) >= 1 AS contaminated
        |FROM train tr LEFT JOIN hits h USING (doc_id)
        |ORDER BY doc_id""".stripMargin)(decontaminate),

    OpQuery("op_sample_weighted",
      s"""WITH ds AS (
        |  SELECT doc_id, n_chars AS w, CAST(doc_id AS VARCHAR) AS s
        |  FROM documents WHERE n_chars > 0),
        |h AS (SELECT doc_id, w, ${Curation.rhSql("s")} AS h FROM ds),
        |k AS (
        |  SELECT doc_id, w,
        |    ln((CAST(h AS DOUBLE) + 0.5) / CAST(1000000007 AS DOUBLE)) / w AS key
        |  FROM h),
        |t AS (SELECT doc_id, w, key FROM k ORDER BY key DESC, doc_id LIMIT $SampleWeightedK)
        |SELECT CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS INTEGER) AS rnk,
        |  doc_id, CAST(w AS INTEGER) AS w, round(key, 6) + 0.0 AS r
        |FROM t ORDER BY rnk""".stripMargin)(sampleWeighted),

    OpQuery("op_sample_stratified",
      """SELECT doc_id, lang, substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS coin, n_chars
        |FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
        |  CASE WHEN lang = 'en' THEN '80' WHEN lang = 'zh' THEN '40' ELSE '19' END
        |ORDER BY doc_id""".stripMargin)(sampleStratified),

    OpQuery("op_pack_sequences",
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |offs AS (
        |  SELECT doc_id, source, n_tok,
        |    CAST(COALESCE(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |  FROM toks)
        |SELECT doc_id, source, n_tok, tok_offset,
        |  CAST(tok_offset // 1024 AS BIGINT) AS pack_id
        |FROM offs ORDER BY doc_id""".stripMargin)(packSequences),

    OpQuery("op_k_anonymity",
      s"""WITH q AS (
        |  SELECT lang, source, CAST(floor(n_chars / 100) AS BIGINT) AS len_b
        |  FROM documents),
        |g AS (
        |  SELECT GROUPING_ID(lang, source, len_b) AS gid, count(*) AS n
        |  FROM q GROUP BY ROLLUP (lang, source, len_b))
        |SELECT CAST(gid AS INTEGER) AS level,
        |  CAST(count(*) AS INTEGER) AS n_groups,
        |  CAST(count(*) FILTER (WHERE n < $KAnonK) AS INTEGER) AS risky_groups,
        |  CAST(coalesce(sum(n) FILTER (WHERE n < $KAnonK), 0) AS BIGINT) AS risky_docs,
        |  CAST(min(n) AS BIGINT) AS min_group
        |FROM g GROUP BY gid ORDER BY level""".stripMargin)(kAnonymity),

    OpQuery("op_pii_luhn",
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 0 THEN text || ' card 4111111111111111'
        |         WHEN doc_id % 19 = 0 THEN text || ' num 4111111111111112'
        |         ELSE text END AS text
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    list_filter(regexp_extract_all(text, '[0-9]+'),
        |      r -> length(r) BETWEEN 13 AND 19) AS cands
        |  FROM corpus),
        |v AS (
        |  SELECT doc_id, cands,
        |    list_filter(cands, cd ->
        |      ((list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(range(1, length(reverse(cd)) + 1),
        |            i -> CAST(ord(substring(reverse(cd), CAST(i AS INTEGER), 1)) - 48 AS BIGINT))),
        |        (acc, d) -> ((acc >> 1) +
        |          CASE WHEN acc % 2 = 0 THEN d
        |               WHEN d > 4 THEN d * 2 - 9
        |               ELSE d * 2 END) * 2 + (1 - acc % 2)) >> 1) % 10 = 0)) AS valids
        |  FROM c)
        |SELECT doc_id, CAST(len(cands) AS INTEGER) AS n_candidates,
        |  CAST(len(valids) AS INTEGER) AS n_valid,
        |  len(valids) >= 1 AS has_card
        |FROM v ORDER BY doc_id""".stripMargin)(piiLuhn),

    OpQuery("op_text_pii_mask",
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN concat(text, ' contact user', CAST(doc_id AS VARCHAR),
        |                  '@example.com id 123456789')
        |      ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS INTEGER) AS n_nums,
        |  md5(regexp_replace(
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g')) AS masked_md5
        |FROM planted ORDER BY doc_id""".stripMargin)(textPiiMask),

    OpQuery("op_vector_pq",
      s"""WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |$PqCodebookCtes,
        |scored AS (
        |  SELECT bl.vec_id, bl.b, c.c_id,
        |    list_sum(list_transform(range(1, 9),
        |      i -> (bl.sub[i] - c.csub[i]) * (bl.sub[i] - c.csub[i]))) AS d2
        |  FROM pqblk bl JOIN pqc c ON bl.b = c.b),
        |best AS (
        |  SELECT vec_id, b, c_id, d2,
        |    row_number() OVER (PARTITION BY vec_id, b ORDER BY d2 ASC, c_id ASC) AS rn
        |  FROM scored)
        |SELECT vec_id,
        |  string_agg(CAST(c_id AS VARCHAR), '' ORDER BY b) AS code,
        |  round(sum(d2) / 64.0, 6) AS recon_mse
        |FROM best WHERE rn = 1
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin)(vectorPq),

    OpQuery("op_text_repetition",
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 6 = 0 THEN concat(text, ' spam spam spam spam spam spam')
        |         ELSE text END AS text
        |  FROM documents),
        |w AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS words
        |      FROM planted),
        |g AS (SELECT doc_id,
        |        unnest(list_transform(range(1, greatest(len(words) - 1, 1) + 1),
        |          i -> concat_ws(' ', words[i], words[i + 1]))) AS g
        |      FROM w),
        |c AS (SELECT doc_id, g, count(*) AS n FROM g GROUP BY doc_id, g),
        |s AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
        |        count(*) AS n_distinct, CAST(max(n) AS BIGINT) AS top_n
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, n_distinct, top_n,
        |  round(CAST(top_n AS DOUBLE) / n_bigrams, 4) AS top_frac,
        |  round(1 - CAST(n_distinct AS DOUBLE) / n_bigrams, 4) AS dup_frac
        |FROM s ORDER BY doc_id""".stripMargin)(textRepetition),

    OpQuery("op_export_shards",
      """SELECT substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
        |  count(*) AS n_docs,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY shard ORDER BY shard""".stripMargin)(exportShards),

    OpQuery("op_pipeline_e2e",
      """WITH base AS (
        |  SELECT doc_id * 2 AS doc_id, source, text FROM documents),
        |corpus AS (
        |  SELECT doc_id, source, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 1, source, text FROM base WHERE doc_id % 9 = 4),
        |f AS (
        |  SELECT doc_id, source, text,
        |    CAST(length(text) AS INTEGER) AS len,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
        |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) AS n_alpha,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS DOUBLE) AS n_stop
        |  FROM corpus),
        |scored AS (
        |  SELECT doc_id, source, text, n_tok,
        |    round(n_alpha / len * 0.6 + n_stop / n_tok * 0.2 +
        |      CAST(len - n_tok + 1 AS DOUBLE) / n_tok / 10.0 * 0.2, 4) AS quality
        |  FROM f),
        |gated AS (SELECT * FROM scored WHERE quality >= 0.595),
        |keyed AS (
        |  SELECT *, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS key,
        |    row_number() OVER (PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |                       ORDER BY doc_id) AS rn
        |  FROM gated),
        |deduped AS (SELECT * FROM keyed WHERE rn = 1),
        |masked AS (
        |  SELECT doc_id, source, n_tok, quality,
        |    CAST(len(list_filter(string_split(
        |      regexp_replace(regexp_replace(text,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '[0-9]{6,}', '<NUM>', 'g'), ' '), w -> w <> '')) AS BIGINT) AS m_tok
        |  FROM deduped),
        |packed AS (
        |  SELECT doc_id, source, n_tok, quality, m_tok,
        |    CAST(COALESCE(sum(m_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        |  FROM masked)
        |SELECT doc_id, source, n_tok, quality, m_tok, tok_offset,
        |  CAST(tok_offset // 1024 AS BIGINT) AS pack_id
        |FROM packed ORDER BY doc_id""".stripMargin)(pipelineE2e))
}
