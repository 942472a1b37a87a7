package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.OpQuery
import graft.functions.KMeansLite
import graft.plans.VectorKernels
import graft.sources.Tables

/** Distributed data-mining operators over the documents/embeddings/
  * lineitem corpora: the model-adjacent passes a training-data platform
  * runs AFTER the cleaning ops (clustering the embedding space, ranking
  * documents for retrieval, statistical language-model scoring, graph
  * centrality, robust outlier detection).
  *
  * Determinism contract (same as the LSH family): every
  * order-sensitive float (a distributed mean, an in-neighbor sum) is
  * quantized with `round` at the point where accumulation order could
  * diverge between engines, so the DuckDB oracle hash-matches exactly.
  */
object Mining {

  private def docs(sp: SparkSession, dir: String): DataFrame =
    Tables.documents(sp, dir)

  // ---- kmeans: graded Lloyd training (the IVF coarse quantizer) -----------

  /** `op_kmeans_train` — 2 Lloyd iterations, k=4, over the embedding
    * corpus, then the final cell assignment per vector. This grades the
    * production path `op_similarity_ivf` only points at (its centroids
    * are fixed corpus vectors so the oracle can derive the cells; HERE
    * the training loop itself is under the hash check).
    *
    * Scale shape (KMeansLite): per iteration one broadcast argmax
    * assignment (map-side) + one (cell, dim)-keyed partial-avg shuffle
    * whose payload is k×dims doubles regardless of corpus size; only
    * the k×dims centroid matrix reaches the driver. Centroid means are
    * quantized to 6 decimals per iteration (`meanScale`) — the one
    * order-sensitive accumulation in the loop — which makes every
    * downstream cosine bit-equal across engines. */
  def kmeansTrain(sp: SparkSession, dir: String): DataFrame =
    kmeansAssign(Tables.embeddings(sp, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e")),
      k = 4, iters = 2, meanScale = 6)

  /** Core: train `k` centroids over `emb(vec_id, e)` and return the
    * final per-vector cell assignment (argmax cosine, ties -> lower
    * cell id — greatest() over (cos, -cell) structs, the KMeansLite
    * assignment rule). Exposed separately so known-answer specs can run
    * the full train+assign path on a hand-built corpus. */
  def kmeansAssign(emb: DataFrame, k: Int, iters: Int, meanScale: Int = 6): DataFrame = {
    val cents = KMeansLite.train(emb, "e", "vec_id", k, iters, meanScale)
    val scored = cents.zipWithIndex.map { case (c, i) =>
      struct(VectorKernels.cosine(col("e"), array(c.map(lit): _*)).as("cos"),
        lit(-i).as("negid"))
    }
    emb.withColumn("best", greatest(scored: _*))
      .select(col("vec_id"),
        (-col("best.negid")).cast("int").as("cell"),
        round(col("best.cos"), 4).as("cos4"))
      .transform(OpQuery.gradedSort("vec_id"))
  }

  /** DuckDB cosine between a vector column and a centroid list column. */
  private def cosSql(v: String, c: String): String =
    s"list_dot_product($v, $c) / (sqrt(list_dot_product($v, $v)) * sqrt(list_dot_product($c, $c)))"

  /** One oracle Lloyd round: assignment CTE against `centIn`, rounded
    * means, empty-cell fallback to the previous per-dim rows `cIn`. */
  private def lloydRoundSql(a: String, m: String, cOut: String, centOut: String,
      centIn: String, cIn: String): String =
    s"""$a AS (SELECT vec_id, cell FROM (
      |  SELECT emb.vec_id, $centIn.cell,
      |    row_number() OVER (PARTITION BY emb.vec_id ORDER BY
      |      ${cosSql("emb.e", s"$centIn.ce")} DESC, $centIn.cell ASC) AS rn
      |  FROM emb, $centIn) WHERE rn = 1),
      |$m AS (SELECT $a.cell, x.d, round(avg(x.v), 6) AS v
      |  FROM $a JOIN x USING (vec_id) GROUP BY $a.cell, x.d),
      |$cOut AS (SELECT $cIn.cell, $cIn.d, coalesce($m.v, $cIn.v) AS v
      |  FROM $cIn LEFT JOIN $m ON $m.cell = $cIn.cell AND $m.d = $cIn.d),
      |$centOut AS (SELECT cell, list(v ORDER BY d) AS ce FROM $cOut GROUP BY cell)""".stripMargin

  private val kmeansOracle: String =
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |init AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, e
      |  FROM (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT 4)),
      |c0 AS (SELECT cell, generate_subscripts(e, 1) AS d, unnest(e) AS v FROM init),
      |cent0 AS (SELECT cell, list(v ORDER BY d) AS ce FROM c0 GROUP BY cell),
      |x AS (SELECT vec_id, generate_subscripts(e, 1) AS d, unnest(e) AS v FROM emb),
      |${lloydRoundSql("a1", "m1", "c1", "cent1", "cent0", "c0")},
      |${lloydRoundSql("a2", "m2", "c2", "cent2", "cent1", "c1")},
      |fin AS (SELECT vec_id, cell, cos FROM (
      |  SELECT emb.vec_id, cent2.cell, ${cosSql("emb.e", "cent2.ce")} AS cos,
      |    row_number() OVER (PARTITION BY emb.vec_id ORDER BY
      |      ${cosSql("emb.e", "cent2.ce")} DESC, cent2.cell ASC) AS rn
      |  FROM emb, cent2) WHERE rn = 1)
      |SELECT vec_id, cell, round(cos, 4) AS cos4 FROM fin ORDER BY vec_id""".stripMargin

  // ---- B78: greedy k-center coreset selection ------------------------------

  /** Number of greedy centers the graded op selects (the public API
    * takes a caller count). */
  private[graft] val KCenterK = 8

  /** B78 — `op_select_kcenter`: greedy k-center coreset selection over
    * the embedding column (Gonzalez 1985, "Clustering to minimize the
    * maximum intercluster distance", TCS 38 — the farthest-point
    * traversal; adopted for training-data coreset selection by Sener &
    * Savarese 2018, "Active Learning for Convolutional Neural
    * Networks: A Core-Set Approach", arXiv:1708.00489): seed with the
    * minimum vec_id, then K−1 times pick the vector FARTHEST from the
    * selected set (distance = round(1 − cosine, 4) — the certified
    * B18/B43 rounded-cosine rule, so the argmax compares only 4 dp
    * values; ties → lowest vec_id). Output: one row per selected
    * center (step, vec_id, mindist) — mindist of the step-t pick IS
    * the k-center coverage radius after t−1 centers, so the column
    * traces the radius-shrink curve the method optimizes; the seed
    * carries the declared sentinel 2.0 (the cosine-distance maximum).
    *
    * Scale shape: the k-means loop discipline — each iteration is ONE
    * map-side pass over the corpus (min over ≤ K literal center
    * vectors, `least` of codegen'd kernels) with a
    * TakeOrderedAndProject(1) argmax; exactly one (id, vector, dist)
    * row reaches the driver per step (K·(dims+2) values total). The
    * incremental-mindist form (carry the running min as a column,
    * fold in only the NEW center) is what a production run at large K
    * persists; at K = 8 the recompute-from-literals form keeps the
    * graded plan stateless between steps. */
  def selectKcenter(sp: SparkSession, dir: String): DataFrame =
    selectKcenterWith(Tables.embeddings(sp, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e")),
      KCenterK).transform(OpQuery.gradedSort("step"))

  /** Core behind [[selectKcenter]] and `api.Graft.coresetKcenter`.
    * All K actions run inside this call and the returned frame is a
    * driver-assembled LocalRelation, so the corpus cache is released
    * synchronously before returning — no listener, no leak on either
    * path. Empty input fails loudly; `k` greater than the number of
    * vectors returns the selection that exists (every vector picked —
    * the greedy traversal has nothing left to cover). */
  private[graft] def selectKcenterWith(emb: DataFrame, k: Int): DataFrame = {
    val sp = emb.sparkSession
    import sp.implicits._
    val cached = emb.cache() // K passes read it within this call
    try {
      val seed = cached.orderBy("vec_id").limit(1).collect().headOption
        .getOrElse(throw new IllegalArgumentException(
          "selectKcenter: empty input — k-center selection needs at " +
            "least one vector"))
      val picked = scala.collection.mutable.ArrayBuffer(
        (1, seed.getLong(0), 2.0, seed.getSeq[Double](1).toArray))
      var t = 2
      var drained = false
      while (t <= k && !drained) {
        val mind = picked.map { case (_, _, _, cv) =>
          // + 0.0 normalizes IEEE negative zero: identical vectors give
          // cos an ULP above 1, and round(1 - cos, 4) then lands on -0.0
          // in one engine and 0.0 in the other (caught by the degenerate
          // corpus certification on its first run)
          round(lit(1.0) - VectorKernels.cosine(col("e"), typedlit(cv.toSeq)), 4) + lit(0.0)
        }.reduce(least(_, _))
        val ids = picked.map(_._2).toSeq
        // headOption: k past the number of vectors leaves nothing to
        // pick — return the selection that exists instead of throwing
        // (ADVICE r16 low)
        cached.filter(!col("vec_id").isin(ids: _*))
          .withColumn("md", mind)
          .orderBy(col("md").desc, col("vec_id")).limit(1)
          .collect().headOption match {
          case None => drained = true
          case Some(top) =>
            picked += ((t, top.getLong(0), top.getDouble(2),
              top.getSeq[Double](1).toArray))
            t += 1
        }
      }
      picked.toSeq.map(p => (p._1, p._2, p._3))
        .toDF("step", "vec_id", "mindist")
    } finally cached.unpersist()
  }

  /** Unrolled oracle: block t derives the running mindist frame `m$t`
    * from `m${t-1}` (drop the new center, fold its distance into the
    * min) and picks `c$t` — the same incremental greedy. */
  private def kcenterStepSql(t: Int): String = {
    val (mPrev, cPrev, m, c) = (s"m${t - 1}", s"c${t - 1}", s"m$t", s"c$t")
    s"""$m AS (
       |  SELECT $mPrev.vec_id, $mPrev.e,
       |    least($mPrev.md, round(1 - ${cosSql(s"$mPrev.e", s"$cPrev.e")}, 4) + 0.0) AS md
       |  FROM $mPrev, $cPrev WHERE $mPrev.vec_id <> $cPrev.vec_id),
       |$c AS (SELECT vec_id, e, md FROM $m ORDER BY md DESC, vec_id LIMIT 1)""".stripMargin
  }

  private[graft] lazy val KcenterSql: String = {
    val blocks = (2 to KCenterK).map(kcenterStepSql).mkString(",\n")
    val rows = (2 to KCenterK).map { t =>
      s"SELECT $t AS step, vec_id, md AS mindist FROM c$t"
    }.mkString("\nUNION ALL ")
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |c1 AS (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT 1),
       |m1 AS (
       |  SELECT emb.vec_id, emb.e, CAST(2.0 AS DOUBLE) AS md
       |  FROM emb, c1 WHERE emb.vec_id <> c1.vec_id),
       |$blocks
       |SELECT 1 AS step, vec_id, CAST(2.0 AS DOUBLE) AS mindist FROM c1
       |UNION ALL $rows
       |ORDER BY step""".stripMargin
  }

  // ---- pagerank: 3 power iterations on the supplier-part graph ------------

  /** `op_graph_pagerank` — PageRank (damping 0.85, 3 fixed power
    * iterations) over the undirected supplier↔part bipartite graph from
    * distinct lineitem pairs; node ids are odd/even re-keyed (2·suppkey
    * / 2·partkey+1 — the collision-free keying, never a fixed offset).
    *
    * Scale shape: the canonical Spark iterative-graph loop — edges
    * cached once WITH the destination degree folded in (`edges(a, b,
    * deg_b)`), so each iteration is ONE contribution join (edge src ⋈
    * rank) + ONE dst-keyed min-shuffle-width sum that carries `deg_b`
    * through the agg — no per-iteration re-attach join against `deg`
    * (2 Exchanges per superstep, not 3; at 100× with more iterations
    * that third shuffle dominates). Each rank frame has exactly ONE
    * consumer (the next iteration) and the loop body runs no actions,
    * so iterations chain LAZILY — one downstream action executes every
    * superstep exactly once and per-iteration eager checkpoints would
    * be pure block-write overhead (unlike the CC closure, whose
    * per-superstep convergence probe IS an action and therefore needs
    * materialization). Lineage is truncated every
    * [[CheckpointEvery]] iterations — bounding plan size for
    * many-iteration runs — and at the last, so the returned frame
    * reads materialized blocks and the loop caches can be dropped.
    * Undirected edges mean every node has degree ≥ 1 — no
    * dangling-mass redistribution term. The in-neighbor sum is the
    * order-sensitive accumulation: quantized to 9 decimals per
    * iteration. */
  def graphPagerank(sp: SparkSession, dir: String): DataFrame =
    pagerankRanks(Tables.lineitem(sp, dir)
      .select((col("l_suppkey") * 2).as("a"), (col("l_partkey") * 2 + 1).as("b"))
      .distinct(), iters = 3)

  /** Lineage-truncation cadence for iterative rank loops: checkpoint
    * every 8th iteration (plan depth stays bounded for long runs)
    * instead of every iteration (pointless eager materialization for
    * the common few-iteration case — see [[graphPagerank]]). */
  private val CheckpointEvery = 8

  /** ONE pagerank superstep over the degree-folded edge list: the
    * contribution join (rank/deg onto edge sources) + the dst-keyed
    * sum that carries `deg_b` through as the new frame's degree.
    * Exposed so the plan spec can PIN the r10 shape — exactly TWO
    * exchanges per superstep (the node-sized rank shuffle + the agg),
    * with the cached edge side reusing its co-partitioning — a
    * regression back to a per-iteration deg re-join or a cache
    * reshuffle fails CI, not a future 100 TB run. */
  private[graft] def pagerankStep(edges: DataFrame, pr: DataFrame, n: Long): DataFrame =
    edges
      // SHUFFLE_HASH, not sort-merge: SMJ would re-SORT the cached
      // corpus-sized edge side every superstep (the cache stores rows,
      // not sort order); hashing the NODE-sized rank frame instead
      // streams edges unsorted — same exchanges, no per-iteration sort
      .join(pr.select(col("id").as("a"), (col("pr") / col("deg")).as("w"))
        .hint("shuffle_hash"), "a")
      .groupBy(col("b").as("id"))
      // 0.15 spelled as a literal, NOT (1 - 0.85): the subtraction
      // lands one ulp off the 0.15 the oracle parses
      .agg(round(lit(0.15 / n) + lit(0.85) * sum(col("w")), 9).as("pr"),
        max(col("deg_b")).as("deg"))

  /** The degree-folded, join-key-co-partitioned, cached edge list the
    * superstep joins against — see [[pagerankRanks]] body comments.
    * (r22 A/B, recorded negative: re-attaching the degree per
    * superstep from the cached node-sized deg table — saving this
    * b-keyed edge exchange and a third of the cache width — measured
    * SLOWER at the bench SF, isolated best 1.77 s -> 2.22 s: three
    * extra node-sized SHJ joins cost more than the one edge exchange
    * they save at 600k edges. The fold stays; at a scale where the
    * edge list dwarfs the node set the trade reverses — re-measure
    * there before re-attempting.) */
  private[graft] def pagerankEdges(rawEdges: DataFrame, deg: DataFrame): DataFrame =
    rawEdges
      .join(deg.select(col("a").as("b"), col("deg").as("deg_b")), "b")
      .select("a", "b", "deg_b")
      .repartition(col("a"))

  /** Core: PageRank over the undirected closure of `pairs(a, b)` (each
    * input pair contributes both directions; pairs must be distinct).
    * Exposed separately for known-answer specs on planted graphs. */
  def pagerankRanks(pairs: DataFrame, iters: Int): DataFrame = {
    // persist the DISTINCT pair list before mirroring it (r21, guide
    // §2.4): `pairs` appears twice in rawEdges (forward + swapped) and
    // rawEdges twice more (deg agg, edge build) — without the cache the
    // upstream scan + distinct exchange ran up to 4× per execution.
    // One scan now feeds all four consumers; pair-list-sized (≤ the
    // edge cache this loop already holds), released with the loop.
    val pairs0 = pairs.persist()
    val rawEdges = pairs0
      .union(pairs0.select(col("b").as("a"), col("a").as("b")))
    // cache, not an eager localCheckpoint: the n-count right below is
    // the first action and materializes the blocks — checkpointing
    // here would run a separate job just to produce blocks the count
    // was about to produce anyway (one job saved per run; lineage
    // above deg is two narrow ops + one agg, so truncation buys
    // nothing)
    val deg = rawEdges.groupBy("a").agg(count(lit(1)).as("deg")).cache()
    // fold the DESTINATION degree into the edge list once, before the
    // loop: the dst-keyed agg can then carry deg_b through (all rows in
    // a dst group share it), so no iteration re-joins deg. The cache is
    // REPARTITIONED ON THE JOIN KEY `a` (the deg join left it keyed on
    // b): InMemoryRelation preserves its partitioning, so every
    // iteration's contribution join reuses it and only the NODE-sized
    // rank frame shuffles — the edge list (the corpus-sized side)
    // crosses the wire once at setup, not once per superstep.
    val edges = pagerankEdges(rawEdges, deg).cache()
    var pinned: List[DataFrame] = List(deg)
    try {
      val n = deg.count()
      // the rank frame CARRIES its degree so no iteration ever joins a
      // frame against its own lineage ancestor (self-join ambiguity)
      var pr = deg.select(col("a").as("id"), lit(1.0 / n).as("pr"), col("deg"))
      for (i <- 1 to iters) {
        var next = pagerankStep(edges, pr, n)
        // truncate only at the cadence boundary and at the END (the
        // eager final checkpoint runs the whole lazy chain once; the
        // returned frame then reads its blocks, so deg/edges can drop)
        if (i % CheckpointEvery == 0 || i == iters) {
          // session-aware: reliable on a checkpoint-dir'd cluster
          // session, localCheckpoint otherwise (Checkpoints scaladoc)
          next = graft.functions.Checkpoints.truncate(next)
          pinned = next :: pinned
          pinned.tail.foreach(_.unpersist())
          pinned = List(next)
        }
        pr = next
      }
      edges.unpersist(); pairs0.unpersist()
      pr.select(col("id").as("node_id"), round(col("pr"), 6).as("pr6"))
        .transform(OpQuery.gradedSort("node_id"))
    } catch { case e: Throwable =>
      pinned.foreach(_.unpersist()); edges.unpersist(); pairs0.unpersist(); throw e
    }
    }

  /** Same three unrolled power iterations as before, but each one is a
    * plain hash aggregation over an edges⋈contributions join: the
    * total-node-count scalar comes from a scalar subquery and the
    * per-node contribution (pr/deg) is its own CTE, instead of the
    * previous 1-row `, nn` cross join + `any_value(nn.n)` INSIDE the
    * aggregation — that shape degraded DuckDB's plan ~1000× (one
    * iteration 186 s → 0.2 s at sf0.1, measured r15) and made the
    * oracle infeasible a decade above the gate SF. Values are
    * identical: the same per-edge multiset is summed, with the same
    * per-iteration round(…, 9). */
  private val pagerankOracle: String =
    """WITH e0 AS (SELECT DISTINCT l_suppkey * 2 AS a, l_partkey * 2 + 1 AS b FROM lineitem),
      |e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
      |deg AS (SELECT a AS id, count(*) AS deg FROM e GROUP BY a),
      |nn AS (SELECT count(*) AS n FROM deg),
      |p0 AS (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM deg),
      |c0 AS (SELECT p0.id, p0.pr / deg.deg AS contrib FROM p0 JOIN deg ON p0.id = deg.id),
      |p1 AS (SELECT e.b AS id, round(CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
      |         + CAST(0.85 AS DOUBLE) * sum(c0.contrib), 9) AS pr
      |       FROM e JOIN c0 ON e.a = c0.id GROUP BY e.b),
      |c1 AS (SELECT p1.id, p1.pr / deg.deg AS contrib FROM p1 JOIN deg ON p1.id = deg.id),
      |p2 AS (SELECT e.b AS id, round(CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
      |         + CAST(0.85 AS DOUBLE) * sum(c1.contrib), 9) AS pr
      |       FROM e JOIN c1 ON e.a = c1.id GROUP BY e.b),
      |c2 AS (SELECT p2.id, p2.pr / deg.deg AS contrib FROM p2 JOIN deg ON p2.id = deg.id),
      |p3 AS (SELECT e.b AS id, round(CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
      |         + CAST(0.85 AS DOUBLE) * sum(c2.contrib), 9) AS pr
      |       FROM e JOIN c2 ON e.a = c2.id GROUP BY e.b)
      |SELECT id AS node_id, round(pr, 6) AS pr6 FROM p3 ORDER BY node_id""".stripMargin

  // ---- bm25: retrieval ranking over the document corpus -------------------

  private val bm25Terms = Seq("spark", "vector", "hash")

  /** `op_bm25` — Okapi BM25 (k1=1.2, b=0.75) document ranking for a
    * fixed query term set, top 20. The textbook retrieval scorer a
    * training-data platform uses for targeted corpus slicing.
    *
    * Scale shape: tokenize map-side → one (doc, term) partial-agg
    * shuffle for tf (query terms only — the filter prunes the explode
    * output to ~|q| rows per doc BEFORE the shuffle); df and corpus
    * stats are term-/scalar-sized and broadcast; final top-k is
    * TakeOrderedAndProject, never a global sort. Ranks are computed on
    * the ROUNDED score (ties broken by doc_id) so ordering is
    * cross-engine stable. */
  def bm25(sp: SparkSession, dir: String): DataFrame =
    bm25Rank(docs(sp, dir), bm25Terms, topK = 20)

  /** Core: BM25 top-`topK` ranking of `corpus(doc_id, text)` for the
    * fixed `terms`. Exposed separately for known-answer specs on a
    * hand-computable corpus. */
  def bm25Rank(corpus0: DataFrame, terms: Seq[String], topK: Int): DataFrame = {
    val toks = corpus0.select(col("doc_id"),
      explode(filter(split(col("text"), " "), t => t =!= "")).as("term"))
    // persisted (r21): dl feeds the corpus-stats agg and the contrib
    // join — unpersisted, each consumer re-ran the corpus tokenize +
    // explode (4 corpus scans per execution → 2: dl build + the tf
    // instance side). Doc-sized, two columns.
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl")).persist()
    val corpus = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val tf = toks.filter(col("term").isin(terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val contrib = tf
      .join(dl, "doc_id")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(corpus))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("c", col("idf") * (col("tf") * lit(2.2)) /
        (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
    val scored = contrib.groupBy("doc_id").agg(round(sum("c"), 4).as("score"))
    val top = scored.orderBy(col("score").desc, col("doc_id").asc).limit(topK)
    // rank WITHOUT a partition-less window (which would move all data to
    // a single partition — fine on these topK rows, but WindowExec warns
    // and a literal partition key gets constant-folded away): pack the
    // bounded top-k into one sorted array and rank = array position.
    // struct sorts ascending, so negate the score for desc-score order.
    top.agg(sort_array(collect_list(struct((-col("score")).as("ns"), col("doc_id"))))
        .as("arr"))
      .select(posexplode(col("arr")).as(Seq("i", "r")))
      .select(col("r.doc_id").as("doc_id"),
        (col("i") + 1).cast("int").as("rank"),
        (-col("r.ns")).as("score"))
      .orderBy("rank") // bare: one exploded aggregate row, no exchange
  }

  private val bm25Oracle: String =
    """WITH toks AS (SELECT doc_id,
      |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      |  FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
      |corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
      |  WHERE term IN ('spark', 'vector', 'hash') GROUP BY doc_id, term),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |contrib AS (SELECT tf.doc_id,
      |    ln(CAST(1.0 AS DOUBLE) + (corpus.n_docs - dfreq.df + CAST(0.5 AS DOUBLE))
      |       / (dfreq.df + CAST(0.5 AS DOUBLE)))
      |      * (tf.tf * CAST(2.2 AS DOUBLE))
      |      / (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
      |         + CAST(0.75 AS DOUBLE) * dl.dl / corpus.avgdl)) AS c
      |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term), corpus),
      |scored AS (SELECT doc_id, round(sum(c), 4) AS score FROM contrib GROUP BY doc_id),
      |ranked AS (SELECT doc_id, score,
      |    CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
      |  FROM scored)
      |SELECT doc_id, rank, score FROM ranked WHERE rank <= 20 ORDER BY rank""".stripMargin

  // ---- ngram_lm: bigram language-model scoring -----------------------------

  /** `op_ngram_lm` — train a corpus bigram LM (add-1 smoothing) and
    * score every document by its mean log-probability: the classic
    * cheap perplexity proxy for quality filtering (docs whose bigrams
    * are globally rare score low; spammy repetition scores high).
    *
    * Scale shape: bigrams are built map-side from the token array
    * (slice+zip — no positional self-join); the model IS two count
    * aggregations (bigram, unigram-prefix) with map-side partials; the
    * scoring join streams bigram instances against the model. Both
    * model joins are shuffle joins on their natural keys: c1 and c2
    * are VOCABULARY-sized (unbounded at 100 TB — billions of distinct
    * tokens), so neither gets a broadcast hint; AQE picks from runtime
    * stats at small SF. The (w1, w2) key is Zipf-skewed ("the …"
    * bigrams dominate) — MEASURED story (SkewProbe, PLANS.md r7): at
    * 10× sf0.1 the 32-partition shuffle histogram is max/median 2.03
    * — hash partitioning spreads the many hot keys, so no partition
    * skew exists to mitigate; and AQE's OptimizeSkewedJoin declines
    * this shape even when forced, because the model joins REUSE the
    * count-aggregation exchanges. Because AQE won't save this plan by
    * construction, the 100 TB escape is WIRED IN, not a comment: any
    * prefix whose instance count crosses `HotPrefixInstances` routes
    * through `Skew.saltedJoin` on both model joins (hot-key split
    * salting; result-invariant, SkewProbe measures it firing on a
    * planted hot bigram), while the cold tail keeps the plain
    * exchange-reusing joins. Hot prefixes are detected by one bounded
    * probe of the cached unigram model and routed as literal
    * predicates, so on healthy corpora the OPTIMIZER erases the salted
    * branch at plan time (no gate joins, no reliance on AQE
    * empty-relation propagation, which pins already-created stages on
    * large plans). The per-doc mean is the order-sensitive sum: final
    * `round(4)`. */
  def ngramLm(sp: SparkSession, dir: String): DataFrame =
    ngramLmScores(docs(sp, dir)).transform(OpQuery.gradedSort("doc_id"))

  /** Instance-count threshold above which a bigram PREFIX takes the
    * salted-join path: sized so it only trips when one prefix rivals a
    * healthy production shuffle partition (~10^7 instances ≈ hundreds
    * of MB of instance rows), far above any test-SF count — test-scale
    * plans are unchanged; SkewProbe passes a low threshold explicitly. */
  val HotPrefixInstances: Long = 10000000L

  /** Salt fan-out for the hot-prefix branch. */
  private val NgramSalts = 8

  /** Cap on hot prefixes routed as LITERAL predicates: above this the
    * isin plan would bloat, so routing falls back to the broadcast-set
    * formulation. A Zipf head above `HotPrefixInstances` holds a
    * handful of keys on any real corpus; 64 is far past that. */
  private val MaxHotPrefixLiterals = 64

  /** Core: bigram-LM mean log-prob per document over
    * `corpus(doc_id, text)`. Exposed for known-answer specs and (with
    * a low `hotPrefixInstances`) for SkewProbe's salted-path run. */
  def ngramLmScores(corpus: DataFrame,
      hotPrefixInstances: Long = HotPrefixInstances): DataFrame = {
    val toks = corpus
      .select(col("doc_id"), filter(split(col("text"), " "), t => t =!= "").as("ts"))
      .filter(size(col("ts")) >= 2)
    val big = toks
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("ts"), lit(1), size(col("ts")) - 1).as("w1"),
        slice(col("ts"), lit(2), size(col("ts")) - 1).as("w2"))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // the bigram MODEL is cached and everything model-shaped DERIVES
    // from it (r21, guide §2.3 "aggregate before you shuffle / don't
    // recompute what an aggregate already holds"): the pre-r21 plan
    // aggregated the corpus THREE more times after c2 — once for c1,
    // once for the vocab countDistinct (an all-token-instances
    // distinct shuffle), once more re-exploding for the probe — four
    // tokenize+explode passes per run. Now: c1(w1) = Σ_w2 c2(w1,w2)
    // (identical counts by construction, a vocabulary-sized rollup of
    // the cache), and |vocab| = |distinct w1 ∪ distinct last-tokens|
    // (every token is a bigram PREFIX except each doc's last; toks
    // already holds the ≥2-token docs the scores are defined over) —
    // the last-token pass projects ONE array element per doc, no
    // explode, no instance-sized distinct. Two corpus passes total
    // (model agg + scoring instances), both stated by the oracle. The
    // cache is vocabulary-sized (the bigram LM itself, the artifact a
    // production run stores; spills to disk at 100 TB).
    val c2 = big.groupBy("w1", "w2").agg(count(lit(1)).as("c2")).cache()
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    val vocab = c2.select(col("w1").as("t")).union(
        toks.select(element_at(col("ts"), size(col("ts"))).as("t")))
      .agg(countDistinct(col("t")).as("v"))
    // hot-prefix detection: one bounded probe of the cached model. The
    // hot SET is tiny by construction (prefixes above a partition-sized
    // instance count — the Zipf head), so collect at most
    // MaxHotPrefixLiterals+1 keys and route by LITERAL predicate:
    // on every healthy corpus the probe returns EMPTY, the filters
    // constant-fold, and the OPTIMIZER erases the entire salted branch
    // at plan time — guaranteed at any scale, where the old
    // broadcast-set routing left a semi-join gate + two model
    // (anti-)joins in every plan and relied on AQE empty-relation
    // propagation, which does NOT collapse already-created stages on
    // large plans (measured at 10x sf0.1). A degenerate corpus with
    // more hot prefixes than the literal cap falls back to that
    // broadcast-set routing, which never collects more than the cap.
    val hotKeys = c1.filter(col("c1") >= hotPrefixInstances)
      .select("w1").limit(MaxHotPrefixLiterals + 1).collect().map(_.getString(0))
    // r22 (guide §2.3 — shuffle fewer bytes): pre-merge the MODEL into
    // one (w1, w2, logp) table before it meets the instance stream.
    // The r21 shape joined the instances against c2 on (w1, w2) and
    // then against c1 on (w1) — TWO bigram-instance-sized exchanges
    // (the second re-shuffled every instance row by prefix); merging
    // c1 (and the broadcast |vocab| scalar) into the model first costs
    // one extra VOCABULARY-sized exchange and leaves ONE instance
    // exchange. logp per (w1, w2) is computed from the identical
    // c2/c1/v, so every instance row carries the identical logp; the
    // per-doc mean is the same multiset — round(4) is stated by the
    // oracle. The salted hot-prefix escape also collapses from two
    // nested salted joins to one.
    val model = c2.join(c1, Seq("w1")).crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        log((col("c2") + lit(1.0)) / (col("c1") + col("v"))).as("logp"))
    val scored =
      if (hotKeys.length <= MaxHotPrefixLiterals) {
        val isHot = if (hotKeys.isEmpty) lit(false)
                    else col("w1").isin(hotKeys.toSeq: _*)
        // inner-join semantics route each instance row through exactly
        // one branch; the model side only needs filtering where the
        // salted explode must stay hot-set-sized
        val cold = big.filter(!isHot).join(model, Seq("w1", "w2"))
        val hotJ = Skew.saltedJoin(big.filter(isHot), model.filter(isHot),
          Seq("w1", "w2"), NgramSalts, col("doc_id"))
        cold.unionByName(hotJ)
      } else {
        val hotSet = c1.filter(col("c1") >= hotPrefixInstances).select("w1")
        val mCold = model.join(broadcast(hotSet), Seq("w1"), "left_anti")
        val mHot = model.join(broadcast(hotSet), Seq("w1"))
        val cold = big.join(mCold, Seq("w1", "w2"))
        // the semi-join gates the salted shuffle behind the hot-set
        // broadcast and shrinks it to the hot rows
        val hotB = big.join(broadcast(hotSet), Seq("w1"), "left_semi")
        val hotJ = Skew.saltedJoin(hotB, mHot, Seq("w1", "w2"),
          NgramSalts, col("doc_id"))
        cold.unionByName(hotJ)
      }
    scored
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg("logp"), 4).as("avg_logp"))
    // NO total sort here: this is the shared scoring core — only the
    // graded op adds the oracle's ORDER BY; the B63 bucket pipeline
    // consumes the scores through aggregations/joins where a
    // corpus-wide range-exchange sort would be pure waste at scale
  }

  // ---- B63: LM-based corpus filtering --------------------------------------

  /** B63 — `op_perplexity_filter`: the CCNet recipe (Wenzek et al.
    * 2019, arXiv:1911.00359) — score every document with a language
    * model trained on the corpus itself, split the corpus into
    * head / middle / tail perplexity terciles, and keep the head and
    * middle. The LM is B46's bigram model (`ngramLmScores`, add-one
    * smoothing, per-doc mean log-prob rounded to 4 — the SAME scores
    * op_ngram_lm grades, so their cross-engine equality is already
    * certified). Docs with no bigram (< 2 tokens) are out of scope —
    * the LM cannot score them and every length filter upstream drops
    * them anyway.
    *
    * Determinism contract: NO float ever crosses an engine boundary
    * in a comparison. The rounded score is scaled to an exact integer
    * (`round(avg_logp·10⁴)` — 4 decimals by construction, so the
    * nearest-integer round only sheds ~1e-9 representation error,
    * never a boundary), terciles are integer thresholds over the
    * score HISTOGRAM (`t_k` = smallest integer score whose cumulative
    * count reaches ⌈k·n/3⌉), and bucket membership is an integer
    * comparison. Ties share a score value and therefore a bucket —
    * the tie-inclusive cut is the declared semantics (CCNet's own
    * buckets are threshold-, not rank-, based).
    *
    * Scale shape: scoring inherits B46's plan (bounded hot-prefix
    * routing, model-sized aggregates). The tercile pass never ranks
    * the corpus: it aggregates the VALUE histogram — cardinality
    * bounded by the 4-dp score RANGE (a few 10⁴ values however large
    * the corpus), so the single-partition cumulative window is
    * constant-size at any scale — and broadcasts two integer
    * thresholds back over the docs. This is exactly how a 100 TB
    * percentile filter should run: histogram, threshold, map-side
    * filter; never a global sort. */
  def perplexityFilter(sp: SparkSession, dir: String): DataFrame =
    perplexityBucketsWith(docs(sp, dir),
      n => ceil(n / 3.0), n => ceil(n * 2 / 3.0))._1.transform(OpQuery.gradedSort("doc_id"))

  /** Core behind [[perplexityFilter]] and `api.Graft.perplexityBuckets`:
    * the same histogram → integer-threshold → map-side-bucket plan
    * over any `corpus(doc_id, text)`. `cut1`/`cut2` map the total doc
    * count to the cumulative-count levels where tail ends and head
    * begins (the graded op passes the oracle's exact `ceil(n/3.0)` /
    * `ceil(n·2/3.0)` expressions; the API derives them from caller
    * fractions). Returns the result plus a release handle that
    * unpersists the cached scores frame (the public API wires it to a
    * self-releasing listener; `ngramLmScores`' internal unigram-model
    * cache stays — it is vocabulary-sized, shared with op_ngram_lm,
    * and orders of magnitude smaller than the corpus). */
  private[graft] def perplexityBucketsWith(corpus: DataFrame,
      cut1: Column => Column, cut2: Column => Column): (DataFrame, () => Unit) = {
    // three consumers (histogram, doc count, final bucket join) read the
    // scores — cache the (doc_id, score) frame so B46's bigram scoring
    // runs ONCE (it is the query's whole cost; the cached frame is three
    // skinny columns, corpus-row-sized, spills to disk at 100 TB)
    val scores = ngramLmScores(corpus)
      .select(col("doc_id"), col("avg_logp"),
        round(col("avg_logp") * 10000).cast("long").as("s_i"))
      .cache()
    val hist = scores.groupBy("s_i").agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum",
      sum(col("c")).over(Window.orderBy("s_i")
        .rowsBetween(Window.unboundedPreceding, 0)))
    val th = cum.crossJoin(broadcast(scores.agg(count(lit(1)).as("n"))))
      .agg(
        min(when(col("cum") >= cut1(col("n")), col("s_i"))).as("t1"),
        min(when(col("cum") >= cut2(col("n")), col("s_i"))).as("t2"))
    val result = scores.crossJoin(broadcast(th))
      .select(col("doc_id"), col("avg_logp"),
        when(col("s_i") <= col("t1"), lit("tail"))
          .when(col("s_i") <= col("t2"), lit("middle"))
          .otherwise(lit("head")).as("bucket"),
        (col("s_i") > col("t1")).as("kept"))
    (result, () => { scores.unpersist(); () })
  }

  private val perplexityFilterOracle: String =
    """WITH ts AS (SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ts
      |  FROM documents),
      |toks AS (SELECT doc_id, unnest(ts) AS t, generate_subscripts(ts, 1) AS pos FROM ts),
      |big AS (SELECT a.doc_id, a.t AS w1, b.t AS w2
      |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
      |vocab AS (SELECT count(DISTINCT t) AS v FROM toks),
      |scores AS (SELECT big.doc_id,
      |    round(avg(ln((c2.c2 + CAST(1.0 AS DOUBLE)) / (c1.c1 + vocab.v))), 4) AS avg_logp
      |  FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1), vocab
      |  GROUP BY big.doc_id),
      |si AS (SELECT doc_id, avg_logp,
      |    CAST(round(avg_logp * 10000) AS BIGINT) AS s_i FROM scores),
      |hist AS (SELECT s_i, count(*) AS c FROM si GROUP BY s_i),
      |cum AS (SELECT s_i, sum(c) OVER (ORDER BY s_i
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM hist),
      |tot AS (SELECT count(*) AS n FROM si),
      |th AS (SELECT
      |    min(CASE WHEN cum >= ceil(n / 3.0) THEN s_i END) AS t1,
      |    min(CASE WHEN cum >= ceil(n * 2 / 3.0) THEN s_i END) AS t2
      |  FROM cum, tot)
      |SELECT si.doc_id, si.avg_logp,
      |  CASE WHEN si.s_i <= th.t1 THEN 'tail'
      |       WHEN si.s_i <= th.t2 THEN 'middle'
      |       ELSE 'head' END AS bucket,
      |  si.s_i > th.t1 AS kept
      |FROM si, th ORDER BY si.doc_id""".stripMargin

  private val ngramLmOracle: String =
    """WITH ts AS (SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ts
      |  FROM documents),
      |toks AS (SELECT doc_id, unnest(ts) AS t, generate_subscripts(ts, 1) AS pos FROM ts),
      |big AS (SELECT a.doc_id, a.t AS w1, b.t AS w2
      |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2),
      |c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY w1),
      |vocab AS (SELECT count(DISTINCT t) AS v FROM toks)
      |SELECT big.doc_id, count(*) AS n_bigrams,
      |  round(avg(ln((c2.c2 + CAST(1.0 AS DOUBLE)) / (c1.c1 + vocab.v))), 4) AS avg_logp
      |FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1), vocab
      |GROUP BY big.doc_id ORDER BY doc_id""".stripMargin

  // ---- anomaly_mad: robust outlier detection -------------------------------

  /** `op_anomaly_mad` — median/MAD outlier counts per event type over
    * `events.value`: the robust (quartile-free) anomaly screen for
    * metric streams, immune to the outliers it is hunting (unlike
    * mean/stddev z-scores).
    *
    * Scale shape: two exact per-group percentile passes (group-local
    * sort — the same contract `op_agg_quantiles` grades, with
    * `approx_percentile` as the documented 100 TB path) with the
    * group-count-sized med/mad frames broadcast back; medians are
    * quantized to 6 decimals before the comparison so the 3×MAD
    * threshold test is cross-engine exact. */
  def anomalyMad(sp: SparkSession, dir: String): DataFrame =
    madScreen(Tables.events(sp, dir).select(col("event_type"), col("value")))

  /** Core: median/MAD outlier screen over `ev(event_type, value)`.
    * Exposed for known-answer specs on planted-outlier groups. */
  def madScreen(ev: DataFrame): DataFrame = {
    val med = ev.groupBy("event_type")
      .agg(round(percentile(col("value"), lit(0.5)), 6).as("med"))
    // persisted (r21): dev feeds the MAD percentile AND the final
    // rollup — unpersisted, both consumers re-ran the event scan and
    // the median percentile pass (4 event scans per execution → 2).
    // Event-row-sized, three skinny columns.
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
      .persist()
    val mad = dev.groupBy("event_type")
      .agg(round(percentile(col("dev"), lit(0.5)), 6).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        max("med").as("med"),
        max("mad").as("mad"),
        sum(when(col("dev") > lit(3.0) * col("mad"), 1L).otherwise(0L)).as("n_outliers"),
        round(max("dev"), 6).as("max_dev"))
      .transform(OpQuery.gradedSort("event_type"))
  }

  private val anomalyMadOracle: String =
    """WITH ev AS (SELECT event_type, value FROM events),
      |med AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
      |  FROM ev GROUP BY event_type),
      |dev AS (SELECT ev.event_type, ev.value, med.med,
      |    abs(ev.value - med.med) AS dev
      |  FROM ev JOIN med USING (event_type)),
      |mad AS (SELECT event_type, round(quantile_cont(dev, 0.5), 6) AS mad
      |  FROM dev GROUP BY event_type)
      |SELECT dev.event_type, count(*) AS n, max(dev.med) AS med, max(mad.mad) AS mad,
      |  CAST(sum(CASE WHEN dev.dev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  round(max(dev.dev), 6) AS max_dev
      |FROM dev JOIN mad USING (event_type)
      |GROUP BY dev.event_type ORDER BY event_type""".stripMargin

  // ---- B95: Benford first-digit conformance screen ----------------------------

  /** B95 — `op_stats_benford`: first-significant-digit distribution vs
    * Benford's law (Newcomb 1881 / Benford 1938; Nigrini's forensic-
    * accounting screen) over `orders.o_totalprice` — the data-QA /
    * anomaly screen a warehouse runs on any money-like column:
    * organically-grown multiplicative quantities put digit d at
    * frequency log10(1 + 1/d), while fabricated, truncated, or
    * synthetically-uniform data deviates loudly (TPC-H's uniform
    * price range deviates by construction — the op REPORTS the
    * deviation; BenfordSpec pins that powers of 2 conform and
    * uniforms don't). First digit is extracted INTEGER-EXACTLY as the
    * first char of the floored value's decimal string — never
    * floor(log10(v)), whose last-ulp behavior at powers of ten is
    * engine-dependent (the B53 lesson). Per digit: count, share,
    * Benford expectation, deviation (rounded 6 dp, −0.0-guarded).
    *
    * Scale shape: digit extraction is a pure map-side projection;
    * one 9-group agg with map-side partials; the share normalizer is
    * a window over the 9-row AGGREGATED frame (never the corpus). */
  def statsBenford(sp: SparkSession, dir: String): DataFrame =
    benfordOf(Tables.orders(sp, dir).select(col("o_totalprice").as("v")))
      .orderBy("digit") // bare: the share window leaves one partition, no exchange

  /** Core behind [[statsBenford]] and `api.Graft.benfordScreen`:
    * the digit profile of any `values(v)` frame, v numeric ≥ 1
    * (sub-1 and non-positive values are dropped — their leading
    * digit is scale-dependent). */
  private[graft] def benfordOf(values: DataFrame): DataFrame = {
    val d = values.filter(col("v") >= 1)
      .select(substring(floor(col("v")).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
    val g = d.groupBy("digit").agg(count(lit(1)).as("n0"))
    // a 9-row digit spine: digits with NO mass must still report —
    // their deviation (share 0 vs benford > 0) is the loudest signal
    val spine = values.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
    val full = spine.join(g, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n0"), lit(0L)).as("n"))
    val w = Window.partitionBy()
    val f = full.select(col("digit"), col("n"),
      (col("n").cast("double") / sum("n").over(w).cast("double")).as("sh"),
      log10(lit(1) + lit(1.0) / col("digit")).as("bf"))
    f.select(col("digit"), col("n"),
      round(col("sh"), 6).as("share"),
      round(col("bf"), 6).as("benford"),
      (round(col("sh") - col("bf"), 6) + lit(0.0)).as("dev"))
  }

  // ---- B93: per-doc tf-idf keyword extraction --------------------------------

  /** Keywords kept per document for B93. */
  private[graft] val TfidfTopK = 3

  /** B93 — `op_tfidf_topk`: per-document keyword extraction by
    * smoothed tf-idf — the DOCUMENT-centric complement to B45's
    * query-centric BM25 (that op ranks docs for a fixed query; this
    * one ranks each doc's own terms, the tagging/routing/indexing
    * primitive a corpus pipeline runs to label every document).
    * Score = tf · (ln((N+1)/(df+1)) + 1) (the scikit-learn smoothed
    * idf, Salton & Buckley 1988 lineage): all inputs are INTEGERS
    * (tf, df, N), so both engines evaluate the identical IEEE
    * expression tree — the B45/B46 float discipline for log-family
    * scorers; ranking runs on the raw double (ties broken by term),
    * the REPORTED score is rounded to 6 dp. Planted evidence: every
    * 9th doc gets a per-doc-unique token `uq<id>` repeated 4× —
    * df = 1, the strongest possible idf at its tf — which must rank
    * first for its document.
    *
    * Scale shape: (doc, term) tf agg collapses repeats map-side; df
    * is one vocabulary-keyed agg; the tf×df join is a vocabulary-
    * keyed SHUFFLE join (both sides corpus-/vocab-scaled — never
    * broadcast; Zipf skew → AQE skew split, the B46 contract); the
    * scalar N broadcasts as a 1-row frame; the per-doc top-k plans
    * as WindowGroupLimit — every map task keeps ≤ k terms per doc
    * before the final exchange. */
  def tfidfTopk(sp: SparkSession, dir: String): DataFrame = {
    val base = docs(sp, dir)
    val corpus = base.select(col("doc_id"),
      when(col("doc_id") % 9 === 0,
        concat(col("text"),
          repeat(concat(lit(" uq"), col("doc_id").cast("string")), 4)))
        .otherwise(col("text")).as("text"))
    tfidfTopkOf(corpus, TfidfTopK).transform(OpQuery.gradedSort("doc_id", "rnk"))
  }

  /** Core behind [[tfidfTopk]] and `api.Graft.keywords`: top-k terms
    * per doc over any `corpus(doc_id, text)`, without the graded
    * total sort. */
  private[graft] def tfidfTopkOf(corpus: DataFrame, k: Int): DataFrame =
    tfidfTopkManaged(corpus, k)._1

  /** [[tfidfTopkOf]] plus the release handle for the persisted TF
    * table (r21): it feeds the DF aggregation and the scoring join —
    * unpersisted, both re-ran the corpus tokenize + explode +
    * (doc, term) aggregation. (doc, term)-sized — the TF table any IR
    * pipeline materializes anyway. */
  private[graft] def tfidfTopkManaged(corpus: DataFrame,
      k: Int): (DataFrame, () => Unit) = {
    val tf = corpus
      .select(col("doc_id"),
        explode(filter(split(col("text"), " "), t => t =!= "")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist()
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = corpus.agg(count(lit(1)).as("n"))
    val s = tf.join(df, Seq("term")).crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf") * (log((col("n") + 1) / (col("df") + 1)) + 1)).as("score"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    val result = s.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"),
        col("tf").cast("int").as("tf"), col("df").cast("int").as("df"),
        round(col("score"), 6).as("score"))
    (result, () => { tf.unpersist(); () })
  }

  // ---- B92: deletion-neighborhood fuzzy join --------------------------------

  /** Key-prefix length for B92's graded corpus (chars of `text`;
    * every corpus doc is ≥ 44 chars so the key is always full). */
  private[graft] val FuzzyKeyLen = 24

  /** Per-variant-bucket membership cap for B92, interpolated into the
    * oracle (the r15 cap policy: every capped structure carries its
    * cap on BOTH engine sides, so a breach is a truncation boundary,
    * never an engine divergence). FuzzyJoinSpec asserts the margin
    * on the FULL graded corpus (base + plant clones, which share
    * deletion variants with their originals) at sf0.001 and sf0.01
    * — occupancy ≤ ¾·cap; a degenerate
    * all-identical-keys corpus truncates IDENTICALLY on both sides
    * because the keep rule is the deterministic (md5(id), id) rank. */
  private[graft] val FuzzyBucketCap = 16

  /** B92 — `op_fuzzy_join`: edit-distance-1 similarity self-join by
    * DELETION-NEIGHBORHOOD blocking (the FastSS / SymSpell family,
    * Bocek et al. 2007, "Fast Similarity Search in Large
    * Dictionaries"): two strings at Levenshtein distance ≤ 1 share at
    * least one member of {s} ∪ {s minus one char} — substitution at i
    * collides the two delete-at-i variants, an indel collides the
    * shorter string with one deletion of the longer — so the
    * candidate set is exactly the variant-key collisions and the
    * O(n²) all-pairs scan never happens. Candidates are then
    * CONFIRMED with `levenshtein(a_key, b_key) ≤ 1` (available
    * native in both engines — the one string-distance the oracle can
    * mirror exactly). Graded over 24-char record keys with planted
    * evidence: every 7th doc re-keyed 3·id+1 with char 5 substituted
    * (dist 1, must surface), every 11th re-keyed 3·id+2 with char 7
    * deleted (dist 1, must surface); the sub×del cross pair sits at
    * dist 2 and must NOT pass confirm. Natural identical prefixes
    * surface as dist-0 pairs.
    *
    * Scale shape: variants are a per-row bounded explode (keyLen + 1
    * rows/doc, md5-narrowed before the exchange); the bucket cap
    * plans as WindowGroupLimit (map-side partial top-K per variant
    * key); the candidate self-join is variant-keyed — collision-
    * bounded, never n² — and DISTINCT collapses multi-variant pairs
    * before the (cheap, candidate-only) confirm. */
  def fuzzyJoin(sp: SparkSession, dir: String): DataFrame = {
    val base = docs(sp, dir)
    val corpus = base
      .select((col("doc_id") * 3).as("doc_id"),
        substring(col("text"), 1, FuzzyKeyLen).as("key"))
      .union(base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") * 3 + 1).as("doc_id"),
          concat(substring(col("text"), 1, 4), lit("#"),
            substring(col("text"), 6, FuzzyKeyLen - 5)).as("key")))
      .union(base.filter(col("doc_id") % 11 === 0)
        .select((col("doc_id") * 3 + 2).as("doc_id"),
          concat(substring(col("text"), 1, 6),
            substring(col("text"), 8, FuzzyKeyLen - 7)).as("key")))
    fuzzyJoinOf(corpus, FuzzyBucketCap).transform(OpQuery.gradedSort("a_id", "b_id"))
  }

  /** Core behind [[fuzzyJoin]] and `api.Graft.fuzzyJoin`: dist-≤-1
    * pairs over any `corpus(doc_id, key)`, without the graded total
    * sort. Deletion-neighborhood is exact for distance 1; larger
    * radii need d-deletion neighborhoods (compose upstream). */
  private[graft] def fuzzyJoinOf(corpus: DataFrame, cap: Int): DataFrame =
    fuzzyJoinManaged(corpus, cap)._1

  /** [[fuzzyJoinOf]] plus the release handle for the persisted capped
    * variant frame. PERSISTED since r21: the candidate expansion is a
    * self-join on `vk`, and when the build side broadcasts there is no
    * exchange for ReuseExchange to dedup — the r21 plan audit caught
    * the ENTIRE variant build (3 corpus scans, the distinct exchange,
    * the WindowGroupLimit cap) executing TWICE, once per join side.
    * One cached compute now feeds both sides; variant-rows-sized
    * ((keyLen+1)× the corpus — the dedup_substring grams class,
    * spills to disk at scale). */
  private[graft] def fuzzyJoinManaged(corpus: DataFrame,
      cap: Int): (DataFrame, () => Unit) = {
    val vars = corpus
      .filter(col("key").isNotNull && length(col("key")) >= 1)
      .select(col("doc_id"), col("key"),
        explode(concat(array(col("key")),
          transform(sequence(lit(0), length(col("key")) - 1),
            i => concat(col("key").substr(lit(1), i),
              col("key").substr(i + lit(2), length(col("key")))))))
          .as("v"))
      .select(col("doc_id"), col("key"), md5(col("v")).as("vk"))
      .distinct() // deleting either of two equal adjacent chars repeats
    val w = Window.partitionBy("vk")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val capped = vars.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap).drop("rk")
      .persist()
    val a = capped.select(col("doc_id").as("a_id"), col("key").as("a_key"), col("vk"))
    val b = capped.select(col("doc_id").as("b_id"), col("key").as("b_key"), col("vk"))
    val result = a.join(b, Seq("vk"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_key", "b_key").distinct()
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_key"), col("b_key")).cast("int").as("dist"))
      .filter(col("dist") <= 1)
    (result, () => { capped.unpersist(); () })
  }

  // ---- registry ------------------------------------------------------------

  val queries: Seq[OpQuery] = Seq(
    OpQuery("op_stats_benford",
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders WHERE o_totalprice >= 1),
        |g AS (SELECT digit, count(*) AS n0 FROM d GROUP BY digit),
        |sp AS (SELECT CAST(unnest(range(1, 10)) AS INTEGER) AS digit),
        |g2 AS (
        |  SELECT sp.digit, CAST(coalesce(g.n0, 0) AS BIGINT) AS n
        |  FROM sp LEFT JOIN g ON sp.digit = g.digit),
        |f AS (
        |  SELECT digit, n,
        |    CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE) AS sh,
        |    log10(1 + CAST(1 AS DOUBLE) / digit) AS bf
        |  FROM g2)
        |SELECT digit, n, round(sh, 6) AS share, round(bf, 6) AS benford,
        |  round(sh - bf, 6) + 0.0 AS dev
        |FROM f ORDER BY digit""".stripMargin)(statsBenford),

    OpQuery("op_tfidf_topk",
      s"""WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 9 = 0
        |      THEN text || repeat(' uq' || CAST(doc_id AS VARCHAR), 4)
        |      ELSE text END AS text
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        |  FROM corpus),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |nn AS (SELECT count(*) AS n FROM corpus),
        |s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    tf.tf * (ln((nn.n + 1) / (df.df + 1)) + 1) AS score
        |  FROM tf JOIN df USING (term), nn),
        |r AS (
        |  SELECT doc_id, term, tf, df, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
        |  FROM s)
        |SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, term,
        |  CAST(tf AS INTEGER) AS tf, CAST(df AS INTEGER) AS df,
        |  round(score, 6) AS score
        |FROM r WHERE rnk <= $TfidfTopK
        |ORDER BY doc_id, rnk""".stripMargin)(tfidfTopk),

    OpQuery("op_fuzzy_join",
      s"""WITH corpus AS (
        |  SELECT doc_id * 3 AS doc_id, substr(text, 1, $FuzzyKeyLen) AS key FROM documents
        |  UNION ALL
        |  SELECT doc_id * 3 + 1, substr(text, 1, 4) || '#' || substr(text, 6, ${FuzzyKeyLen - 5})
        |  FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id * 3 + 2, substr(text, 1, 6) || substr(text, 8, ${FuzzyKeyLen - 7})
        |  FROM documents WHERE doc_id % 11 = 0),
        |v0 AS (
        |  SELECT doc_id, key, unnest(list_prepend(key,
        |    list_transform(range(0, length(key)),
        |      i -> substr(key, 1, CAST(i AS INTEGER)) || substr(key, CAST(i AS INTEGER) + 2)))) AS v
        |  FROM corpus WHERE key IS NOT NULL AND length(key) >= 1),
        |vd AS (SELECT DISTINCT doc_id, key, md5(v) AS vk FROM v0),
        |r AS (
        |  SELECT doc_id, key, vk, row_number() OVER (PARTITION BY vk
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM vd),
        |c AS (SELECT doc_id, key, vk FROM r WHERE rk <= $FuzzyBucketCap),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.key AS a_key, b.key AS b_key
        |  FROM c a JOIN c b ON a.vk = b.vk AND a.doc_id < b.doc_id)
        |SELECT a_id, b_id, CAST(levenshtein(a_key, b_key) AS INTEGER) AS dist
        |FROM cand WHERE levenshtein(a_key, b_key) <= 1
        |ORDER BY a_id, b_id""".stripMargin)(fuzzyJoin),

    OpQuery("op_kmeans_train", kmeansOracle)(kmeansTrain),
    OpQuery("op_graph_pagerank", pagerankOracle)(graphPagerank),
    OpQuery("op_bm25", bm25Oracle)(bm25),
    OpQuery("op_ngram_lm", ngramLmOracle)(ngramLm),
    OpQuery("op_perplexity_filter", perplexityFilterOracle)(perplexityFilter),
    OpQuery("op_anomaly_mad", anomalyMadOracle)(anomalyMad),
    OpQuery("op_select_kcenter", KcenterSql)(selectKcenter))
}
