package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TrainingData
import graft.plans.VectorKernels.cosine

/** Executed evidence for the scaladoc's >broadcast-ceiling route
  * (annIncremental / annProbe): past K ≈ 10⁶ the FLAT assign's N×K
  * map-side cosines dominate, and the documented production fix is a
  * HIERARCHICAL coarse quantizer — score the ~√K super-cells first,
  * keep the top `superProbe` supers, and argmax only among THEIR
  * child centroids, cutting assign work from N×K to
  * ≈ N×(√K + S·K/√K) at the cost of an approximate assignment (the
  * probed supers' children need not contain the globally nearest
  * centroid; raising S buys fidelity linearly in cost — the standard
  * IVF nprobe trade, applied one level up). This tool measures the
  * trade on the scale corpus at a deliberately assign-dominated K
  * (stride 17 → K ≈ 2350, where the flat probe measured ~30 s,
  * PLANS.md r16): wall of the full top-3 probe, cell-assignment
  * agreement vs flat, and probe-output row agreement vs flat, per S.
  *
  * NOTE on this corpus: the synthetic embeddings are near-uniform, so
  * nearest-centroid is a near-tie among many candidates and
  * hierarchical agreement is a WORST CASE here; clustered real
  * corpora (where IVF is used at all) concentrate the mass the
  * super-level probe needs. The numbers still bound the cost side
  * exactly.
  *
  * Run: `sbt "Test/runMain graft.tools.AnnHierProbe [copies] [stride]
  * [superStride] [superProbes]"` (defaults 20, 17, 816, 1,4,8,16). */
object AnnHierProbe {

  /** Two-level cell assignment: vectors → top-`superProbe` super-cells
    * → argmax among those supers' CHILD centroids only. Output schema
    * matches TrainingData.ivfAssignWith: (vec_id, e, cell) where cell
    * is a child c_id. Ties break to the lower id at both levels,
    * matching the flat rule. */
  private def hierAssign(emb: DataFrame, cents: DataFrame,
      supers: DataFrame, superProbe: Int): DataFrame =
    // PROMOTED to the engine in r18 (TrainingData.hierAssignWith,
    // surfaced as api.Graft.annProbeHier); the tool measures through
    // the promoted core so evidence and shipped code cannot drift
    TrainingData.hierAssignWith(emb, cents, supers, superProbe)

  private def probe(assignH: DataFrame, assignB: DataFrame): DataFrame =
    TrainingData.probeAssigned(assignH, assignB, topK = 3)

  def main(args: Array[String]): Unit = {
    val copies = args.headOption.map(_.toInt).getOrElse(20)
    val stride = args.drop(1).headOption.map(_.toInt).getOrElse(17)
    // default couples to `stride` so supers stay ~sqrt(K) of the
    // codebook when the stride is overridden (48·17 at the defaults)
    val superStride = args.drop(2).headOption.map(_.toInt).getOrElse(48 * stride)
    val superProbes: Seq[Int] =
      if (args.length > 3) args(3).split(",").filter(_.nonEmpty).map(_.toInt).toSeq
      else Seq(1, 4, 8, 16)
    require(graft.ScaleSmoke.corpusHasEmbeddings(copies),
      s"copies=$copies has no embeddings (mod-23 construction caps at 21)")
    val spark = graft.SparkTestSession.spark
    spark.sparkContext.setLogLevel("WARN")
    val dir = graft.ScaleSmoke.ensureCorpus(spark, copies)
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("e"))
    val (history, batch, _) = TrainingData.annSplit(emb)
    val cents = emb.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("c_id"), col("e").as("ce"))
    val supers = emb.filter(col("vec_id") % superStride === 0)
      .select(col("vec_id").as("c_id"), col("e").as("ce"))
    val k = cents.count(); val nSup = supers.count()

    def timed[A](label: String)(f: => A): A = {
      f // warm (codegen + shuffles)
      val t0 = System.nanoTime(); val r = f
      println(f"[annhier] ${copies}x $label%-14s wall=${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    val flatRows = TrainingData.annProbeWith(history, batch, cents, topK = 3)
    val flatOut = timed("flat")(flatRows.count())
    val flatAssign = TrainingData.ivfAssignWith(emb, cents).select("vec_id", "cell")
    val n = emb.count()

    // recall@3 vs BRUTE-FORCE exact on a deterministic batch panel —
    // the fidelity metric that matters for an approximate quantizer
    // (agreement with the FLAT cells is the wrong yardstick: flat IVF
    // is itself an approximation of true NN, and for the incremental
    // dedup use both sides share whichever rule is in force, so
    // identical re-posts co-locate under any S)
    val panel = batch.filter(col("vec_id") % 173 === 0)
      .select(col("vec_id").as("batch_id"), col("e").as("be"))
    val wq = Window.partitionBy("batch_id").orderBy(col("score").desc, col("hist_id").asc)
    val exact = history.select(col("vec_id").as("hist_id"), col("e").as("he"))
      .join(broadcast(panel))
      .withColumn("score", round(cosine(col("be"), col("he")), 4))
      .withColumn("rank", row_number().over(wq)).filter(col("rank") <= 3)
      .select("batch_id", "hist_id").cache()
    val nExact = exact.count()
    def recall(rows: DataFrame): Double =
      rows.join(panel.select("batch_id"), Seq("batch_id"))
        .select("batch_id", "hist_id").intersect(exact).count() * 100.0 / nExact
    println(f"[annhier] ${copies}x flat           recall@3=${recall(flatRows)}%.2f%% (panel=$nExact exact rows)")

    for (s <- superProbes) {
      val hierRows = probe(
        hierAssign(history, cents, supers, s),
        hierAssign(batch, cents, supers, s))
      val hierOut = timed(s"hier(S=$s)")(hierRows.count())
      val hA = hierAssign(emb, cents, supers, s).select("vec_id", "cell")
      val agree = flatAssign.join(hA.withColumnRenamed("cell", "hcell"), Seq("vec_id"))
        .filter(col("cell") === col("hcell")).count()
      val common = flatRows.intersect(hierRows).count()
      println(f"[annhier] ${copies}x S=$s%-2d K=$k supers=$nSup " +
        f"cellAgree=${agree * 100.0 / n}%.2f%% probeRowAgree=${common * 100.0 / flatOut}%.2f%% " +
        f"recall@3=${recall(hierRows)}%.2f%% (flat=$flatOut hier=$hierOut)")
    }
  }
}
