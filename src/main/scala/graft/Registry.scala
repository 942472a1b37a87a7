package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Central registry of every operator exposed through the driver
  * contract (SparkEntry). Each section object contributes its own
  * OpQuery seq; keys follow SURVEY.md §2 (`op_*`).
  */
object Registry {
  val all: Seq[OpQuery] = {
    val qs = operators.Relational.queries ++
      operators.TextEtl.queries ++
      operators.Sections.queries ++
      operators.LlmPipeline.queries ++
      operators.TrainingData.queries ++
      operators.SchemaInfer.queries ++
      operators.Streaming.queries ++
      operators.Mining.queries ++
      operators.Incremental.queries ++
      operators.CorpusStats.queries ++
      operators.Curation.queries
    // fail loudly on a duplicated key: SparkEntry.queries builds a Map
    // that would otherwise silently drop one of the two operators
    require(qs.map(_.name).distinct.size == qs.size,
      "duplicate query names in Registry: " +
        qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }.mkString(", "))
    qs
  }

  lazy val byName: Map[String, OpQuery] = all.map(q => q.name -> q).toMap

  /** Flagship: revenue by region/year across the full join tree — small
    * dims broadcast, single fact shuffle, partial aggs map-side.
    * Customer is deliberately NOT broadcast: it is fact-sized at scale;
    * AQE picks the join strategy from runtime stats. */
  def flagship(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .transform(OpQuery.gradedSort("r_name", "o_year"))
}
