package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.OpQuery
import graft.plans.ZOrderKey
import graft.sources.Tables

/** Tier-B relational battery (SURVEY.md §2 B1–B15).
  *
  * Everything here is declarative DataFrame code so Catalyst gets full
  * freedom: predicate pushdown + column pruning into the parquet scans,
  * join selection (broadcast hints on the dimension tables), partial
  * (map-side) aggregation before each shuffle, AQE at runtime. At
  * 100 TB the rules are: dimensions (`region`/`nation`/`part`/
  * `supplier`) broadcast, fact–fact joins shuffle on their keys once,
  * and windows partition by a high-cardinality key so no single
  * partition explodes.
  */
object Relational {

  /** lineitem revenue expression, reused across queries. */
  private def revenue: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  // ---- B1: parquet scan (projection pruned at the source) -----------------
  def scanParquet(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // order by every output column so the sort is total.
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .limit(1000)

  // ---- B2: filter + project (both pushed into the scan) -------------------
  def filterProject(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1998-06-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_quantity") < 25)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(revenue, 4).as("revenue"))
      .transform(OpQuery.gradedSort("l_orderkey", "l_linenumber", "revenue"))

  // ---- B3: broadcast join through the dimension chain ---------------------
  def joinBroadcast(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 2).as("sum_bal"))
      .orderBy("r_name", "n_name")

  // ---- B4: fact-fact shuffle join (sort-merge / shuffled-hash by AQE) ------
  def joinShuffle(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(round(sum(revenue), 4).as("sum_rev"), count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")

  // ---- B5: semi / anti joins ----------------------------------------------
  def joinSemi(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_totalprice") > 150000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  // Anti-join against a filtered subset so the expected result is
  // non-empty (every customer has SOME order in the synthetic data —
  // an unfiltered anti-join would pass vacuously with 0 rows).
  def joinAnti(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")

  // ---- B6: range join (equi key + date-band predicate) ---------------------
  // The equi key keeps this a shuffle join at scale; the band is a
  // post-join filter, NOT a BNL cross product.
  def joinRange(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_in_window"),
        round(avg(col("l_quantity")), 6).as("avg_qty"))
      .orderBy("o_orderstatus")

  // ---- B6b (bonus, r3): as-of join -----------------------------------------

  /** As-of join — for each `view` event, the latest `click` by the same
    * user at-or-before it (inner: views with no prior click drop out).
    * Spark has no native as-of join; the preference order for a missing
    * operator is compose > custom Expression > custom SparkPlan, and
    * composition wins here: tag both sides, union, and take
    * `last(click, ignoreNulls)` over a per-user window ordered by
    * (time, side) — clicks sort before views at equal timestamps, so
    * the at-or-before boundary is inclusive. Two skinny hash shuffles
    * — the click (user, second) pre-dedup and the per-user window —
    * and one running row of window state per user: the same cost a
    * purpose-built as-of SparkPlan would pay, with none of the
    * machinery. Clicks are pre-deduped to one per (user, second) so
    * the match is deterministic in any engine. The oracle is DuckDB's
    * NATIVE `ASOF JOIN` — an independent implementation of the same
    * semantics. */
  def joinAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("tsec", date_trunc("second", col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id", "tsec").agg(max("value").as("cval"))
      .select(col("user_id"), col("tsec"), lit(0).as("side"),
        lit(null).cast("long").as("event_id"), lit(null).cast("double").as("value"),
        col("cval"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("tsec"), lit(1).as("side"),
        col("event_id"), col("value"), lit(null).cast("double").as("cval"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("tsec").asc, col("side").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    clicks.union(views)
      // one select → one Window node for both functions (chained
      // withColumn planned two stacked Window passes over the sort)
      .select(col("*"),
        last(when(col("side") === 0, col("tsec")), ignoreNulls = true).over(w).as("click_tsec"),
        last(when(col("side") === 0, col("cval")), ignoreNulls = true).over(w).as("click_value"))
      .filter(col("side") === 1 && col("click_tsec").isNotNull)
      .select(col("event_id"), col("user_id"),
        date_format(col("tsec"), "yyyy-MM-dd HH:mm:ss").as("tsf"), col("value"),
        date_format(col("click_tsec"), "yyyy-MM-dd HH:mm:ss").as("click_tsf"),
        col("click_value"))
      .transform(OpQuery.gradedSort("event_id"))
  }

  // ---- B7: hash aggregate (TPC-H Q1 shape; partial agg before shuffle) -----
  def aggHash(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(revenue), 4).as("sum_disc_price"),
        round(sum(revenue * (lit(1.0) + col("l_tax"))), 4).as("sum_charge"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  // ---- B8: distinct aggregate ----------------------------------------------
  def aggDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(countDistinct("o_custkey").as("n_cust"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  // ---- B9: rollup / cube ----------------------------------------------------
  // Subtotal rows surface as NULL grouping keys; coalesce to a sentinel so
  // ordering and hashing are engine-independent (Spark sorts NULLS FIRST,
  // DuckDB NULLS LAST).
  def aggRollup(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(round(sum("o_totalprice"), 2).as("sum_price"), count(lit(1)).as("n"))
      .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("sum_price"), col("n"))
      .orderBy("status", "priority")

  def aggCube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(round(sum("o_totalprice"), 2).as("sum_price"), count(lit(1)).as("n"))
      .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("sum_price"), col("n"))
      .orderBy("status", "priority")

  // ---- B10: approximate distinct (HLL++) ------------------------------------

  /** Full output incl. the raw HLL++ estimate (rsd 2%), for the bounds
    * spec. The estimate itself is engine-specific, so the REGISTERED
    * query ([[aggApproxDistinct]]) projects the oracle-checkable view:
    * the exact count plus `within_5pct`, the boolean accuracy contract
    * the estimate must satisfy (deterministic for fixed data — HLL++ is
    * a deterministic algorithm, so this is stable, not flaky). */
  def aggApproxDistinctFull(s: SparkSession, dir: String): DataFrame =
    // two-phase: pre-aggregate on (flag, partkey) — map-side combinable —
    // then count rows for the exact distinct and fold the HLL over the
    // deduped keys (HLL is multiset-invariant, so the estimate is
    // unchanged). Mixing countDistinct with other aggs in ONE groupBy
    // would plan an Expand that duplicates every input row (measured 5.2 s
    // vs 0.9 s at sf0.1).
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_partkey")
      .agg(count(lit(1)).as("c"))
      .groupBy("l_returnflag")
      // rsd 0.02: measured max deviation ~1.0% at both test SFs — a 5x
      // margin under the oracle's 5% bound at a quarter of rsd-1%'s
      // register/merge cost (probe in PLANS.md)
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        count(lit(1)).as("exact_parts"),
        sum("c").as("n"))
      .orderBy("l_returnflag")

  def aggApproxDistinct(s: SparkSession, dir: String): DataFrame =
    aggApproxDistinctFull(s, dir)
      .select(col("l_returnflag"), col("exact_parts"), col("n"),
        (abs(col("approx_parts") - col("exact_parts")) <=
          col("exact_parts").cast("double") * 0.05).as("within_5pct"))
      .orderBy("l_returnflag")

  // ---- B4b: salted join (known-skew mitigation) ------------------------------

  /** The deterministic skew answer as a graded operator: lineitem's
    * orders join keyed with a 4-way salt ([[Skew.saltedJoin]] — fact
    * rows spread by `pmod(hash(uniqueish), 4)`, dim exploded 4×, join
    * on (key, salt)). Salting is RESULT-invariant, so the oracle is
    * the plain equi-join — the hash-match proves the mitigation
    * changes the shuffle layout and nothing else. AQE's runtime skew
    * split covers unknown skew; this is the plan-time form for skew
    * known in advance (SURVEY §6). The bench corpus is NOT skewed, so
    * this row pays the dim-inflation price without the hot-reducer
    * win it buys on real skew — 4 salts keeps the demonstration
    * honest without overpaying (a real deployment sizes salts to the
    * observed hot-key multiplicity). */
  def joinSkewSalted(s: SparkSession, dir: String): DataFrame = {
    // r22 (guide §2.4 "two operations keyed the same way share one
    // exchange" / §3.3): establish the graded output order on the FACT
    // side, BEFORE the join. Every sort key (l_orderkey, l_linenumber,
    // qty) is a pure fact column, the dim side broadcasts, and
    // broadcast-hash-join + projections preserve the streamed side's
    // partitioning — so the final orderBy's OrderedDistribution is
    // already satisfied and the plan keeps NO post-join range
    // exchange. The r21 plan range-partitioned the JOIN OUTPUT, and a
    // range exchange's bounds sampling re-executes its child: the
    // whole probe ran twice per execution. Now the only range exchange
    // (and its sampling) sits directly on the narrow fact scan.
    val fact = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_quantity"), 2).as("qty"))
      .repartitionByRange(col("l_orderkey"), col("l_linenumber"), col("qty"))
      .sortWithinPartitions("l_orderkey", "l_linenumber", "qty")
    val dim = Tables.orders(s, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate"), col("o_totalprice"))
    Skew.saltedJoin(fact, dim, "l_orderkey", salts = 4,
        saltBy = col("l_linenumber"))
      .select(col("l_orderkey"), col("l_linenumber"), col("qty"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
        round(col("o_totalprice"), 2).as("oprice"))
      .orderBy("l_orderkey", "l_linenumber", "qty")
  }

  // ---- B12b: time-RANGE window frame -----------------------------------------

  /** Trailing-hour rolling aggregates per event type — the RANGE
    * frame: "all rows whose event time lies within the preceding
    * 3600 s", a value-based bound `rowsBetween` cannot express (row
    * counts per hour vary). One shuffle on event_type, frame computed
    * in a single sort pass with a sliding lower bound. Ties on the
    * ordering key all share one frame, so the result is deterministic
    * without a unique sort key. */
  def windowRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .withColumn("tsec", date_trunc("second", col("ts")))
      .withColumn("es", unix_timestamp(col("tsec")))
    val w = Window.partitionBy("event_type").orderBy(col("es")).rangeBetween(-3600, 0)
    e.select(col("event_type"), col("event_id"),
        date_format(col("tsec"), "yyyy-MM-dd HH:mm:ss").as("tsf"),
        count(lit(1)).over(w).as("n_1h"),
        round(sum("value").over(w), 2).as("sum_1h"))
      .transform(OpQuery.gradedSort("event_type", "tsf", "event_id"))
  }

  // ---- B14b: pivot / unpivot (reshape) ---------------------------------------

  /** Wide-format reshape: per-source document counts and char sums
    * pivoted into one column per language. The pivot values are an
    * EXPLICIT list — Spark otherwise runs an extra distinct pass to
    * discover them, and an unbounded value set would mint unbounded
    * columns; a 100 TB pipeline pins the dictionary. One shuffle
    * (groupBy source), pivot cells are ordinary conditional
    * aggregates inside the same hash agg. */
  def pivotLang(sp: SparkSession, dir: String): DataFrame =
    Tables.documents(sp, dir)
      .groupBy("source")
      .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
      .agg(count(lit(1)))
      .select(col("source") +: Seq("de", "en", "es", "fr", "zh")
        .map(l => coalesce(col(l), lit(0L)).as(s"n_$l")): _*)
      .orderBy("source")

  /** Long-format reshape (melt): the per-flag aggregate battery
    * unpivoted to (flag, measure, value) rows via `stack` — the
    * inverse of [[pivotLang]], used when downstream wants
    * measure-generic processing. Map-side expansion after one
    * aggregation; row count = groups × measures. */
  def unpivotMeasures(sp: SparkSession, dir: String): DataFrame =
    Tables.lineitem(sp, dir)
      .groupBy("l_returnflag")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        round(avg("l_discount"), 6).as("avg_disc"))
      .select(col("l_returnflag"), expr(
        "stack(3, 'sum_qty', sum_qty, 'sum_price', sum_price, 'avg_disc', avg_disc)"
      ).as(Seq("measure", "value")))
      .orderBy("l_returnflag", "measure")

  // ---- B10d: funnel analysis -------------------------------------------------

  /** Ordered-funnel conversion — how many users progressed
    * view → click within 1 h of it → purchase within 1 h of that click
    * (event ORDER and the per-step conversion window both matter: a
    * click before the first view, or hours after it, does not count).
    * Stage milestones chain as three conditional min-aggregations,
    * each keyed on user_id — the first groupBy's hash partitioning is
    * reused by every later join and aggregation on the same key, so
    * the chain costs one logical user_id shuffle of skinny
    * (user_id, ts) rows, then a broadcast-sized stage rollup. */
  def funnel(s: SparkSession, dir: String): DataFrame =
    funnelStages(Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), date_trunc("second", col("ts")).as("tsec")))
      .groupBy("stage").agg(count(lit(1)).as("n_users"))
      .orderBy("stage")

  /** Per-user stage over any (user_id, event_type, tsec) frame —
    * shared by the graded op and the rule-pinning spec. */
  private[graft] def funnelStages(e0: DataFrame): DataFrame = {
    // persist the skinny event frame (r21): it feeds the view agg, two
    // windowed-join stages and the user spine — 7 scans of events per
    // execution collapse to 1 (each later stage's subtree nests the
    // previous one's, so the scan count compounded). (user_id, type,
    // tsec)-sized; plan-keyed on the graded path.
    val e = e0.persist()
    val hour = expr("INTERVAL 1 HOUR")
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("tsec").as("t1"))
    val c = e.join(v, "user_id")
      .filter(col("event_type") === "click" &&
        col("tsec") > col("t1") && col("tsec") <= col("t1") + hour)
      .groupBy("user_id").agg(min("tsec").as("t2"))
    val p = e.join(c, "user_id")
      .filter(col("event_type") === "purchase" &&
        col("tsec") > col("t2") && col("tsec") <= col("t2") + hour)
      .groupBy("user_id").agg(min("tsec").as("t3"))
    e.select("user_id").distinct()
      .join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
          .when(col("t1").isNotNull, 1).otherwise(0).as("stage"))
  }

  // ---- B10c: time-series gap fill -------------------------------------------

  /** Dense hourly series per event type with ZERO-FILLED missing hours
    * — the resample/gap-fill step every time-series rollup needs
    * before diffing or charting (a groupBy alone silently omits empty
    * buckets). The hour×type grid is generated from the data's own
    * bounds with `sequence` + explode and is dimension-sized (time
    * range × type cardinality — independent of event VOLUME), so it
    * broadcasts against the pre-aggregated counts: events reduce
    * map-side to one row per non-empty (type, hour) before any join.
    * 100 TB of events with a 1-year range is still only 8760×types
    * grid rows. */
  def tsGapfill(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .withColumn("h", date_trunc("hour", col("ts")))
    val counts = e.groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
    val hours = e.agg(min("h").as("h0"), max("h").as("h1"))
      .select(explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR"))).as("h"))
    val types = e.select("event_type").distinct()
    hours.crossJoin(types)
      .join(counts, Seq("event_type", "h"), "left")
      .select(col("event_type"),
        date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .transform(OpQuery.gradedSort("event_type", "hour"))
  }

  // ---- B10b: quantiles (exact + sketch accuracy contract) -------------------

  /** Per-flag price quantiles: EXACT interpolated percentiles — the
    * oracle-checkable values; Spark's `percentile` and DuckDB's
    * `quantile_cont` both use the (n-1)·p linear interpolation — plus
    * the accuracy contract of the sketch the 100 TB path uses
    * (`approx_percentile`, KLL-style): `within_1pct` asserts the
    * sketch lands within 1% of exact at every probed quantile (same
    * verification pattern as B10's `within_5pct`; both aggregates are
    * deterministic for fixed data). Exact percentile sorts per GROUP —
    * group-local and spillable, fine at any group cardinality; a
    * corpus-wide quantile at 100 TB uses the sketch alone. */
  def aggQuantiles(s: SparkSession, dir: String): DataFrame = {
    val ps = array(lit(0.5), lit(0.9), lit(0.99))
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(percentile(col("l_extendedprice"), ps).as("ex"),
        percentile_approx(col("l_extendedprice"), ps, lit(10000)).as("ap"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        round(element_at(col("ex"), 1), 4).as("p50"),
        round(element_at(col("ex"), 2), 4).as("p90"),
        round(element_at(col("ex"), 3), 4).as("p99"),
        col("n"),
        forall(zip_with(col("ex"), col("ap"),
          (e, a) => abs(a - e) <= abs(e) * 0.01), x => x).as("within_1pct"))
      .orderBy("l_returnflag")
  }

  // ---- B11: window rank (top-N per group) -----------------------------------
  def windowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("p_brand")
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
    Tables.part(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("p_brand", "p_partkey", "p_retailprice", "rn")
      .orderBy("p_brand", "rn")
  }

  // ---- B12: analytic window (lag + running sum, explicit frame) -------------
  def windowAnalytic(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("prev_price", round(lag("o_totalprice", 1).over(w), 2))
      .withColumn("running_spend",
        round(sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
      .select("o_custkey", "o_orderkey", "prev_price", "running_spend")
      .transform(OpQuery.gradedSort("o_custkey", "o_orderkey"))
  }

  // ---- B13: global top-k (TakeOrderedAndProject — no full sort at scale) ----
  def sortLimitTopk(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
        col("l_linenumber").asc)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .limit(50)

  // ---- B14: set operators -----------------------------------------------------
  private def buildingCust(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
  private def richCust(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).filter(col("c_acctbal") > 5000)
      .select("c_custkey")

  def setUnion(s: SparkSession, dir: String): DataFrame =
    buildingCust(s, dir).union(richCust(s, dir)).distinct().orderBy("c_custkey")

  def setIntersect(s: SparkSession, dir: String): DataFrame =
    buildingCust(s, dir).intersect(richCust(s, dir)).orderBy("c_custkey")

  def setExcept(s: SparkSession, dir: String): DataFrame =
    buildingCust(s, dir).except(richCust(s, dir)).orderBy("c_custkey")

  // ---- B43: Z-order clustering layout (multi-dimensional data skipping) ----

  /** `op_zorder` — Morton (Z-order) clustering of lineitem on
    * (l_partkey, l_suppkey): the codegen'd `ZOrderKey` interleave keys
    * the space-filling curve, `z >> 10` buckets it into the curve
    * ranges a writer's `repartitionByRange(zorder).sortWithinPartitions`
    * would lay files out by, and the graded output is the per-range
    * min/max stats of BOTH dimensions — exactly the footer stats a scan
    * planner prunes on (Delta/Iceberg `OPTIMIZE ZORDER BY`).
    *
    * Why these stats ARE the op: a z-range fixes the high bits of both
    * keys simultaneously, so each bucket's span is ≤ 2^5-1 = 31 in BOTH
    * dimensions (asserted in ZOrderKeySpec) — a predicate on EITHER
    * column prunes to a contiguous sliver of buckets, which a
    * single-column sort cannot do for the second column. 100 TB shape:
    * the key is a map-side codegen'd projection; the only shuffle is
    * the bucket-stat aggregation (bucket-count-sized, ≤ 2^22 rows by
    * key-space construction, volume-independent); the demonstration
    * interleaves the low 16 bits — production widens the kernel to
    * 32-bit inputs, same plan. */
  def zorderLayout(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .withColumn("z", ZOrderKey.zorder(col("pk"), col("sk")))
      .withColumn("zbucket", shiftright(col("z"), 10))
      .groupBy("zbucket")
      .agg(count(lit(1)).as("n"),
        min("pk").as("pk_min"), max("pk").as("pk_max"),
        min("sk").as("sk_min"), max("sk").as("sk_max"))
      .orderBy("zbucket")

  // ---- B48b: rank-normalized Z-order (asymmetric key cardinalities) --------

  /** Quantile resolution for `op_zorder_ranked`: 6 bits → 63 exact
    * percentile boundaries per dimension (a driver array of doubles),
    * shared between the Spark builder and the DuckDB oracle SQL. */
  private val RankBits = 6
  private val RankProbsSql =
    (1 to (1 << RankBits) - 1).map(i => i.toDouble / (1 << RankBits)).mkString(", ")

  /** `op_zorder_ranked` — the FIX for raw z-order's asymmetric-
    * cardinality failure: on (l_partkey, l_quantity) — thousands of
    * part keys vs ~50 quantity values — the narrow dimension occupies
    * only the low interleave bits, so every coarse raw-z cut is a
    * partkey-only cut and quantity min/max pruning is dead (the
    * failure is asserted, not assumed: ZOrderKeySpec). Rank-normalize
    * first: each dimension maps to its 6-bit EXACT-percentile index
    * (the codegen'd `QuantileBucket` binary search over 63 boundaries
    * — `Spark percentile == DuckDB quantile_cont`, so the oracle
    * reproduces the boundaries bit-for-bit), then interleave the rank
    * coordinates. Graded output = per-z-range count + min/max RANK of
    * both dims: the structural guarantee (each span ≤ 3 inside a
    * `z >> 4` range) fails the hash if the normalization regresses.
    *
    * Scale shape: one exact-percentile pass (the op_agg_quantiles
    * contract; production swaps `approxQuantile`'s GK sketch — same
    * downstream plan), a 63-double driver array per dim, then a pure
    * map-side codegen'd projection + one bucket-keyed agg whose output
    * is ≤ 256 rows by key-space construction. The layout write is
    * `repartitionByRange(z)`, same as op_zorder. */
  def zorderRankedLayout(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.QuantileBucket
    val li = Tables.lineitem(s, dir).select(
      col("l_partkey").cast("double").as("pk"),
      col("l_quantity").cast("double").as("qty"))
    // bounded driver materialization: 2 × 63 boundary doubles
    val row = li.agg(
      expr(s"percentile(pk, array($RankProbsSql))").as("bx"),
      expr(s"percentile(qty, array($RankProbsSql))").as("by")).head()
    def splits(i: Int): Array[Double] = row.getSeq[Double](i).toArray.distinct.sorted
    val (bx, by) = (splits(0), splits(1))
    li.withColumn("rx", QuantileBucket.bucket(col("pk"), bx))
      .withColumn("ry", QuantileBucket.bucket(col("qty"), by))
      .withColumn("z", ZOrderKey.zorder(col("rx"), col("ry"), bits = RankBits))
      .groupBy(shiftright(col("z"), 4).as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min("rx").as("rx_min"), max("rx").as("rx_max"),
        min("ry").as("ry_min"), max("ry").as("ry_max"))
      .orderBy("zbucket")
  }

  /** `op_zorder_sketch` — B48b's declared 100 TB production path made
    * GRADED instead of documented: the rank boundaries come from the
    * single-pass Greenwald-Khanna sketch (`df.stat.approxQuantile`,
    * relErr 1e-3) rather than the exact-percentile aggregation, and
    * the op certifies the swap with the `op_agg_quantiles` contract:
    *  - `within_1pct` — every sketch boundary's RANK lands within 1%
    *    of the row count of its target rank (r16: GK's guarantee IS a
    *    rank bound, so the contract now grades the guarantee itself;
    *    the earlier value-distance form was a proxy that tripped on
    *    tiny-SF discreteness — an interpolating exact boundary vs a
    *    data-value sketch boundary at a duplicate-run edge. A
    *    boundary value's rank is the INTERVAL [count<b, count≤b] over
    *    its duplicate run; the check is interval-vs-tolerance-window
    *    overlap, measured in ONE map-side conditional-count pass —
    *    scale-safe where a value-space check would need the data grid.
    *    Exact boundaries stay in the oracle via `quantile_cont`);
    *  - `span_ok` — the SKETCH-bucketed z-layout still meets the
    *    ≤3-rank-span guarantee per z>>4 range in BOTH dims (the whole
    *    point of the layout; computed over the full sketch-bucketed
    *    pass, so a sketch regression that breaks the layout fails the
    *    hash, not just a comment).
    * The oracle asserts both flags TRUE and reproduces the exact-side
    * facts (distinct-boundary counts, row count) — the sketch can
    * drift silently by at most the certified 1%.
    *
    * Scale shape: GK is ONE pass + a 2×63-double driver array (vs the
    * exact percentile's per-group sort) — at 100 TB the sketch pass is
    * the only affordable one, which is exactly why its accuracy is
    * under the hash here. The layout pass is the B48b plan unchanged:
    * map-side codegen'd bucket+interleave, one ≤256-row agg. */
  def zorderSketchLayout(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.QuantileBucket
    // persisted (r22, guide §2.4): FOUR independent jobs consume this
    // two-double frame — the exact-percentile yardstick, the GK
    // sketch, the rank-certification counts and the span layout pass —
    // and each re-ran the parquet scan + double casts. Two doubles per
    // row; the release runs before the bounded result frame returns.
    val li = Tables.lineitem(s, dir).select(
      col("l_partkey").cast("double").as("pk"),
      col("l_quantity").cast("double").as("qty"))
      .persist()
    val probs = (1 to (1 << RankBits) - 1).map(_.toDouble / (1 << RankBits)).toArray
    // exact boundaries: the oracle-reproducible yardstick
    val row = li.agg(
      expr(s"percentile(pk, array($RankProbsSql))").as("bx"),
      expr(s"percentile(qty, array($RankProbsSql))").as("by")).head()
    val (exPk, exQty) = (row.getSeq[Double](0).toArray, row.getSeq[Double](1).toArray)
    // sketch boundaries: the graded production path. ONE pass for both
    // dims (r21): the multi-column approxQuantile builds both GK
    // sketches in the same aggregation job — the two single-column
    // calls each ran their own corpus scan (identical per-column
    // sketches, one fewer job + one fewer pass).
    val Array(skPk, skQty) =
      li.stat.approxQuantile(Array("pk", "qty"), probs, 1e-3)
    def dsort(a: Array[Double]): Array[Double] = a.distinct.sorted
    // rank certification in ONE extra pass: every sketch boundary's
    // rank interval [count<b, count≤b] (the span of its duplicate
    // run) must overlap target ± 1% of n. GK (relErr 1e-3) guarantees
    // a rank in that interval near the target; the graded tolerance
    // is the CONTRACT's 1% (10× GK's own bound). The counts ride the
    // same codegen'd binary-search kernel as the layout itself:
    // bucket(x, ds) = #(ds_j ≤ x), so x < ds[i] ⟺ bucket ≤ i, and
    // x ≤ ds[i] ⟺ bucketUp ≤ i with the splits nudged one ulp up —
    // per-row 4 small ints, exploded and counted map-side (≤ 4×64
    // groups), instead of 2×2×63 whole-row conditional sums whose
    // generated aggregate overflowed JIT limits (measured +4.5 s).
    val (dsPk, dsQty) = (dsort(skPk), dsort(skQty))
    def up(a: Array[Double]) = a.map(math.nextUp)
    val rankCnt: Map[(String, Long), Long] = li.select(explode(array(
        struct(lit("xl").as("tag"), QuantileBucket.bucket(col("pk"), dsPk).as("idx")),
        struct(lit("xe").as("tag"), QuantileBucket.bucket(col("pk"), up(dsPk)).as("idx")),
        struct(lit("yl").as("tag"), QuantileBucket.bucket(col("qty"), dsQty).as("idx")),
        struct(lit("ye").as("tag"), QuantileBucket.bucket(col("qty"), up(dsQty)).as("idx")))).as("s"))
      .groupBy(col("s.tag").as("tag"), col("s.idx").as("idx")).count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val nRows = rankCnt.collect { case (("xl", _), c) => c }.sum
    def within(prefix: String, ds: Array[Double], sk: Array[Double]): Boolean = {
      def cum(tag: String, j: Long): Long =
        rankCnt.collect { case ((t, idx), c) if t == tag && idx <= j => c }.sum
      probs.indices.forall { i =>
        val j = java.util.Arrays.binarySearch(ds, sk(i)).toLong
        val (target, tol) = (probs(i) * nRows, 0.01 * nRows)
        cum(s"${prefix}l", j) <= target + tol && cum(s"${prefix}e", j) >= target - tol
      }
    }
    val spans = li
      .withColumn("rx", QuantileBucket.bucket(col("pk"), dsPk))
      .withColumn("ry", QuantileBucket.bucket(col("qty"), dsQty))
      .withColumn("z", ZOrderKey.zorder(col("rx"), col("ry"), bits = RankBits))
      .groupBy(shiftright(col("z"), 4).as("zbucket"))
      .agg(count(lit(1)).as("n"),
        (max("rx") - min("rx")).as("sx"), (max("ry") - min("ry")).as("sy"))
      .agg(sum("n").as("n"), max("sx").as("msx"), max("sy").as("msy"))
      .head()
    val n = spans.getLong(0)
    li.unpersist()
    import s.implicits._
    Seq(
      ("pk", dsort(exPk).length.toLong, within("x", dsPk, skPk), spans.getLong(1) <= 3L, n),
      ("qty", dsort(exQty).length.toLong, within("y", dsQty, skQty), spans.getLong(2) <= 3L, n))
      .toDF("dim", "n_splits", "within_1pct", "span_ok", "n")
      .orderBy("dim")
  }

  // ---- B15: scalar function battery (string/date/math, all codegen'd) -------
  def scalarFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("prio_upper"),
        substring(col("o_orderstatus"), 1, 1).as("status_c"),
        length(col("o_orderpriority")).as("prio_len"),
        concat_ws("|", col("o_orderstatus"), col("o_orderpriority")).as("tag"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        dayofmonth(col("o_orderdate")).as("o_day"),
        round(abs(col("o_totalprice") - 100000.0), 2).as("dist_100k"),
        floor(col("o_totalprice") / 1000.0).cast("long").as("price_kilo"),
        round(sqrt(col("o_totalprice")), 6).as("price_sqrt"),
        when(col("o_totalprice") > 200000, "big")
          .when(col("o_totalprice") > 100000, "mid")
          .otherwise("small").as("bucket"))
      // a bare orderBy, NOT OpQuery.gradedSort (r22, measured): the
      // output is 12 wide columns per orders row, so caching it costs
      // more than re-running the cheap scalar projection the sort
      // resample pays
      .orderBy("o_orderkey")

  // -------------------------------------------------------------------------
  // ---- B96: exact-moment correlation matrix ---------------------------------

  /** B96 — `op_corr_matrix`: the pairwise Pearson correlation matrix
    * over lineitem's four measure columns — the feature-statistics
    * screen a modeling pipeline runs before training (collinear
    * features, leakage candidates, dead measures). The distributed
    * hazard with correlation is FLOAT ACCUMULATION ORDER: sum(double)
    * differs run-to-run and engine-to-engine, so this op computes the
    * moment sums EXACTLY — each 2-decimal measure scales to an int64
    * (×100, exact), per-row products stay in int64, and the sums
    * accumulate as DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), both
    * exact integer arithmetic. Floats enter only in the final
    * 14-number, 1-row frame, where both engines evaluate the same
    * IEEE formula r = (n·Sxy − SxSy)/√((n·Sxx − Sx²)(n·Syy − Sy²)),
    * rounded 6 dp (−0.0-guarded: a near-zero correlation rounds from
    * below).
    *
    * Scale shape: ONE aggregation pass with map-side partials (15
    * sums), output one row; the 6 pair rows explode from an array
    * projection over that single row — the scan is never re-read per
    * pair. Exactness bound (stated): int64 per-row products ≤ 2.5e15
    * here, decimal(38) sums carry ~1e12 rows of them; past that,
    * pre-center the columns by a constant and the same plan holds. */
  def corrMatrix(s: SparkSession, dir: String): DataFrame =
    corrMatrixOf(Tables.lineitem(s, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"), scale = 2)
      .orderBy("x", "y")

  /** Core behind [[corrMatrix]] and `api.Graft.correlations`: the
    * pairwise exact-moment Pearson matrix over any numeric columns,
    * without the graded total sort. `scale` = decimal places of the
    * inputs (values × 10^scale must land on int64). */
  private[graft] def corrMatrixOf(df: DataFrame, colsIn: Seq[String],
      scale: Int): DataFrame = {
    require(colsIn.size >= 2, "corrMatrixOf: need >= 2 columns")
    val tags = colsIn.indices.map(i => s"c$i")
    val mult = math.pow(10.0, scale)
    val scaled = df.select(colsIn.zip(tags).map { case (c, a) =>
      round(col(c) * mult).cast("long").as(a) }: _*)
    def dec(c: Column) = c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val sums =
      tags.map(a => sum(dec(col(a))).as(s"s_$a")) ++
      tags.map(a => sum(dec(col(a) * col(a))).as(s"s_${a}_$a")) ++
      (for { i <- tags.indices; j <- tags.indices if i < j }
        yield sum(dec(col(tags(i)) * col(tags(j)))).as(s"s_${tags(i)}_${tags(j)}"))
    val aggs = count(lit(1)).as("n") +: sums
    val a1 = scaled.agg(aggs.head, aggs.tail: _*)
    def d(name: String) = col(name).cast("double")
    // a zero-variance column makes the denominator 0 and r undefined —
    // surface it as NULL (the screen's signal for a dead feature),
    // never a silent NaN
    def rExpr(a: String, b: String): Column = {
      val va = d("n") * d(s"s_${a}_$a") - d(s"s_$a") * d(s"s_$a")
      val vb = d("n") * d(s"s_${b}_$b") - d(s"s_$b") * d(s"s_$b")
      when(va > 0 && vb > 0,
        round((d("n") * d(s"s_${a}_$b") - d(s"s_$a") * d(s"s_$b")) /
          sqrt(va * vb), 6) + lit(0.0))
    }
    val pairs = for { i <- tags.indices; j <- tags.indices if i < j } yield
      struct(lit(colsIn(i)).as("x"), lit(colsIn(j)).as("y"), col("n").as("n"),
        rExpr(tags(i), tags(j)).as("r"))
    a1.select(explode(array(pairs: _*)).as("pr"))
      .select(col("pr.x").as("x"), col("pr.y").as("y"),
        col("pr.n").as("n"), col("pr.r").as("r"))
  }

  // ---- B100: SCD type-2 merge -------------------------------------------------

  /** B100 — `op_scd2_merge`: the slowly-changing-dimension TYPE-2
    * merge (Kimball's SCD2 — the MERGE INTO every warehouse runs
    * nightly): a change batch lands on a versioned dimension; true
    * changes CLOSE the current row (is_current = false) and open a
    * new version, no-op updates (same value) must NOT version, and
    * unknown keys insert at version 1. Graded over customer balances
    * held as integer cents (money never crosses an engine boundary
    * as a float — the r16 rule; the change compare is integer
    * equality). The synthesized batch: every 7th key a real change
    * (+10000 cents), every 13th-not-7th a NO-OP update (the classic
    * SCD2 bug is versioning these), every 11th key re-keyed +1e9 as
    * an insert. One output row per (key, version) with the verdict
    * (`carry`/`closed`/`update`/`insert`).
    *
    * Scale shape: ONE key-keyed full-outer shuffle join (dimension
    * and batch shuffle once each — at warehouse scale the dimension
    * is stored bucketed on the key so tomorrow's merge co-locates,
    * the B55 write-back contract); the 1-or-2 output rows per key
    * explode from a nullable-struct array projection — no second
    * pass, no union re-reading the join. */
  def scd2Merge(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir).select(col("c_custkey").as("key"),
      round(col("c_acctbal") * 100).cast("long").as("bal"))
    val batch = base.filter(col("key") % 7 === 0)
      .select(col("key"), (col("bal") + 10000).as("nbal"))
      .union(base.filter(col("key") % 13 === 0 && col("key") % 7 =!= 0)
        .select(col("key"), col("bal").as("nbal")))
      .union(base.filter(col("key") % 11 === 0)
        .select((col("key") + 1000000000L).as("key"), lit(5000L).as("nbal")))
    scd2MergeOf(base, batch).transform(OpQuery.gradedSort("key", "ver"))
  }

  /** Core behind [[scd2Merge]] and `api.Graft.scd2Merge` over any
    * `dim(key, bal)` and `changes(key, nbal)`. */
  private[graft] def scd2MergeOf(base: DataFrame, batch: DataFrame): DataFrame = {
    // SQL MERGE semantics: a source batch updating the same key twice
    // is an ERROR (two 'current' versions would survive) — fail loudly
    // in-plan rather than emit a corrupt dimension; the check rides
    // the batch's own key shuffle
    val wk = Window.partitionBy("key")
    val checked = batch
      .withColumn("_dup", count(lit(1)).over(wk))
      .withColumn("nbal", when(col("_dup") > 1,
        raise_error(concat(lit("scd2Merge: duplicate change rows for key "),
          col("key").cast("string")))).otherwise(col("nbal")))
      .drop("_dup")
    val j = base.join(checked, Seq("key"), "full_outer")
      .select(col("key"), col("bal"), col("nbal"),
        col("bal").isNotNull.as("in_base"), col("nbal").isNotNull.as("in_batch"))
    val changed = col("in_base") && col("in_batch") && col("nbal") =!= col("bal")
    j.select(explode(array(
        // slot 1: the version-1 row (carry, closed, or insert)
        when(!col("in_base"),
          struct(col("key"), lit(1).as("ver"), col("nbal").as("bal"),
            lit(true).as("is_current"), lit("insert").as("change")))
          .when(changed,
            struct(col("key"), lit(1).as("ver"), col("bal"),
              lit(false).as("is_current"), lit("closed").as("change")))
          .otherwise(
            struct(col("key"), lit(1).as("ver"), col("bal"),
              lit(true).as("is_current"), lit("carry").as("change"))),
        // slot 2: the new version — only on a true change
        when(changed,
          struct(col("key"), lit(2).as("ver"), col("nbal").as("bal"),
            lit(true).as("is_current"), lit("update").as("change")))
      )).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r.key").as("key"), col("r.ver").as("ver"),
        col("r.bal").as("bal"), col("r.is_current").as("is_current"),
        col("r.change").as("change"))
  }

  // ---- B101: cohort retention matrix ------------------------------------------

  /** B101 — `op_retention_cohort`: the day-cohort retention matrix —
    * the product-analytics staple (group users by first-seen day,
    * then for each day offset report what share of the cohort was
    * active): `(cohort, day_offset, n_active, n_cohort, retention)`.
    * Built on the events table THROUGH `Tables.events` (the ts-dtype
    * adaptation contract) with days compared as DATEs and the offset
    * as an integer day difference — no timestamp arithmetic crosses
    * an engine boundary; retention is the only float, rounded 6 dp
    * on a per-row integer ratio.
    *
    * Scale shape: one (user, day)-distinct shuffle; first-day = a
    * user-keyed min agg; the activity join is user-keyed (both sides
    * user-partitioned); the final (cohort, offset) agg is
    * days²-bounded; the cohort-size table is days-sized and
    * BROADCASTS. At 100 TB the only corpus-scaled exchanges are the
    * distinct and the user join — both on the natural key. */
  def retentionCohort(s: SparkSession, dir: String): DataFrame = {
    val seen = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val f = seen.groupBy("user_id").agg(min("day").as("fday"))
    val coh = f.groupBy("fday").agg(count(lit(1)).cast("int").as("n_cohort"))
    val act = seen.join(f, Seq("user_id"))
      .groupBy(col("fday"), datediff(col("day"), col("fday")).as("day_offset"))
      .agg(count(lit(1)).cast("int").as("n_active"))
    act.join(broadcast(coh), Seq("fday"))
      .select(date_format(col("fday"), "yyyy-MM-dd").as("cohort"),
        col("day_offset"), col("n_active"), col("n_cohort"),
        round(col("n_active").cast("double") / col("n_cohort"), 6).as("retention"))
      .transform(OpQuery.gradedSort("cohort", "day_offset"))
  }

  // ---- B102: join-key skew diagnostics ------------------------------------------

  /** B102 — `op_skew_report`: per-key-column skew diagnostics over
    * the fact table — the advisor that DECIDES when the engine's
    * skew machinery (B4b's salted join, AQE's skew split) is worth
    * its overhead, instead of guessing: for each candidate join key,
    * the distinct-key count, the heaviest key and its share, exact
    * p50/p99 of the group-size distribution (the B10b percentile
    * contract — `percentile` ≡ `quantile_cont`), and an
    * integer-exact `skewed` verdict (max_n · n_keys > 10 · rows —
    * "the heaviest key is over 10× the mean", no float crosses the
    * comparison). The heaviest key breaks ties to the LOWEST key id
    * (deterministic at any scale).
    *
    * Scale shape: the three key columns EXPLODE into one
    * (col, key)-keyed count with map-side partials — one pass over
    * the fact table, not one per column; the per-column stats
    * aggregate the group-sized frame (keys-sized, never the corpus);
    * the argmax join is against a 3-row maxima frame (broadcast). */
  def skewReport(s: SparkSession, dir: String): DataFrame =
    skewReportOf(Tables.lineitem(s, dir),
      Seq("l_orderkey", "l_partkey", "l_suppkey"))
      .orderBy("key_col")

  /** Core behind [[skewReport]] and `api.Graft.skewReport` over any
    * frame's candidate key columns (int-like). */
  private[graft] def skewReportOf(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "skewReportOf: need >= 1 key column")
    val sizes = df
      .select(explode(array(keyCols.map(c =>
        struct(lit(c).as("kc"), col(c).cast("long").as("key"))): _*)).as("e"))
      .select(col("e.kc").as("kc"), col("e.key").as("key"))
      .groupBy("kc", "key").agg(count(lit(1)).as("n"))
    // the heaviest key rides the SAME aggregate as a lexicographic
    // struct max — (n, -key) max = highest count, ties to the LOWEST
    // key — so the group-size frame is consumed exactly once (no
    // join-back, no second scan)
    val stats = sizes.groupBy("kc").agg(
      sum("n").as("rows"), count(lit(1)).as("n_keys"), max("n").as("max_n"),
      max(struct(col("n").as("n"), (-col("key")).as("nk"))).as("mx"),
      percentile(col("n"), lit(0.5)).as("p50"),
      percentile(col("n"), lit(0.99)).as("p99"))
    stats
      .select(col("kc").as("key_col"), col("rows").cast("long").as("n_rows"),
        col("n_keys").cast("long").as("n_keys"), col("max_n").cast("long").as("max_n"),
        (-col("mx.nk")).as("top_key"),
        round(col("p50"), 6).as("p50"), round(col("p99"), 6).as("p99"),
        round(col("max_n").cast("double") / col("rows"), 6).as("share_top"),
        // the products are evaluated in DECIMAL(38,0) (HUGEINT on the
        // oracle side): int64 * int64 overflows — and throws under
        // ANSI — on exactly the extreme-skew inputs this op diagnoses
        (col("max_n").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * col("n_keys") >
          col("rows").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * 10).as("skewed"))
  }

  // ---- B103: Bloom-prefiltered join (the runtime filter, explicit) -------------

  /** B103 — `op_join_bloom`: the RUNTIME-FILTER join pattern made
    * explicit and graded — build a Bloom filter over the dimension
    * side's join keys (here: suppliers passing a selective predicate),
    * broadcast it as a plan literal, and probe every fact row
    * MAP-SIDE before any exchange (what Spark's
    * `spark.sql.optimizer.runtimeFilter.bloomFilter` injects
    * implicitly; stated manually the pruning is engine-portable and
    * its QUALITY is gradeable). The filter reuses B68's geometry
    * (m = 2¹⁶ bits, k = 4 affine rows over the integer key —
    * integer-exact on both engines). Graded artifact = the exact
    * pruning ledger: `(n_fact, n_dim_keys, n_pass, n_true,
    * n_false_pass, n_missed, fp_rate)` — `n_missed` (true-join rows
    * failing the bloom) is the one-sided soundness invariant and must
    * be 0 under the oracle hash; `n_false_pass` is the price of the
    * 8 KiB mask, measured not estimated.
    *
    * Scale shape: the mask is a DRIVER-side 1024-long array built
    * from the dim side (dim-bounded collect, the same device as the
    * B76s stream gate) and embeds in the plan — the fact probe is a
    * pure map-side projection BEFORE any shuffle, so a selective dim
    * predicate prunes the fact at the scan, which is the entire
    * point of a runtime filter at 100 TB; the truth join here exists
    * only to GRADE the pruning (a production pipeline keeps the
    * passing rows and shuffles those alone). */
  def joinBloom(s: SparkSession, dir: String): DataFrame = {
    val dk = Tables.supplier(s, dir).filter(col("s_nationkey") < 5)
      .select(col("s_suppkey").cast("long").as("k")).distinct()
    val mask = keyBloomMaskOf(dk)
    val nDim = dk.count()
    val ver = Tables.lineitem(s, dir)
      .select(col("l_suppkey").cast("long").as("k"))
      .withColumn("pass", keyBloomPass(col("k"), mask))
      .join(broadcast(dk.withColumn("t", lit(true))), Seq("k"), "left")
      .withColumn("t", coalesce(col("t"), lit(false)))
    ver.agg(
        count(lit(1)).as("n_fact"),
        count(when(col("pass"), 1)).as("n_pass"),
        count(when(col("t"), 1)).as("n_true"),
        count(when(col("pass") && !col("t"), 1)).as("n_false_pass"),
        count(when(col("t") && !col("pass"), 1)).as("n_missed"))
      .select(col("n_fact"), lit(nDim).as("n_dim_keys"),
        col("n_pass"), col("n_true"), col("n_false_pass"), col("n_missed"),
        round(col("n_false_pass").cast("double") /
          (col("n_fact") - col("n_true")), 6).as("fp_rate"))
  }

  /** The B68 filter geometry over INTEGER keys: the dim side's keys
    * as a driver-side 1024-long bitmask (8 KiB whatever the dim
    * size). Shared by [[joinBloom]] and `api.Graft.bloomPrefilter`. */
  private[graft] def keyBloomMaskOf(dimKeys: DataFrame): Array[Long] = {
    val mask = new Array[Long](Curation.BloomBits / 64)
    dimKeys.select(explode(array(Curation.BloomA.indices.map { j =>
        (col("k") * Curation.BloomA(j) + Curation.BloomB(j)) % 1000000007L % Curation.BloomBits
      }: _*)).as("bit")).distinct().collect().foreach { r =>
        val b = r.getLong(0); mask((b / 64).toInt) |= (1L << (b % 64).toInt) }
    mask
  }

  /** The k-bit membership probe against a literal mask — a pure
    * map-side projection (zero joins, zero state). */
  private[graft] def keyBloomPass(h: Column, mask: Array[Long]): Column = {
    val maskLit = typedlit(mask.toSeq)
    Curation.BloomA.indices.map { j =>
      val bit = (h * Curation.BloomA(j) + Curation.BloomB(j)) % 1000000007L % Curation.BloomBits
      call_function("shiftright", element_at(maskLit, (bit / 64).cast("int") + 1),
        (bit % 64).cast("int")).bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  val queries: Seq[OpQuery] = Seq(
    OpQuery("op_join_bloom",
      s"""WITH dk AS (
        |  SELECT DISTINCT CAST(s_suppkey AS BIGINT) AS k
        |  FROM supplier WHERE s_nationkey < 5),
        |cells AS (
        |  SELECT DISTINCT
        |    (k * [${Curation.BloomA.mkString(", ")}][CAST(j AS INTEGER) + 1]
        |     + [${Curation.BloomB.mkString(", ")}][CAST(j AS INTEGER) + 1])
        |      % 1000000007 % ${Curation.BloomBits} AS bit
        |  FROM dk, unnest(range(0, ${Curation.BloomK})) AS u(j)),
        |dist AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS k FROM lineitem),
        |pb AS (
        |  SELECT k,
        |    (k * [${Curation.BloomA.mkString(", ")}][CAST(j AS INTEGER) + 1]
        |     + [${Curation.BloomB.mkString(", ")}][CAST(j AS INTEGER) + 1])
        |      % 1000000007 % ${Curation.BloomBits} AS bit
        |  FROM dist, unnest(range(0, ${Curation.BloomK})) AS u(j)),
        |pass AS (
        |  SELECT pb.k, bool_and(c.bit IS NOT NULL) AS pass
        |  FROM pb LEFT JOIN cells c ON pb.bit = c.bit GROUP BY pb.k),
        |ver AS (
        |  SELECT f.k, p.pass, d2.k IS NOT NULL AS t
        |  FROM (SELECT CAST(l_suppkey AS BIGINT) AS k FROM lineitem) f
        |  JOIN pass p ON f.k = p.k
        |  LEFT JOIN dk d2 ON f.k = d2.k)
        |SELECT CAST(count(*) AS BIGINT) AS n_fact,
        |  CAST((SELECT count(*) FROM dk) AS BIGINT) AS n_dim_keys,
        |  CAST(count(*) FILTER (WHERE pass) AS BIGINT) AS n_pass,
        |  CAST(count(*) FILTER (WHERE t) AS BIGINT) AS n_true,
        |  CAST(count(*) FILTER (WHERE pass AND NOT t) AS BIGINT) AS n_false_pass,
        |  CAST(count(*) FILTER (WHERE t AND NOT pass) AS BIGINT) AS n_missed,
        |  round(CAST(count(*) FILTER (WHERE pass AND NOT t) AS DOUBLE)
        |    / (count(*) - count(*) FILTER (WHERE t)), 6) AS fp_rate
        |FROM ver""".stripMargin)(joinBloom),

    OpQuery("op_skew_report",
      """WITH e AS (
        |  SELECT 'l_orderkey' AS kc, CAST(l_orderkey AS BIGINT) AS key FROM lineitem
        |  UNION ALL SELECT 'l_partkey', CAST(l_partkey AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS BIGINT) FROM lineitem),
        |sizes AS (SELECT kc, key, count(*) AS n FROM e GROUP BY kc, key),
        |stats AS (
        |  SELECT kc, CAST(sum(n) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys, CAST(max(n) AS BIGINT) AS max_n,
        |    max({'n': n, 'nk': -key}) AS mx,
        |    quantile_cont(n, 0.5) AS p50, quantile_cont(n, 0.99) AS p99
        |  FROM sizes GROUP BY kc)
        |SELECT kc AS key_col, n_rows, n_keys, max_n,
        |  CAST(-(mx.nk) AS BIGINT) AS top_key,
        |  round(p50, 6) AS p50, round(p99, 6) AS p99,
        |  round(CAST(max_n AS DOUBLE) / n_rows, 6) AS share_top,
        |  CAST(max_n AS HUGEINT) * n_keys > CAST(n_rows AS HUGEINT) * 10 AS skewed
        |FROM stats
        |ORDER BY key_col""".stripMargin)(skewReport),

    OpQuery("op_retention_cohort",
      """WITH ev AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
        |seen AS (SELECT DISTINCT user_id, day FROM ev),
        |f AS (SELECT user_id, min(day) AS fday FROM seen GROUP BY user_id),
        |coh AS (SELECT fday, count(*) AS n_cohort FROM f GROUP BY fday),
        |act AS (
        |  SELECT f.fday, datediff('day', f.fday, s.day) AS day_offset, count(*) AS n_active
        |  FROM seen s JOIN f ON s.user_id = f.user_id GROUP BY f.fday, day_offset)
        |SELECT strftime(a.fday, '%Y-%m-%d') AS cohort,
        |  CAST(a.day_offset AS INTEGER) AS day_offset,
        |  CAST(a.n_active AS INTEGER) AS n_active,
        |  CAST(c.n_cohort AS INTEGER) AS n_cohort,
        |  round(CAST(a.n_active AS DOUBLE) / c.n_cohort, 6) AS retention
        |FROM act a JOIN coh c ON a.fday = c.fday
        |ORDER BY cohort, day_offset""".stripMargin)(retentionCohort),

    OpQuery("op_scd2_merge",
      """WITH base AS (
        |  SELECT c_custkey AS key, CAST(round(c_acctbal * 100) AS BIGINT) AS bal
        |  FROM customer),
        |batch AS (
        |  SELECT key, bal + 10000 AS nbal FROM base WHERE key % 7 = 0
        |  UNION ALL
        |  SELECT key, bal FROM base WHERE key % 13 = 0 AND key % 7 <> 0
        |  UNION ALL
        |  SELECT key + 1000000000, CAST(5000 AS BIGINT) FROM base WHERE key % 11 = 0),
        |j AS (
        |  SELECT coalesce(b.key, t.key) AS key, b.bal, t.nbal,
        |    b.key IS NOT NULL AS in_base, t.key IS NOT NULL AS in_batch
        |  FROM base b FULL OUTER JOIN batch t ON b.key = t.key)
        |SELECT key, 1 AS ver, bal, true AS is_current, 'carry' AS change
        |FROM j WHERE in_base AND (NOT in_batch OR nbal = bal)
        |UNION ALL
        |SELECT key, 1, bal, false, 'closed'
        |FROM j WHERE in_base AND in_batch AND nbal <> bal
        |UNION ALL
        |SELECT key, 2, nbal, true, 'update'
        |FROM j WHERE in_base AND in_batch AND nbal <> bal
        |UNION ALL
        |SELECT key, 1, nbal, true, 'insert'
        |FROM j WHERE NOT in_base
        |ORDER BY key, ver""".stripMargin)(scd2Merge),

    OpQuery("op_corr_matrix",
      """WITH s AS (
        |  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
        |         CAST(round(l_discount * 100) AS BIGINT) AS d,
        |         CAST(round(l_tax * 100) AS BIGINT) AS t
        |  FROM lineitem),
        |a AS (
        |  SELECT count(*) AS n,
        |    sum(q) AS s_q, sum(p) AS s_p, sum(d) AS s_d, sum(t) AS s_t,
        |    sum(q*q) AS s_qq, sum(p*p) AS s_pp, sum(d*d) AS s_dd, sum(t*t) AS s_tt,
        |    sum(q*p) AS s_qp, sum(q*d) AS s_qd, sum(q*t) AS s_qt,
        |    sum(p*d) AS s_pd, sum(p*t) AS s_pt, sum(d*t) AS s_dt
        |  FROM s),
        |pairs(x, y, xa, ya) AS (VALUES
        |  ('l_quantity', 'l_extendedprice', 'q', 'p'),
        |  ('l_quantity', 'l_discount', 'q', 'd'),
        |  ('l_quantity', 'l_tax', 'q', 't'),
        |  ('l_extendedprice', 'l_discount', 'p', 'd'),
        |  ('l_extendedprice', 'l_tax', 'p', 't'),
        |  ('l_discount', 'l_tax', 'd', 't')),
        |m AS (
        |  SELECT x, y, n,
        |    CASE xa || ya WHEN 'qp' THEN s_qp WHEN 'qd' THEN s_qd WHEN 'qt' THEN s_qt
        |                  WHEN 'pd' THEN s_pd WHEN 'pt' THEN s_pt ELSE s_dt END AS sxy,
        |    CASE xa WHEN 'q' THEN s_q WHEN 'p' THEN s_p WHEN 'd' THEN s_d ELSE s_t END AS sx,
        |    CASE ya WHEN 'q' THEN s_q WHEN 'p' THEN s_p WHEN 'd' THEN s_d ELSE s_t END AS sy,
        |    CASE xa WHEN 'q' THEN s_qq WHEN 'p' THEN s_pp WHEN 'd' THEN s_dd ELSE s_tt END AS sxx,
        |    CASE ya WHEN 'q' THEN s_qq WHEN 'p' THEN s_pp WHEN 'd' THEN s_dd ELSE s_tt END AS syy
        |  FROM pairs, a)
        |SELECT x, y, CAST(n AS BIGINT) AS n,
        |  CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
        |        AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
        |  THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |         (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0.0
        |  END AS r
        |FROM m ORDER BY x, y""".stripMargin)(corrMatrix),

    OpQuery("op_scan_parquet",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag
        |LIMIT 1000""".stripMargin)(scanParquet),

    OpQuery("op_filter_project",
      """SELECT l_orderkey, l_linenumber,
        |       round(l_extendedprice * (1.0 - l_discount), 4) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-06-01' AND l_discount >= 0.05 AND l_quantity < 25
        |ORDER BY l_orderkey, l_linenumber, revenue""".stripMargin)(filterProject),

    OpQuery("op_join_broadcast",
      """SELECT r_name, n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)(joinBroadcast),

    OpQuery("op_join_shuffle",
      """SELECT o_orderpriority,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_rev,
        |       count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)(joinShuffle),

    OpQuery("op_join_semi",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 150000)
        |ORDER BY c_custkey""".stripMargin)(joinSemi),

    OpQuery("op_join_anti",
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin)(joinAnti),

    OpQuery("op_join_asof",
      """WITH e AS (
        |  SELECT event_id, user_id, date_trunc('second', ts) AS tsec, event_type, value
        |  FROM events),
        |clicks AS (
        |  SELECT user_id, tsec, max(value) AS cval FROM e
        |  WHERE event_type = 'click' GROUP BY user_id, tsec),
        |views AS (
        |  SELECT event_id, user_id, tsec, value FROM e WHERE event_type = 'view')
        |SELECT views.event_id, views.user_id,
        |  strftime(views.tsec, '%Y-%m-%d %H:%M:%S') AS tsf, views.value,
        |  strftime(clicks.tsec, '%Y-%m-%d %H:%M:%S') AS click_tsf,
        |  clicks.cval AS click_value
        |FROM views ASOF JOIN clicks
        |  ON views.user_id = clicks.user_id AND views.tsec >= clicks.tsec
        |ORDER BY views.event_id""".stripMargin)(joinAsof),

    OpQuery("op_join_range",
      """SELECT o_orderstatus, count(*) AS n_in_window,
        |       round(avg(l_quantity), 6) AS avg_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)(joinRange),

    OpQuery("op_agg_hash",
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price,
        |       round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 4) AS sum_charge,
        |       round(avg(l_quantity), 6) AS avg_qty,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)(aggHash),

    OpQuery("op_agg_distinct",
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)(aggDistinct),

    OpQuery("op_agg_rollup",
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |       coalesce(o_orderpriority, '(all)') AS priority,
        |       round(sum(o_totalprice), 2) AS sum_price, count(*) AS n
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin)(aggRollup),

    OpQuery("op_agg_cube",
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |       coalesce(o_orderpriority, '(all)') AS priority,
        |       round(sum(o_totalprice), 2) AS sum_price, count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin)(aggCube),

    OpQuery("op_join_skew_salted",
      """SELECT l.l_orderkey, l.l_linenumber,
        |  round(l.l_quantity, 2) AS qty,
        |  strftime(o.o_orderdate, '%Y-%m-%d') AS odate,
        |  round(o.o_totalprice, 2) AS oprice
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |ORDER BY l.l_orderkey, l.l_linenumber, qty""".stripMargin)(joinSkewSalted),

    OpQuery("op_window_range_frame",
      """WITH e AS (
        |  SELECT event_type, event_id, date_trunc('second', ts) AS tsec, value,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
        |  FROM events)
        |SELECT event_type, event_id,
        |  strftime(tsec, '%Y-%m-%d %H:%M:%S') AS tsf,
        |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |  round(sum(value) OVER w, 2) AS sum_1h
        |FROM e
        |WINDOW w AS (PARTITION BY event_type ORDER BY es
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, tsf, event_id""".stripMargin)(windowRangeFrame),

    OpQuery("op_pivot",
      """SELECT source,
        |  count(*) FILTER (lang = 'de') AS n_de,
        |  count(*) FILTER (lang = 'en') AS n_en,
        |  count(*) FILTER (lang = 'es') AS n_es,
        |  count(*) FILTER (lang = 'fr') AS n_fr,
        |  count(*) FILTER (lang = 'zh') AS n_zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)(pivotLang),

    OpQuery("op_unpivot",
      """WITH agg AS (
        |  SELECT l_returnflag,
        |    round(sum(l_quantity), 2) AS sum_qty,
        |    round(sum(l_extendedprice), 2) AS sum_price,
        |    round(avg(l_discount), 6) AS avg_disc
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, measure, value FROM (
        |  SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM agg
        |  UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM agg
        |  UNION ALL SELECT l_returnflag, 'avg_disc', avg_disc FROM agg)
        |ORDER BY l_returnflag, measure""".stripMargin)(unpivotMeasures),

    OpQuery("op_funnel",
      """WITH e AS (
        |  SELECT user_id, event_type, date_trunc('second', ts) AS tsec FROM events),
        |v AS (SELECT user_id, min(tsec) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.tsec) AS t2
        |      FROM e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click'
        |        AND e.tsec > v.t1 AND e.tsec <= v.t1 + INTERVAL 1 HOUR
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.tsec) AS t3
        |      FROM e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase'
        |        AND e.tsec > c.t2 AND e.tsec <= c.t2 + INTERVAL 1 HOUR
        |      GROUP BY e.user_id),
        |staged AS (
        |  SELECT u.user_id,
        |    CASE WHEN p.t3 IS NOT NULL THEN 3 WHEN c.t2 IS NOT NULL THEN 2
        |         WHEN v.t1 IS NOT NULL THEN 1 ELSE 0 END AS stage
        |  FROM (SELECT DISTINCT user_id FROM e) u
        |  LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id))
        |SELECT CAST(stage AS INTEGER) AS stage, count(*) AS n_users
        |FROM staged GROUP BY stage ORDER BY stage""".stripMargin)(funnel),

    OpQuery("op_ts_gapfill",
      """WITH e AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, value FROM events),
        |counts AS (
        |  SELECT event_type, h, count(*) AS n, round(sum(value), 2) AS sv
        |  FROM e GROUP BY event_type, h),
        |bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM e),
        |hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds),
        |grid AS (
        |  SELECT t.event_type, hours.h
        |  FROM hours, (SELECT DISTINCT event_type FROM e) t)
        |SELECT g.event_type, strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
        |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events,
        |  COALESCE(c.sv, 0.0) AS sum_value
        |FROM grid g LEFT JOIN counts c ON g.event_type = c.event_type AND g.h = c.h
        |ORDER BY g.event_type, hour""".stripMargin)(tsGapfill),

    OpQuery("op_agg_quantiles",
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
        |  count(*) AS n,
        |  true AS within_1pct
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)(aggQuantiles),

    OpQuery("op_agg_approx_distinct",
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  count(*) AS n,
        |  true AS within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)(
      aggApproxDistinct),

    OpQuery("op_window_rank",
      """SELECT p_brand, p_partkey, p_retailprice, rn FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |         CAST(row_number() OVER (PARTITION BY p_brand
        |              ORDER BY p_retailprice DESC, p_partkey ASC) AS INTEGER) AS rn
        |  FROM part) WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin)(windowRank),

    OpQuery("op_window_analytic",
      """SELECT o_custkey, o_orderkey,
        |       round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
        |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |             ORDER BY o_orderdate ASC, o_orderkey ASC
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)(windowAnalytic),

    OpQuery("op_sort_limit_topk",
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 50""".stripMargin)(sortLimitTopk),

    OpQuery("op_set_union",
      """SELECT DISTINCT c_custkey FROM (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  UNION ALL
        |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |ORDER BY c_custkey""".stripMargin)(setUnion),

    OpQuery("op_set_intersect",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY c_custkey""".stripMargin)(setIntersect),

    OpQuery("op_set_except",
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY c_custkey""".stripMargin)(setExcept),

    OpQuery("op_zorder",
      s"""WITH z AS (SELECT l_partkey AS pk, l_suppkey AS sk,
        |  ${ZOrderKey.sql("l_partkey", "l_suppkey")} AS z FROM lineitem)
        |SELECT z >> 10 AS zbucket, count(*) AS n,
        |  min(pk) AS pk_min, max(pk) AS pk_max,
        |  min(sk) AS sk_min, max(sk) AS sk_max
        |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin)(zorderLayout),

    OpQuery("op_zorder_ranked",
      s"""WITH li AS (SELECT CAST(l_partkey AS DOUBLE) AS pk,
        |                   CAST(l_quantity AS DOUBLE) AS qty FROM lineitem),
        |bnd AS (SELECT list_sort(list_distinct(quantile_cont(pk, [$RankProbsSql]))) AS bx,
        |               list_sort(list_distinct(quantile_cont(qty, [$RankProbsSql]))) AS by
        |        FROM li),
        |ranked AS (SELECT len(list_filter(bnd.bx, b -> b <= li.pk)) AS rx,
        |                  len(list_filter(bnd.by, b -> b <= li.qty)) AS ry
        |           FROM li, bnd),
        |z AS (SELECT rx, ry, ${ZOrderKey.sql("rx", "ry", RankBits)} AS z FROM ranked)
        |SELECT z >> 4 AS zbucket, count(*) AS n,
        |  min(rx) AS rx_min, max(rx) AS rx_max,
        |  min(ry) AS ry_min, max(ry) AS ry_max
        |FROM z GROUP BY zbucket ORDER BY zbucket""".stripMargin)(zorderRankedLayout),

    OpQuery("op_zorder_sketch",
      s"""WITH li AS (SELECT CAST(l_partkey AS DOUBLE) AS pk,
        |                   CAST(l_quantity AS DOUBLE) AS qty FROM lineitem),
        |q AS (SELECT quantile_cont(pk, [$RankProbsSql]) AS bx,
        |             quantile_cont(qty, [$RankProbsSql]) AS by,
        |             count(*) AS n
        |      FROM li)
        |SELECT 'pk' AS dim, CAST(len(list_distinct(bx)) AS BIGINT) AS n_splits,
        |  TRUE AS within_1pct, TRUE AS span_ok, n FROM q
        |UNION ALL
        |SELECT 'qty', CAST(len(list_distinct(by)) AS BIGINT), TRUE, TRUE, n FROM q
        |ORDER BY dim""".stripMargin)(zorderSketchLayout),

    OpQuery("op_scalar_funcs",
      """SELECT o_orderkey,
        |       upper(o_orderpriority) AS prio_upper,
        |       substring(o_orderstatus, 1, 1) AS status_c,
        |       CAST(length(o_orderpriority) AS INTEGER) AS prio_len,
        |       concat_ws('|', o_orderstatus, o_orderpriority) AS tag,
        |       CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |       CAST(month(o_orderdate) AS INTEGER) AS o_month,
        |       CAST(dayofmonth(o_orderdate) AS INTEGER) AS o_day,
        |       round(abs(o_totalprice - 100000.0), 2) AS dist_100k,
        |       CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS price_kilo,
        |       round(sqrt(o_totalprice), 6) AS price_sqrt,
        |       CASE WHEN o_totalprice > 200000 THEN 'big'
        |            WHEN o_totalprice > 100000 THEN 'mid'
        |            ELSE 'small' END AS bucket
        |FROM orders ORDER BY o_orderkey""".stripMargin)(scalarFuncs))
}
