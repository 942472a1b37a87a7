package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.OpQuery
import graft.sources.Tables

/** Typed row for the custom-state op (case class so the Dataset
  * encoder is derivable at the call site). */
final case class UserEvent(user_id: Long, tsec: java.sql.Timestamp,
    event_id: Long, value: Double)
/** Per-user running state carried across micro-batches. */
final case class RunningState(seq: Long, sum: Double)
/** One output row per event: its sequence number and running sum. */
final case class RunningOut(user_id: Long, seq: Long, tsf: String, run_sum: Double)

/** Typed arrival row for the B90s domain-admission gate. */
final case class DocArrival(doc_id: Long, source: String)
/** Per-domain admitted-so-far count carried across micro-batches. */
final case class DomainGateState(n: Long)
/** One output row per arrival: its per-domain arrival sequence and
  * the admit/reject verdict. */
final case class DomainGateOut(doc_id: Long, source: String,
    arr_seq: Int, admitted: Boolean)

/** Tier-B streaming operators (SURVEY.md §2 B22–B24), built on
  * Structured Streaming's unified API: each plan builder below accepts
  * either a batch or a streaming DataFrame of `events` rows, so the t2
  * correctness gate runs the exact same plan batch-mode against the
  * DuckDB oracle while `StreamingSpec` proves batch ≡ streaming on a
  * `MemoryStream` with watermarks.
  *
  * Event time is truncated to seconds inside the plans: the raw `ts`
  * is nanosecond-precision parquet that Spark reads at microsecond
  * precision — second truncation makes the gap/window arithmetic
  * identical in both engines.
  *
  * Scale: tumbling and session windows shuffle once on
  * (window/user_id); state in streaming mode is bounded by the
  * watermark; dedup state is keyed by event_id within the watermark.
  */
object Streaming {

  private val TsFmt = "yyyy-MM-dd HH:mm:ss"

  /** Static (object-level) so the flatMapGroupsWithState closure reads
    * it via MODULE$ instead of capturing it — DateTimeFormatter is not
    * serializable. UTC = the session TZ every builder sets, so output
    * strings match `date_format`. */
  private lazy val StateTsFmt = java.time.format.DateTimeFormatter
    .ofPattern(TsFmt).withZone(java.time.ZoneId.of("UTC"))

  // ---- plan builders (batch or streaming input) ----------------------------

  /** B22: 1-hour tumbling counts per event type. */
  def tumblingPlan(events: DataFrame, streaming: Boolean): DataFrame = {
    val src = if (streaming) events.withWatermark("ts", "1 hour") else events
    src.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(date_format(col("w.start"), TsFmt).as("wstart"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** B22b: 2-hour SLIDING windows every 30 minutes per event type —
    * each event lands in 4 overlapping windows (Spark expands the
    * assignment map-side before the same single shuffle tumbling
    * uses; state in streaming mode is 4× tumbling's, still
    * watermark-bounded). */
  def slidingPlan(events: DataFrame, streaming: Boolean): DataFrame = {
    val src = if (streaming) events.withWatermark("ts", "1 hour") else events
    src.groupBy(window(col("ts"), "2 hours", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(date_format(col("w.start"), TsFmt).as("wstart"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** B23: session windows with a 30-minute gap per user. */
  def sessionPlan(events: DataFrame, streaming: Boolean): DataFrame = {
    val withSec = events.withColumn("tsec", date_trunc("second", col("ts")))
    val src = if (streaming) withSec.withWatermark("tsec", "1 hour") else withSec
    src.groupBy(col("user_id"), session_window(col("tsec"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
      .select(col("user_id"),
        date_format(col("sw.start"), TsFmt).as("sess_start"),
        date_format(col("sw.end"), TsFmt).as("sess_end"),
        col("n_events"), col("sum_value"))
  }

  /** B24: drop duplicate event_ids, keeping the earliest arrival. The
    * streaming form is `withWatermark().dropDuplicates("event_id")`;
    * the deterministic batch equivalent keeps the minimum event time
    * per id. */
  def dedupLatePlan(events: DataFrame, streaming: Boolean): DataFrame =
    if (streaming)
      events.withWatermark("ts", "1 hour").dropDuplicates("event_id")
        .select(col("event_id"), date_format(col("ts"), TsFmt).as("tsf"), col("value"))
    else {
      val w = Window.partitionBy("event_id").orderBy(col("ts").asc, col("value").asc)
      events.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("event_id"), date_format(col("ts"), TsFmt).as("tsf"), col("value"))
    }

  /** B-bonus: CUSTOM state via `flatMapGroupsWithState` — per-user
    * event sequence numbers and running value sums, state carried
    * across micro-batches (the semantics no built-in stateful operator
    * expresses: an unbounded per-key accumulator emitted per event).
    * The batch equivalent is the window formulation below, so the t2
    * gate verifies the semantics against DuckDB while `StreamingSpec`
    * proves the stateful streaming form matches across batch splits.
    *
    * ORDERING CONTRACT (stated, not hidden): events are event-time
    * ordered WITHIN each micro-batch; ACROSS batches the accumulator
    * follows arrival order — Append mode cannot retract already-emitted
    * rows, so a row arriving a batch after a later-timestamped sibling
    * (possible inside the 1 h watermark) gets the next seq, not a
    * re-sorted one. Stream ≡ batch therefore holds exactly when each
    * key's arrivals are cross-batch time-ordered (the
    * partition-per-key log-ingest case); pipelines needing total
    * event-time order under late data buffer in state until the
    * watermark passes (an event-time-timeout variant) and pay the
    * latency.
    *
    * Scale: state is 16 bytes per user (seq + sum), hash-partitioned by
    * user_id — the same shuffle the window form needs; per-batch work
    * is one in-memory sort of each user's new events. */
  def runningStatePlan(events: DataFrame, streaming: Boolean): DataFrame = {
    val sp = events.sparkSession
    import sp.implicits._
    val prep = events
      .withColumn("tsec", date_trunc("second", col("ts")))
      .select(col("user_id"), col("tsec"), col("event_id"), col("value"))
      .as[UserEvent]
    if (streaming) {
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      prep.withWatermark("tsec", "1 hour")
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[RunningState, RunningOut](
          OutputMode.Append, GroupStateTimeout.NoTimeout()) { (uid, it, state) =>
          val st = state.getOption.getOrElse(RunningState(0L, 0.0))
          var seq = st.seq
          var sum = st.sum
          // micro-batch iterators are unordered; event time orders them
          val out = it.toSeq.sortBy(e => (e.tsec.getTime, e.event_id)).map { e =>
            seq += 1
            sum += e.value
            RunningOut(uid, seq, Streaming.StateTsFmt.format(e.tsec.toInstant),
              BigDecimal(sum).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
          }
          state.update(RunningState(seq, sum))
          out.iterator
        }.toDF()
    } else {
      val w = Window.partitionBy("user_id").orderBy(col("tsec").asc, col("event_id").asc)
      prep.toDF()
        .withColumn("seq", row_number().over(w).cast("long"))
        .withColumn("run_sum",
          round(sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
        .select(col("user_id"), col("seq"),
          date_format(col("tsec"), TsFmt).as("tsf"), col("run_sum"))
    }
  }

  /** B90s — the INGEST form of per-domain frequency capping (the
    * stream twin of `op_domain_cap`): each arriving doc is ADMITTED
    * iff its domain has admitted fewer than `cap` docs so far, else
    * rejected — the live crawl-side rate gate, where the batch op is
    * the offline re-balance. The two ops deliberately differ in WHICH
    * docs survive a hot domain: the batch op keeps an unbiased
    * (md5(id), id) hash sample of the WHOLE domain, the stream gate
    * can only keep first-come (it cannot sample a future it hasn't
    * seen) — StreamingSpec pins both the parity and that contrast.
    * One output row per arrival (admits AND rejects — the reject
    * stream is the crawl-scheduler's back-pressure signal):
    * `(doc_id, source, arr_seq, admitted)`.
    *
    * ORDERING CONTRACT (as B-bonus custom state): arrivals are
    * doc_id-ordered within each micro-batch; across batches the count
    * follows arrival order (Append mode cannot retract an admit).
    * Stream ≡ batch exactly when each domain's arrivals are
    * cross-batch id-ordered — the log-ingest case.
    *
    * Scale: state is ONE LONG per domain, hash-partitioned on source
    * — the minimum any admission gate can hold; per-batch work is an
    * in-memory sort of each domain's new arrivals. The batch twin is
    * one source-keyed window shuffle. A 100 TB crawl's hot domain
    * concentrates its ARRIVALS on one state partition, but the state
    * value stays 8 bytes and each emitted row is constant work —
    * skew costs wall-clock on that partition's batch slice, never
    * memory. */
  def domainGatePlan(docs: DataFrame, streaming: Boolean,
      cap: Int = TrainingData.DomainCap): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    val prep = docs.select(col("doc_id"), col("source")).as[DocArrival]
    if (streaming) {
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      prep.groupByKey(_.source)
        .flatMapGroupsWithState[DomainGateState, DomainGateOut](
          OutputMode.Append, GroupStateTimeout.NoTimeout()) { (src, it, state) =>
          var n = state.getOption.getOrElse(DomainGateState(0L)).n
          // micro-batch iterators are unordered; arrival id orders them
          val out = it.toSeq.sortBy(_.doc_id).map { d =>
            n += 1
            // arr_seq is int32 (the batch twin's row_number type) —
            // fail loudly rather than wrap the back-pressure signal
            require(n <= Int.MaxValue,
              s"domainGatePlan: domain '$src' passed 2^31 arrivals; arr_seq is int32")
            DomainGateOut(d.doc_id, src, n.toInt, n <= cap)
          }
          state.update(DomainGateState(n))
          out.iterator
        }.toDF()
    } else {
      val w = Window.partitionBy("source").orderBy("doc_id")
      prep.toDF()
        .withColumn("arr_seq", row_number().over(w))
        .select(col("doc_id"), col("source"), col("arr_seq"),
          (col("arr_seq") <= cap).as("admitted"))
    }
  }

  /** B24c: stream-stream INTERVAL JOIN — each view joined to the same
    * user's clicks within the following 2 hours. The genuinely hard
    * streaming primitive: both sides buffer state, and the watermark +
    * time-bound condition let Spark evict it (views older than the
    * click watermark minus the interval can never match again). The
    * batch form is the identical join — unified API, so the t2 gate
    * verifies the join semantics against DuckDB while StreamingSpec
    * proves stream ≡ batch on a MemoryStream pair.
    *
    * Scale: state per side is bounded by watermark × arrival rate,
    * hash-partitioned on user_id (both sides shuffle once); the time
    * condition prunes the per-key cross product as rows arrive. */
  def intervalJoinPlan(views0: DataFrame, clicks0: DataFrame,
      streaming: Boolean): DataFrame = {
    def prep(df: DataFrame) = df.withColumn("tsec", date_trunc("second", col("ts")))
    val views = prep(views0.filter(col("event_type") === "view"))
      .select(col("user_id"), col("tsec").as("v_ts"), col("event_id").as("view_id"))
    val clicks = prep(clicks0.filter(col("event_type") === "click"))
      .select(col("user_id").as("c_uid"), col("tsec").as("c_ts"),
        col("event_id").as("click_id"), col("value"))
    val (v, c) =
      if (streaming)
        (views.withWatermark("v_ts", "1 hour"), clicks.withWatermark("c_ts", "1 hour"))
      else (views, clicks)
    v.join(c, col("user_id") === col("c_uid") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr("INTERVAL 2 HOURS"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        date_format(col("v_ts"), TsFmt).as("v_tsf"),
        date_format(col("c_ts"), TsFmt).as("c_tsf"),
        col("value"))
  }

  /** B54: STREAM-STATIC join — arriving documents probe the STATIC
    * historical digest index and only the novel ones are admitted to
    * the corpus (left_anti): the ingest-side form of B52's incremental
    * dedup, and the canonical stream-enrichment primitive the other
    * stream ops don't cover. Stateless: no watermark, no state store —
    * each row probes the static side and leaves, so there is nothing
    * to evict.
    *
    * Scale: the static side is re-planned per micro-batch — production
    * pins the index as a cached/bucketed table so each batch probes
    * without a full rescan; the join is digest-keyed (uniform md5 —
    * no skew) and NEVER broadcast-hinted (the index is corpus-sized).
    * Unified API: this SAME builder serves the t2 batch grade and the
    * MemoryStream parity spec. */
  def staticJoinPlan(batch: DataFrame, history: DataFrame): DataFrame =
    batch
      .withColumn("key", md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))))
      .join(history, Seq("key"), "left_anti")
      .select(col("doc_id"), col("key"))

  /** The historical digest index staticJoinPlan probes (a quarter of
    * the corpus, B16-normalized digests, one row per digest). */
  def historyIndex(sp: SparkSession, dir: String): DataFrame =
    Tables.documents(sp, dir)
      .filter(col("doc_id") % 4 === 0)
      .select(md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("key"),
        col("doc_id"))
      .groupBy("key").agg(min(col("doc_id") * 2).as("hist_id"))

  /** B56s: STREAMING MinHash-band probe — arriving documents are
    * shingled, signed, and banded entirely map-side (stateless
    * per-row projections: the codegen'd shingle + rotation-minhash
    * kernels, no watermark, no state store) and probe the STATIC
    * historical band-bucket index on `(band_id, band_key)`: the
    * NEAR-DUP ingest filter, completing the stream-ingest pair B54
    * started with exact digests. Emits one row per (batch doc, band,
    * history member) collision — Append-mode-safe (no dedup state;
    * the downstream batch triage dedups, as in B56's graded form).
    *
    * Scale: the static index side is corpus-sized and digest-bucketed
    * — production pins it as a cached/bucketed table so micro-batches
    * probe without a rescan, and it is NEVER broadcast-hinted; the
    * stream side is micro-batch-sized and moves alone. Unified API:
    * this SAME builder serves the t2 batch grade and the MemoryStream
    * parity spec. */
  def minhashProbePlan(batch: DataFrame, histIdx: DataFrame): DataFrame =
    LlmPipeline.minhashBandedRaw(batch)
      .join(histIdx, Seq("band_id", "band_key"))
      .select(col("doc_id").as("batch_id"), col("band_id"), col("hist_id"))

  /** B81s: content-defined chunking as a STREAMING gate — the stream
    * twin of B81/B82 that completes the stream family's chunking leg.
    * Each arriving document is chunked map-side by the same
    * [[graft.plans.CdcCuts]] kernel the batch op runs (per-row
    * projection + bounded explode: genuinely STATELESS, so Append mode
    * needs no watermark — Spark accepting the query is itself the
    * proof, the B76s/B77s bar), and every chunk probes the STORED
    * block-key index via a stream-static left join — `known = true`
    * marks a block some history document already contains (the
    * arriving-data half of B82's census: shifted re-posts light up
    * `known` on every re-synced chunk; novel text stays false).
    *
    * Scale: the static side is the stored corpus-sized key index,
    * shuffled once per micro-batch on `chunk_md5` and NEVER
    * broadcast-hinted; the stream side is micro-batch-sized and moves
    * alone (the B54/B56s contract). Unified API: this SAME builder
    * serves the t2 batch grade and the MemoryStream parity spec. */
  def chunkCdcGatePlan(docs: DataFrame, histKeys: DataFrame): DataFrame =
    TrainingData.chunkCdcWith(docs, TrainingData.CdcGram,
        TrainingData.CdcDivisor, TrainingData.CdcRem)
      .join(histKeys.select(col("chunk_md5"), lit(true).as("known")),
        Seq("chunk_md5"), "left")
      .select(col("doc_id"), col("chunk_id"), col("start"), col("chunk_len"),
        col("chunk_md5"), coalesce(col("known"), lit(false)).as("known"))

  /** B82s: the REWRITE-AWARE ingest gate — the stream twin of B82b
    * (`op_dedup_blocks_rewrite`), completing the block-dedup leg the
    * way B81s completed chunking: each arriving document chunks
    * map-side (the same [[graft.plans.CdcCuts]] kernel), every chunk
    * probes the STORED block-key index, and the doc re-emits as the
    * in-order concatenation of its NOVEL chunks only — the ingest
    * form of Venti/LBFS dedup, where the store already owns every
    * known block and the arriving copy keeps just its novel wrapper.
    * One row per arriving doc: `(doc_id, n_chunks, n_known, kept_len,
    * text_clean, novel)` with `novel = false` when nothing survives
    * (a pure re-post contributes zero new bytes).
    *
    * Streaming shape: chunking and the key probe are the stateless
    * B81s plan (per-row projection + bounded explode + stream-static
    * left join), but the per-doc REASSEMBLY is an aggregation over
    * the exploded chunk rows, which Append mode cannot run without a
    * watermark — and, more fundamentally, a production ingest must
    * also COMMIT the novel keys back to the index, an atomic
    * per-batch step. The stream twin therefore runs this builder
    * under `foreachBatch` (micro-batch = batch semantics, the
    * standard Structured Streaming idiom for write-path sinks);
    * StreamingSpec's parity test drives exactly that and pins stream
    * ≡ batch. The aggregation itself groups rows co-generated from
    * ONE input row, so state never outlives its micro-batch.
    *
    * Scale: identical to B82b's rewrite minus the owner census (the
    * index IS the owner set here): key-keyed probe join where only
    * the micro-batch moves, per-doc rollup whose `collect_list` is
    * bounded by a single document's own chunks. */
  def ingestBlocksPlan(docs: DataFrame, histKeys: DataFrame): DataFrame =
    TrainingData.chunkCdcWith(docs, TrainingData.CdcGram,
        TrainingData.CdcDivisor, TrainingData.CdcRem, withText = true)
      .join(histKeys.select(col("chunk_md5"), lit(true).as("known")),
        Seq("chunk_md5"), "left")
      .withColumn("known", coalesce(col("known"), lit(false)))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_chunks"),
        sum(when(col("known"), 1L).otherwise(0L)).cast("int").as("n_known"),
        sum(when(!col("known"), col("chunk_len")).otherwise(lit(0L)))
          .cast("int").as("kept_len"),
        array_join(transform(
          array_sort(collect_list(when(!col("known"),
            struct(col("chunk_id"), col("chunk_txt"))))),
          s => s.getField("chunk_txt")), "").as("text_clean"))
      .withColumn("novel", col("kept_len") > 0)

  /** The stored block-key index behind [[chunkCdcGatePlan]]: the
    * DISTINCT `chunk_md5` keys of the history corpus (at 100 TB: the
    * persisted output of the B82 index build, not a rescan). */
  def cdcHistoryKeys(history: DataFrame): DataFrame =
    TrainingData.chunkCdcWith(history, TrainingData.CdcGram,
        TrainingData.CdcDivisor, TrainingData.CdcRem)
      .select(col("chunk_md5")).distinct()

  /** B72s item: (event_type, user) pairs — ~750 distinct at sf0.01
    * into the 4×64 = 256 sketch cells, so the demo has real
    * collisions (the B67 bar). */
  private def cmsItem: Column =
    concat(col("event_type"), lit(":"), col("user_id"))

  /** B72s: the Count-Min SKETCH as a streaming aggregation — B67's
    * occurrence-stream build (`CorpusStats.cmsSketchOf`) run over a
    * live event stream. The whole point is the state bound: a
    * streaming frequency aggregation over raw items would hold one
    * state row PER DISTINCT ITEM (unbounded — the exact histogram's
    * memory profile, B53), while the sketch holds ≤ d×w = 256 state
    * rows FOREVER, whatever the stream's cardinality — the
    * Count-Min trade (Cormode & Muthukrishnan 2005) realized as
    * bounded streaming state. Complete-mode output is the full
    * current sketch, ≤ 256 rows per trigger. Unified API: this SAME
    * builder serves the t2 batch grade and the MemoryStream parity
    * spec (stream cells ≡ batch cells, state ≤ 256). */
  def cmsSketchPlan(events: DataFrame): DataFrame =
    CorpusStats.cmsSketchOf(events.select(cmsItem.as("item")))

  // ---- t2 batch-mode queries ----------------------------------------------

  def streamStaticJoin(sp: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(sp, dir)
    val batch = d.filter(col("doc_id") % 4 =!= 0)
      .select((col("doc_id") * 2).as("doc_id"), col("text"))
      .union(d.filter(col("doc_id") % 8 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"), col("text")))
    staticJoinPlan(batch, historyIndex(sp, dir)).transform(OpQuery.gradedSort("doc_id"))
  }

  /** Batch grade of [[minhashProbePlan]] on B56's exact corpus split
    * (history %4==0 re-keyed 2·id; batch = rest + planted near-posts),
    * so the streaming builder's semantics hash-check against the same
    * banding oracle as the batch op. */
  def streamMinhashProbe(sp: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(sp, dir).select(col("doc_id"), col("text"))
    val history = d.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") * 2).as("doc_id"), col("text"))
    val batch = d.filter(col("doc_id") % 4 =!= 0)
      .select((col("doc_id") * 2).as("doc_id"), col("text"))
      .union(d.filter(col("doc_id") % 8 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"),
          concat(col("text"), lit(" extraneous")).as("text")))
    minhashProbePlan(batch, LlmPipeline.minhashHistoryIndex(history))
      .transform(OpQuery.gradedSort("batch_id", "band_id", "hist_id"))
  }

  /** Batch grade of [[chunkCdcGatePlan]] on the B54/B56s corpus split
    * (history %4==0; batch = the rest re-keyed 2·id + %8==0 re-posts
    * at 2·id+1 behind an injected preamble — the SHIFTED copy only
    * content-defined boundaries re-sync on), so the streaming
    * builder's semantics hash-check against the shared chunking
    * oracle chain. */
  def streamChunkCdc(sp: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(sp, dir).select(col("doc_id"), col("text"))
    val history = d.filter(col("doc_id") % 4 === 0)
    val batch = d.filter(col("doc_id") % 4 =!= 0)
      .select((col("doc_id") * 2).as("doc_id"), col("text"))
      .union(d.filter(col("doc_id") % 8 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"),
          concat(lit("injected preamble sentence "), col("text")).as("text")))
    chunkCdcGatePlan(batch, cdcHistoryKeys(history))
      .transform(OpQuery.gradedSort("doc_id", "chunk_id"))
  }

  /** Batch grade of [[ingestBlocksPlan]] on the B54/B56s corpus split
    * (history = id % 4 = 0 docs' block keys; arrivals = the rest at
    * 2·id plus preamble-shifted re-posts of id % 8 = 0 at 2·id+1):
    * re-posts must shrink to their novel preamble splice (high
    * `n_known`, short `text_clean`), novel docs pass through whole. */
  def streamBlocksRewrite(sp: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(sp, dir).select(col("doc_id"), col("text"))
    val history = d.filter(col("doc_id") % 4 === 0)
    val batch = d.filter(col("doc_id") % 4 =!= 0)
      .select((col("doc_id") * 2).as("doc_id"), col("text"))
      .union(d.filter(col("doc_id") % 8 === 0)
        .select((col("doc_id") * 2 + 1).as("doc_id"),
          concat(lit("injected preamble sentence "), col("text")).as("text")))
    ingestBlocksPlan(batch, cdcHistoryKeys(history))
      .orderBy("doc_id")
  }

  /** Batch grade of [[cmsSketchPlan]]: the stream-built sketch probed
    * for the top-[[CorpusStats.CmsPanel]] (event_type, user) items —
    * est vs exact with the one-sided CMS invariant, the B67/B51
    * grading contract, over the events table the streaming ops share. */
  def streamSketchCms(sp: SparkSession, dir: String): DataFrame = {
    val items = Tables.events(sp, dir).select(cmsItem.as("item"))
    val exact = items.groupBy("item").agg(count(lit(1)).as("cnt"))
    val panel = exact.orderBy(col("cnt").desc, col("item"))
      .limit(CorpusStats.CmsPanel)
    panel
      .join(CorpusStats.cmsProbe(cmsSketchPlan(Tables.events(sp, dir)), panel),
        Seq("item"))
      .select(col("item"), col("cnt").as("exact"), col("est"),
        (col("est") - col("cnt")).as("slack"),
        (col("est") >= col("cnt")).as("over"))
      .orderBy("item")
  }

  def streamTumbling(sp: SparkSession, dir: String): DataFrame =
    tumblingPlan(Tables.events(sp, dir), streaming = false)
      .orderBy("wstart", "event_type")

  def streamSliding(sp: SparkSession, dir: String): DataFrame =
    slidingPlan(Tables.events(sp, dir), streaming = false)
      .orderBy("wstart", "event_type")

  def streamSession(sp: SparkSession, dir: String): DataFrame =
    sessionPlan(Tables.events(sp, dir), streaming = false)
      .transform(OpQuery.gradedSort("user_id", "sess_start"))

  /** Input doubled with late copies (+10 min, value+1) so the dedup
    * provably drops rows instead of passing everything through. */
  private def doubledEvents(sp: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(sp, dir).select("event_id", "ts", "value")
    e.union(e.select(col("event_id"),
      (col("ts") + expr("INTERVAL 10 MINUTES")).as("ts"),
      (col("value") + 1).as("value")))
  }

  def streamDedupLate(sp: SparkSession, dir: String): DataFrame =
    dedupLatePlan(doubledEvents(sp, dir), streaming = false)
      .transform(OpQuery.gradedSort("event_id"))

  def streamCustomState(sp: SparkSession, dir: String): DataFrame =
    runningStatePlan(Tables.events(sp, dir), streaming = false)
      .transform(OpQuery.gradedSort("user_id", "seq"))

  /** Batch grade of [[domainGatePlan]] on the B90 skew corpus (docs
    * with id % 3 ≠ 0 re-sourced to one mega-domain): the hot domain
    * must admit exactly its first-arrived cap and reject the rest;
    * every legit source admits whole at gate SF. */
  def streamDomainCap(sp: SparkSession, dir: String): DataFrame =
    domainGatePlan(Tables.documents(sp, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 3 =!= 0, lit("boilerplate-farm"))
          .otherwise(col("source")).as("source")), streaming = false)
      .orderBy("doc_id")

  def streamIntervalJoin(sp: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(sp, dir)
    intervalJoinPlan(e, e, streaming = false)
      .orderBy("user_id", "view_id", "click_id")
  }

  // ---- oracle SQL ----------------------------------------------------------

  val queries: Seq[OpQuery] = Seq(
    OpQuery("op_stream_tumbling",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
        |  event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin)(streamTumbling),

    OpQuery("op_stream_sliding",
      """WITH e AS (
        |  SELECT event_type, value,
        |    date_trunc('hour', ts) +
        |      CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
        |           ELSE INTERVAL 0 MINUTE END AS sf
        |  FROM events),
        |x AS (
        |  SELECT event_type, value, sf - k.k * INTERVAL 30 MINUTE AS wstart
        |  FROM e, (SELECT unnest([0, 1, 2, 3]) AS k) k)
        |SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS wstart, event_type,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM x GROUP BY wstart, event_type
        |ORDER BY wstart, event_type""".stripMargin)(streamSliding),

    OpQuery("op_stream_session",
      """WITH e AS (
        |  SELECT user_id, date_trunc('second', ts) AS tsec, value FROM events),
        |marked AS (
        |  SELECT user_id, tsec, value,
    |    -- Spark's session_window merges at the boundary (an event at
    |    -- exactly prev+gap extends the session), so new-session is
    |    -- strictly-greater, not >=
        |    CASE WHEN lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec) IS NULL
        |           OR tsec - lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec) > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM e),
        |numbered AS (
        |  SELECT user_id, tsec, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsec
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id,
        |  strftime(min(tsec), '%Y-%m-%d %H:%M:%S') AS sess_start,
        |  strftime(max(tsec) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS sess_end,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM numbered GROUP BY user_id, sid
        |ORDER BY user_id, sess_start""".stripMargin)(streamSession),

    OpQuery("op_stream_dedup_late",
      """WITH doubled AS (
        |  SELECT event_id, ts, value FROM events
        |  UNION ALL
        |  SELECT event_id, ts + INTERVAL 10 MINUTE, value + 1 FROM events),
        |ranked AS (
        |  SELECT event_id, ts, value,
        |    row_number() OVER (PARTITION BY event_id ORDER BY ts ASC, value ASC) AS rn
        |  FROM doubled)
        |SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS tsf, value
        |FROM ranked WHERE rn = 1 ORDER BY event_id""".stripMargin)(streamDedupLate),

    OpQuery("op_stream_interval_join",
      """WITH e AS (
        |  SELECT user_id, event_type, date_trunc('second', ts) AS tsec, event_id, value
        |  FROM events)
        |SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
        |  strftime(v.tsec, '%Y-%m-%d %H:%M:%S') AS v_tsf,
        |  strftime(c.tsec, '%Y-%m-%d %H:%M:%S') AS c_tsf,
        |  c.value
        |FROM (SELECT * FROM e WHERE event_type = 'view') v
        |JOIN (SELECT * FROM e WHERE event_type = 'click') c
        |  ON v.user_id = c.user_id
        | AND c.tsec >= v.tsec AND c.tsec <= v.tsec + INTERVAL 2 HOUR
        |ORDER BY v.user_id, view_id, click_id""".stripMargin)(streamIntervalJoin),

    OpQuery("op_stream_static_join",
      """WITH normed AS (
        |  SELECT doc_id, text, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS key
        |  FROM documents),
        |history AS (
        |  SELECT key FROM normed WHERE doc_id % 4 = 0 GROUP BY key),
        |batch AS (
        |  SELECT doc_id * 2 AS doc_id, key FROM normed WHERE doc_id % 4 <> 0
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, key FROM normed WHERE doc_id % 8 = 0)
        |SELECT b.doc_id, b.key
        |FROM batch b LEFT JOIN history h ON b.key = h.key
        |WHERE h.key IS NULL
        |ORDER BY b.doc_id""".stripMargin)(streamStaticJoin),

    OpQuery("op_stream_minhash_probe",
      s"""WITH corpus AS (
        |  SELECT 'h' AS side, doc_id * 2 AS doc_id, text FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT 'b', doc_id * 2, text FROM documents WHERE doc_id % 4 <> 0
        |  UNION ALL
        |  SELECT 'b', doc_id * 2 + 1, concat(text, ' extraneous') FROM documents WHERE doc_id % 8 = 0),
        |${LlmPipeline.MinhashBandsSql},
        |${LlmPipeline.MinhashHcapSql}
        |SELECT bb.doc_id AS batch_id, bb.band_id, h.hist_id
        |FROM bands bb JOIN hcap h ON bb.band_id = h.band_id AND bb.band_key = h.band_key
        |WHERE bb.side = 'b'
        |ORDER BY batch_id, bb.band_id, hist_id""".stripMargin)(streamMinhashProbe),

    OpQuery("op_stream_chunk_cdc",
      s"""WITH hist AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
        |${TrainingData.cdcChunkCtes("hist", "h")},
        |hkeys AS (
        |  SELECT DISTINCT chunk_md5 FROM hchunks),
        |corpus AS (
        |  SELECT doc_id * 2 AS doc_id, text FROM documents WHERE doc_id % 4 <> 0
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, 'injected preamble sentence ' || text
        |  FROM documents WHERE doc_id % 8 = 0),
        |${TrainingData.cdcChunkCtes("corpus")}
        |SELECT c.doc_id, c.chunk_id, c.start, c.chunk_len, c.chunk_md5,
        |  (k.chunk_md5 IS NOT NULL) AS known
        |FROM chunks c LEFT JOIN hkeys k ON c.chunk_md5 = k.chunk_md5
        |ORDER BY c.doc_id, c.chunk_id""".stripMargin)(streamChunkCdc),

    OpQuery("op_stream_blocks_rewrite",
      s"""WITH hist AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
        |${TrainingData.cdcChunkCtes("hist", "h")},
        |hkeys AS (
        |  SELECT DISTINCT chunk_md5 FROM hchunks),
        |corpus AS (
        |  SELECT doc_id * 2 AS doc_id, text FROM documents WHERE doc_id % 4 <> 0
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, 'injected preamble sentence ' || text
        |  FROM documents WHERE doc_id % 8 = 0),
        |${TrainingData.cdcChunkCtes("corpus")},
        |cht AS (
        |  SELECT k.doc_id, k.chunk_id, k.chunk_len, k.chunk_md5,
        |    substring(c.text, k.start + 1, k.chunk_len) AS chunk_txt
        |  FROM chunks k JOIN c ON k.doc_id = c.doc_id),
        |m AS (
        |  SELECT t.doc_id, t.chunk_id, t.chunk_len, t.chunk_txt,
        |    (h.chunk_md5 IS NOT NULL) AS known
        |  FROM cht t LEFT JOIN hkeys h ON t.chunk_md5 = h.chunk_md5)
        |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_chunks,
        |  CAST(sum(CASE WHEN known THEN 1 ELSE 0 END) AS INTEGER) AS n_known,
        |  CAST(sum(CASE WHEN known THEN 0 ELSE chunk_len END) AS INTEGER)
        |    AS kept_len,
        |  coalesce(string_agg(CASE WHEN NOT known THEN chunk_txt END, ''
        |    ORDER BY chunk_id), '') AS text_clean,
        |  sum(CASE WHEN known THEN 0 ELSE chunk_len END) > 0 AS novel
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin)(streamBlocksRewrite),

    OpQuery("op_stream_custom_state",
      """WITH e AS (
        |  SELECT user_id, date_trunc('second', ts) AS tsec, event_id, value FROM events)
        |SELECT user_id,
        |  CAST(row_number() OVER w AS BIGINT) AS seq,
        |  strftime(tsec, '%Y-%m-%d %H:%M:%S') AS tsf,
        |  round(sum(value) OVER (PARTITION BY user_id ORDER BY tsec, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)
        |ORDER BY user_id, seq""".stripMargin)(streamCustomState),

    OpQuery("op_stream_domain_cap",
      s"""WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 <> 0 THEN 'boilerplate-farm' ELSE source END AS source
        |  FROM documents)
        |SELECT doc_id, source,
        |  CAST(row_number() OVER w AS INTEGER) AS arr_seq,
        |  row_number() OVER w <= ${TrainingData.DomainCap} AS admitted
        |FROM corpus WINDOW w AS (PARTITION BY source ORDER BY doc_id)
        |ORDER BY doc_id""".stripMargin)(streamDomainCap),

    OpQuery("op_stream_sketch_cms",
      s"""WITH bg AS (
        |  SELECT event_type || ':' || CAST(user_id AS VARCHAR) AS item FROM events),
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
        |    (h * [${CorpusStats.CmsA.mkString(", ")}][j + 1] + [${CorpusStats.CmsB.mkString(", ")}][j + 1])
        |      % 1000000007 % ${CorpusStats.CmsWidth} AS bkt, cnt
        |  FROM base, unnest(range(0, ${CorpusStats.CmsRows})) AS u(j)),
        |sketch AS (SELECT j, bkt, CAST(sum(cnt) AS BIGINT) AS c FROM cells GROUP BY j, bkt),
        |panel AS (SELECT item, cnt, h FROM base ORDER BY cnt DESC, item LIMIT ${CorpusStats.CmsPanel}),
        |pcells AS (
        |  SELECT item, cnt, CAST(j AS INTEGER) AS j,
        |    (h * [${CorpusStats.CmsA.mkString(", ")}][j + 1] + [${CorpusStats.CmsB.mkString(", ")}][j + 1])
        |      % 1000000007 % ${CorpusStats.CmsWidth} AS bkt
        |  FROM panel, unnest(range(0, ${CorpusStats.CmsRows})) AS u(j)),
        |est AS (
        |  SELECT item, cnt, CAST(min(c) AS BIGINT) AS est
        |  FROM pcells JOIN sketch USING (j, bkt) GROUP BY item, cnt)
        |SELECT item, CAST(cnt AS BIGINT) AS exact, est,
        |  est - cnt AS slack, est >= cnt AS over
        |FROM est ORDER BY item""".stripMargin)(streamSketchCms))
}
