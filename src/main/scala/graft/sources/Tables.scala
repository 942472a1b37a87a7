package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet scans over the harness star schema (TESTDATA.md).
  *
  * The reference's only source is "read the whole file into one string"
  * (`/root/reference/script.py:562-563`, `/root/reference/etl_parser.py:1093-1094`);
  * here that generalizes to columnar Parquet scans with Catalyst
  * predicate pushdown + column pruning. At 100 TB these scans are the
  * dominant cost, so every query projects/filters as early as possible
  * and lets the scan prune (verify via `.explain`: `PushedFilters`,
  * `ReadSchema`).
  *
  * Per-path metadata is memoized by ONE mechanism, [[memoized]]:
  *
  *  - the inferred schema of each table. `spark.read.parquet(path)`
  *    infers it with a distributed footer-reading job (10-15 ms, one
  *    per read, before any query work starts); a repeat read of an
  *    unchanged table reuses the memo through `spark.read.schema(..)`
  *    and runs no Spark job;
  *  - the `events` nanos probe ([[events]]), a LIMIT scan job.
  *
  * Each entry keys on the table path and is valid for one key: the
  * listing [[fingerprint]] (`path:length:mtime` of every file) plus the
  * session's explicitly set SQL confs whose name contains `parquet`
  * (`spark.sql.legacy.parquet.nanosAsLong` turns `events.ts` into a
  * long, `spark.sql.parquet.binaryAsString` turns binary into string).
  * Spark part-file names carry a per-write UUID, so a re-drop into the
  * same path always moves the fingerprint and re-infers. The listing
  * is a driver-side metadata call, orders cheaper than the job it
  * saves. Latest-wins keeps each memo O(paths) under periodic re-drops
  * (a fingerprint-keyed set would accrete one dead entry per drop).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val schemas = new ConcurrentHashMap[String, (String, StructType)]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // a miss returns the inferring read itself: no second listing
    var inferred: DataFrame = null
    val schema = memoized(schemas, spark, path) {
      inferred = spark.read.parquet(path); inferred.schema }
    if (inferred != null) inferred
    else schema match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path) // unlistable: Spark raises its own error
    }
  }

  /** The listing fingerprint of `root`: `path:length:mtime` of every
    * file under it (a single-file table is its own listing). */
  private def fingerprint(fs: FileSystem, root: Path): String = {
    val files = ArrayBuffer.empty[String]
    val dirs = scala.collection.mutable.Stack(root)
    while (dirs.nonEmpty) fs.listStatus(dirs.pop()).foreach { s =>
      if (s.isDirectory) dirs.push(s.getPath)
      else files += s"${s.getPath}:${s.getLen}:${s.getModificationTime}"
    }
    files.sorted.mkString(",")
  }

  /** `compute`'s value for `path` under the memo rule (class doc):
    * reused while the listing and the parquet confs are unchanged,
    * else recomputed. `None` if `path` cannot be listed.
    *
    * Runs inside `ConcurrentHashMap.compute`, not check-then-act:
    * concurrent first callers for one drop run ONE job, and a failing
    * `compute` records nothing. TOCTOU: a value is memoized only if the listing is
    * IDENTICAL before and after `compute` — a re-drop landing mid-job
    * means the job read data the first fingerprint does not describe,
    * so the previous entry stays and the next call recomputes. */
  private def memoized[V](memo: ConcurrentHashMap[String, (String, V)],
      spark: SparkSession, path: String)(compute: => V): Option[V] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val confs = spark.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted.mkString(",")
    def key(): Option[String] =
      try Some(s"${fingerprint(fs, root)}|$confs")
      catch { case _: java.io.FileNotFoundException => None }
    key().map { k =>
      var out: V = null.asInstanceOf[V]
      memo.compute(fs.makeQualified(root).toString, (_, prev) =>
        if (prev != null && prev._1 == k) { out = prev._2; prev }
        else {
          out = compute
          if (key().contains(k)) (k, out) else prev
        })
      out
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")

  /** The session conf `events` needs; apply at SESSION BUILD (all of
    * Bench/Verify/Smoke/test builders do) — a table accessor must not
    * mutate global session state as a side effect. */
  val eventsConf: (String, String) = "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  /** `events.ts` has shipped as two parquet shapes across data drops,
    * so the accessor adapts on the SCANNED type and always yields the
    * engine's session-zoned microsecond TimestampType:
    *
    *  - TIMESTAMP(NANOS): Spark's reader rejects it outright; with
    *    [[eventsConf]] it scans as LongType nanos, floor-converted here
    *    to micros — integer arithmetic, no double round-trip (nanos
    *    epoch values exceed double's 53-bit mantissa), and FLOOR
    *    division (`div` truncates toward zero, which would be off by
    *    1 µs on pre-epoch negative nanos; `pmod` makes the remainder
    *    non-negative first).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): scans natively as
    *    TimestampNTZType; cast to TimestampType, which under the
    *    recommended UTC session timezone preserves the wall-clock
    *    values byte-for-byte (and matches what the oracle reads). */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        requireNanosRange(raw, d)
        raw.withColumn("ts", timestamp_micros(expr("(ts - pmod(ts, 1000)) div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw // already the engine type (UTC-adjusted micros)
      case other =>
        // fail FAST (ADVICE r12): a silent pass-through of a new shape
        // would surface as cryptic analysis errors (or worse, wrong
        // epochs) deep inside registry sweeps instead of here
        sys.error(s"events.ts scanned as unexpected type ${other.simpleString} " +
          s"from $d/events.parquet — new data-drop shape; teach Tables.events " +
          "to normalize it (see TablesShapeSpec scaladoc)")
    }
  }

  /** Sanity probe for the LongType branch (ADVICE r12): under
    * [[eventsConf]] only TIMESTAMP(NANOS) scans as long, but a future
    * drop shipping PLAIN int64 micros/millis would also scan as long
    * and the nanos→micros floor would shift every timestamp by three
    * or six orders of magnitude. Any plausible event epoch is
    * ≥ ~1.5e18 ns (2017+) while micros stay ≤ ~4.1e15 through 2100,
    * so an order-of-magnitude check separates the encodings. LIMIT
    * scan of the first [[ProbeRows]] non-null values (one row group,
    * any scale). The pass is [[memoized]] (class doc), so only the
    * first accessor call per JVM and DATA DROP pays the job — a
    * long-lived service that receives a re-drop into the SAME path
    * switching nanos→plain-micros re-probes (ADVICE r13), and a probe
    * FAILURE records nothing. */
  private val ProbeRows = 100
  private val nanosProbed = new ConcurrentHashMap[String, (String, Unit)]()
  private def requireNanosRange(raw: DataFrame, d: String): Unit = {
    memoized(nanosProbed, raw.sparkSession, s"$d/events.parquet") {
      import org.apache.spark.sql.functions.col
      raw.select(col("ts")).filter(col("ts").isNotNull).head(ProbeRows).foreach { r =>
        val v = r.getLong(0)
        require(math.abs(v) >= 1e16.toLong,
          s"events.ts in $d/events.parquet scans as long but |$v| is too " +
            "small for an epoch in NANOS (plain int64 micros/millis drop?) — " +
            "refusing to floor-divide; fix the Tables.events adaptation")
      }
    }
    ()
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
