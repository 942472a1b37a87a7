package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Data-drop shape contract. The driver REGENERATES /root/testdata
  * between rounds and may change physical parquet types while keeping
  * logical content: the r12 drop switched events.ts from
  * TIMESTAMP(NANOS) (scans as long under the legacy conf) to
  * TIMESTAMP(MICROS, isAdjustedToUTC=false) (scans as TIMESTAMP_NTZ),
  * which surfaced as five cryptic analysis errors deep inside
  * registry sweeps. This spec pins the dtypes the operators actually
  * consume AT THE ACCESSOR LEVEL (graft.sources.Tables — the only
  * sanctioned way to read the corpus), so the NEXT shape change fails
  * here first, with a message naming the moved column.
  *
  * If this fails after a data drop: decide whether the accessor needs
  * a new adaptive branch (like Tables.events, which normalizes every
  * shipped ts shape to session-zoned TimestampType) or whether the new
  * shape is benign and this contract should simply be updated. */
class TablesShapeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  // synthetic-drop dirs created by the probe tests, reclaimed after the
  // suite (ADVICE r13: createTempDirectory accreted /tmp garbage)
  private val tmpDirs = scala.collection.mutable.ListBuffer.empty[java.nio.file.Path]
  private def writeEvents(df: org.apache.spark.sql.DataFrame): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_ts_probe")
    tmpDirs += d
    df.write.mode("overwrite").parquet(s"$d/events.parquet")
    d.toString
  }
  override def afterAll(): Unit = {
    for (d <- tmpDirs) {
      val walk = java.nio.file.Files.walk(d)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
    super.afterAll()
  }

  private def shape(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap

  private def check(table: String, got: Map[String, String],
      want: Map[String, String]): Unit =
    for ((col, t) <- want)
      assert(got.get(col).contains(t),
        s"$table.$col: accessor yields ${got.getOrElse(col, "<missing>")}, " +
          s"operators consume $t — data drop changed shape? (see scaladoc)")

  test("accessors yield the dtypes the operators consume") {
    val sp = spark
    check("events", shape(graft.sources.Tables.events(sp, dir)), Map(
      "event_id" -> "bigint", "ts" -> "timestamp", "user_id" -> "bigint",
      "event_type" -> "string", "value" -> "double", "props" -> "string"))
    check("documents", shape(graft.sources.Tables.documents(sp, dir)), Map(
      "doc_id" -> "bigint", "text" -> "string", "lang" -> "string",
      "source" -> "string", "n_chars" -> "bigint"))
    check("embeddings", shape(graft.sources.Tables.embeddings(sp, dir)), Map(
      "vec_id" -> "bigint", "embedding" -> "array<float>", "label" -> "int"))
    check("lineitem", shape(graft.sources.Tables.lineitem(sp, dir)), Map(
      "l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int",
      "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_returnflag" -> "string",
      "l_shipdate" -> "timestamp_ntz"))
    check("orders", shape(graft.sources.Tables.orders(sp, dir)), Map(
      "o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_totalprice" -> "double", "o_orderdate" -> "timestamp_ntz",
      "o_orderstatus" -> "string"))
    check("customer", shape(graft.sources.Tables.customer(sp, dir)), Map(
      "c_custkey" -> "bigint", "c_nationkey" -> "int"))
    check("supplier", shape(graft.sources.Tables.supplier(sp, dir)), Map(
      "s_suppkey" -> "bigint", "s_nationkey" -> "int"))
    check("part", shape(graft.sources.Tables.part(sp, dir)), Map(
      "p_partkey" -> "bigint"))
    check("nation", shape(graft.sources.Tables.nation(sp, dir)), Map(
      "n_nationkey" -> "int", "n_regionkey" -> "int",
      "n_name" -> "string"))
    check("region", shape(graft.sources.Tables.region(sp, dir)), Map(
      "r_regionkey" -> "int", "r_name" -> "string"))
  }

  /** Oracle-side contract (VERDICT r12 task 6): the driver's DuckDB
    * oracle reads the same parquet files RAW, so any dtype the
    * accessor adapts must be a VALUE-preserving view of the raw scan
    * — the r12 nanos→micros class of drift would make Spark and the
    * oracle disagree on every events timestamp while both sides'
    * schemas look internally fine. One row per table: the raw scan
    * must match the accessor byte-for-byte except where the accessor
    * documents an adaptation (events.ts), and there the adapted
    * values must equal the raw values under the documented mapping. */
  test("raw parquet scan (what the oracle reads) agrees with the accessors") {
    val sp = spark
    import org.apache.spark.sql.functions._
    // the NAMED accessors, not Tables.apply (which IS the raw scan —
    // comparing it to itself asserts nothing)
    val T = graft.sources.Tables
    val accessors: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "region" -> T.region _, "nation" -> T.nation _,
      "customer" -> T.customer _, "supplier" -> T.supplier _,
      "part" -> T.part _, "orders" -> T.orders _,
      "lineitem" -> T.lineitem _, "events" -> T.events _,
      "documents" -> T.documents _, "embeddings" -> T.embeddings _)
    assert(accessors.keySet == T.all.toSet,
      "accessor map out of sync with Tables.all — add the new table here")
    for (t <- T.all) {
      val raw = sp.read.parquet(s"$dir/$t.parquet")
      val acc = accessors(t)(sp, dir)
      if (t != "events")
        assert(shape(raw) == shape(acc),
          s"$t: accessor reshapes a table it documents as pass-through")
    }
    // events: pin the adaptation itself, value by value at this SF
    val raw = sp.read.parquet(s"$dir/events.parquet")
    val adapted = graft.sources.Tables.events(sp, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("micros"))
    val rawMicros = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // nanos era: floor to micros
        raw.select(col("event_id"),
          expr("(ts - pmod(ts, 1000)) div 1000").as("raw_micros"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // NTZ wall-clock == UTC instant under the pinned UTC session tz
        raw.select(col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("raw_micros"))
      case other => fail(s"events.ts raw scan is ${other.simpleString} — " +
        "update this contract alongside Tables.events")
    }
    val mismatches = adapted.join(rawMicros, "event_id")
      .filter(col("micros") =!= col("raw_micros")).count()
    assert(mismatches == 0,
      s"events.ts: accessor values diverge from the oracle's raw read on $mismatches rows")
  }

  /** The adaptive branches the CURRENT drop does not exercise, driven
    * through synthetic parquet: the long branch must refuse values too
    * small to be nanos (a plain int64 micros/millis drop would
    * otherwise shift every epoch by 3-6 orders of magnitude), and an
    * unknown ts dtype must fail fast instead of passing through raw
    * (ADVICE r12). */
  test("events adaptation: non-nanos longs and unknown ts dtypes fail fast") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    // plausible NANOS longs (2024 epoch ≈ 1.7e18): adapts, floors to micros
    val nanosDir = writeEvents(Seq((1L, 1700000000123456789L))
      .toDF("event_id", "ts"))
    val ok = graft.sources.Tables.events(sp, nanosDir)
    assert(ok.schema("ts").dataType.simpleString == "timestamp")
    assert(ok.select(unix_micros(col("ts"))).head.getLong(0) == 1700000000123456L)
    // int64 MICROS magnitude: the one-row probe must refuse to floor
    val microsDir = writeEvents(Seq((1L, 1700000000123456L))
      .toDF("event_id", "ts"))
    val e = intercept[IllegalArgumentException] {
      graft.sources.Tables.events(sp, microsDir)
    }
    assert(e.getMessage.contains("NANOS"))
    // unknown dtype (string): fail fast, never silent pass-through
    val strDir = writeEvents(Seq((1L, "2024-01-01")).toDF("event_id", "ts"))
    val e2 = intercept[RuntimeException] {
      graft.sources.Tables.events(sp, strDir)
    }
    assert(e2.getMessage.contains("unexpected type"))
  }

  /** ADVICE r13: the probe memo must be keyed on DATA identity, not
    * the bare path — a long-lived service re-dropping into the SAME
    * directory, switching nanos→plain-int64-micros, must re-probe and
    * refuse, not ride the previous drop's memoized pass. (Spark part
    * file names carry a per-write UUID, so the listing fingerprint
    * always moves on a re-drop even when length and mtime would tie.) */
  test("a re-drop into the SAME path switching nanos→micros re-probes and refuses") {
    val sp = spark
    import sp.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_ts_redrop")
    tmpDirs += d
    Seq((1L, 1700000000123456789L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    // first drop: genuine nanos — probe passes and memoizes
    assert(graft.sources.Tables.events(sp, d.toString)
      .schema("ts").dataType.simpleString == "timestamp")
    // SAME path, new drop with int64-micros magnitudes
    Seq((1L, 1700000000123456L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$d/events.parquet")
    val e = intercept[IllegalArgumentException] {
      graft.sources.Tables.events(sp, d.toString)
    }
    assert(e.getMessage.contains("NANOS"),
      "the stale per-path memo bypassed the probe on a re-drop")
  }

  test("schema memo: a repeat read of an unchanged table runs no Spark job") {
    val T = graft.sources.Tables
    for (t <- Seq("supplier", "lineitem")) {
      val first = T(spark, dir, t) // infers (or hits a memo an earlier test made)
      val (again, jobs) = Jobs.count(spark.sparkContext)(T(spark, dir, t))
      assert(jobs == 0, s"$t: the second read re-inferred its schema with a Spark job")
      assert(again.schema == first.schema)
      assert(again.count() == first.count())
    }
  }

  test("schema memo: a re-drop into the SAME path with a new column type re-infers") {
    val sp = spark
    import sp.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft_schema_redrop")
    tmpDirs += d
    Seq(1L, 2L).toDF("k").write.mode("overwrite").parquet(s"$d/t.parquet")
    assert(graft.sources.Tables(sp, d.toString, "t").schema("k").dataType.simpleString == "bigint")
    Seq("a", "b", "c").toDF("k").write.mode("overwrite").parquet(s"$d/t.parquet")
    val redropped = graft.sources.Tables(sp, d.toString, "t")
    assert(redropped.schema("k").dataType.simpleString == "string",
      "the memo served the previous drop's schema")
    assert(redropped.as[String].collect().sorted.toSeq == Seq("a", "b", "c"))
  }

  /** The memo keys on the session's parquet confs too: a file written
    * WITHOUT Spark's schema metadata (plain parquet-mr, as other
    * engines write) has an unannotated binary column, which Spark
    * infers as binary, or as string under `spark.sql.parquet.binaryAsString`. */
  test("schema memo: changing a parquet conf between two reads re-infers") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    val d = java.nio.file.Files.createTempDirectory("graft_schema_conf")
    tmpDirs += d
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$d/t.parquet/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", Binary.fromString("x")))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    def bType = graft.sources.Tables(spark, d.toString, "t").schema("b").dataType.simpleString
    assert(!spark.conf.getOption(key).contains("true"), s"$key set on the shared session")
    assert(bType == "binary")
    spark.conf.set(key, "true")
    try assert(bType == "string", s"the memo ignored $key")
    finally spark.conf.unset(key)
    assert(bType == "binary", s"the memo kept the $key schema after the conf was unset")
  }
}
