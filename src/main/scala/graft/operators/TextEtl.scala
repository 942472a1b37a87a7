package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OpQuery
import graft.sources.Tables
import graft.functions.TextSemantics

/** Tier-A operator surface (SURVEY.md §2 A1–A25): the reference's
  * fragment detection + normalization semantics, exposed as queries
  * over the `documents` table.
  *
  * The synthetic `documents.text` is structure-free word soup, so each
  * query derives a messy document DETERMINISTICALLY from the row's
  * columns (doc_id/lang/source/n_chars) — identically in the Spark
  * build and in the DuckDB oracle SQL — then runs the real detector /
  * normalizer on it. The oracle states the expected result analytically
  * from the construction, so the comparison verifies the operator's
  * actual spans, confidences and parses.
  *
  * Scale: the detector is a deterministic per-row Scala function over
  * the documents scan — embarrassingly parallel, no shuffle, no driver
  * loops; per-doc cost is linear with the reference's own scan caps.
  * Aggregations that follow are standard partial-agg shuffles.
  */
object TextEtl {

  // native expressions (no per-row reflective encoding — see
  // graft.plans.DetectFragments / ParseHtmlTable)
  private def detectF(c: Column): Column = graft.plans.DetectFragments.detect(c)
  private def detectBothF(c: Column): Column = graft.plans.DetectFragmentsBoth.detectBoth(c)
  private def htmlRowsF(c: Column): Column = graft.plans.ParseHtmlTable.parse(c)

  // ---- shared construction pieces ----------------------------------------

  /** First 40 chars of the word soup (every doc has n_chars >= 48). */
  private def soup: Column = substring(col("text"), 1, 40)
  private val soupSql = "substring(text, 1, 40)"

  private def s(c: Column*): Column = concat(c: _*)
  private def docIdS: Column = col("doc_id").cast("string")
  private def nCharsS: Column = col("n_chars").cast("string")

  private def docs(sp: SparkSession, dir: String): DataFrame = Tables.documents(sp, dir)

  private def cntType(frags: Column, t: String): Column =
    size(filter(frags, f => f.getField("format_type") === t))
  private def firstOf(frags: Column, t: String): Column =
    element_at(filter(frags, f => f.getField("format_type") === t), 1)
  private def confSum(frags: Column): Column =
    round(aggregate(frags, lit(0.0), (acc, f) => acc + f.getField("confidence")), 4)

  // ---- A1/A2: source + sink ----------------------------------------------

  /** A1 — document source (`script.py:562-563`): whole-document rows. */
  def sourceText(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).select(col("doc_id"), col("lang"), col("source"),
      col("n_chars"), length(col("text")).as("text_len"))
      .orderBy("doc_id")

  /** A1b — `op_source_textdir`: the reference's NATIVE input shape
    * (one messy text file per document, `script.py:562-563`) read
    * through the custom DataSource V2 provider
    * [[graft.sources.v2.TextDirSource]] — per-file partition planning +
    * column pruning, i.e. a real Spark source, not a parquet wrapper.
    *
    * The graded query materializes a BOUNDED 100-doc slice as text
    * files once (driver-side, marker-guarded — the same bounded-panel
    * pattern as the 10-query ANN baselines), reads them back through
    * the V2 source, and re-derives each doc's id + code-point length;
    * the oracle reads the same facts straight from the parquet table,
    * so a round-trip corruption (encoding, truncation, ordering) fails
    * the hash.
    *
    * The panel cache is keyed on the CONTENT of the parquet dataset
    * (an MD5 over each part-file's name+size+mtime), so regenerating
    * the dataset at the same path gets a fresh panel, and is published
    * by atomic rename of a fully-written temp dir — concurrent graders
    * either see nothing or a complete panel, never a partial one. */
  /** Session-memoized panel path per sf dir: the content key (an MD5
    * walk of the parquet part files) and the build run at most once
    * per JVM — repeated graded runs (bench rounds, verify sweeps) skip
    * straight to the V2 read. The memo is re-validated with a cheap
    * `Files.exists` on EVERY call, so an external /tmp cleanup mid-
    * session triggers a rebuild instead of serving a vanished path.
    * Dataset regeneration at the same sf dir re-keys across JVM runs
    * (part mtimes change); within a session a regeneration is only
    * picked up after the old panel disappears — the key walk itself is
    * memoized. */
  private val textdirPanels =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  def sourceTextdir(sp: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val cached = textdirPanels.get(dir)
    if (cached != null && !Files.exists(cached)) textdirPanels.remove(dir, cached)
    val out = textdirPanels.computeIfAbsent(dir, _ => {
      val key = {
        val md = java.security.MessageDigest.getInstance("MD5")
        md.update(dir.getBytes("UTF-8"))
        val parquet = Paths.get(dir, "documents.parquet")
        if (Files.isDirectory(parquet)) {
          val walk = Files.walk(parquet)
          try walk.sorted().forEach { p =>
            md.update(s"${p.getFileName}:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
              .getBytes("UTF-8"))
          } finally walk.close()
        }
        md.digest().take(6).map(b => f"$b%02x").mkString
      }
      val panel = Paths.get(s"/tmp/graft_textdir_$key")
      if (!Files.exists(panel)) {
        val tmp = Files.createTempDirectory(Paths.get("/tmp"), "graft_textdir_build")
        docs(sp, dir).filter(col("doc_id") < 100)
          .select("doc_id", "text").collect()   // bounded: 100 docs
          .foreach { r =>
            Files.writeString(tmp.resolve(f"${r.getLong(0)}%05d.txt"), r.getString(1))
          }
        publishPanel(tmp, panel)
      }
      panel
    })
    sp.read.format("graft.sources.v2.TextDirSource")
      .option("path", out.toString).load()
      .filter(col("path").endsWith(".txt"))
      .withColumn("doc_id", regexp_extract(col("path"), "(\\d+)\\.txt$", 1).cast("long"))
      .select(col("doc_id"), col("length").cast("int").as("text_len"))
      .transform(OpQuery.gradedSort("doc_id"))
  }

  /** Publish a fully-written panel dir by atomic rename. Losing the
    * race is fine — another grader installed an identical panel (the
    * path is content-keyed) — but the loser's exception varies by OS
    * and filesystem: `FileAlreadyExistsException` (POSIX rename onto a
    * file), `DirectoryNotEmptyException` (Linux rename onto a
    * non-empty dir), `AccessDeniedException` (Windows). All extend
    * `FileSystemException`, so catch that and re-check the target: if
    * `out` exists the race was lost (discard ours, no temp-dir leak);
    * if it doesn't, the failure is real — clean up and rethrow. */
  private[graft] def publishPanel(tmp: java.nio.file.Path,
      out: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    try Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE)
    catch { case e: java.nio.file.FileSystemException =>
      val lostRace = Files.exists(out)
      val walk = Files.walk(tmp)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.delete(p))
      finally walk.close()
      if (!lostRace) throw e
    }
  }

  /** A2b — `op_sink_textdir`: the WRITE half of the reference's native
    * I/O shape (it writes one processed text file back per document,
    * `script.py:572-573`) through the V2 sink
    * ([[graft.sources.v2.TextDirSource]] `SupportsWrite`): the bounded
    * 100-doc slice is written one-file-per-row with OVERWRITE
    * semantics (truncate + task-temp dirs + driver-rename job commit —
    * a real two-phase commit protocol, not a driver-side file loop),
    * then read back through the V2 READ path and graded on
    * (doc_id, code-point length) against the parquet facts — so an
    * encoding, truncation, or commit-protocol corruption in EITHER
    * direction fails the hash. Each run re-executes the full
    * distributed write (overwrite truncates), unlike A1b's build-once
    * panel — this op IS the sink's grade. */
  def sinkTextdir(sp: SparkSession, dir: String): DataFrame = {
    val out = "/tmp/graft_textdir_sink_" +
      sp.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9_-]", "_")
    docs(sp, dir).filter(col("doc_id") < 100)
      .select(format_string("%05d.txt", col("doc_id")).as("path"), col("text"))
      .write.format("graft.sources.v2.TextDirSource")
      .option("path", out).mode("overwrite").save()
    sp.read.format("graft.sources.v2.TextDirSource")
      .option("path", out).load()
      .filter(col("path").endsWith(".txt"))
      .withColumn("doc_id", regexp_extract(col("path"), "(\\d+)\\.txt$", 1).cast("long"))
      .select(col("doc_id"), col("length").cast("int").as("text_len"))
      .transform(OpQuery.gradedSort("doc_id"))
  }

  /** A2 — JSON sink projection (`script.py:572-573`): the engine's JSON
    * serialization of a record, verified against an independently
    * constructed JSON string. `df.write.json` uses the same `to_json`
    * machinery; the file write itself is exercised in tests. */
  def sinkJson(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).select(col("doc_id"),
      to_json(struct(col("doc_id"), col("lang"))).as("js"))
      .orderBy("doc_id")

  // ---- A3: strict JSON detection -----------------------------------------

  private def a3Doc: Column =
    s(soup, lit("\n\n"), lit("{\"doc\": "), docIdS, lit(", \"lang\": \""), col("lang"),
      lit("\", \"n\": "), nCharsS, lit("}"),
      when(col("doc_id") % 3 === 0,
        s(lit("\n\n{broken: 'json', oops: "), docIdS, lit(",}"))).otherwise(lit("")))

  def detectJson(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).withColumn("frags", detectF(a3Doc))
      .select(col("doc_id"),
        cntType(col("frags"), "JSON").as("n_json"),
        cntType(col("frags"), "MALFORMED_JSON").as("n_malformed"),
        firstOf(col("frags"), "JSON").getField("start_index").as("json_start"),
        (firstOf(col("frags"), "JSON").getField("end_index") -
          firstOf(col("frags"), "JSON").getField("start_index")).as("json_len"),
        round(firstOf(col("frags"), "JSON").getField("confidence"), 4).as("json_conf"))
      .transform(OpQuery.gradedSort("doc_id"))

  // ---- A4: malformed + unclosed JSON -------------------------------------

  private def a4Doc: Column =
    s(soup, lit("\n\n{id: "), docIdS, lit(", status: 'open', note: unq,}"),
      when(col("doc_id") % 2 === 0,
        s(lit("\n\n{\"tail\": "), docIdS, lit(" never closes"))).otherwise(lit("")))

  def detectMalformedJson(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).withColumn("frags", detectF(a4Doc))
      .withColumn("mal", filter(col("frags"), f => f.getField("format_type") === "MALFORMED_JSON"))
      .select(col("doc_id"),
        size(col("mal")).as("n_malformed"),
        confSum(col("mal")).as("conf_sum"),
        element_at(col("mal"), 1).getField("start_index").as("first_start"),
        // exists() is three-valued: a null lambda result (missing meta
        // key) yields NULL, not false — coalesce for a clean boolean
        coalesce(exists(col("mal"),
          f => try_element_at(f.getField("meta"), lit("note")) === "unclosed"),
          lit(false)).as("has_unclosed"))
      .transform(OpQuery.gradedSort("doc_id"))

  // ---- A5: JSON-LD --------------------------------------------------------

  private def a5Doc: Column =
    s(soup, lit("\n\n<script type=\"application/ld+json\">{\"@type\": \"Product\", \"sku\": "),
      docIdS, lit("}</script>"))

  def detectJsonLd(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).withColumn("frags", detectF(a5Doc))
      .withColumn("ld", firstOf(col("frags"), "JSON_LD"))
      .select(col("doc_id"),
        cntType(col("frags"), "JSON_LD").as("n_jsonld"),
        round(col("ld").getField("confidence"), 4).as("conf"),
        col("ld").getField("start_index").as("body_start"),
        (col("ld").getField("end_index") - col("ld").getField("start_index")).as("body_len"))
      .transform(OpQuery.gradedSort("doc_id"))

  // ---- A6: YAML frontmatter ----------------------------------------------

  private def a6Doc: Column =
    s(lit("---\ntitle: doc "), docIdS, lit("\nlang: "), col("lang"),
      lit("\nsource: "), col("source"), lit("\n---\n\n"), soup)

  def detectYaml(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).withColumn("frags", detectF(a6Doc))
      .withColumn("y", firstOf(col("frags"), "YAML_FRONTMATTER"))
      .select(col("doc_id"),
        cntType(col("frags"), "YAML_FRONTMATTER").as("n_yaml"),
        round(col("y").getField("confidence"), 4).as("conf"),
        col("y").getField("start_index").as("body_start"),
        (col("y").getField("end_index") - col("y").getField("start_index")).as("body_len"))
      .transform(OpQuery.gradedSort("doc_id"))

  // ---- A7: sectioned JSON (`--- INLINE JSON` headers) ---------------------

  private def a7Body: Column =
    when(col("doc_id") % 2 === 0,
      s(lit("{\"a\": "), docIdS, lit(", \"b\": \""), col("lang"), lit("\"}")))
      .otherwise(s(lit("{a: "), docIdS, lit(", b: 'x'}")))

  private def a7Doc: Column =
    s(lit("--- INLINE JSON\n"), a7Body, lit("\n--- NOTES\n"), soup)

  def detectSectionedJson(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).withColumn("frags", detectF(a7Doc))
      .withColumn("j", element_at(filter(col("frags"),
        f => f.getField("format_type").isin("JSON", "MALFORMED_JSON")), 1))
      .select(col("doc_id"),
        col("j").getField("format_type").as("fmt"),
        round(col("j").getField("confidence"), 4).as("conf"),
        col("j").getField("start_index").as("body_start"),
        (col("j").getField("end_index") - col("j").getField("start_index")).as("body_len"),
        element_at(col("j").getField("meta"), "section_header").as("header"))
      .transform(OpQuery.gradedSort("doc_id"))

  // ---- A8: HTML table -----------------------------------------------------

  private def a8Doc: Column =
    s(soup, lit("\n\n<table><thead><tr><th>k</th><th>v</th></tr></thead><tr><td>lang</td><td>"),
      col("lang"), lit("</td></tr><tr><td>n</td><td>"), nCharsS, lit("</td></tr></table>"))

  def detectHtmlTable(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).withColumn("frags", detectF(a8Doc))
      .withColumn("t", firstOf(col("frags"), "HTML_TABLE"))
      .select(col("doc_id"),
        cntType(col("frags"), "HTML_TABLE").as("n_table"),
        round(col("t").getField("confidence"), 4).as("conf"),
        element_at(col("t").getField("meta"), "rows").cast("int").as("n_rows"),
        element_at(col("t").getField("meta"), "cols").cast("int").as("n_cols"),
        col("t").getField("start_index").as("tbl_start"),
        (col("t").getField("end_index") - col("t").getField("start_index")).as("tbl_len"))
      .transform(OpQuery.gradedSort("doc_id"))

  // ---- A9: generic HTML block ---------------------------------------------

  private def a9Doc: Column =
    s(soup, lit("\n\n<div class=\"box\"><p>hello "), col("source"),
      lit("</p><p>"), col("lang"), lit("</p></div>"))

  def detectHtmlBlock(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).withColumn("frags", detectF(a9Doc))
      .withColumn("h", firstOf(col("frags"), "HTML"))
      .select(col("doc_id"),
        cntType(col("frags"), "HTML").as("n_html"),
        round(col("h").getField("confidence"), 4).as("conf"),
        element_at(col("h").getField("meta"), "tag_count").cast("int").as("tag_count"),
        col("h").getField("start_index").as("blk_start"),
        (col("h").getField("end_index") - col("h").getField("start_index")).as("blk_len"))
      .transform(OpQuery.gradedSort("doc_id"))

  // ---- A10: CSV (header + headerless) -------------------------------------

  private def a10Doc: Column =
    s(soup, lit("\n\nname,lang,n\nr"), docIdS, lit(","), col("lang"), lit(","), nCharsS,
      lit("\ns"), docIdS, lit(","), col("source"), lit(",0"),
      lit("\n\n10,20,30\n40,50,60"))

  def detectCsv(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).withColumn("frags", detectF(a10Doc))
      .withColumn("c", firstOf(col("frags"), "CSV"))
      .withColumn("nh", firstOf(col("frags"), "CSV_NO_HEADER"))
      .select(col("doc_id"),
        cntType(col("frags"), "CSV").as("n_csv"),
        cntType(col("frags"), "CSV_NO_HEADER").as("n_csv_nh"),
        round(col("c").getField("confidence"), 4).as("conf_hdr"),
        element_at(col("c").getField("meta"), "rows").cast("int").as("rows_hdr"),
        round(col("nh").getField("confidence"), 4).as("conf_nh"),
        element_at(col("nh").getField("meta"), "rows").cast("int").as("rows_nh"),
        col("c").getField("start_index").as("csv_start"))
      .transform(OpQuery.gradedSort("doc_id"))

  // ---- A11: key-value runs ------------------------------------------------

  private def a11Doc: Column =
    s(lit("id: "), docIdS, lit("\nlang: "), col("lang"), lit("\nsource: "), col("source"),
      lit("\nchars = "), nCharsS, lit("\n\n"), soup)

  def detectKv(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).withColumn("frags", detectF(a11Doc))
      .withColumn("k", firstOf(col("frags"), "KEY_VALUE"))
      .select(col("doc_id"),
        cntType(col("frags"), "KEY_VALUE").as("n_kv"),
        element_at(col("k").getField("meta"), "pairs").cast("int").as("pairs"),
        round(col("k").getField("confidence"), 4).as("conf"),
        col("k").getField("start_index").as("kv_start"),
        (col("k").getField("end_index") - col("k").getField("start_index")).as("kv_len"))
      .transform(OpQuery.gradedSort("doc_id"))

  // ---- A12: JS object -----------------------------------------------------

  /** Faithfully ported reference semantics: the global JSON scan
    * (`etl_parser.py:629-678`) claims every brace span as JSON or
    * MALFORMED_JSON and reserves it, so `detect_js_objects`
    * (`etl_parser.py:803-816`) finds its body occupied and never fires
    * — observed on the reference's own fixture (`input.txt:85` counts
    * as MALFORMED_JSON in the recorded summary). This query asserts
    * that classification. The working JS-object *parser* is A21
    * (`op_parse_js_object`). */
  private def a12Doc: Column =
    s(soup, lit("\n\nvar config = {enabled: true, source: '"), col("source"), lit("'};"))

  def detectJsObject(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).withColumn("frags", detectF(a12Doc))
      .select(col("doc_id"),
        cntType(col("frags"), "JS_OBJECT").as("n_js"),
        cntType(col("frags"), "MALFORMED_JSON").as("n_malformed"),
        round(firstOf(col("frags"), "MALFORMED_JSON").getField("confidence"), 4).as("mal_conf"))
      .transform(OpQuery.gradedSort("doc_id"))

  // ---- A13: SQL statements ------------------------------------------------

  private def a13Doc: Column =
    s(soup, lit("\n\n-- latest orders\nSELECT name FROM users WHERE id = "), docIdS,
      lit(";\n\nUPDATE metrics SET n = "), nCharsS, lit(";"))

  def detectSql(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).withColumn("frags", detectF(a13Doc))
      .withColumn("sqls", filter(col("frags"), f => f.getField("format_type") === "SQL"))
      .select(col("doc_id"),
        size(col("sqls")).as("n_sql"),
        element_at(col("sqls"), 1).getField("start_index").as("first_start"),
        (element_at(col("sqls"), 1).getField("end_index") -
          element_at(col("sqls"), 1).getField("start_index")).as("first_len"),
        (element_at(col("sqls"), 2).getField("end_index") -
          element_at(col("sqls"), 2).getField("start_index")).as("second_len"),
        confSum(col("sqls")).as("conf_sum"))
      .transform(OpQuery.gradedSort("doc_id"))

  // ---- A14: raw-text complement -------------------------------------------

  private def a14Doc: Column =
    s(soup, lit("\n\n{\"x\": "), docIdS, lit("}\n\ntail words for raw detection "), col("source"))

  def detectRawText(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).withColumn("frags", detectF(a14Doc))
      .withColumn("raws", filter(col("frags"), f => f.getField("format_type") === "RAW_TEXT"))
      .select(col("doc_id"),
        size(col("raws")).as("n_raw"),
        (element_at(col("raws"), 1).getField("end_index") -
          element_at(col("raws"), 1).getField("start_index")).as("len1"),
        (element_at(col("raws"), 2).getField("end_index") -
          element_at(col("raws"), 2).getField("start_index")).as("len2"),
        confSum(col("raws")).as("conf_sum"))
      .transform(OpQuery.gradedSort("doc_id"))

  // ---- A15/A30/A31: the full messy document -------------------------------

  /** One document per row combining KV + prose + JSON + CSV + SQL and,
    * conditionally, a malformed-JSON (doc_id%3=0) and an HTML table
    * (doc_id%4=0) paragraph. Shared by the dedup/summary/sort queries. */
  private def messyDoc: Column =
    s(lit("id: "), docIdS, lit("\nlang: "), col("lang"), lit("\nsource: "), col("source"),
      lit("\n\n"), soup,
      lit("\n\n{\"doc\": "), docIdS, lit(", \"ok\": true}"),
      lit("\n\nname,code,n\na"), docIdS, lit(","), col("lang"), lit(","), nCharsS,
      lit("\nb"), docIdS, lit(","), col("source"), lit(",0"),
      lit("\n\nSELECT v FROM t WHERE id = "), docIdS, lit(";"),
      when(col("doc_id") % 3 === 0,
        s(lit("\n\n{flag: 'on', n: "), docIdS, lit(",}"))).otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        s(lit("\n\n<table><tr><th>a</th></tr><tr><td>"), col("lang"),
          lit("</td></tr></table>"))).otherwise(lit("")))

  /** A15 — containment-priority dedup: RAW_TEXT paragraphs that exactly
    * cover the KV, CSV and SQL blocks are dropped (their containers
    * rank higher); the prose paragraph survives. */
  def fragmentPriorityDedup(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir)
      .withColumn("ba", detectBothF(messyDoc))
      .withColumn("before", col("ba.before"))
      .withColumn("after", col("ba.after"))
      .select(col("doc_id"),
        size(col("before")).as("n_before"),
        size(col("after")).as("n_after"),
        (size(col("before")) - size(col("after"))).as("n_dropped"),
        cntType(col("after"), "RAW_TEXT").as("n_raw_kept"),
        cntType(col("after"), "KEY_VALUE").as("n_kv"),
        cntType(col("after"), "MALFORMED_JSON").as("n_malformed"),
        cntType(col("after"), "HTML_TABLE").as("n_table"))
      .transform(OpQuery.gradedSort("doc_id"))

  /** A30 — corpus-wide fragment summary counts. */
  def summaryCounts(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir)
      .select(explode(detectF(messyDoc)).as("f"))
      .groupBy(col("f.format_type").as("format_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("format_type")

  /** A31 — fragments in document order with their spans. */
  def fragmentSort(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).filter(col("doc_id") < 30)
      .select(col("doc_id"), posexplode(detectF(messyDoc)).as(Seq("seq", "f")))
      .select(col("doc_id"), col("seq"),
        col("f.format_type").as("format_type"),
        col("f.start_index").as("start_index"),
        col("f.end_index").as("end_index"))
      .orderBy("doc_id", "seq")

  /** A32 — the reference's top-level `parse_file` API
    * (`etl_parser.py:1053-1082`) over the messy corpus: fragments +
    * summary + normalized records per document via [[graft.api.Graft]].
    * On this corpus only the RAW_TEXT prose paragraph has no normal
    * form, so records = fragments - 1. */
  def parseFileOp(sp: SparkSession, dir: String): DataFrame =
    graft.api.Graft.parseDocuments(
        docs(sp, dir).withColumn("body", messyDoc), col("body"))
      .select(col("doc_id"),
        size(col("fragments")).as("n_fragments"),
        size(col("records")).as("n_records"),
        size(map_keys(col("summary"))).as("n_kinds"))
      .transform(OpQuery.gradedSort("doc_id"))

  // ---- A16: strict JSON normalization -------------------------------------

  private def a16Doc: Column =
    s(lit("{\"id\": "), docIdS, lit(", \"meta\": {\"lang\": \""), col("lang"),
      lit("\", \"n\": "), nCharsS, lit("}, \"tags\": [\"x\", \""), col("source"), lit("\"]}"))

  def normalizeJson(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).withColumn("j", a16Doc)
      .select(col("doc_id"),
        get_json_object(col("j"), "$.id").cast("long").as("id"),
        get_json_object(col("j"), "$.meta.lang").as("mlang"),
        get_json_object(col("j"), "$.meta.n").cast("long").as("mn"),
        get_json_object(col("j"), "$.tags[1]").as("tag2"))
      .orderBy("doc_id")

  // ---- A17: JSON repair ----------------------------------------------------

  private def a17Doc: Column =
    s(lit("{id: "), docIdS, lit(", status: 'open', tags: ['x','"), col("source"),
      lit("'], note: \"t\",}"))

  def repairJson(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).withColumn("r", TextSemantics.repairJson(a17Doc))
      .select(col("doc_id"),
        get_json_object(col("r"), "$.id").isNotNull.as("repaired_ok"),
        get_json_object(col("r"), "$.id").cast("long").as("id"),
        get_json_object(col("r"), "$.status").as("status"),
        get_json_object(col("r"), "$.tags[1]").as("tag2"),
        get_json_object(col("r"), "$.note").as("note"))
      .orderBy("doc_id")

  // ---- A18: CSV fragment parse ---------------------------------------------

  private def a18Doc: Column =
    s(lit("name,code,n\nr"), docIdS, lit(","), col("lang"), lit(","), nCharsS)

  /** Headered fragment parsed with the real CSV reader (`from_csv`);
    * single-row fragments come back flat (`script.py:339-342`). */
  def parseCsvFragment(sp: SparkSession, dir: String): DataFrame = {
    docs(sp, dir).withColumn("c", a18Doc)
      .withColumn("row1", element_at(split(col("c"), "\n"), 2))
      .withColumn("p", from_csv(col("row1"), org.apache.spark.sql.types.StructType.fromDDL(
        "name string, code string, n bigint"), Map.empty[String, String]))
      .select(col("doc_id"), col("p.name").as("name"), col("p.code").as("code"),
        col("p.n").as("n"))
      .orderBy("doc_id")
  }

  // ---- A19: HTML table parse -----------------------------------------------

  private def a19Doc: Column =
    s(lit("<table><thead><tr><th>Name</th><th>Code</th></tr></thead><tbody><tr><td>a"),
      docIdS, lit("</td><td>"), col("lang"), lit("</td></tr><tr><td>b"), docIdS,
      lit("</td><td>"), col("source"), lit("</td></tr></tbody></table>"))

  def parseHtmlTable(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir)
      .select(col("doc_id"), posexplode(htmlRowsF(a19Doc)).as(Seq("row_idx", "r")))
      .select(col("doc_id"), col("row_idx"),
        element_at(col("r"), "Name").as("name"),
        element_at(col("r"), "Code").as("code"))
      .orderBy("doc_id", "row_idx")

  // ---- A20: key-value parse ------------------------------------------------

  private def a20Doc: Column =
    s(lit("Product Name: Widget "), docIdS,
      lit("\nPrice: 9.99\nActive: yes\nCount: "), nCharsS,
      lit("\nTags: x;y;"), col("source"),
      lit("\n# comment line\n// another comment\nRating = 4.5"))

  /** Line-wise kv parse (`script.py:365-397`): first-separator split in
    * `': '` → `'='` → `':'` order, comment lines skipped, keys cleaned,
    * values coerced, `;`-separated values become lists. */
  def parseKv(sp: SparkSession, dir: String): DataFrame = {
    val lines = filter(transform(split(a20Doc, "\n"), l => trim(l)),
      l => l =!= "" && !l.startsWith("#") && !l.startsWith("//") &&
        (l.contains(": ") || l.contains("=") || l.contains(":")))
    def keyOf(l: Column): Column =
      when(l.contains(": "), element_at(split(l, ": ", 2), 1))
        .when(l.contains("="), element_at(split(l, "=", 2), 1))
        .otherwise(element_at(split(l, ":", 2), 1))
    def valOf(l: Column): Column =
      when(l.contains(": "), element_at(split(l, ": ", 2), 2))
        .when(l.contains("="), element_at(split(l, "=", 2), 2))
        .otherwise(element_at(split(l, ":", 2), 2))
    val kv = map_from_entries(transform(lines,
      l => struct(TextSemantics.cleanKey(keyOf(l)).as("k"), trim(valOf(l)).as("v"))))
    docs(sp, dir).withColumn("kv", kv)
      .select(col("doc_id"),
        try_element_at(col("kv"), lit("product_name")).as("product_name"),
        TextSemantics.coerceType(try_element_at(col("kv"), lit("price")))
          .getField("as_num").as("price"),
        TextSemantics.coerceType(try_element_at(col("kv"), lit("active")))
          .getField("as_bool").as("active"),
        TextSemantics.coerceType(try_element_at(col("kv"), lit("count")))
          .getField("as_num").as("count_num"),
        concat_ws("|", split(try_element_at(col("kv"), lit("tags")), ";")).as("tags_joined"),
        TextSemantics.coerceType(try_element_at(col("kv"), lit("rating")))
          .getField("as_num").as("rating"))
      .transform(OpQuery.gradedSort("doc_id"))
  }

  // ---- A21: JS object parse ------------------------------------------------

  private def a21Doc: Column =
    s(lit("var data = {name: '"), col("source"), lit("', count: "), nCharsS,
      lit(", active: true};"))

  /** `parse_javascript` (`script.py:403-419`): extract the `{...}`
    * body, quote bare keys, single→double quotes, parse. */
  def parseJsObject(sp: SparkSession, dir: String): DataFrame = {
    val body = regexp_extract(a21Doc, "var\\s+\\w+\\s*=\\s*(\\{[^}]+\\})", 1)
    val keyed = regexp_replace(body, "(\\w+):", "\"$1\":")
    val json = regexp_replace(keyed, "'", "\"")
    docs(sp, dir).withColumn("j", json)
      .select(col("doc_id"),
        get_json_object(col("j"), "$.name").as("name"),
        get_json_object(col("j"), "$.count").cast("long").as("cnt"),
        get_json_object(col("j"), "$.active").cast("boolean").as("active"))
      .orderBy("doc_id")
  }

  // ---- A22: entity extraction ----------------------------------------------

  private def a22Doc: Column =
    s(lit("Contact "), col("source"), lit("@example.com or call (555) 123-4567 visit https://ex.com/"),
      docIdS, lit(" price $9.99 today"))

  def extractEntities(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).withColumn("p", a22Doc)
      .select(col("doc_id"),
        TextSemantics.entityEmail(col("p")).as("email"),
        TextSemantics.entityPhone(col("p")).as("phone"),
        TextSemantics.entityUrl(col("p")).as("url"),
        TextSemantics.entityPrice(col("p")).as("price"))
      .orderBy("doc_id")

  // ---- A23: OCR fixes ------------------------------------------------------

  private def a23Doc: Column =
    s(lit("L0cation: "), col("source"), lit(" O5 checked one hundred and twenty times O9"))

  def fixOcr(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir)
      .select(col("doc_id"), TextSemantics.fixOcr(a23Doc).as("fixed"))
      .orderBy("doc_id")

  // ---- A24: type coercion battery ------------------------------------------

  def coerceType(sp: SparkSession, dir: String): DataFrame = {
    def k(v: Column) = TextSemantics.coerceType(v)
    docs(sp, dir).select(col("doc_id"),
      k(lit("yes")).getField("kind").as("k_yes"),
      k(lit("yes")).getField("as_bool").as("b_yes"),
      k(lit("No")).getField("kind").as("k_no"),
      k(lit("No")).getField("as_bool").as("b_no"),
      k(lit("N/A")).getField("kind").as("k_na"),
      k(lit("\"42\"")).getField("kind").as("k_q42"),
      k(lit("\"42\"")).getField("as_num").as("n_q42"),
      k(nCharsS).getField("kind").as("k_nchars"),
      k(nCharsS).getField("as_num").as("n_nchars"),
      k(lit("3.14")).getField("kind").as("k_pi"),
      k(lit("3.14")).getField("as_num").as("n_pi"),
      k(lit("9,99")).getField("kind").as("k_euro"),
      k(lit("  7  ")).getField("kind").as("k_seven"),
      k(lit("  7  ")).getField("as_num").as("n_seven"),
      k(col("lang")).getField("kind").as("k_lang"))
      .transform(OpQuery.gradedSort("doc_id"))
  }

  // ---- A25: key cleaning ---------------------------------------------------

  def cleanKey(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).select(col("doc_id"),
      TextSemantics.cleanKey(lit(" First Name ")).as("k1"),
      TextSemantics.cleanKey(lit("Total (USD)")).as("k2"),
      TextSemantics.cleanKey(concat(col("lang"), lit(" Code"))).as("k3"),
      TextSemantics.cleanKey(lit("a  b--c!")).as("k4"),
      TextSemantics.cleanKey(concat(lit(" "), col("source"), lit(" ID "))).as("k5"))
      .orderBy("doc_id")

  // ---- oracle SQL ----------------------------------------------------------

  /** Shared DuckDB snippets mirroring the Spark constructions above.
    * `concat` implicitly stringifies numeric columns in both engines. */
  private val a15Kv = "concat('id: ', doc_id, e'\\nlang: ', lang, e'\\nsource: ', source)"
  private val a15Json = "concat('{\"doc\": ', doc_id, ', \"ok\": true}')"
  private val a15Csv =
    "concat('name,code,n', e'\\n', 'a', doc_id, ',', lang, ',', n_chars, e'\\n', 'b', doc_id, ',', source, ',0')"
  private val a15Sql = "concat('SELECT v FROM t WHERE id = ', doc_id, ';')"
  private val a15Mal = "concat('{flag: ''on'', n: ', doc_id, ',}')"
  private val a15Tab =
    "concat('<table><tr><th>a</th></tr><tr><td>', lang, '</td></tr></table>')"

  val queries: Seq[OpQuery] = Seq(
    OpQuery("op_source_text",
      """SELECT doc_id, lang, source, n_chars, CAST(length(text) AS INTEGER) AS text_len
        |FROM documents ORDER BY doc_id""".stripMargin)(sourceText),

    OpQuery("op_source_textdir",
      """SELECT doc_id, CAST(length(text) AS INTEGER) AS text_len
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin)(sourceTextdir),

    OpQuery("op_sink_textdir",
      """SELECT doc_id, CAST(length(text) AS INTEGER) AS text_len
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin)(sinkTextdir),

    OpQuery("op_sink_json",
      """SELECT doc_id, concat('{"doc_id":', doc_id, ',"lang":"', lang, '"}') AS js
        |FROM documents ORDER BY doc_id""".stripMargin)(sinkJson),

    OpQuery("op_detect_json",
      """SELECT doc_id,
        |  CAST(1 AS INTEGER) AS n_json,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER) AS n_malformed,
        |  CAST(42 AS INTEGER) AS json_start,
        |  CAST(length(concat('{"doc": ', doc_id, ', "lang": "', lang, '", "n": ', n_chars, '}')) AS INTEGER) AS json_len,
        |  CAST(0.98 AS DOUBLE) AS json_conf
        |FROM documents ORDER BY doc_id""".stripMargin)(detectJson),

    OpQuery("op_detect_malformed_json",
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INTEGER) AS n_malformed,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0.85 ELSE 0.5 END AS DOUBLE) AS conf_sum,
        |  CAST(42 AS INTEGER) AS first_start,
        |  doc_id % 2 = 0 AS has_unclosed
        |FROM documents ORDER BY doc_id""".stripMargin)(detectMalformedJson),

    OpQuery("op_detect_json_ld",
      """SELECT doc_id,
        |  CAST(1 AS INTEGER) AS n_jsonld,
        |  CAST(0.99 AS DOUBLE) AS conf,
        |  CAST(42 + length('<script type="application/ld+json">') AS INTEGER) AS body_start,
        |  CAST(length(concat('{"@type": "Product", "sku": ', doc_id, '}')) AS INTEGER) AS body_len
        |FROM documents ORDER BY doc_id""".stripMargin)(detectJsonLd),

    OpQuery("op_detect_yaml",
      """SELECT doc_id,
        |  CAST(1 AS INTEGER) AS n_yaml,
        |  CAST(0.95 AS DOUBLE) AS conf,
        |  CAST(4 AS INTEGER) AS body_start,
        |  CAST(length(concat('title: doc ', doc_id, e'\nlang: ', lang, e'\nsource: ', source)) AS INTEGER) AS body_len
        |FROM documents ORDER BY doc_id""".stripMargin)(detectYaml),

    OpQuery("op_detect_sectioned_json",
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'JSON' ELSE 'MALFORMED_JSON' END AS fmt,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0.99 ELSE 0.45 END AS DOUBLE) AS conf,
        |  CAST(16 AS INTEGER) AS body_start,
        |  CAST(length(CASE WHEN doc_id % 2 = 0
        |    THEN concat('{"a": ', doc_id, ', "b": "', lang, '"}')
        |    ELSE concat('{a: ', doc_id, ', b: ''x''}') END) AS INTEGER) AS body_len,
        |  'INLINE JSON' AS header
        |FROM documents ORDER BY doc_id""".stripMargin)(detectSectionedJson),

    OpQuery("op_detect_html_table",
      """SELECT doc_id,
        |  CAST(1 AS INTEGER) AS n_table,
        |  CAST(0.95 AS DOUBLE) AS conf,
        |  CAST(3 AS INTEGER) AS n_rows,
        |  CAST(2 AS INTEGER) AS n_cols,
        |  CAST(42 AS INTEGER) AS tbl_start,
        |  CAST(length(concat('<table><thead><tr><th>k</th><th>v</th></tr></thead><tr><td>lang</td><td>',
        |    lang, '</td></tr><tr><td>n</td><td>', n_chars, '</td></tr></table>')) AS INTEGER) AS tbl_len
        |FROM documents ORDER BY doc_id""".stripMargin)(detectHtmlTable),

    OpQuery("op_detect_html_block",
      """SELECT doc_id,
        |  CAST(1 AS INTEGER) AS n_html,
        |  CAST(0.59 AS DOUBLE) AS conf,
        |  CAST(3 AS INTEGER) AS tag_count,
        |  CAST(42 AS INTEGER) AS blk_start,
        |  CAST(length(concat('<div class="box"><p>hello ', source, '</p><p>', lang, '</p></div>')) AS INTEGER) AS blk_len
        |FROM documents ORDER BY doc_id""".stripMargin)(detectHtmlBlock),

    OpQuery("op_detect_csv",
      """SELECT doc_id,
        |  CAST(1 AS INTEGER) AS n_csv,
        |  CAST(1 AS INTEGER) AS n_csv_nh,
        |  CAST(0.9 AS DOUBLE) AS conf_hdr,
        |  CAST(3 AS INTEGER) AS rows_hdr,
        |  CAST(0.7 AS DOUBLE) AS conf_nh,
        |  CAST(2 AS INTEGER) AS rows_nh,
        |  CAST(42 AS INTEGER) AS csv_start
        |FROM documents ORDER BY doc_id""".stripMargin)(detectCsv),

    OpQuery("op_detect_kv",
      """SELECT doc_id,
        |  CAST(1 AS INTEGER) AS n_kv,
        |  CAST(4 AS INTEGER) AS pairs,
        |  CAST(0.9 AS DOUBLE) AS conf,
        |  CAST(0 AS INTEGER) AS kv_start,
        |  CAST(length(concat('id: ', doc_id, e'\nlang: ', lang, e'\nsource: ', source, e'\nchars = ', n_chars)) AS INTEGER) AS kv_len
        |FROM documents ORDER BY doc_id""".stripMargin)(detectKv),

    OpQuery("op_detect_js_object",
      """SELECT doc_id,
        |  CAST(0 AS INTEGER) AS n_js,
        |  CAST(1 AS INTEGER) AS n_malformed,
        |  CAST(0.5 AS DOUBLE) AS mal_conf
        |FROM documents ORDER BY doc_id""".stripMargin)(detectJsObject),

    OpQuery("op_detect_sql",
      """SELECT doc_id,
        |  CAST(2 AS INTEGER) AS n_sql,
        |  CAST(42 AS INTEGER) AS first_start,
        |  CAST(length(concat('-- latest orders', e'\nSELECT name FROM users WHERE id = ', doc_id, ';')) AS INTEGER) AS first_len,
        |  CAST(length(concat('UPDATE metrics SET n = ', n_chars, ';')) AS INTEGER) AS second_len,
        |  CAST(1.8 AS DOUBLE) AS conf_sum
        |FROM documents ORDER BY doc_id""".stripMargin)(detectSql),

    OpQuery("op_detect_raw_text",
      """SELECT doc_id,
        |  CAST(2 AS INTEGER) AS n_raw,
        |  CAST(length(trim(substring(text, 1, 40))) AS INTEGER) AS len1,
        |  CAST(length(concat('tail words for raw detection ', source)) AS INTEGER) AS len2,
        |  CAST(0.7 AS DOUBLE) AS conf_sum
        |FROM documents ORDER BY doc_id""".stripMargin)(detectRawText),

    OpQuery("op_fragment_priority_dedup",
      """SELECT doc_id,
        |  CAST(8 + (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
        |         + (CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS INTEGER) AS n_before,
        |  CAST(5 + (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
        |         + (CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS INTEGER) AS n_after,
        |  CAST(3 AS INTEGER) AS n_dropped,
        |  CAST(1 AS INTEGER) AS n_raw_kept,
        |  CAST(1 AS INTEGER) AS n_kv,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INTEGER) AS n_malformed,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS INTEGER) AS n_table
        |FROM documents ORDER BY doc_id""".stripMargin)(fragmentPriorityDedup),

    OpQuery("op_summary_counts",
      """SELECT format_type, CAST(n AS BIGINT) AS n FROM (
        |  SELECT 'KEY_VALUE' AS format_type, count(*) AS n FROM documents
        |  UNION ALL SELECT 'RAW_TEXT', count(*) FROM documents
        |  UNION ALL SELECT 'JSON', count(*) FROM documents
        |  UNION ALL SELECT 'CSV', count(*) FROM documents
        |  UNION ALL SELECT 'SQL', count(*) FROM documents
        |  UNION ALL SELECT 'MALFORMED_JSON', count(*) FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL SELECT 'HTML_TABLE', count(*) FROM documents WHERE doc_id % 4 = 0)
        |ORDER BY format_type""".stripMargin)(summaryCounts),

    OpQuery("op_fragment_sort",
      s"""WITH lens AS (
        |  SELECT doc_id,
        |    CAST(length($a15Kv) AS INTEGER) AS kvl,
        |    CAST(length(trim(substring(text, 1, 40))) AS INTEGER) AS soupl,
        |    CAST(length($a15Json) AS INTEGER) AS jl,
        |    CAST(length($a15Csv) AS INTEGER) AS cl,
        |    CAST(length($a15Sql) AS INTEGER) AS sl,
        |    CAST(length($a15Mal) AS INTEGER) AS ml,
        |    CAST(length($a15Tab) AS INTEGER) AS tl,
        |    doc_id % 3 = 0 AS has_m, doc_id % 4 = 0 AS has_t
        |  FROM documents WHERE doc_id < 30),
        |frags AS (
        |  SELECT doc_id, 0 AS seq, 'KEY_VALUE' AS format_type, 0 AS s, kvl AS e FROM lens
        |  UNION ALL SELECT doc_id, 1, 'RAW_TEXT', kvl + 2, kvl + 2 + soupl FROM lens
        |  UNION ALL SELECT doc_id, 2, 'JSON', kvl + 44, kvl + 44 + jl FROM lens
        |  UNION ALL SELECT doc_id, 3, 'CSV', kvl + 46 + jl, kvl + 46 + jl + cl FROM lens
        |  UNION ALL SELECT doc_id, 4, 'SQL', kvl + 48 + jl + cl, kvl + 48 + jl + cl + sl FROM lens
        |  UNION ALL SELECT doc_id, 5, 'MALFORMED_JSON', kvl + 50 + jl + cl + sl,
        |    kvl + 50 + jl + cl + sl + ml FROM lens WHERE has_m
        |  UNION ALL SELECT doc_id, CASE WHEN has_m THEN 6 ELSE 5 END, 'HTML_TABLE',
        |    kvl + 50 + jl + cl + sl + (CASE WHEN has_m THEN ml + 2 ELSE 0 END),
        |    kvl + 50 + jl + cl + sl + (CASE WHEN has_m THEN ml + 2 ELSE 0 END) + tl
        |    FROM lens WHERE has_t)
        |SELECT doc_id, CAST(seq AS INTEGER) AS seq, format_type,
        |  CAST(s AS INTEGER) AS start_index, CAST(e AS INTEGER) AS end_index
        |FROM frags ORDER BY doc_id, seq""".stripMargin)(fragmentSort),

    OpQuery("op_parse_file",
      """SELECT doc_id,
        |  CAST(5 + (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
        |         + (CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS INTEGER) AS n_fragments,
        |  CAST(4 + (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
        |         + (CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS INTEGER) AS n_records,
        |  CAST(5 + (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
        |         + (CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS INTEGER) AS n_kinds
        |FROM documents ORDER BY doc_id""".stripMargin)(parseFileOp),

    OpQuery("op_normalize_json",
      """SELECT doc_id, doc_id AS id, lang AS mlang, n_chars AS mn, source AS tag2
        |FROM documents ORDER BY doc_id""".stripMargin)(normalizeJson),

    OpQuery("op_repair_json",
      """WITH broken AS (
        |  SELECT doc_id, concat('{id: ', doc_id, ', status: ''open'', tags: [''x'',''',
        |    source, '''], note: "t",}') AS b FROM documents),
        |fixed AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(b, ',(\s*[}\]])', '\1', 'g'),
        |          '"\s*\n\s*"', e'",\n"', 'g'),
        |        '''([^'']*)''', '"\1"', 'g'),
        |      '(\w+):', '"\1":', 'g') AS r
        |  FROM broken)
        |SELECT doc_id,
        |  json_extract(r, '$.id') IS NOT NULL AS repaired_ok,
        |  CAST(json_extract(r, '$.id') AS BIGINT) AS id,
        |  json_extract_string(r, '$.status') AS status,
        |  json_extract_string(r, '$.tags[1]') AS tag2,
        |  json_extract_string(r, '$.note') AS note
        |FROM fixed ORDER BY doc_id""".stripMargin)(repairJson),

    OpQuery("op_parse_csv_fragment",
      """SELECT doc_id, concat('r', doc_id) AS name, lang AS code, n_chars AS n
        |FROM documents ORDER BY doc_id""".stripMargin)(parseCsvFragment),

    OpQuery("op_parse_html_table",
      """SELECT doc_id, CAST(idx AS INTEGER) AS row_idx,
        |  concat(CASE WHEN idx = 0 THEN 'a' ELSE 'b' END, doc_id) AS name,
        |  CASE WHEN idx = 0 THEN lang ELSE source END AS code
        |FROM documents, (SELECT 0 AS idx UNION ALL SELECT 1) i
        |ORDER BY doc_id, row_idx""".stripMargin)(parseHtmlTable),

    OpQuery("op_parse_kv",
      """SELECT doc_id,
        |  concat('Widget ', doc_id) AS product_name,
        |  CAST(9.99 AS DOUBLE) AS price,
        |  true AS active,
        |  CAST(n_chars AS DOUBLE) AS count_num,
        |  concat('x|y|', source) AS tags_joined,
        |  CAST(4.5 AS DOUBLE) AS rating
        |FROM documents ORDER BY doc_id""".stripMargin)(parseKv),

    OpQuery("op_parse_js_object",
      """SELECT doc_id, source AS name, n_chars AS cnt, true AS active
        |FROM documents ORDER BY doc_id""".stripMargin)(parseJsObject),

    OpQuery("op_extract_entities",
      """WITH p AS (SELECT doc_id,
        |  concat('Contact ', source, '@example.com or call (555) 123-4567 visit https://ex.com/',
        |    doc_id, ' price $9.99 today') AS t FROM documents)
        |SELECT doc_id,
        |  regexp_extract(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}') AS email,
        |  regexp_extract(t, '\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}') AS phone,
        |  regexp_extract(t, 'https?://[^ \n]+') AS url,
        |  regexp_extract(t, '\$\d+[.,]\d{2}') AS price
        |FROM p ORDER BY doc_id""".stripMargin)(extractEntities),

    OpQuery("op_fix_ocr",
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(concat('L0cation: ', source, ' O5 checked one hundred and twenty times O9'),
        |        'l0cation', 'location', 'gi'),
        |      'O(\d)', '0\1', 'g'),
        |    'one hundred and twenty', '120', 'gi') AS fixed
        |FROM documents ORDER BY doc_id""".stripMargin)(fixOcr),

    OpQuery("op_coerce_type",
      """SELECT doc_id,
        |  'boolean' AS k_yes, true AS b_yes,
        |  'boolean' AS k_no, false AS b_no,
        |  'null' AS k_na,
        |  'long' AS k_q42, CAST(42 AS DOUBLE) AS n_q42,
        |  'long' AS k_nchars, CAST(n_chars AS DOUBLE) AS n_nchars,
        |  'double' AS k_pi, CAST(3.14 AS DOUBLE) AS n_pi,
        |  'string' AS k_euro,
        |  'long' AS k_seven, CAST(7 AS DOUBLE) AS n_seven,
        |  'string' AS k_lang
        |FROM documents ORDER BY doc_id""".stripMargin)(coerceType),

    OpQuery("op_clean_key",
      """SELECT doc_id,
        |  lower(regexp_replace(trim(regexp_replace(' First Name ', '[^\w\s-]', '', 'g')), '\s+', '_', 'g')) AS k1,
        |  lower(regexp_replace(trim(regexp_replace('Total (USD)', '[^\w\s-]', '', 'g')), '\s+', '_', 'g')) AS k2,
        |  lower(regexp_replace(trim(regexp_replace(concat(lang, ' Code'), '[^\w\s-]', '', 'g')), '\s+', '_', 'g')) AS k3,
        |  lower(regexp_replace(trim(regexp_replace('a  b--c!', '[^\w\s-]', '', 'g')), '\s+', '_', 'g')) AS k4,
        |  lower(regexp_replace(trim(regexp_replace(concat(' ', source, ' ID '), '[^\w\s-]', '', 'g')), '\s+', '_', 'g')) AS k5
        |FROM documents ORDER BY doc_id""".stripMargin)(cleanKey))
}
