package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.OpQuery
import graft.sources.Tables
import graft.functions.TextSemantics

/** Tier-A section pipeline (SURVEY.md §2 A26–A29): split a document on
  * `---` dividers, dispatch each section's format, parse, merge by
  * title class, and flatten single-key objects — the reference's golden
  * path (`/root/reference/script.py:93-168`, `script.py:517-533`).
  *
  * Scale: `split` + `posexplode` keeps sections co-partitioned with
  * their document (no shuffle), the per-doc merge is one partial-agg
  * shuffle on `doc_id`, and the flatten is a compile-time struct
  * rewrite (zero runtime cost).
  */
object Sections {

  private def htmlRowsF(c: Column): Column = graft.plans.ParseHtmlTable.parse(c)

  private def s(c: Column*): Column = concat(c: _*)
  private def docIdS: Column = col("doc_id").cast("string")
  private def nCharsS: Column = col("n_chars").cast("string")
  private def docs(sp: SparkSession, dir: String): DataFrame = Tables.documents(sp, dir)

  // ---- A26: section split --------------------------------------------------

  private def a26Doc: Column =
    s(lit("PRODUCT INFO\nid: "), docIdS, lit("\nlang: "), col("lang"),
      lit("\n--- SPECS\nweight: 2kg\nsize: L\n--- NOTES\n"), substring(col("text"), 1, 40))

  /** `parse_sections` split semantics (`script.py:106-127`): split on
    * `\n---\s*`; per section the first line is the title, the rest the
    * content (whole section when single-line). */
  def splitSections(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir)
      .select(col("doc_id"), posexplode(split(trim(a26Doc), "\n---\\s*")).as(Seq("sec_idx", "sec")))
      .withColumn("parts", split(col("sec"), "\n", 2))
      .select(col("doc_id"), col("sec_idx"),
        trim(element_at(col("parts"), 1)).as("title"),
        length(when(size(col("parts")) === 2, trim(element_at(col("parts"), 2)))
          .otherwise(trim(col("sec")))).as("content_len"))
      .orderBy("doc_id", "sec_idx")

  // ---- A27: format dispatch ------------------------------------------------

  private def a27Doc: Column = {
    val m = col("doc_id") % 7
    when(m === 0, lit("<script type=\"application/ld+json\">{}</script>"))
      .when(m === 1, lit("{\"a\": 1}"))
      .when(m === 2, lit("<table><tr><td>1</td></tr></table>"))
      .when(m === 3, lit("a,b\n1,2\n3,4"))
      .when(m === 4, lit("k: 1\nmode = on\nprose line"))
      .when(m === 5, lit("var x = {a: 1}"))
      .otherwise(lit("just some plain prose here"))
  }

  def dispatchFormat(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir)
      .select(col("doc_id"), TextSemantics.dispatchFormat(a27Doc).as("fmt"))
      .transform(OpQuery.gradedSort("doc_id"))

  // ---- A28: merge sections -------------------------------------------------

  private def a28Doc: Column =
    s(lit("METADATA\nid: "), docIdS, lit("\nlang: "), col("lang"),
      lit("\n--- DATA TABLE\n<table><tr><th>K</th><th>V</th></tr><tr><td>n</td><td>"), nCharsS,
      lit("</td></tr><tr><td>src</td><td>"), col("source"),
      lit("</td></tr></table>\n--- SQL CODE\nSELECT "), docIdS,
      lit(";\n--- Extra Notes\nnote_text: hello "), col("source"))

  /** Title-class merge (`script.py:129-168`): METADATA/KEY-VALUE/JSON/OCR
    * sections update the root, HTML/TABLE append `tables[]`, CSV appends
    * `csv_data[]`, SQL/CODE becomes `code_snippet`, everything else
    * nests under the cleaned title (flattened when single-key —
    * `script.py:517-533`). */
  def mergeSections(sp: SparkSession, dir: String): DataFrame = {
    val sec = docs(sp, dir)
      .select(col("doc_id"), posexplode(split(trim(a28Doc), "\n---\\s*")).as(Seq("sec_idx", "sec")))
      .withColumn("parts", split(col("sec"), "\n", 2))
      .withColumn("title", upper(trim(element_at(col("parts"), 1))))
      .withColumn("content", when(size(col("parts")) === 2, trim(element_at(col("parts"), 2)))
        .otherwise(trim(col("sec"))))
    def kvVal(content: Column, key: String): Column =
      trim(regexp_extract(content, key + ":\\s*([^\\n]+)", 1))
    val merged = sec.groupBy("doc_id").agg(
      // METADATA section → root keys
      max(when(col("title").contains("METADATA"), kvVal(col("content"), "id"))).as("id_s"),
      max(when(col("title").contains("METADATA"), kvVal(col("content"), "lang"))).as("lang_v"),
      // TABLE section → tables[]
      max(when(col("title").contains("TABLE"), size(htmlRowsF(col("content"))))).as("n_tables"),
      // SQL/CODE section → code_snippet (parse_text fallback: {'text': ...})
      max(when(col("title").contains("SQL") || col("title").contains("CODE"),
        col("content"))).as("code_snippet"),
      // other sections → nested under clean_key(title), single-key flattened
      max(when(!col("title").contains("METADATA") && !col("title").contains("TABLE") &&
        !col("title").contains("SQL") && !col("title").contains("CODE"),
        kvVal(col("content"), "note_text"))).as("extra_notes_note_text"))
    merged.select(col("doc_id"),
      col("id_s").cast("long").as("id"), col("lang_v"), col("n_tables"),
      col("code_snippet"), col("extra_notes_note_text"))
      .orderBy("doc_id")
  }

  // ---- A32: whole DataConverter.parse, end to end --------------------------

  private def convertF(c: Column): Column = graft.plans.ConvertDocument.convert(c)

  private def convertDoc: Column =
    s(lit("METADATA\nid: "), docIdS, lit("\nlang: "), col("lang"),
      lit("\n--- SQL CODE\nSELECT "), docIdS,
      lit(";\n--- Extra Notes\nnote_text: hello "), col("source"))

  /** The full `DataConverter.parse` pipeline (`script.py:93-168`) per
    * document: METADATA kv merges to root (with int coercion of `id`),
    * the SQL section's parse_text fallback becomes `code_snippet`, and
    * the Extra Notes section nests then single-key-flattens to
    * `extra_notes_note_text`. The oracle states the exact output JSON
    * analytically from the construction. */
  def convertPipeline(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir)
      .select(col("doc_id"), convertF(convertDoc).as("converted"))
      .orderBy("doc_id")

  // ---- A29: flatten single-key structs -------------------------------------

  /** Generic compile-time port of `flatten_single_keys`
    * (`script.py:517-533`): a struct field that is itself a single-field
    * struct is hoisted to `parent_child`; multi-field structs recurse.
    * Works on any static schema — pure projection, no runtime cost. */
  def flattenSingleKeys(c: Column, schema: StructType): Column = {
    val fields = schema.fields.flatMap { f =>
      f.dataType match {
        case st: StructType if st.fields.length == 1 =>
          val inner = st.fields.head
          Seq(c.getField(f.name).getField(inner.name).as(s"${f.name}_${inner.name}"))
        case st: StructType =>
          Seq(flattenSingleKeys(c.getField(f.name), st).as(f.name))
        case _ => Seq(c.getField(f.name).as(f.name))
      }
    }
    struct(fields.toIndexedSeq: _*)
  }

  def flattenSingleKeysQuery(sp: SparkSession, dir: String): DataFrame = {
    val nested = struct(
      struct(col("source").as("name")).as("user"),
      struct(col("lang").as("a"), col("n_chars").as("b")).as("meta"))
    val schema = StructType.fromDDL(
      "user struct<name: string>, meta struct<a: string, b: bigint>")
    docs(sp, dir)
      .select(col("doc_id"), to_json(flattenSingleKeys(nested, schema)).as("flat_json"))
      .orderBy("doc_id")
  }

  // ---- oracle SQL ----------------------------------------------------------

  val queries: Seq[OpQuery] = Seq(
    OpQuery("op_split_sections",
      """SELECT doc_id, CAST(sec_idx AS INTEGER) AS sec_idx,
        |  CASE sec_idx WHEN 0 THEN 'PRODUCT INFO' WHEN 1 THEN 'SPECS' ELSE 'NOTES' END AS title,
        |  CAST(CASE sec_idx
        |    WHEN 0 THEN length(concat('id: ', doc_id, e'\nlang: ', lang))
        |    WHEN 1 THEN length(e'weight: 2kg\nsize: L')
        |    ELSE length(trim(substring(text, 1, 40))) END AS INTEGER) AS content_len
        |FROM documents, (SELECT 0 AS sec_idx UNION ALL SELECT 1 UNION ALL SELECT 2) i
        |ORDER BY doc_id, sec_idx""".stripMargin)(splitSections),

    OpQuery("op_dispatch_format",
      """SELECT doc_id,
        |  CASE doc_id % 7
        |    WHEN 0 THEN 'json_ld' WHEN 1 THEN 'json' WHEN 2 THEN 'html_table'
        |    WHEN 3 THEN 'csv' WHEN 4 THEN 'key_value' WHEN 5 THEN 'javascript'
        |    ELSE 'text' END AS fmt
        |FROM documents ORDER BY doc_id""".stripMargin)(dispatchFormat),

    OpQuery("op_merge_sections",
      """SELECT doc_id, doc_id AS id, lang AS lang_v,
        |  CAST(2 AS INTEGER) AS n_tables,
        |  concat('SELECT ', doc_id, ';') AS code_snippet,
        |  concat('hello ', source) AS extra_notes_note_text
        |FROM documents ORDER BY doc_id""".stripMargin)(mergeSections),

    OpQuery("op_flatten_single_keys",
      """SELECT doc_id,
        |  concat('{"user_name":"', source, '","meta":{"a":"', lang, '","b":', n_chars, '}}') AS flat_json
        |FROM documents ORDER BY doc_id""".stripMargin)(flattenSingleKeysQuery),

    OpQuery("op_convert_pipeline",
      """SELECT doc_id,
        |  concat('{"id":', doc_id, ',"lang":"', lang,
        |         '","code_snippet":"SELECT ', doc_id,
        |         ';","extra_notes_note_text":"hello ', source, '"}') AS converted
        |FROM documents ORDER BY doc_id""".stripMargin)(convertPipeline))
}
