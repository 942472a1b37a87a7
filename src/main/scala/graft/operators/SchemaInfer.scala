package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.OpQuery
import graft.sources.Tables

/** Schema inference over normalized records — the reference's v1
  * design intent (`/root/reference/etl_parser.py:354-392`: `Flattener`
  * producing `SchemaField{name, path, type, ...}` leaf rows, plus
  * `_infer_type`'s vocabulary boolean/integer/number/date/string),
  * re-expressed Spark-first: `spark.read.json` performs the actual
  * schema inference over the record corpus, the resulting `StructType`
  * is recursively flattened to leaf paths (arrays become `[0]` path
  * segments like the reference's `tags[0]`), and Spark types map onto
  * the reference's type vocabulary. The reference's ISO-date
  * refinement (`etl_parser.py:386-388`) is applied where every sampled
  * value matches `\d{4}-\d{2}-\d{2}`.
  *
  * Scale: inference samples the corpus in one distributed pass
  * (`spark.read.json` schema pass); the flatten is driver-side
  * metadata recursion over the inferred StructType — O(fields), no
  * data movement.
  */
object SchemaInfer {

  /** Reference type vocabulary for a Spark type
    * (`etl_parser.py:379-392`). */
  private def refType(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case LongType | IntegerType | ShortType | ByteType => "integer"
    case DoubleType | FloatType | _: DecimalType => "number"
    case StringType => "string"
    case NullType => "null"
    case _ => "string"
  }

  /** Leaf paths of a schema, reference style: nested fields dotted,
    * arrays indexed as `[0]` (`etl_parser.py:359-363`). */
  def leafPaths(schema: StructType, prefix: String = ""): Seq[(String, String)] =
    schema.fields.toSeq.flatMap { f =>
      val path = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
      f.dataType match {
        case st: StructType => leafPaths(st, path)
        case ArrayType(st: StructType, _) => leafPaths(st, s"$path[0]")
        case ArrayType(et, _) => Seq((s"$path[0]", refType(et)))
        case dt => Seq((path, refType(dt)))
      }
    }

  /** One JSON record per document, with nesting, arrays, mixed types
    * and an ISO date — the corpus whose schema is inferred. */
  private def recordJson: Column =
    concat(lit("{\"id\": "), col("doc_id").cast("string"),
      lit(", \"meta\": {\"lang\": \""), col("lang"),
      lit("\", \"chars\": "), col("n_chars").cast("string"),
      lit(", \"ratio\": "), (col("n_chars") / lit(2.0)).cast("string"),
      lit("}, \"tags\": [\""), col("source"),
      lit("\"], \"active\": true, \"day\": \"2025-11-10\"}"))

  def schemaInfer(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val jsons = Tables.documents(sp, dir).select(recordJson.as("j")).as[String]
    val inferred = sp.read.json(jsons)
    val paths = leafPaths(inferred.schema)

    // ISO-date refinement: a string leaf whose every value matches the
    // reference's date regex is reported as `date`
    val stringPaths = paths.filter(_._2 == "string").map(_._1)
    val dateChecks: Map[String, Boolean] =
      if (stringPaths.isEmpty) Map.empty
      else {
        val aggs = stringPaths.map { p =>
          val c = p.split('.').foldLeft[Column](null) { (acc, seg) =>
            val (name, isArr) = if (seg.endsWith("[0]")) (seg.dropRight(3), true) else (seg, false)
            val base = if (acc == null) col(name) else acc.getField(name)
            if (isArr) try_element_at(base, lit(1)) else base
          }
          min(c.rlike("^\\d{4}-\\d{2}-\\d{2}$").cast("int")).as(p)
        }
        val row = inferred.agg(aggs.head, aggs.tail: _*).head()
        stringPaths.zipWithIndex.map { case (p, i) => p -> (row.getInt(i) == 1) }.toMap
      }

    val out = paths.map { case (p, t) =>
      (p, if (t == "string" && dateChecks.getOrElse(p, false)) "date" else t)
    }
    sp.createDataFrame(out).toDF("path", "ftype").transform(OpQuery.gradedSort("path"))
  }

  val queries: Seq[OpQuery] = Seq(
    OpQuery("op_schema_infer",
      """SELECT * FROM (VALUES
        |  ('active', 'boolean'),
        |  ('day', 'date'),
        |  ('id', 'integer'),
        |  ('meta.chars', 'integer'),
        |  ('meta.lang', 'string'),
        |  ('meta.ratio', 'number'),
        |  ('tags[0]', 'string')) t(path, ftype)
        |ORDER BY path""".stripMargin)(schemaInfer))
}
