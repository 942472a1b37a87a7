package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Graft

/** One unit a user would submit. `before` runs outside the timed region
  * (the operator session's cache clear); `run` is timed. */
final case class Request(name: String, run: Tracer => Unit, before: () => Unit = () => ())

/** A workload: its request list (one pass), how much input a pass
  * reads, and an untimed output check. Built once per session. */
trait Workload {
  def requests: Seq[Request]
  /** Input text MB one pass reads (the throughput numerator). */
  def passInputMb: Double
  /** Measured passes a run makes at least, which fixes the tail
    * percentile's sample floor. */
  def minPasses: Int
  /** Runs every request once more and verifies its output; returns one
    * entry per request: None when correct, else what was wrong. */
  def check(): Seq[(String, Option[String])]
  /** Document texts for the single-thread `functions` throughput. */
  def sampleTexts: Seq[String]
  /** Bytes a request left in its sink (0 where nothing is written). */
  def sinkBytes(request: Int): Long = 0L
}

object Workloads {
  val Names: Seq[String] = Seq("convert_corpus", "operator_session")

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  private def dirFiles(d: Path): Seq[Path] =
    if (!Files.isDirectory(d)) Seq.empty
    else Files.list(d).iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }.toSeq.sortBy(_.getFileName.toString)

  /** The document a convert request writes: the converter's JSON,
    * parse_file's fragment spans and its normalized records (the
    * kernel's record wrapper stripped to the record itself), as one
    * JSON object. The check builds the same string from the
    * single-document API. */
  def envelope(converted: String, fragments: Seq[String], records: Seq[String]): String =
    "{\"converted\":" + converted + ",\"fragments\":\"" + fragments.mkString(",") +
      "\",\"records\":[" + records.mkString(",") + "]}"

  /** The single-document path: `Graft.convertText` plus `Graft.parseFile`. */
  def expectedDocument(text: String): String = {
    val (frags, _, records) = Graft.parseFile(text)
    envelope(Graft.convertText(text),
      frags.map(f => s"${f.format_type}:${f.start_index}:${f.end_index}"), records)
  }

  /** `convert_corpus`: one request reads a shard, parses and converts
    * every document and writes one output document per input. */
  final class ConvertCorpus(spark: SparkSession, corpus: Corpus.ConvertCorpus,
      outDir: Path) extends Workload {
    private def out(shard: Path) = outDir.resolve(shard.getFileName.toString)
    private def build(docs: DataFrame): DataFrame = {
      val parsed = Graft.convert(Graft.parseDocuments(docs, col("text")), col("text"))
      val spans = transform(col("fragments"), f => concat_ws(":", f.getField("format_type"),
        f.getField("start_index").cast("string"), f.getField("end_index").cast("string")))
      val records = transform(col("records"), r => regexp_replace(regexp_replace(r,
        "^\\{\"format\": \"[A-Z_]+\", \"start\": -?\\d+, \"end\": -?\\d+, \"data\": ", ""),
        "\\}$", ""))
      parsed.select(regexp_extract(col("path"), "([^/]+)$", 1).as("path"),
        concat(lit("{\"converted\":"), col("converted"), lit(",\"fragments\":\""),
          array_join(spans, ","), lit("\",\"records\":["), array_join(records, ","),
          lit("]}")).as("text"))
    }
    val requests: Seq[Request] = corpus.shards.map { shard =>
      Request(shard.getFileName.toString, tr => {
        val docs = tr.span("sources.read") { Graft.readDocuments(spark, shard.toString) }
        val result = tr.span("operators.build") { build(docs) }
        tr.span("operators.exec") { Graft.writeDocuments(result, out(shard).toString, overwrite = true) }
      })
    }
    val passInputMb: Double = corpus.bytes / 1e6
    val minPasses = 5
    override def sinkBytes(request: Int): Long =
      dirFiles(out(corpus.shards(request))).map(Files.size).sum
    def sampleTexts: Seq[String] = dirFiles(corpus.shards.head).map(Files.readString(_, UTF_8))

    def check(): Seq[(String, Option[String])] = requests.indices.map { i =>
      val shard = corpus.shards(i)
      val name = requests(i).name
      name -> (try {
        requests(i).run(new Tracer(spark, false))
        val inputs = dirFiles(shard)
        val got = dirFiles(out(shard)).map(p => p.getFileName.toString -> Files.readString(p, UTF_8))
        val want = inputs.map { p =>
          val text = Files.readString(p, UTF_8)
          p.getFileName.toString -> expectedDocument(text)
        }
        def digest(xs: Seq[(String, String)]) = sha256(xs.map { case (n, t) => n + "\u0000" + t }.mkString("\u0000"))
        if (got.size != inputs.size) Some(s"${got.size} output documents for ${inputs.size} inputs")
        else if (digest(got) != digest(want)) {
          val bad = got.zip(want).find { case (g, w) => g != w }.map(_._2._1).getOrElse("?")
          Some(s"output digest differs from the single-document path (first: $bad)")
        } else None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) })
    }
  }

  /** The fixed operator set of `operator_session`: every 42nd operator
    * of `Registry.all` (one per family stretch, no hand-picking), named
    * explicitly so a registry reorder does not silently change the
    * workload. The stride keeps a run of the workload (cold check, two
    * warm set-ups, six measured passes) near a minute on 4 cores, which
    * the run-time budget of the whole benchmark allows. */
  val OperatorSet: Seq[String] = Seq("op_join_bloom", "op_detect_yaml",
    "op_dedup_simhash", "op_stream_tumbling")

  private def cell(v: Any): String = v match {
    case null => "\\N"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.mkString("{", ",", "}")
    case other => other.toString
  }
  /** Digest of a result in its (total) ORDER BY order. */
  def digestRows(rows: Array[Row]): String = sha256(rows.map(cell).mkString("\n"))

  /** `operator_session`: registered operators back to back in one long
    * session over the bundled tables; the seed permutes their order.
    * The SQL cache is cleared before each operator (outside the timed
    * region), as `graft.Bench` does. */
  final class OperatorSession(spark: SparkSession, dataDir: String, order: Seq[String],
      expected: Map[String, String]) extends Workload {
    private val byName = graft.Registry.byName
    private def clear(): Unit = spark.sharedState.cacheManager.clearCache()
    val requests: Seq[Request] = order.map { name =>
      Request(name, tr => {
        val result = tr.span("operators.build") { byName(name).build(spark, dataDir) }
        tr.span("operators.exec") { result.write.format("noop").mode("overwrite").save() }
      }, () => clear())
    }
    val passInputMb: Double = dirBytes(dataDir) / 1e6
    val minPasses = 6
    def sampleTexts: Seq[String] = graft.sources.Tables.documents(spark, dataDir)
      .select(col("text").cast("string")).collect().map(_.getString(0)).toSeq

    /** Result digest per operator, recomputed from scratch. */
    def digests(): Seq[(String, String)] = order.map { n =>
      clear()
      n -> digestRows(byName(n).build(spark, dataDir).collect())
    }
    def check(): Seq[(String, Option[String])] = order.map { n =>
      clear()
      n -> (try {
        val d = digestRows(byName(n).build(spark, dataDir).collect())
        expected.get(n) match {
          case Some(want) if want == d => None
          case Some(want) => Some(s"digest $d, recorded $want")
          case None => Some("no recorded digest")
        }
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) })
    }
  }

  def dirBytes(d: String): Long = {
    val s = Files.walk(java.nio.file.Paths.get(d))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }
}
