package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded corpus generator for `convert_corpus`.
  *
  * Everything is derived from one `SplittableRandom(seed)`, and files
  * are written with explicit UTF-8 bytes in a fixed order, so the same
  * seed writes a byte-identical corpus and a different seed a different
  * one (CorpusSpec pins both). The generator also writes a
  * `manifest.json` that records the corpus bytes, document count,
  * format mix and shard sizes.
  */
object Corpus {

  /** Fixed vocabulary (not seed-dependent): pseudo-words built from
    * syllables. Seeds vary which words a document draws. */
  val Vocab: IndexedSeq[String] = {
    val syl = Vector("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
      "qua", "ha", "do", "fe", "gi", "bu", "ro", "te", "li", "an")
    val r = new SplittableRandom(7L)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 3000) {
      val n = 2 + r.nextInt(3)
      seen += (0 until n).map(_ => syl(r.nextInt(syl.size))).mkString
    }
    seen.toVector
  }
  private val Stops = Vector("the", "a")
  private val Unicode = Vector("café", "naïve", "Zürich", "東京", "señor", "résumé")

  /** Skewed (Zipf-like) word draw: low indexes are common. */
  private def word(r: SplittableRandom): String = {
    val u = r.nextDouble()
    if (u < 0.12) Stops(r.nextInt(Stops.size))
    else if (u < 0.125) Unicode(r.nextInt(Unicode.size))
    else Vocab(math.min(Vocab.size - 1, (Vocab.size * math.pow(r.nextDouble(), 2.5)).toInt))
  }
  private def words(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => word(r)).mkString(" ")
  private def num(r: SplittableRandom): String = (r.nextInt(100000) / 100.0).toString

  /** Bounded Pareto draw in [lo, hi]: most values near `lo`, a heavy
    * tail up to `hi` — the skewed document sizes real scrapes have. */
  private def pareto(r: SplittableRandom, lo: Int, hi: Int, alpha: Double = 1.3): Int =
    math.min(hi, (lo / math.pow(1.0 - r.nextDouble(), 1.0 / alpha)).toInt)

  // ---- the eleven fragment formats ---------------------------------------

  val Formats: Vector[String] = Vector("json", "malformed_json", "json_ld", "yaml",
    "html_table", "html_block", "csv", "kv", "js_object", "sql", "raw_text")

  private def fragment(r: SplittableRandom, fmt: String, rows: Int): String = fmt match {
    case "json" =>
      val items = (0 until rows).map(i =>
        s"""{"id": $i, "name": "${words(r, 2)}", "score": ${num(r)}, "active": ${r.nextBoolean()}}""")
      s"""{"title": "${words(r, 3)}", "count": $rows, "items": [${items.mkString(", ")}]}"""
    case "malformed_json" =>
      val fields = (0 until rows).map(i => s"${Vocab(r.nextInt(200))}_$i: '${words(r, 2)}'")
      s"{${fields.mkString(", ")}, 'total': ${num(r)},}"
    case "json_ld" =>
      s"""<script type="application/ld+json">{"@context": "https://schema.org", "@type": "Article", """ +
        s""""headline": "${words(r, 4)}", "wordCount": ${r.nextInt(5000)}, "keywords": [""" +
        (0 until rows).map(_ => "\"" + word(r) + "\"").mkString(", ") + "]}</script>"
    case "yaml" =>
      s"title: ${words(r, 3)}\nversion: ${r.nextInt(10)}.${r.nextInt(10)}\nitems:\n" +
        (0 until rows).map(i => s"  - name: ${words(r, 2)}\n    qty: ${r.nextInt(100)}").mkString("\n")
    case "html_table" =>
      "<table>\n<tr><th>name</th><th>qty</th><th>price</th></tr>\n" +
        (0 until rows).map(_ =>
          s"<tr><td>${words(r, 2)}</td><td>${r.nextInt(500)}</td><td>${num(r)}</td></tr>").mkString("\n") +
        "\n</table>"
    case "html_block" =>
      s"""<div class="post"><h2>${words(r, 4)}</h2>""" +
        (0 until rows).map(_ => s"<p>${words(r, 12)}</p>").mkString + "</div>"
    case "csv" =>
      "name,qty,price,note\n" + (0 until rows).map(_ =>
        s"${word(r)},${r.nextInt(1000)},${num(r)},${words(r, 3)}").mkString("\n")
    case "kv" =>
      (0 until rows).map(i => s"${Vocab(r.nextInt(300))}_$i = ${words(r, 2)}").mkString("\n")
    case "js_object" =>
      s"const ${Vocab(r.nextInt(300))} = { " + (0 until rows).map(i =>
        s"${Vocab(r.nextInt(300))}$i: '${words(r, 2)}'").mkString(", ") +
        s", enabled: ${r.nextBoolean()}, retries: ${r.nextInt(9)} };"
    case "sql" =>
      s"CREATE TABLE ${Vocab(r.nextInt(300))} (id INT, name TEXT, qty INT);\n" +
        (0 until rows).map(i =>
          s"INSERT INTO items (id, name, qty) VALUES ($i, '${words(r, 2)}', ${r.nextInt(100)});")
          .mkString("\n")
    case _ => // raw_text
      (0 until rows).map(_ => words(r, 8 + r.nextInt(10)).capitalize + ".").mkString(" ")
  }

  /** One messy document: 1–4 fragments of mixed formats; about one in
    * six documents is `---`-sectioned instead. Returns the text and the
    * formats it holds (for the manifest's format mix). */
  private def document(r: SplittableRandom): (String, Seq[String]) = {
    val sectioned = r.nextInt(6) == 0
    val n = if (sectioned) 2 + r.nextInt(3) else 1 + r.nextInt(4)
    val fmts = (0 until n).map(_ => Formats(r.nextInt(Formats.size)))
    val frags = fmts.map(f => fragment(r, f, pareto(r, 8, 400)))
    if (sectioned) (frags.map("---\n" + _).mkString("\n") + "\n", fmts :+ "sectioned")
    else (frags.mkString("\n\n") + "\n", fmts)
  }

  private def write(p: Path, s: String): Long = {
    val b = s.getBytes(UTF_8)
    Files.createDirectories(p.getParent)
    Files.write(p, b)
    b.length.toLong
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => other.toString
  }

  final case class ConvertCorpus(dir: Path, shards: Seq[Path], docs: Int, bytes: Long)

  /** `shards` directories of whole-document text files, each filled to
    * about `shardBytes` so every request carries the same volume. */
  def convert(seed: Long, dir: Path, shards: Int, shardBytes: Long): ConvertCorpus = {
    val r = new SplittableRandom(seed)
    val mix = mutable.TreeMap.empty[String, Int]
    var docs = 0
    var bytes = 0L
    val shardInfo = mutable.ArrayBuffer.empty[Map[String, Any]]
    val paths = (0 until shards).map { s =>
      val sd = dir.resolve(f"shard_$s%02d")
      var sb = 0L
      var i = 0
      while (sb < shardBytes) {
        val (text, fmts) = document(r)
        sb += write(sd.resolve(f"doc_$i%05d.txt"), text)
        fmts.foreach(f => mix(f) = mix.getOrElse(f, 0) + 1)
        i += 1
      }
      docs += i
      bytes += sb
      shardInfo += Map("shard" -> sd.getFileName.toString, "docs" -> i, "bytes" -> sb)
      sd
    }
    write(dir.resolve("manifest.json"), json(Map("seed" -> seed, "docs" -> docs,
      "bytes" -> bytes, "format_mix" -> mix, "shards" -> shardInfo)) + "\n")
    ConvertCorpus(dir, paths, docs, bytes)
  }
}
