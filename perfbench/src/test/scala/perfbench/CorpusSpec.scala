package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The generator's contract: the same seed writes a byte-identical
  * corpus, a different seed a different one. */
class CorpusSpec extends AnyFunSuite {
  private val root = Paths.get("target", "test-work", "corpus").toAbsolutePath

  private def snapshot(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }
  private def fresh(name: String): Path = {
    val d = root.resolve(name)
    if (Files.exists(d)) {
      val s = Files.walk(d)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
    d
  }
  private def convert(seed: Long, name: String) =
    { Corpus.convert(seed, fresh(name), shards = 3, shardBytes = 20000); snapshot(root.resolve(name)) }

  test("convert corpus: same seed byte-identical, different seed different") {
    val a = convert(11, "c1"); val b = convert(11, "c2"); val c = convert(12, "c3")
    assert(a.nonEmpty && a == b)
    assert(a != c)
    assert(a.keySet.contains("manifest.json"))
  }

  test("manifest records bytes, documents, format mix and shards") {
    val c = Corpus.convert(5, fresh("c4"), shards = 2, shardBytes = 10000)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(root.resolve("c4").resolve("manifest.json")))
    assert(m.get("docs").asInt == c.docs && m.get("bytes").asLong == c.bytes)
    assert(m.get("format_mix").size > 3 && m.get("shards").size == 2)
  }
}
