package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The custom DataSource V2 provider: size-budgeted bin-packing of
  * small files into composite partitions, recursive listing + glob,
  * column pruning, code-point length semantics, and round-trip
  * fidelity for messy multi-line content. */
class TextDirSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def withDir(test: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("textdir")
    try test(dir)
    finally {
      // depth-first delete; stream closed via try/finally (directory
      // handles leak otherwise — same class of bug as the planner fix)
      val walk = Files.walk(dir)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  private def load(dir: Path, opts: (String, String)*) = {
    val r = spark.read.format("graft.sources.v2.TextDirSource")
      .option("path", dir.toString)
    opts.foldLeft(r)((acc, kv) => acc.option(kv._1, kv._2)).load()
  }

  /** Deterministic packing for assertions: the planner's next-fit
    * over in-memory slices at a raw-bytes budget, no open cost. */
  private def packed(files: Seq[(String, Int)], budget: Long) =
    sources.v2.TextDirSource.nextFit(
      files.map { case (name, len) => sources.v2.TextFileSlice(name, len.toLong) },
      budget, openCost = 0).map(_.files.map(_.path).toSeq)

  test("one row per file; content round-trips incl. newlines and quotes") {
    withDir { dir =>
      Files.writeString(dir.resolve("a.txt"), "line one\nline two: \"quoted\"\n---\nk: v")
      Files.writeString(dir.resolve("b.txt"), "{\"j\": 1}")
      val rows = load(dir).orderBy("path").collect()
      assert(rows.length == 2)
      assert(rows(0).getString(1) == "line one\nline two: \"quoted\"\n---\nk: v")
      assert(rows(1).getString(1) == "{\"j\": 1}")
    }
  }

  test("length is code points (multi-byte text), not bytes or UTF-16 units") {
    withDir { dir =>
      Files.writeString(dir.resolve("zh.txt"), "中文三字")  // 4 code points, 12 UTF-8 bytes
      val r = load(dir).select("length").head()
      assert(r.getLong(0) == 4L)
    }
  }

  test("default budget keeps tiny-file fixtures at per-file granularity, path-sorted") {
    withDir { dir =>
      // the 4 KiB open cost dominates 5-byte files: at the shared
      // session's local[4], 5 x (5 B + 4 KiB) over 4 slots is a
      // 5,126 B budget, which holds one file per bin — tiny fixtures
      // keep full parallelism; packing kicks in for real corpora below.
      (1 to 5).foreach(i => Files.writeString(dir.resolve(s"f$i.txt"), s"doc $i"))
      val df = load(dir)
      assert(df.rdd.getNumPartitions == 5, "expected one partition per file")
      assert(df.select("path").as(org.apache.spark.sql.Encoders.STRING)
        .collect().toSeq == df.select("path").collect().map(_.getString(0)).toSeq.sorted)
    }
  }

  test("bin-packing: N small files collapse into <= ceil(bytes/budget) partitions") {
    val bins = packed((1 to 20).map(i => f"s$i%02d.txt" -> 10), budget = 50) // 200 B / 50 B
    assert(bins.length == 4,
      s"20x10B files under a 50B budget must pack to 4 partitions, got ${bins.length}")
    assert(bins.flatten == (1 to 20).map(i => f"s$i%02d.txt"))
  }

  test("bin-packing: a file bigger than the budget stays alone (documents never split)") {
    val parts = packed((1 to 10).map(i => f"a$i%02d.txt" -> 10) :+ ("m_big.txt" -> 120),
      budget = 50)  // m_big.txt > 50 B budget
    val withBig = parts.filter(_.contains("m_big.txt"))
    assert(withBig == Seq(Seq("m_big.txt")),
      s"oversized file must get its own partition: $withBig")
    assert(parts.map(_.length).sum == 11)
  }

  test("bin-packing at volume: 2000 tiny files plan ~parallelism partitions, not 2000") {
    withDir { dir =>
      (1 to 2000).foreach(i => Files.writeString(dir.resolve(f"d$i%04d.txt"), s"doc $i"))
      val df = load(dir)
      val parts = df.rdd.getNumPartitions
      // default budget = max(openCost, totalWeighted/defaultParallelism):
      // 2000 x (5B + 4KiB) packs to ~defaultParallelism partitions — the
      // whole point (per-file planning would be 2000 driver-side
      // partitions and 2000 scheduler rounds)
      val p = spark.sparkContext.defaultParallelism
      assert(parts >= p && parts <= 2 * p + 2,
        s"expected ~$p packed partitions for 2000 tiny files, got $parts")
      assert(df.count() == 2000)
    }
  }

  test("recursive listing by default; recursive=false restricts to top level") {
    withDir { dir =>
      Files.writeString(dir.resolve("top.txt"), "t")
      val sub = Files.createDirectories(dir.resolve("nested/deeper"))
      Files.writeString(sub.resolve("leaf.txt"), "l")
      assert(load(dir).count() == 2)
      val top = load(dir, "recursive" -> "false").select("path").collect().map(_.getString(0))
      assert(top.length == 1 && top.head.endsWith("top.txt"))
    }
  }

  test("listing: .crc side files hidden, empty dirs ignored, recursive=false, single-file root") {
    withDir { dir =>
      Files.writeString(dir.resolve("a.txt"), "a")
      Files.write(dir.resolve(".a.txt.crc"), Array[Byte](1, 2, 3, 4))
      Files.createDirectories(dir.resolve("nested"))
      Files.writeString(dir.resolve("nested/b.txt"), "b")
      Files.createDirectories(dir.resolve("empty"))
      // names starting with . or _ are never read, files or directories
      Files.writeString(dir.resolve(".hidden.txt"), "h")
      Files.writeString(dir.resolve("_SUCCESS"), "")
      Files.createDirectories(dir.resolve("_tmp_q_0-1"))
      Files.writeString(dir.resolve("_tmp_q_0-1/inner.txt"), "crashed attempt")
      Files.writeString(dir.resolve("nested/_c.txt"), "c")
      def names(df: org.apache.spark.sql.DataFrame) =
        df.select("path").collect().map(_.getString(0).stripPrefix(s"file:$dir/")).sorted.toSeq
      assert(names(load(dir)) == Seq("a.txt", "nested/b.txt"))
      assert(names(load(dir, "recursive" -> "false")) == Seq("a.txt"))
      val single = load(dir.resolve("nested/b.txt")).collect()
      assert(single.length == 1 && single.head.getString(0) == s"file:$dir/nested/b.txt" &&
        single.head.getString(1) == "b")
      // a removed option raises, naming its replacement — never dropped silently
      val removed = intercept[IllegalArgumentException](load(dir, "pathGlobFilter" -> "*.txt"))
      assert(removed.getMessage.contains("pathGlobFilter") &&
        removed.getMessage.contains("glob in `path`"), removed.getMessage)
    }
  }

  test("panel publish: losing the rename race discards the temp dir, keeps the winner") {
    withDir { dir =>
      val winner = dir.resolve("panel")
      Files.createDirectories(winner)
      Files.writeString(winner.resolve("00001.txt"), "installed first")
      val tmp = Files.createTempDirectory(dir, "panel_build")
      Files.writeString(tmp.resolve("00001.txt"), "loser's copy")
      // out exists and is non-empty: on Linux ATOMIC_MOVE throws
      // DirectoryNotEmptyException — the exact crash this guards
      graft.operators.TextEtl.publishPanel(tmp, winner)
      assert(!Files.exists(tmp), "loser must clean up its temp dir")
      assert(Files.readString(winner.resolve("00001.txt")) == "installed first",
        "winner's panel must be untouched")
    }
  }

  test("panel publish: a real failure (target absent) still surfaces") {
    withDir { dir =>
      val tmp = Files.createTempDirectory(dir, "panel_build")
      Files.writeString(tmp.resolve("00001.txt"), "content")
      // moving INTO a missing parent fails with NoSuchFileException —
      // out does not exist, so publishPanel must rethrow, not swallow
      val out = dir.resolve("missing_parent/panel")
      intercept[java.nio.file.FileSystemException] {
        graft.operators.TextEtl.publishPanel(tmp, out)
      }
      assert(!Files.exists(tmp), "temp dir cleaned up even on rethrow")
    }
  }

  private def writeDocs(dir: Path, mode: String, docs: (String, String)*): Unit = {
    val sp = spark
    import sp.implicits._
    docs.toSeq.toDF("path", "text")
      .write.format("graft.sources.v2.TextDirSource")
      .option("path", dir.toString).mode(mode).save()
  }

  test("V2 sink: one file per row, byte-exact round-trip incl. multiline + unicode") {
    withDir { dir =>
      val out = dir.resolve("sink")
      writeDocs(out, "append",
        "a.txt" -> "line one\nline \"two\"\n---\nk: v",
        "zh.txt" -> "中文三字")
      assert(Files.readString(out.resolve("a.txt")) == "line one\nline \"two\"\n---\nk: v")
      assert(Files.readString(out.resolve("zh.txt")) == "中文三字")
      // and back through the V2 READ path: content + code-point length
      val rows = load(out).orderBy("path").collect()
      assert(rows.length == 2)
      assert(rows(0).getString(1) == "line one\nline \"two\"\n---\nk: v")
      assert(rows(1).getLong(2) == 4L, "length must be code points after the round-trip")
      // no task-temp litter after commit
      val walk = Files.list(out)
      try assert(!walk.iterator().asScala.exists(_.getFileName.toString.startsWith("_tmp_")))
      finally walk.close()
    }
  }

  test("V2 sink: overwrite truncates previous contents; append adds") {
    withDir { dir =>
      val out = dir.resolve("sink")
      writeDocs(out, "append", "old1.txt" -> "old", "old2.txt" -> "old")
      writeDocs(out, "overwrite", "new.txt" -> "new")
      assert(load(out).select("path").collect().map(_.getString(0).split('/').last).sorted
        === Array("new.txt"))
      writeDocs(out, "append", "more.txt" -> "more")
      assert(load(out).count() == 2)
    }
  }

  test("V2 sink: output dir holds BARE files only — no .crc side files") {
    withDir { dir =>
      val out = dir.resolve("sink")
      writeDocs(out, "append", "a.txt" -> "alpha", "b.txt" -> "beta")
      val walk = Files.list(out)
      try {
        val names = walk.iterator().asScala.map(_.getFileName.toString).toSeq
        assert(names.sorted == Seq("a.txt", "b.txt"),
          s"sink must write bare text files only (the reference's native " +
            s"output shape), got: $names")
      } finally walk.close()
    }
  }

  test("V2 sink: overwrite sweeps STALE .crc leftovers from legacy output dirs") {
    withDir { dir =>
      val out = dir.resolve("sink")
      Files.createDirectories(out)
      // a legacy dir: data file + a checksum side file describing it
      // (as the pre-r11 sink or any checksummed Hadoop writer leaves);
      // the crc does NOT match the new content about to be written
      Files.writeString(out.resolve("a.txt"), "legacy content")
      Files.write(out.resolve(".a.txt.crc"), Array[Byte](1, 2, 3, 4))
      writeDocs(out, "overwrite", "a.txt" -> "fresh")
      val walk = Files.list(out)
      try {
        val names = walk.iterator().asScala.map(_.getFileName.toString).toSeq
        assert(names == Seq("a.txt"), s"stale .crc must be swept, got: $names")
      } finally walk.close()
      // a checksummed read of the fresh file must not see the stale crc
      assert(load(out).select("text").head().getString(0) == "fresh")
    }
  }

  test("V2 sink: files get Hadoop's mode, 0666 under the session conf's umask") {
    def modes(out: Path): Seq[String] = {
      val walk = Files.list(out)
      try walk.iterator().asScala.toSeq.map(f =>
        PosixFilePermissions.toString(Files.getPosixFilePermissions(f)))
      finally walk.close()
    }
    withDir { dir =>
      writeDocs(dir.resolve("sink"), "append", "a.txt" -> "alpha", "b.txt" -> "beta")
      assert(modes(dir.resolve("sink")) == Seq("rw-r--r--", "rw-r--r--"))
      val hconf = spark.sparkContext.hadoopConfiguration
      val key = "fs.permissions.umask-mode"
      val before = Option(hconf.get(key))
      hconf.set(key, "077")
      try writeDocs(dir.resolve("private"), "append", "c.txt" -> "gamma")
      finally before.fold(hconf.unset(key))(hconf.set(key, _))
      assert(modes(dir.resolve("private")) == Seq("rw-------"))
    }
  }

  test("V2 sink: a hostile file name cannot escape the target directory") {
    withDir { dir =>
      val out = dir.resolve("sink")
      val e = intercept[Exception] {
        writeDocs(out, "append", "../escape.txt" -> "x")
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("bare name")), s"unexpected error: $e")
      assert(!Files.exists(dir.resolve("escape.txt")), "row escaped the sink dir")
    }
  }

  test("column pruning reaches the scan (text dropped from ReadSchema)") {
    withDir { dir =>
      Files.writeString(dir.resolve("a.txt"), "abc")
      val pruned = load(dir).select("path")
      val p = pruned.queryExecution.executedPlan.toString
      assert(p.contains("TextDirScan") && p.contains("cols=path"),
        s"pruned projection did not reach the V2 scan:\n$p")
      assert(pruned.head().getString(0).endsWith("a.txt"))
    }
  }

  test("scan node reports the planned file count as its numFiles metric") {
    withDir { dir =>
      (1 to 3).foreach(i => Files.writeString(dir.resolve(s"f$i.txt"), s"doc $i"))
      Files.writeString(dir.resolve("_SUCCESS"), "")
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case s: BatchScanExec => Seq(s)
        case o => o.children.flatMap(scans)
      }
      val df = load(dir)
      assert(df.collect().length == 3)
      assert(scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value) == Seq(3L))
    }
  }

  /** The readDocuments contract fixture: two visible top-level
    * documents (one with a space in its name) beside hidden files, a
    * crashed sink's attempt directory and a nested directory. */
  private def documentsDir(dir: Path): Path = {
    val in = Files.createDirectories(dir.resolve("in"))
    Files.writeString(in.resolve("a.txt"), "alpha")
    Files.writeString(in.resolve("b c.txt"), "beta gamma")
    Files.writeString(in.resolve(".hidden.txt"), "hidden")
    Files.writeString(in.resolve("_SUCCESS"), "")
    Files.createDirectories(in.resolve("_tmp_q_0-1"))
    Files.writeString(in.resolve("_tmp_q_0-1/inner.txt"), "crashed attempt")
    Files.createDirectories(in.resolve("nested"))
    Files.writeString(in.resolve("nested/d.txt"), "nested")
    in
  }

  private def documents(path: String): Seq[(String, String)] =
    graft.api.Graft.readDocuments(spark, path).collect()
      .map(r => r.getString(0) -> r.getString(1)).sortBy(_._1).toSeq

  test("readDocuments: top-level visible files only, a glob expands, a missing path raises") {
    withDir { dir =>
      val in = documentsDir(dir)
      val want = Seq(s"file:$in/a.txt" -> "alpha", s"file:$in/b c.txt" -> "beta gamma")
      assert(documents(in.toString) == want)
      assert(documents(s"$in/*.txt") == want)
      intercept[org.apache.spark.sql.AnalysisException] {
        graft.api.Graft.readDocuments(spark, dir.resolve("missing").toString)
      }
      intercept[org.apache.spark.sql.AnalysisException] {
        graft.api.Graft.readDocuments(spark, s"$in/*.md")
      }
    }
  }

  test("readDocuments -> writeDocuments keeps file names with spaces") {
    withDir { dir =>
      val in = documentsDir(dir)
      val out = dir.resolve("out")
      val docs = graft.api.Graft.readDocuments(spark, in.toString)
      graft.api.Graft.writeDocuments(docs.select(
        org.apache.spark.sql.functions.regexp_extract(docs("path"), "([^/]+)$", 1).as("path"),
        docs("text")), out.toString)
      val walk = Files.list(out)
      try assert(walk.iterator().asScala.map(_.getFileName.toString).toSeq.sorted ==
        Seq("a.txt", "b c.txt"))
      finally walk.close()
      assert(Files.readString(out.resolve("b c.txt")) == "beta gamma")
    }
  }

  test("empty or missing directory yields an empty table, not an error") {
    withDir { dir => assert(load(dir).isEmpty) }
    assert(spark.read.format("graft.sources.v2.TextDirSource")
      .option("path", "/tmp/graft_no_such_dir").load().isEmpty)
  }
}
