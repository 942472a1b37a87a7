package graft.sources.v2

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Writer/committer-level contracts of the V2 sink that are hard to
  * reach end-to-end: Spark's BatchWrite.abort passes a NULL slot for
  * every task that never committed, and a task may write the same file
  * name twice. Both must leave the output directory clean. Also the
  * shipped conf's encoding and the attempt directory's mode.
  */
class TextDirWriterSpec extends AnyFunSuite {
  // a live session is required for the writer's Hadoop conf snapshot
  private lazy val spark = graft.SparkTestSession.spark

  private def withDir(test: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("textdirw")
    try test(dir)
    finally {
      val walk = Files.walk(dir)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  private def row(name: String, text: String) =
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(name), UTF8String.fromString(text)))

  test("abort tolerates null commit-message slots and still sweeps tmp dirs") {
    spark.sparkContext // force session init for SparkSession.active
    withDir { dir =>
      val write = new TextDirWrite(dir.toString, 0, 1,
        truncateFirst = false, queryId = "q-abort")
      // one task committed, one never did (null slot), plus a stray
      // tmp dir from a third task that died before messaging
      val w = new TextDirDataWriter(dir.toString, 0, 1, "q-abort", 0, 7L,
        new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
      w.write(row("a.txt", "alpha"))
      val msg = w.commit()
      val stray = dir.resolve("_tmp_q-abort_9-9")
      Files.createDirectories(stray)
      Files.writeString(stray.resolve("ghost.txt"), "boo")
      write.abort(Array[WriterCommitMessage](null, msg, null))
      val leftover = Files.list(dir)
      try assert(leftover.count() == 0L,
        "abort must remove both the messaged and the stray _tmp dirs")
      finally leftover.close()
    }
  }

  test("duplicate names within one task commit once, last content wins") {
    spark.sparkContext
    withDir { dir =>
      val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
      val write = new TextDirWrite(dir.toString, 0, 1,
        truncateFirst = false, queryId = "q-dup")
      val w = new TextDirDataWriter(dir.toString, 0, 1, "q-dup", 0, 1L, conf)
      w.write(row("dup.txt", "first"))
      w.write(row("other.txt", "stays"))
      w.write(row("dup.txt", "second"))
      val msg = w.commit()
      assert(msg.asInstanceOf[TextFilesCommit].files.toSeq ==
        Seq("dup.txt", "other.txt"),
        "a name written twice must be committed exactly once")
      write.commit(Array[WriterCommitMessage](msg)) // must not throw on rename
      assert(Files.readString(dir.resolve("dup.txt")) == "second")
      assert(Files.readString(dir.resolve("other.txt")) == "stays")
    }
  }

  test("a Java-serialized conf keeps every key and value, session-set keys included") {
    val key = "graft.test.shipped"
    spark.conf.set(key, "yes")
    try {
      val conf = spark.sessionState.newHadoopConf()
      assert(conf.get(key) == "yes")
      val bytes = new ByteArrayOutputStream
      val out = new ObjectOutputStream(bytes)
      out.writeObject(new SerializableHadoopConf(conf))
      out.close()
      val back = new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
        .readObject().asInstanceOf[SerializableHadoopConf].value
      def pairs(c: Configuration) = c.asScala.map(e => e.getKey -> e.getValue).toMap
      assert(pairs(conf).size > 100, "expected the full session conf")
      assert(pairs(back) == pairs(conf))
      assert(back.get(key) == "yes")
    } finally spark.conf.unset(key)
  }

  test("before commit, the attempt directory has Hadoop's directory mode under the umask") {
    spark.sparkContext
    withDir { dir =>
      def modes(umask: Option[String]): Seq[String] = {
        val conf = spark.sessionState.newHadoopConf()
        umask.foreach(conf.set("fs.permissions.umask-mode", _))
        val out = dir.resolve(s"out-${umask.getOrElse("default")}")
        val w = new TextDirDataWriter(out.toString, 0, 1, "q-mode", 0, 1L,
          new SerializableHadoopConf(conf))
        w.write(row("a.txt", "alpha"))
        // the attempt dir and the output root the task had to create
        Seq(out.resolve("_tmp_q-mode_0-1"), out).map(d =>
          PosixFilePermissions.toString(Files.getPosixFilePermissions(d)))
      }
      assert(modes(None) == Seq("rwxr-xr-x", "rwxr-xr-x"))
      assert(modes(Some("077")) == Seq("rwx------", "rwx------"))
    }
  }
}
