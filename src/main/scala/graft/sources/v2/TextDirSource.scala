package graft.sources.v2

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path => JPath}
import java.nio.file.attribute.{PosixFilePermission, PosixFilePermissions}
import java.util.{Map => JMap}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.Text
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 provider for the reference's NATIVE input shape — a
  * directory of whole-document text files (the reference reads one messy
  * text file per process, `script.py:562-563` / `etl_parser.py:1093`;
  * here a directory of those files is one distributed table).
  *
  * `spark.read.format("graft.sources.v2.TextDirSource")
  *   .option("path", dir).load()` →
  * `(path string, text string, length bigint)` — one row per file,
  * `length` in Unicode code points (matches both engines' `length()`).
  *
  * Spark-native behaviors implemented (not just a wrapper):
  *  - PARTITION PLANNING with SMALL-FILE BIN-PACKING: files are listed
  *    once on the driver, path-sorted, and greedily packed into
  *    composite partitions under a size budget, so a corpus of millions
  *    of KB-sized documents plans O(bytes/budget) partitions instead of
  *    one per file (the per-file form is a driver-side partition-array
  *    and scheduler bottleneck at corpus scale). The budget is Spark's
  *    own file-source sizing at its defaults: `min(128 MiB, max(4 KiB,
  *    totalBytes / defaultParallelism))`, where each file is weighted
  *    `size + 4 KiB` (the open cost) so tiny files still pay their open
  *    cost and small corpora keep cluster parallelism. A bin
  *    never exceeds the budget unless a single file does — a file
  *    larger than the budget gets a partition of its own (documents
  *    never split: whole-document semantics).
  *  - HADOOP FILESYSTEM I/O: listing and reads go through
  *    `org.apache.hadoop.fs.FileSystem`, so `path` may be a local
  *    directory, `file:///`, `hdfs:///`, or any other scheme with a
  *    FileSystem impl + credentials on the classpath; the session's
  *    Hadoop configuration is captured once per scan or write and
  *    shipped to executors inside the reader/writer factory.
  *  - LISTING RULE: `path` goes through `fs.globStatus`, so a glob
  *    (a last segment such as `*.txt`) expands and a plain path names
  *    itself; a missing path lists nothing (an empty table). Each match
  *    is listed with `listStatus`, and every listed entry whose name
  *    starts with `.` or `_` is skipped, file or directory — the rule
  *    of Spark's own file index, so `_SUCCESS` markers, dot-files and a
  *    crashed sink's `_tmp_*` attempt directories are never read.
  *    Listing is RECURSIVE by default (real corpora nest directories);
  *    `recursive=false` reads only the direct children of each match,
  *    so a `*.txt` last segment with `recursive=false` filters the
  *    top-level files by name. A `path` naming a single file reads
  *    that one document. The planned file count is reported as the
  *    scan node's `numFiles` driver metric, the metric Spark's file
  *    scan carries.
  *  - THE CONF SHIPS AS PLAIN PAIRS: Hadoop's `Configuration.write` /
  *    `readFields` gzip every property's source list separately,
  *    about 8 ms per copy for a ~1,100-key session conf, paid by the
  *    driver per job and by every task that decodes a factory. The
  *    wrapper writes an entry count and the raw key/value strings
  *    instead (well under 1 ms each way), and reads them back with
  *    `Configuration.set` — exactly what `readFields` does, minus the
  *    source lists. A broadcast would only move the encoding cost onto
  *    the driver's planning path.
  *  - NO PROCESS PER FILE on the local filesystem: without the native
  *    libhadoop, Hadoop's local `create` and `mkdirs` set the new
  *    entry's mode by forking `chmod`, and `listFiles` (through
  *    `LocatedFileStatus`) or any `getPermission` call forks a `stat` —
  *    milliseconds per document. So the planner walks the tree with
  *    `listStatus`, which never reads permissions (as Spark's own file
  *    index does); the sink writes a local document through `java.nio`
  *    and sets Hadoop's file mode (0666 under the conf's umask) with
  *    one `chmod` call, and creates each task's attempt directory the
  *    same way with Hadoop's directory mode (0777 under the umask).
  *    Other filesystems (hdfs, s3a) keep Hadoop's `create` / `mkdirs`.
  *  - COLUMN PRUNING (`SupportsPushDownRequiredColumns`): a projection
  *    that drops both `text` and `length` never opens the files at all
  *    (a path-only listing query is metadata-only); `length` requires
  *    one read, but the pruned row carries only the requested fields
  *    (asserted in TextDirSourceSpec via the scan's ReadSchema).
  *
  * Options: `path` (required) and `recursive` (default true). The
  * removed sizing options (`maxPartitionBytes`, `openCostInBytes`,
  * `minPartitionNum`) and `pathGlobFilter` raise
  * `IllegalArgumentException` naming what replaces them, so a caller's
  * setting is never dropped silently.
  */
class TextDirSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TextDirSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new TextDirTable(properties.get("path"), TextDirOptions(properties), schema)
  // true so the WRITE path can present the query's own schema (e.g.
  // (path, text)) instead of being forced to match the 3-column read
  // schema; reads without a user schema still flow through inferSchema
  override def supportsExternalMetadata(): Boolean = true
}

object TextDirSource {
  val Schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("length", LongType, nullable = false)))

  /** The listing rule (see the class doc): names starting with `.` or
    * `_` are never read. */
  private[v2] def hidden(name: String): Boolean =
    name.startsWith(".") || name.startsWith("_")

  /** Partition sizing, fixed at Spark's file-source defaults (see the
    * class doc): the budget cap and each file's open cost. */
  private[v2] val MaxPartitionBytes: Long = 128L * 1024 * 1024
  private[v2] val OpenCostInBytes: Long = 4096L

  /** Greedy next-fit over the path-sorted files: close the bin before
    * it would exceed `budget`, weighting each file `len + openCost`. A
    * single file >= budget lands in a bin of its own (whole-document
    * semantics — never split). */
  private[graft] def nextFit(sorted: Seq[TextFileSlice], budget: Long,
      openCost: Long): Seq[TextFilesPartition] = {
    val bins = ArrayBuffer.empty[TextFilesPartition]
    val bin = ArrayBuffer.empty[TextFileSlice]
    var binBytes = 0L
    def close(): Unit = if (bin.nonEmpty) {
      bins += TextFilesPartition(bin.toArray); bin.clear(); binBytes = 0L
    }
    sorted.foreach { f =>
      val w = f.len + openCost
      if (binBytes > 0 && binBytes + w > budget) close()
      bin += f; binBytes += w
    }
    close()
    bins.toSeq
  }
}

private[v2] case class TextDirOptions(recursive: Boolean)

private[v2] object TextDirOptions {
  /** Removed option names (lower-cased) and what replaces each. */
  private val Removed: Map[String, String] = {
    val sizing = "partition sizing is fixed at Spark's file-source defaults"
    Map("maxpartitionbytes" -> sizing, "opencostinbytes" -> sizing,
      "minpartitionnum" -> sizing,
      "pathglobfilter" -> "put the glob in `path` instead, e.g. dir/*.txt")
  }

  def apply(props: JMap[String, String]): TextDirOptions = {
    val stale = props.keySet.asScala.toSeq.sorted.filter(k => Removed.contains(k.toLowerCase))
    require(stale.isEmpty, stale.map(k =>
      s"TextDirSource option '$k' was removed: ${Removed(k.toLowerCase)}").mkString("; "))
    TextDirOptions(recursive =
      Option(props.get("recursive")).map(_.trim).filter(_.nonEmpty).forall(_.toBoolean))
  }
}

private[v2] class TextDirTable(dir: String, opts: TextDirOptions,
    tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  require(dir != null && dir.nonEmpty, "TextDirSource requires .option(\"path\", dir) / load(dir)")
  override def name(): String = s"textdir:$dir"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TextDirScanBuilder(dir, opts)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new TextDirWriteBuilder(dir, info)
}

private[v2] class TextDirScanBuilder(dir: String, opts: TextDirOptions)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = TextDirSource.Schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    // Catalyst hands back the subset it needs; keep source column order
    required = StructType(TextDirSource.Schema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))
  override def build(): Scan = new TextDirScan(dir, required, opts)
}

/** One whole file inside a composite partition: fully-qualified URI +
  * its listed length (the reader allocates the exact buffer). */
private[graft] case class TextFileSlice(path: String, len: Long)

/** A size-budgeted bin of whole files; never splits a document. */
private[graft] case class TextFilesPartition(files: Array[TextFileSlice]) extends InputPartition

/** Hadoop `Configuration` is `Writable`, not `Serializable`; this
  * wrapper ships it as plain key/value pairs (see the class doc of
  * [[TextDirSource]] for why not `Configuration.write`) so executors
  * open files with the session's filesystem credentials/settings. */
private[v2] class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  @throws[IOException]
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    val entries = value.asScala.toSeq
    out.writeInt(entries.size)
    entries.foreach { e => Text.writeString(out, e.getKey); Text.writeString(out, e.getValue) }
  }
  @throws[IOException]
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    (0 until in.readInt()).foreach(_ => value.set(Text.readString(in), Text.readString(in)))
  }
}

/** The scan's `numFiles` metric: files planned for the read. */
private[v2] class TextDirNumFilesMetric extends CustomSumMetric {
  override def name(): String = "numFiles"
  override def description(): String = "number of files read"
}

private[v2] class TextDirScan(dir: String, required: StructType, opts: TextDirOptions)
    extends Scan with Batch {
  // one snapshot per scan, shared by planning and the reader factory
  @transient private lazy val hadoopConf = SparkSession.active.sessionState.newHadoopConf()
  @volatile private var plannedFiles = 0L

  override def readSchema(): StructType = required
  override def description(): String = s"TextDirScan(dir=$dir, cols=${required.fieldNames.mkString(",")})"
  override def toBatch: Batch = this
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new TextDirNumFilesMetric)
  override def reportDriverMetrics(): Array[CustomTaskMetric] = {
    val n = plannedFiles
    Array(new CustomTaskMetric {
      override def name(): String = "numFiles"
      override def value(): Long = n
    })
  }

  // planned once per scan: the planner and `prepareForExecution` each
  // hold their own copy of the BatchScanExec, and each copy asks its
  // batch for partitions. The scan is built once per query, so a new
  // query over the same path still lists afresh.
  @transient private lazy val partitions = plan()
  override def planInputPartitions(): Array[InputPartition] = partitions

  private def plan(): Array[InputPartition] = {
    val spark = SparkSession.active
    val root = new HPath(dir)
    val fs = root.getFileSystem(hadoopConf)

    // Driver-side listStatus walk under the listing rule (class doc),
    // the way Spark's own file index lists (not fs.listFiles).
    // listStatus of a file is that file, so a match naming one
    // document reads it; the checksummed local FS hides its .crc side
    // files here.
    val files = ArrayBuffer.empty[TextFileSlice]
    val matches = Option(fs.globStatus(root)).getOrElse(Array.empty[FileStatus])
    val dirs = scala.collection.mutable.Stack.from(matches.map(_.getPath))
    while (dirs.nonEmpty) {
      fs.listStatus(dirs.pop()).filterNot(st => TextDirSource.hidden(st.getPath.getName)).foreach { st =>
        if (st.isFile) files += TextFileSlice(st.getPath.toString, st.getLen)
        else if (opts.recursive && st.isDirectory) dirs.push(st.getPath)
      }
    }
    plannedFiles = files.size
    if (files.isEmpty) return Array.empty
    val sorted = files.sortBy(_.path)

    // Spark file-source budget: small totals split down to cluster
    // parallelism; large totals cap at MaxPartitionBytes. The open
    // cost weights each file so a million empty files still bin-pack.
    import TextDirSource.{MaxPartitionBytes, OpenCostInBytes}
    val weighted = sorted.iterator.map(_.len + OpenCostInBytes).sum
    val budget = math.min(MaxPartitionBytes, math.max(OpenCostInBytes,
      weighted / math.max(1, spark.sparkContext.defaultParallelism)))
    TextDirSource.nextFit(sorted.toSeq, budget, OpenCostInBytes).toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TextDirReaderFactory(required.fieldNames, new SerializableHadoopConf(hadoopConf))
}

/** One row per file, looping the files of a composite partition; only
  * the pruned columns are built — a path-only projection never opens
  * the files. Serializable: column names + the Writable-wrapped conf. */
private[v2] class TextDirReaderFactory(cols: Array[String], conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val files = partition.asInstanceOf[TextFilesPartition].files
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < files.length }
      override def get(): InternalRow = {
        val f = files(i)
        lazy val text = readFully(f)
        val values: Array[Any] = cols.map {
          case "path" => UTF8String.fromString(f.path)
          case "text" => UTF8String.fromString(text)
          // code points, not UTF-16 units: matches length() in both engines
          case "length" => text.codePointCount(0, text.length).toLong
          case other => throw new IllegalStateException(s"unknown column $other")
        }
        InternalRow.fromSeq(values.toIndexedSeq)
      }
      private def readFully(f: TextFileSlice): String = {
        val p = new HPath(f.path)
        val in = p.getFileSystem(conf.value).open(p)
        try {
          require(f.len <= Int.MaxValue, s"document ${f.path} exceeds 2 GiB")
          val buf = new Array[Byte](f.len.toInt)
          in.readFully(0L, buf)
          new String(buf, StandardCharsets.UTF_8)
        } finally in.close()
      }
      override def close(): Unit = ()
    }
  }
}

/** Task commit message: the task-attempt temp dir plus the final file
  * names it wrote there (driver renames on job commit). */
private[v2] case class TextFilesCommit(tmpDir: String, files: Array[String])
    extends WriterCommitMessage

/** WRITE half of the source: one text FILE per input row — the
  * reference's native OUTPUT shape, mirroring the read path. The input
  * needs `path` (bare file name) and `text` string columns; `path` is
  * validated to a bare name (no separators, no `.`/`..`) so a hostile
  * row cannot escape the target directory.
  *
  * Commit protocol (the standard two-phase file-sink shape):
  * each task writes to its own `_tmp_<queryId>_<partition>-<task>`
  * attempt dir; task commit ships only the NAME LIST; job commit on
  * the driver renames every committed attempt's files into the root
  * (speculative/failed attempts never get renamed) and `abort` deletes
  * attempt dirs. `SupportsTruncate` backs `mode("overwrite")`: job
  * commit first deletes the root's existing FILES (attempt dirs are
  * directories and survive). All I/O goes through the Hadoop
  * `FileSystem`, so `file:`/`hdfs:`/`s3a:` targets all work — with
  * the caveat that on object stores rename is a copy (the same
  * trade-off Spark's own FileOutputCommitter v1 makes). The one
  * exception is a document's bytes on the local filesystem, written
  * through `java.nio` (see [[TextDirSource]]).
  *
  * Scale: writers stream rows to files with no buffering beyond one
  * row; commit messages carry file NAMES only (bytes stay on the
  * executors' target FS); a million-file write is a million renames on
  * the driver — the known v1-committer bound, acceptable because the
  * whole-document sink is for corpus EXPORT, not shuffle-sized data. */
private[v2] class TextDirWriteBuilder(dir: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def build(): Write = {
    val schema = info.schema()
    val pathIdx = schema.fieldNames.indexOf("path")
    val textIdx = schema.fieldNames.indexOf("text")
    require(pathIdx >= 0 && textIdx >= 0,
      s"TextDirSource sink needs 'path' and 'text' columns, got ${schema.fieldNames.mkString(", ")}")
    require(schema(pathIdx).dataType == StringType && schema(textIdx).dataType == StringType,
      "TextDirSource sink 'path' and 'text' columns must be strings")
    new TextDirWrite(dir, pathIdx, textIdx, truncateFirst, info.queryId())
  }
}

private[v2] class TextDirWrite(dir: String, pathIdx: Int, textIdx: Int,
    truncateFirst: Boolean, queryId: String) extends Write with BatchWrite {
  private val conf =
    new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf())
  override def toBatch: BatchWrite = this
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new TextDirWriterFactory(dir, pathIdx, textIdx, queryId, conf)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = new HPath(dir)
    val fs = root.getFileSystem(conf.value)
    fs.mkdirs(root)
    if (truncateFirst) {
      // truncate through the RAW filesystem: a checksummed FS hides
      // its .name.crc side files from listStatus, so a legacy output
      // dir (written before checksums were disabled, or by another
      // Hadoop writer) would keep stale .crc entries that poison later
      // checksummed reads of the fresh same-named files
      val raw = fs match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
        case other => other
      }
      raw.listStatus(root).filter(_.isFile)
        .foreach(st => raw.delete(st.getPath, false))
    }
    messages.foreach { case TextFilesCommit(tmp, files) =>
      val tmpPath = new HPath(tmp)
      files.foreach { name =>
        val dst = new HPath(root, name)
        // last-committer-wins on duplicate names (deterministic inputs
        // should not produce any; see the writer's bare-name contract)
        if (fs.exists(dst)) fs.delete(dst, false)
        require(fs.rename(new HPath(tmpPath, name), dst),
          s"TextDirSource sink: rename failed for $name into $dir")
      }
      fs.delete(tmpPath, true)
    }
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val root = new HPath(dir)
    val fs = root.getFileSystem(conf.value)
    // Spark passes a null slot for every task that never committed —
    // `collect` skips those (a `foreach { case ... }` would MatchError
    // before the queryId-prefix fallback sweep below ever ran, leaking
    // _tmp_<queryId> dirs into the output directory).
    messages.collect { case TextFilesCommit(tmp, _) =>
      fs.delete(new HPath(tmp), true)
    }
    if (fs.exists(root))
      fs.listStatus(root)
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"_tmp_${queryId}"))
        .foreach(st => fs.delete(st.getPath, true))
  }
}

private[v2] class TextDirWriterFactory(dir: String, pathIdx: Int, textIdx: Int,
    queryId: String, conf: SerializableHadoopConf) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new TextDirDataWriter(dir, pathIdx, textIdx, queryId, partitionId, taskId, conf)
}

private[v2] class TextDirDataWriter(dir: String, pathIdx: Int, textIdx: Int,
    queryId: String, partitionId: Int, taskId: Long, conf: SerializableHadoopConf)
    extends DataWriter[InternalRow] {
  private val tmp = new HPath(dir, s"_tmp_${queryId}_$partitionId-$taskId")
  private lazy val fs = {
    val f = tmp.getFileSystem(conf.value)
    // no .name.crc side files: the sink's contract is BARE text files
    // in the user's directory (the reference's native output shape),
    // and on a checksummed FS every create would otherwise run twice
    // (data + crc) — pure metadata overhead for KB-sized docs. Write
    // through the RAW filesystem rather than setWriteChecksum(false):
    // getFileSystem returns the JVM-wide CACHED instance (keyed by
    // scheme/authority/user), so mutating its flag would silently
    // disable checksums for every other local-FS writer in the process.
    val raw = f match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    raw match {
      case local: RawLocalFileSystem =>
        mkdirsLocal(local.pathToFile(tmp).toPath, localMode(FsPermission.getDirDefault))
      case other => other.mkdirs(tmp)
    }
    raw
  }
  /** `RawLocalFileSystem.mkdirs` without its `chmod` fork (see the class
    * doc): creates each missing directory down to `d` and gives it
    * Hadoop's directory mode. */
  private def mkdirsLocal(d: JPath, mode: java.util.Set[PosixFilePermission]): Unit =
    if (!Files.isDirectory(d)) {
      Option(d.getParent).foreach(mkdirsLocal(_, mode))
      try { Files.createDirectory(d); Files.setPosixFilePermissions(d, mode) }
      catch { case _: FileAlreadyExistsException if Files.isDirectory(d) => () } // another task made it
    }
  // the mode Hadoop gives a new local entry: its default under the conf's umask
  private def localMode(default: FsPermission) = PosixFilePermissions.fromString(
    default.applyUMask(FsPermission.getUMask(conf.value)).toString)
  // LinkedHashSet: a duplicate name within one task overwrites the tmp
  // file (both write paths truncate) but must be committed ONCE — two
  // entries would make job commit rename the same name twice and fail
  // on the second (already-moved) source after files landed.
  private val written = scala.collection.mutable.LinkedHashSet.empty[String]
  private lazy val localFileMode = localMode(FsPermission.getFileDefault)
  override def write(row: InternalRow): Unit = {
    val name = row.getUTF8String(pathIdx).toString
    require(name.nonEmpty && !name.contains("/") && !name.contains("\\") &&
      name != "." && name != "..",
      s"TextDirSource sink: file name must be a bare name, got '$name'")
    val dst = new HPath(tmp, name)
    // UTF8String.getBytes IS the utf-8 encoding — no transcode pass
    val bytes = row.getUTF8String(textIdx).getBytes
    fs match {
      case local: RawLocalFileSystem =>
        // fork-free local create (see the class doc), same bytes and mode
        val file = local.pathToFile(dst).toPath
        Files.write(file, bytes)
        Files.setPosixFilePermissions(file, localFileMode)
      case other =>
        val out = other.create(dst, true)
        try out.write(bytes)
        finally out.close()
    }
    written += name
  }
  override def commit(): WriterCommitMessage = TextFilesCommit(tmp.toString, written.toArray)
  override def abort(): Unit = fs.delete(tmp, true)
  override def close(): Unit = ()
}
