package graft.sources

import java.util.{Map => JMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter, In, IsNotNull}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** SOURCE-1 — a real DataSource V2 connector for the `.ace` dump format
  * (`spark.read.format("ace").load(path)`), upgrading scan3/mig1's
  * text-splitter + UDF-parser pipeline to a first-class Spark source with
  * the two DSv2 contracts that matter at 100 TB:
  *
  *  - **Filter pushdown** ([[SupportsPushDownFilters]]): `cls`
  *    equality/IN prunes whole paragraphs from the HEADER LINE alone —
  *    non-matching objects are skipped without parsing a single body
  *    line (the reference dumps one file per class,
  *    runcommand.py:134-150, so a class filter typically skips entire
  *    files' worth of body text); `op` equality prunes per datom. Pushed
  *    filters are fully applied by the reader — Spark plans no residual
  *    Filter node (PlanSpec asserts).
  *  - **Column pruning** ([[SupportsPushDownRequiredColumns]]): the
  *    reader materializes only requested fields; a `count(*)` emits
  *    zero-width rows.
  *
  * Layout: a load path is one dump file or a directory of `.ace` and
  * `.ace.gz` files (the reference gzips every per-class dump,
  * runcommand.py:114-131). A `.ace.gz` file is one [[InputPartition]]
  * that owns every paragraph, decoded through `GZIPInputStream`: a
  * deflate stream cannot be entered mid-way. A plain `.ace` file is cut
  * into **splittable byte-range [[InputPartition]]s over the Hadoop
  * FS API** — the reference dumps one file per class
  * (runcommand.py:134-150), so a large class is one giant file; a
  * one-partition-per-file connector would put a 100-GB class on a
  * single task's heap. Instead each file ≥ the split size (default
  * `spark.sql.files.maxPartitionBytes`, override with option
  * `splitSize`) is cut into byte ranges, and each reader STREAMS
  * paragraphs with a bounded buffer — the Hadoop LineRecordReader
  * recipe adapted to the blank-line paragraph delimiter:
  *
  *  - ownership rule: a paragraph whose first content byte is at offset
  *    `p` belongs to the split `[s, s+len)` with `p ∈ (s, s+len]`
  *    (first split: `p ∈ [0, len]`). No paragraph is lost or read
  *    twice across split boundaries.
  *  - a split with `s > 0` seeks back to the start of the line
  *    containing `s` (bounded 64 KiB lookbehind), then skips through
  *    that paragraph's blank-line terminator before emitting — whether
  *    `s` landed mid-content, mid-separator, or exactly on a paragraph
  *    start, the preceding split (which reads until its consumed
  *    paragraph START passes its end) owns the straddler.
  *  - a line longer than the lookbehind window cannot be blank in any
  *    real dump, so the fallback (discard the partial line, then skip
  *    to the next separator) preserves the rule.
  *
  * Paragraphs are a header `Class : "Ident"` then `Tag [Subtag…]
  * "value"` body lines with `-D` retraction prefix. Body parsing
  * delegates to the SAME `MigrationOps.parseAceParagraph` the UDF path
  * uses, so the two paths cannot drift (AceSourceSpec pins row parity,
  * including a multi-split single-file fixture).
  *
  * Schema: (cls, ident, path, value, op) — all strings; `e` of the datom
  * model is `cls || ':' || ident`.
  */
class AceDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "ace"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AceDataSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new AceTable(Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("ace source requires a load path")))
}

object AceDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("cls", StringType), StructField("ident", StringType),
    StructField("path", StringType), StructField("value", StringType),
    StructField("op", StringType)))

  /** The suffix of every part the writer publishes. */
  private[sources] val GzSuffix = ".ace.gz"

  /** A dump file a directory load reads and an overwrite deletes. */
  private[sources] def isDump(name: String): Boolean =
    name.endsWith(".ace") || name.endsWith(GzSuffix)

  /** A file read whole through gzip rather than split by byte range. */
  private[sources] def isGzip(file: String): Boolean = file.endsWith(".gz")
}

private[sources] class AceTable(path: String) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"ace($path)"
  override def schema(): StructType = AceDataSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AceScanBuilder(path, options)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
  : org.apache.spark.sql.connector.write.WriteBuilder =
    new AceWriteBuilder(path, info.schema())
}

private[sources] class AceScanBuilder(path: String,
                                      options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = AceDataSource.Schema

  // accept cls/op equality and IN — everything the reader can honor
  // EXACTLY; anything else stays residual for Spark to evaluate.
  // IsNotNull on ANY field is vacuously true (every emitted field is a
  // parsed non-null string), so claiming it removes the residual Filter
  // node Spark would otherwise keep above a fully-pushed scan.
  private def supported(f: Filter): Boolean = f match {
    case EqualTo("cls" | "op", _: String) => true
    case In("cls" | "op", vs) => vs.forall(_.isInstanceOf[String])
    case IsNotNull(_) => true
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, residual) = filters.partition(supported)
    pushed = sup
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    new AceScan(path, pushed, required,
      Option(options.get("splitsize")).map(_.toLong))
}

private[sources] class AceScan(path: String, pushed: Array[Filter],
                               required: StructType,
                               splitSizeOpt: Option[Long])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // surfaced in the BatchScan plan node — the same PushedFilters/
  // ReadSchema observability the parquet scan gives (PlanSpec-able)
  override def description(): String =
    s"AceScan PushedFilters: ${pushed.mkString("[", ", ", "]")}, " +
      s"ReadSchema: ${required.catalogString}"

  /** Byte-range splits over the Hadoop FS API (works off local disk:
    * hdfs://, s3a://, …). One split per `splitSize` bytes of each plain
    * file; the reader resolves paragraph boundaries (see class doc), so a
    * giant per-class dump file parallelizes across the cluster instead
    * of loading one executor's heap. A gzipped file is one split. */
  override def planInputPartitions(): Array[InputPartition] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root))
      throw new IllegalArgumentException(
        s"ace load path does not exist: $path")
    val files =
      if (fs.getFileStatus(root).isDirectory)
        fs.listStatus(root)
          .filter(s => s.isFile && AceDataSource.isDump(s.getPath.getName))
          .sortBy(_.getPath.getName).toSeq
      else Seq(fs.getFileStatus(root))
    if (files.isEmpty)
      org.slf4j.LoggerFactory.getLogger(classOf[AceScan]).warn(
        s"ace load matched zero .ace or .ace.gz files under $path — " +
          "empty scan")
    val splitSize = splitSizeOpt.getOrElse {
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes"))
      catch { case _: Exception => 128L * 1024 * 1024 }
    }.max(1L)
    files.flatMap { st =>
      val len = st.getLen
      if (AceDataSource.isGzip(st.getPath.getName))
        Seq(AceSplitPartition(st.getPath.toString, 0L, len): InputPartition)
      else {
        val nLong = math.max(1L, (len + splitSize - 1) / splitSize)
        // a pathological user-set splitSize on a huge file must fail, not
        // wrap .toInt negative and silently plan ZERO partitions
        require(nLong <= Int.MaxValue,
          s"splitSize=$splitSize yields $nLong splits for ${st.getPath} " +
            s"(len=$len) — raise splitSize")
        val n = nLong.toInt
        (0 until n).map { i =>
          val start = i.toLong * splitSize
          AceSplitPartition(st.getPath.toString, start,
            math.min(splitSize, len - start)): InputPartition
        }
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = org.apache.spark.sql.SparkSession.active
    AceReaderFactory(pushed, required.fieldNames,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
  }
}

private[sources] case class AceSplitPartition(file: String, start: Long,
                                              length: Long)
  extends InputPartition

private[sources] case class AceReaderFactory(
    pushed: Array[Filter], fields: Array[String],
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new AcePartitionReader(p.asInstanceOf[AceSplitPartition],
      pushed, fields, conf.value)
}

// ---- write path (SOURCE-1 write half) -------------------------------------

/** `.ace` EXPORT through the same connector (`df.write.format("ace")`):
  * the dump-producing side of the reference's pipeline (mig12's
  * round-trip, as a first-class sink). The deep Spark feature here is
  * [[org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering]]:
  * a paragraph must hold ALL of one object's datoms contiguously, so the
  * Write DECLARES clustering by (cls, ident) and a full sort — Spark
  * plans the shuffle+sort; each DataWriter then streams paragraphs with a
  * one-key lookbehind and zero buffering. Writers stage under
  * `_staging-<uuid>/part-<pid>-<tid>.ace.gz` (unique per task attempt, so
  * speculative retries cannot collide) and the driver-side commit
  * publishes exactly the files named in the commit messages. Each part
  * is one gzip stream at the deflater's default level (`gzip`'s own):
  * the reference gzips every dumped `.ace` file before it is read back
  * (runcommand.py:114-131), as mig12 does, and dump text is repetitive
  * enough that the stored bytes fall several-fold.
  *
  * The ENTIRE write path (staging create, publish rename, truncate,
  * abort sweep) goes through `path.getFileSystem(conf)` — symmetric with
  * the read half, so `df.write.format("ace")` commits on hdfs://, s3m://
  * (the object-store mock, where create is PUT-on-close atomic and
  * rename is per-key COPY+DELETE), or any other Hadoop FS, not just
  * local disk. AceSourceSpec pins the s3m:// write→read round trip.
  * Values embedding `"` or a newline cannot be represented by the .ace
  * text format and fail the write loudly rather than corrupt the dump. */
private[sources] class AceWriteBuilder(path: String, schema: StructType)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate()
  : org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write = {
    val want = AceDataSource.Schema.fieldNames.toSet
    require(schema.fieldNames.toSet == want,
      s"ace write expects columns $want, got ${schema.fieldNames.toSet}")
    new AceWrite(path, schema, doTruncate)
  }
}

private[sources] class AceWrite(path: String, schema: StructType,
                                truncate: Boolean)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}

  override def requiredDistribution()
  : org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.clustered(
      Array(Expressions.column("cls"), Expressions.column("ident")))

  override def requiredOrdering()
  : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    AceDataSource.Schema.fieldNames.map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))

  override def toBatch
  : org.apache.spark.sql.connector.write.BatchWrite =
    // driver-side: capture the session Hadoop conf once; it rides to the
    // executors inside the writer factory so every staging create opens
    // the SAME FileSystem flavor the driver commit will rename on
    new AceBatchWrite(path, schema, truncate,
      new org.apache.spark.util.SerializableConfiguration(
        org.apache.spark.sql.SparkSession.active
          .sessionState.newHadoopConf()))
}

private[sources] case class AceCommitMessage(stagedFile: String)
  extends org.apache.spark.sql.connector.write.WriterCommitMessage

private[sources] class AceBatchWrite(path: String, schema: StructType,
                                     truncate: Boolean,
                                     conf: org.apache.spark.util.SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  private val jobUid = java.util.UUID.randomUUID().toString
  private val staging = s"$path/_staging-$jobUid"

  private def fsOf(p: String) = {
    val hp = new org.apache.hadoop.fs.Path(p)
    (hp.getFileSystem(conf.value), hp)
  }

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
  : org.apache.spark.sql.connector.write.DataWriterFactory =
    AceWriterFactory(staging,
      AceDataSource.Schema.fieldNames.map(schema.fieldIndex), conf)

  override def commit(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
  : Unit = {
    val (fs, dir) = fsOf(path)
    fs.mkdirs(dir)
    // plain .ace files too: an overwrite must not leave an older plain
    // dump readable beside the new gzipped parts
    if (truncate)
      fs.listStatus(dir)
        .filter(s => s.isFile && AceDataSource.isDump(s.getPath.getName))
        .foreach(s => fs.delete(s.getPath, false))
    // "" = the task's partition was empty and staged nothing; any other
    // staged path MUST exist — a committed task whose output vanished is
    // a job-level failure, never a silent drop.
    messages.foreach { case AceCommitMessage(staged) if staged.nonEmpty =>
      val f = new org.apache.hadoop.fs.Path(staged)
      require(fs.exists(f), s"commit message names missing staged file $staged")
      // partitionId/taskId restart per job, so append-mode names carry the
      // job uid: a prior job's part-0-0.ace.gz is DATA under append
      // semantics and must never be silently replaced. Under truncate the
      // sweep above already cleared dump files, so bare names stay stable
      // and a leftover same-named target (crashed prior commit) is
      // refuse-worthy too — publish never overwrites.
      val name =
        if (truncate) f.getName
        else f.getName.stripSuffix(AceDataSource.GzSuffix) +
          s"-${jobUid.take(8)}${AceDataSource.GzSuffix}"
      val target = new org.apache.hadoop.fs.Path(dir, name)
      require(!fs.exists(target),
        s"refusing to overwrite existing $target during append publish")
      require(fs.rename(f, target), s"commit failed publishing $staged")
    case _ => ()
    }
    abort(Array.empty) // sweep the (now-empty) staging dir
  }

  override def abort(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
  : Unit = {
    val (fs, st) = fsOf(staging)
    if (fs.exists(st)) fs.delete(st, true): Unit
  }
}

private[sources] case class AceWriterFactory(staging: String,
                                             fieldIdx: Array[Int],
                                             conf: org.apache.spark.util.SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
  : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new AceDataWriter(staging,
      s"part-$partitionId-$taskId${AceDataSource.GzSuffix}", fieldIdx,
      conf.value)
}

private[sources] class AceDataWriter(staging: String, name: String,
                                     fieldIdx: Array[Int],
                                     hconf: org.apache.hadoop.conf.Configuration)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  private val file = new org.apache.hadoop.fs.Path(staging, name)
  private var out: java.io.BufferedWriter = _
  private var curCls: String = _
  private var curIdent: String = _

  // lazily opened: an empty partition publishes no file at all. On an
  // object store this create is a buffered PUT — nothing is visible
  // until commit() closes the stream, which is exactly the task-attempt
  // isolation the staging protocol needs. Closing also writes the gzip
  // trailer.
  private def writer(): java.io.BufferedWriter = {
    if (out == null) {
      val fs = file.getFileSystem(hconf)
      out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.util.zip.GZIPOutputStream(fs.create(file, true), 64 * 1024),
        java.nio.charset.StandardCharsets.UTF_8))
    }
    out
  }

  private def str(row: InternalRow, i: Int): String = {
    val v = row.getUTF8String(fieldIdx(i))
    require(v != null, "ace write: null field")
    val s = v.toString
    // the read grammar is line-oriented with a `"([^"]*)"$` value tail: a
    // '"' re-parses with a corrupted path/value, a '\n' splits the line,
    // and a bare '\r' would make the re-read line whitespace-polluted —
    // none are representable, so fail the task loudly for EVERY field
    require(!s.contains("\"") && !s.contains("\n") && !s.contains("\r"),
      s"ace text format cannot represent quotes/newlines: $s")
    s
  }

  override def write(row: InternalRow): Unit = {
    val (cls, ident) = (str(row, 0), str(row, 1))
    val (p, value, op) = (str(row, 2), str(row, 3), str(row, 4))
    // validate the FULL representable domain of the text format — a value
    // the read side's grammar would drop or mutate must fail the task
    // loudly here, not round-trip corrupted (the header regex needs a
    // whitespace-free cls and non-empty ident; path segments become
    // space-joined tags, so whitespace inside a segment would re-parse as
    // extra segments; only assert/retract ops exist in the grammar).
    require(cls.nonEmpty && !cls.exists(_.isWhitespace),
      s"ace header cannot represent class '$cls' (empty or whitespace)")
    require(ident.nonEmpty, s"ace header cannot represent an empty ident")
    val segs = p.split("\\.", -1)
    require(segs.nonEmpty && segs.forall(s =>
        s.nonEmpty && !s.exists(_.isWhitespace)),
      s"ace line cannot represent path '$p' (empty/whitespace segment)")
    require(op == "assert" || op == "retract",
      s"ace op must be assert|retract, got '$op'")
    val w = writer()
    if (cls != curCls || ident != curIdent) {
      if (curCls != null) w.write("\n")
      w.write(s"""$cls : "$ident"""" + "\n")
      curCls = cls; curIdent = ident
    }
    val prefix = if (op == "retract") "-D " else ""
    w.write(s"""$prefix${segs.mkString(" ")} "$value"""" + "\n")
  }

  override def commit()
  : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    if (out == null) AceCommitMessage("") // empty partition: nothing staged
    else { out.close(); AceCommitMessage(file.toString) }
  }
  override def abort(): Unit = {
    if (out != null) out.close()
    val fs = file.getFileSystem(hconf)
    if (fs.exists(file)) fs.delete(file, false): Unit
  }
  override def close(): Unit = ()
}

/** Streams one byte-range split of an `.ace` file, or all of a `.ace.gz`
  * file: bounded memory (one paragraph buffered at a time), exact
  * split-boundary ownership (see [[AceDataSource]] class doc),
  * header-level class gate BEFORE body parsing — a pushed `cls` filter
  * skips non-matching paragraphs without parsing a single body line. An
  * I/O failure (a truncated or corrupt gzip part) fails the task and
  * names the file; the rows before it are never returned as a result. */
private[sources] class AcePartitionReader(part: AceSplitPartition,
                                          pushed: Array[Filter],
                                          fields: Array[String],
                                          hconf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  private val Lookbehind = 64 * 1024

  private def accepts(col: String, v: String): Boolean =
    pushed.forall {
      case EqualTo(`col`, want) => want == v
      case In(`col`, vs) => vs.contains(v)
      case _ => true
    }

  private val headerRe = """^(\S+) : "(.+)"$""".r

  private val hpath = new org.apache.hadoop.fs.Path(part.file)
  private val fs = hpath.getFileSystem(hconf)
  private val gzip = AceDataSource.isGzip(part.file)
  // own paragraphs starting ≤ end; a gzip split owns them all (pos then
  // counts decoded bytes, which no byte range of the file describes)
  private val end = if (gzip) Long.MaxValue else part.start + part.length
  private val raw = fs.open(hpath)

  // byte-tracked line reader: pos = offset of the next unread byte;
  // scanning for '\n' bytes is UTF-8-safe (no multibyte unit is 0x0A)
  private var in: java.io.InputStream = _
  private var pos: Long = _
  private val lineBuf = new java.io.ByteArrayOutputStream(256)
  private def openAt(offset: Long): Unit = {
    raw.seek(offset)
    in = new java.io.BufferedInputStream(raw, 64 * 1024)
    pos = offset
  }
  /** one line without its '\n'; null at EOF; advances pos past the '\n' */
  private def readLine(): String = {
    var b = in.read()
    if (b == -1) return null
    lineBuf.reset()
    while (b != -1 && b != '\n') { lineBuf.write(b); b = in.read() }
    pos += lineBuf.size() + (if (b == '\n') 1 else 0)
    new String(lineBuf.toByteArray,
      java.nio.charset.StandardCharsets.UTF_8)
  }
  private def isBlank(s: String): Boolean = s.forall(_.isWhitespace)
  private def skipToSeparator(): Unit = {
    var l = readLine()
    while (l != null && !isBlank(l)) l = readLine()
  }
  private def named(e: java.io.IOException) =
    new java.io.IOException(s"ace read of ${part.file} failed: $e", e)

  // position the stream at the first paragraph this split OWNS; any
  // failure mid-initialization must close the already-open stream —
  // close() is never called on a partially constructed reader
  try {
    if (gzip) {
      in = new java.io.BufferedInputStream(
        new java.util.zip.GZIPInputStream(raw, 64 * 1024), 64 * 1024)
      pos = 0L
    } else if (part.start == 0L) openAt(0L)
    else {
      // seek back to the start of the line containing byte `start`
      val back = math.max(0L, part.start - Lookbehind)
      val window = new Array[Byte]((part.start - back).toInt)
      raw.readFully(back, window)
      val nl = window.lastIndexOf('\n'.toByte)
      if (nl >= 0 || back == 0L) {
        openAt(if (nl >= 0) back + nl + 1 else 0L)
        val l0 = readLine() // the full line containing byte `start`
        // mid-content (or a paragraph starting exactly at `start`, owned
        // by the previous split): skip through its terminator. Mid-
        // separator: the next content line already starts > start.
        if (l0 != null && !isBlank(l0)) skipToSeparator()
      } else {
        // >64 KiB without a newline: the line containing `start` is
        // content (blank lines are short); same skip, minus the seek-back
        openAt(part.start)
        readLine() // discard the partial line
        skipToSeparator()
      }
    }
  } catch {
    case t: Throwable =>
      try close() catch { case _: Exception => () }
      throw (t match { case e: java.io.IOException => named(e); case _ => t })
  }

  /** next (paragraphText, headerLine) whose start offset this split
    * owns, or null when the split is exhausted */
  private def nextParagraph(): (String, String) = {
    // skip separator run
    var pStart = pos
    var line = readLine()
    while (line != null && isBlank(line)) { pStart = pos; line = readLine() }
    if (line == null || pStart > end) return null
    val sb = new StringBuilder(line)
    val header = line
    var l = readLine()
    while (l != null && !isBlank(l)) { sb.append('\n').append(l); l = readLine() }
    (sb.toString, header)
  }

  private val iter: Iterator[Array[String]] =
    Iterator.continually(nextParagraph()).takeWhile(_ != null)
      .flatMap { case (para, header) =>
        header.trim match {
          case headerRe(cls, ident) if accepts("cls", cls) =>
            graft.migration.MigrationOps.parseAceParagraph(para)
              .iterator
              .filter(d => accepts("op", d.op))
              .map { d =>
                fields.map {
                  case "cls" => cls
                  case "ident" => ident
                  case "path" => d.path
                  case "value" => d.value
                  case "op" => d.op
                }
              }
          case _ => Iterator.empty
        }
      }

  private var current: Array[String] = _
  override def next(): Boolean =
    try if (iter.hasNext) { current = iter.next(); true } else false
    catch { case e: java.io.IOException => throw named(e) }
  override def get(): InternalRow =
    new GenericInternalRow(
      current.map(UTF8String.fromString(_): Any))
  // the decoding stream closes raw too, and frees a gzip Inflater's
  // native memory
  override def close(): Unit = if (in != null) in.close() else raw.close()
}
