package graft

import org.apache.spark.sql.functions._

/** SOURCE-1 contract: the DataSource V2 `.ace` connector — row parity
  * with the UDF-parser path (the two implementations share
  * parseAceParagraph, so drift means a connector bug), filter pushdown
  * visible in the plan WITHOUT a residual Filter, column pruning at the
  * reader, and directory/multi-file layout. */
class AceSourceSpec extends SparkSpec {

  private val Sample = Paths.fixture("sample.ace")

  private def viaDsv2 = spark.read.format("ace").load(Sample)

  /** The UDF-parser path (`MigrationOps.aceDatoms`: blank-line
    * paragraphs → parseAce, the scan3/mig1/mig12 reader) over `path`, in
    * the source's (cls, ident, path, value, op) schema. */
  private def udfRows(path: String) =
    graft.migration.MigrationOps.aceDatoms(spark, path).select(
      split(col("e"), ":").getItem(0).as("cls"),
      expr("substring(e, instr(e, ':') + 1)").as("ident"),
      col("path"), col("value"), col("op"))

  private def viaUdf = udfRows(Sample)

  private def tmpDir(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toFile

  private def gzipped(bytes: Array[Byte]): Array[Byte] = {
    val buf = new java.io.ByteArrayOutputStream
    val gz = new java.util.zip.GZIPOutputStream(buf)
    try gz.write(bytes) finally gz.close()
    buf.toByteArray
  }

  private def sampleBytes = java.nio.file.Files.readAllBytes(
    new java.io.File(Sample).toPath)

  private def decode(in: java.io.InputStream): String = {
    val gz = new java.util.zip.GZIPInputStream(in)
    try new String(gz.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally gz.close()
  }

  private def rowBag(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq.groupBy(identity).view
      .mapValues(_.size).toMap

  test("DSv2 rows == UDF-parser rows on the committed fixture") {
    val a = viaDsv2.collect().map(_.toSeq).toSet
    val b = viaUdf.collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a === b)
  }

  test("cls filter pushes into the source: PushedFilters shows it and " +
      "no residual Filter survives above the scan") {
    val df = viaDsv2.filter(col("cls") === "Gene")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("EqualTo(cls,Gene)"),
      s"cls equality must be pushed:\n$p")
    assert(!p.contains("Filter "),
      s"pushed filter must leave no residual Filter node:\n$p")
    // and the pushed result is CORRECT (the reader honors what it claims)
    assert(df.collect().forall(_.getString(0) == "Gene"))
    assert(df.count() ===
      viaUdf.filter(col("cls") === "Gene").count())
  }

  test("unsupported predicates stay residual and still evaluate") {
    // value LIKE is not in the pushdown set — Spark must keep a Filter
    val df = viaDsv2.filter(col("value").startsWith("a"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Filter"), s"residual filter expected:\n$p")
    val want = viaUdf.filter(col("value").startsWith("a")).count()
    assert(df.count() === want && want > 0)
  }

  test("column pruning reaches the reader: readSchema carries only the " +
      "requested fields") {
    val df = viaDsv2.select("path")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<path:string>"),
      s"reader must materialize only 'path':\n$p")
    assert(df.collect().nonEmpty)
    // zero-width rows for count(*)
    assert(viaDsv2.count() === viaUdf.count())
  }

  test("one file splits into byte-range partitions with exact row parity " +
      "vs the UDF path") {
    // force ≥3 splits of the 508-byte fixture; split boundaries land
    // mid-paragraph, mid-line, and mid-separator — the ownership rule
    // must lose nothing and duplicate nothing
    val df = spark.read.format("ace").option("splitSize", "150")
      .load(Sample)
    assert(df.rdd.getNumPartitions >= 3,
      "a file larger than splitSize must yield multiple input partitions")
    val a = df.collect().map(_.toSeq).toSet
    val b = viaUdf.collect().map(_.toSeq).toSet
    assert(a.nonEmpty && a === b)
    // pushdown still works across splits
    assert(spark.read.format("ace").option("splitSize", "150").load(Sample)
      .filter(col("cls") === "Gene").count() ===
      viaUdf.filter(col("cls") === "Gene").count())
  }

  test("split-boundary sweep: every split size yields identical rows " +
      "(multiset, not set) — no paragraph lost or read twice") {
    val want = viaUdf.collect().map(_.toSeq).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    for (sz <- Seq(16, 31, 57, 100, 137, 254, 507, 508, 4096)) {
      val got = spark.read.format("ace")
        .option("splitSize", sz.toString).load(Sample)
        .collect().map(_.toSeq).toSeq
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(got === want, s"row multiset drift at splitSize=$sz")
    }
  }

  test("heap-bound: a forked 48 MiB JVM streams a 64 MiB dump through " +
      "the split readers (whole-file materialization would OOM)") {
    val f = java.io.File.createTempFile("ace-heap", ".ace")
    f.deleteOnExit()
    val out = new java.io.BufferedWriter(new java.io.FileWriter(f))
    val pad = "x" * 120
    var bytes = 0L
    var i = 0
    while (bytes < 64L * 1024 * 1024) {
      val para = s"""Gene : "G$i"
                    |CGC_name "n$i-$pad"
                    |Other_name "o$i-$pad"
                    |""".stripMargin + "\n"
      out.write(para); bytes += para.length; i += 1
    }
    out.close()
    // inherit THIS test JVM's classpath — robust to Scala version, build
    // layout, and Spark install location (no hardcoded paths)
    val cp = System.getProperty("java.class.path")
    val cmd = Seq("java", "-Xmx48m", "-cp", cp,
      "graft.sources.AceHeapProbe", f.getAbsolutePath, (16L * 1024 * 1024).toString)
    val sb = new StringBuilder
    val rc = scala.sys.process.Process(cmd, new java.io.File(Paths.Root))
      .!(scala.sys.process.ProcessLogger(l => sb.append(l).append('\n')))
    assert(rc === 0, s"probe JVM failed (OOM = not streaming):\n$sb")
    assert(sb.toString.contains(s"ROWS=${2L * i}"),
      s"probe must count 2 datoms per $i paragraphs:\n$sb")
    f.delete()
  }

  test("a missing load path fails with a meaningful error, not an NPE") {
    val err = intercept[Exception] {
      spark.read.format("ace").load(Paths.fixture("does-not-exist"))
        .count()
    }
    assert(err.toString.contains("does not exist") ||
      (err.getCause != null && err.getCause.toString.contains("does not exist")),
      s"want a named-path error, got $err")
  }

  test("a directory load maps one partition per .ace file") {
    val dir = java.nio.file.Files
      .createTempDirectory("ace-dsv2").toString
    val para = "Gene : \"G%d\"\nCGC_name \"n%d\"\n"
    for (i <- 0 until 3)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/part_$i.ace"), para.format(i, i))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/notes.txt"), "skip me")
    val df = spark.read.format("ace").load(dir)
    assert(df.rdd.getNumPartitions === 3,
      "one input partition per .ace file")
    assert(df.select("ident").collect().map(_.getString(0)).sorted ===
      Array("G0", "G1", "G2"))
  }

  test("write path: Spark plans the writer-DECLARED clustering+sort, " +
      "and the round trip reproduces every datom") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ace-write").toString
    val datoms = Seq(
      ("Gene", "G2", "CGC_name", "b", "assert"),
      ("Gene", "G1", "CGC_name", "a", "assert"),
      ("Gene", "G1", "RNASeq.FPKM", "3.5", "assert"),
      ("Gene", "G1", "Other_name", "x", "retract"),
      ("Protein", "P1", "Peptide", "MK", "assert"))
      .toDF("cls", "ident", "path", "value", "op")
    val q = datoms.repartition(4) // scattered input: the WRITER's declared
      // distribution must re-cluster it, not the caller
    q.write.format("ace").mode("overwrite").save(tmp)
    val back = spark.read.format("ace").load(tmp)
      .collect().map(_.toSeq).toSet
    assert(back === datoms.collect().map(_.toSeq).toSet,
      "round trip must reproduce every datom incl. the -D retraction " +
        "and the dotted path")
    // no object's paragraph may split across files: each (cls, ident)
    // appears in exactly one .ace.gz part file
    val files = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".ace.gz"))
    assert(files.nonEmpty, "the write must publish .ace.gz parts")
    val perFile = files.map { f =>
      val text = decode(new java.io.FileInputStream(f))
      "(?m)^(\\S+) : \"([^\"]+)\"$".r.findAllMatchIn(text)
        .map(m => (m.group(1), m.group(2))).toSet
    }
    val all = perFile.flatten
    assert(all.size === all.toSet.size,
      "an object's datoms split across part files — clustering not applied")
  }

  test("write path: overwrite truncates prior dumps; quotes/newlines in " +
      "values fail loudly instead of corrupting the format") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ace-trunc").toString
    def one(ident: String) =
      Seq(("Gene", ident, "CGC_name", "v", "assert"))
        .toDF("cls", "ident", "path", "value", "op")
    one("OLD").write.format("ace").mode("overwrite").save(tmp)
    one("NEW").write.format("ace").mode("overwrite").save(tmp)
    val idents = spark.read.format("ace").load(tmp)
      .select("ident").collect().map(_.getString(0)).toSeq
    assert(idents === Seq("NEW"), "overwrite must replace the old dump")
    val poison = Seq(("Gene", "G1", "CGC_name", "has \" quote", "assert"))
      .toDF("cls", "ident", "path", "value", "op")
    val err = intercept[Exception] {
      poison.write.format("ace").mode("append").save(tmp)
    }
    assert(err.toString.contains("cannot represent") ||
      err.getCause != null, s"poison value must fail the write: $err")
    // the failed write must not have corrupted the committed dump
    assert(spark.read.format("ace").load(tmp).count() === 1)
  }

  test("write path: append jobs never clobber a prior job's parts — " +
      "partitionId/taskId restart per job, so published names are " +
      "job-unique and both dumps survive") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ace-append").toString
    def one(ident: String) =
      Seq(("Gene", ident, "CGC_name", "v", "assert"))
        .toDF("cls", "ident", "path", "value", "op")
        .coalesce(1) // both jobs publish from partition 0 — the collision
    one("FIRST").write.format("ace").mode("append").save(tmp)
    one("SECOND").write.format("ace").mode("append").save(tmp)
    val idents = spark.read.format("ace").load(tmp)
      .select("ident").collect().map(_.getString(0)).toSet
    assert(idents === Set("FIRST", "SECOND"),
      "second append silently replaced the first job's part file")
    val files = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".ace.gz")).map(_.getName)
    assert(files.length === 2 && files.toSet.size === 2,
      s"expected two distinct published parts, got ${files.mkString(", ")}")
  }

  test("write path is FS-agnostic: the full stage→commit→publish cycle " +
      "runs on the s3m:// object store (PUT-on-close create, non-atomic " +
      "per-key rename) and round-trips every datom") {
    val s = spark
    import s.implicits._
    graft.sources.S3MockFileSystem.install(
      spark.sparkContext.hadoopConfiguration)
    val out = "s3m://graft-test/ace-write/dump"
    val datoms = Seq(
      ("Gene", "G2", "CGC_name", "b", "assert"),
      ("Gene", "G1", "CGC_name", "a", "assert"),
      ("Gene", "G1", "RNASeq.FPKM", "3.5", "assert"),
      ("Gene", "G1", "Other_name", "x", "retract"),
      ("Protein", "P1", "Peptide", "MK", "assert"))
      .toDF("cls", "ident", "path", "value", "op")
    datoms.repartition(4).write.format("ace").mode("overwrite").save(out)
    // read back THROUGH the same connector on the same object store
    val back = spark.read.format("ace").load(out)
      .collect().map(_.toSeq).toSet
    assert(back === datoms.collect().map(_.toSeq).toSet,
      "s3m write→read round trip must reproduce every datom")
    // overwrite truncates the prior dump on the object store too
    Seq(("Gene", "ONLY", "CGC_name", "v", "assert"))
      .toDF("cls", "ident", "path", "value", "op")
      .write.format("ace").mode("overwrite").save(out)
    assert(spark.read.format("ace").load(out)
      .select("ident").collect().map(_.getString(0)).toSeq === Seq("ONLY"))
    // no staging residue: only .ace.gz objects remain under the prefix
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftover = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .map(_.getPath.getName)
    assert(leftover.forall(_.endsWith(".ace.gz")),
      s"staging residue left behind: ${leftover.mkString(", ")}")
  }

  test("a gzipped .ace.gz dump: DSv2 rows == MigrationOps.aceDatoms rows " +
      "over the same file") {
    val dir = tmpDir("ace-gz")
    val gz = new java.io.File(dir, "sample.ace.gz")
    java.nio.file.Files.write(gz.toPath, gzipped(sampleBytes))
    val a = spark.read.format("ace").load(dir.getPath)
      .collect().map(_.toSeq)
    val b = udfRows(gz.getPath).collect().map(_.toSeq)
    assert(a.nonEmpty && a.toSet === b.toSet && a.length === b.length)
  }

  test("a truncated .ace.gz part fails the scan with an error naming the " +
      "file, and returns none of the rows before the cut") {
    val dir = tmpDir("ace-gz-cut")
    java.nio.file.Files.write(new java.io.File(dir, "whole.ace").toPath,
      sampleBytes)
    val whole = gzipped(sampleBytes)
    val cut = new java.io.File(dir, "cut.ace.gz")
    val kept = whole.take(whole.length - 16) // 8 B of deflate data + trailer
    java.nio.file.Files.write(cut.toPath, kept)
    // the cut lies past at least one whole paragraph: a reader that ended
    // at the EOF quietly would have rows to return
    val prefix = new java.io.ByteArrayOutputStream
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(kept))
    intercept[java.io.EOFException] {
      var b = in.read()
      while (b != -1) { prefix.write(b); b = in.read() }
    }
    assert(prefix.toString("UTF-8").contains("\n\n"),
      s"the cut must follow a paragraph: ${prefix.size()} bytes decoded")
    val err = intercept[Exception] {
      spark.read.format("ace").load(dir.getPath).collect()
    }
    val chain = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(_.toString).mkString("\n")
    assert(chain.contains(cut.getAbsolutePath),
      s"the error must name the truncated part:\n$chain")
  }

  test("a .ace.gz file plans exactly one partition whatever splitSize is, " +
      "while a .ace file in the same dir still splits") {
    val dir = tmpDir("ace-gz-split")
    val plain = new java.io.File(dir, "a.ace")
    java.nio.file.Files.write(plain.toPath, sampleBytes)
    val gz = new java.io.File(dir, "b.ace.gz")
    java.nio.file.Files.write(gz.toPath, gzipped(sampleBytes))
    val want = rowBag(viaUdf).map { case (r, n) => r -> 2 * n }
    for (sz <- Seq(16, 57, 150, 4096)) {
      def load(p: String) =
        spark.read.format("ace").option("splitSize", sz.toString).load(p)
      assert(load(gz.getPath).rdd.getNumPartitions === 1,
        s"a gzip file is one split at splitSize=$sz")
      val plainSplits = (plain.length + sz - 1) / sz
      assert(load(dir.getPath).rdd.getNumPartitions === 1 + plainSplits,
        s"the plain file must still split at splitSize=$sz")
      assert(rowBag(load(dir.getPath)) === want,
        s"row multiset drift at splitSize=$sz")
    }
  }

  test("a directory that mixes a .ace part and a .ace.gz part reads both") {
    val dir = tmpDir("ace-mixed")
    java.nio.file.Files.writeString(new java.io.File(dir, "p.ace").toPath,
      "Gene : \"PLAIN\"\nCGC_name \"a\"\n")
    java.nio.file.Files.write(new java.io.File(dir, "z.ace.gz").toPath,
      gzipped("Gene : \"ZIPPED\"\nCGC_name \"b\"\n".getBytes("UTF-8")))
    assert(spark.read.format("ace").load(dir.getPath).select("ident", "value")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("PLAIN", "a"), ("ZIPPED", "b")))
  }

  test("write path: parts are gzip streams on the local FS and on s3m://, " +
      "and their decoded text re-parses to every written datom") {
    val s = spark
    import s.implicits._
    graft.sources.S3MockFileSystem.install(
      spark.sparkContext.hadoopConfiguration)
    val datoms = Seq(
      ("Gene", "G2", "CGC_name", "b", "assert"),
      ("Gene", "G1", "CGC_name", "a", "assert"),
      ("Gene", "G1", "RNASeq.FPKM", "3.5", "assert"),
      ("Gene", "G1", "Other_name", "x", "retract"),
      ("Protein", "P1", "Peptide", "MK", "assert"))
      .toDF("cls", "ident", "path", "value", "op")
    val want = datoms.collect().map(_.toSeq).toSet
    for (out <- Seq(tmpDir("ace-gz-write").getPath,
                    "s3m://graft-test/ace-gz-write/dump")) {
      datoms.repartition(4).write.format("ace").mode("overwrite").save(out)
      val dir = new org.apache.hadoop.fs.Path(out)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val parts = fs.listStatus(dir).map(_.getPath)
        .filter(_.getName.endsWith(".ace.gz"))
      assert(parts.nonEmpty, s"no .ace.gz part published under $out")
      // decoded independently of the source, parsed by the UDF path's
      // paragraph parser
      val decoded = parts.toSeq.flatMap { p =>
        decode(fs.open(p)).split("\n\n").toSeq
          .flatMap(graft.migration.MigrationOps.parseAceParagraph)
          .map(d => Seq(d.e.takeWhile(_ != ':'), d.e.dropWhile(_ != ':').tail,
            d.path, d.value, d.op))
      }
      assert(decoded.toSet === want && decoded.length === want.size, out)
      assert(spark.read.format("ace").load(out)
        .collect().map(_.toSeq).toSet === want, out)
    }
  }

  test("write path: overwrite deletes prior .ace and .ace.gz parts alike") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("ace-trunc-both")
    java.nio.file.Files.writeString(
      new java.io.File(dir, "legacy.ace").toPath,
      "Gene : \"OLD_PLAIN\"\nCGC_name \"v\"\n")
    def one(ident: String) =
      Seq(("Gene", ident, "CGC_name", "v", "assert"))
        .toDF("cls", "ident", "path", "value", "op")
    one("OLD_GZ").write.format("ace").mode("append").save(dir.getPath)
    def idents = spark.read.format("ace").load(dir.getPath)
      .select("ident").collect().map(_.getString(0)).toSet
    assert(idents === Set("OLD_PLAIN", "OLD_GZ"))
    one("NEW").write.format("ace").mode("overwrite").save(dir.getPath)
    assert(idents === Set("NEW"))
    val dumps = dir.listFiles().map(_.getName)
      .filter(n => n.endsWith(".ace") || n.endsWith(".ace.gz"))
    assert(dumps.length === 1 && dumps.head.endsWith(".ace.gz"),
      dumps.mkString(", "))
  }

  test("op IN pushdown prunes per datom") {
    val df = viaDsv2.filter(col("op").isin("retract"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("In(op") || p.contains("EqualTo(op,retract)"),
      s"op membership must be pushed:\n$p")
    // sample.ace is all asserts — the pushed filter must yield zero rows,
    // not silently ignore itself
    assert(df.count() === 0)
    assert(viaDsv2.filter(col("op").isin("assert")).count() ===
      viaUdf.count())
  }
}
