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

  private def viaUdf = {
    // the scan3/mig1 path: blank-line paragraphs → parseAce UDF
    spark.read.option("lineSep", "\n\n").text(Sample)
      .filter(trim(col("value")) =!= "")
      .select(explode(graft.migration.MigrationOps.parseAce(col("value")))
        .as("d"))
      .select(
        split(col("d.e"), ":").getItem(0).as("cls"),
        expr("substring(d.e, instr(d.e, ':') + 1)").as("ident"),
        col("d.path"), col("d.value"), col("d.op"))
  }

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
    // appears in exactly one .ace part file
    val files = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".ace"))
    val perFile = files.map { f =>
      val text = java.nio.file.Files.readString(f.toPath)
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
      .filter(_.getName.endsWith(".ace")).map(_.getName)
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
    // no staging residue: only .ace objects remain under the prefix
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftover = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .map(_.getPath.getName)
    assert(leftover.forall(_.endsWith(".ace")),
      s"staging residue left behind: ${leftover.mkString(", ")}")
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
