package graft

import graft.migration.MigrationOps
import graft.migration.MigrationOps.{AceDatom, LatestWinsAgg, LwBuf, LwIn, Step}

/** Unit + property coverage for the migration domain core. The DuckDB
  * oracle covers the declared queries end-to-end; these specs pin the parts
  * the oracle can't see: parser edge cases, the resume invariant, the
  * markdown golden, and checkpoint/resume behavior. Property tests use
  * seeded random sampling (deterministic across runs). */
class MigrationSpec extends SparkSpec {

  // ---- .ace paragraph parser (UDF-1) ----

  test("parser: header + tag lines -> datoms") {
    val p = "Gene : \"WBGene1\"\nCGC_name \"abc-1\"\nRNASeq FPKM \"3.5\""
    assert(MigrationOps.parseAceParagraph(p) === Seq(
      AceDatom("Gene:WBGene1", "CGC_name", "abc-1", "assert"),
      AceDatom("Gene:WBGene1", "RNASeq.FPKM", "3.5", "assert")))
  }

  test("parser: -D prefix marks retraction") {
    val p = "Gene : \"G\"\n-D CGC_name \"old\""
    assert(MigrationOps.parseAceParagraph(p) ===
      Seq(AceDatom("Gene:G", "CGC_name", "old", "retract")))
  }

  test("parser: malformed lines skipped, not fatal") {
    val p = "Gene : \"G\"\nno quoted value here\nTag \"ok\""
    assert(MigrationOps.parseAceParagraph(p) ===
      Seq(AceDatom("Gene:G", "Tag", "ok", "assert")))
  }

  test("parser: paragraph without a valid header yields no datoms") {
    assert(MigrationOps.parseAceParagraph("junk\nTag \"v\"") === Seq.empty)
    assert(MigrationOps.parseAceParagraph("") === Seq.empty)
  }

  test("parser: empty value and multi-token paths") {
    val p = "CDS : \"c1\"\nA B C \"\""
    assert(MigrationOps.parseAceParagraph(p) ===
      Seq(AceDatom("CDS:c1", "A.B.C", "", "assert")))
  }

  test("edn logs: a glob reads the rows of its expanded file list; a glob " +
      "with no match still fails at analysis") {
    val dir = java.nio.file.Files.createTempDirectory("graft-edn")
    def gz(name: String, lines: String*): String = {
      val f = dir.resolve(name)
      val out = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(f))
      try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
      f.toString
    }
    val a = gz("a.edn.gz", """[:db/add "Gene:G1" :name "alpha" 100]""",
      "not a datom", """[:db/retract "Gene:G1" :name "alpha" 200]""")
    val b = gz("b.edn.gz", """[:db/add "Gene:G2" :name "beta" 150]""")
    gz("c.edn.txt.gz", """[:db/add "Gene:G3" :name "other" 300]""")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val globbed = MigrationOps.ednTextDatoms(spark, s"$dir/*.edn.gz")
    assert(rows(globbed) === rows(MigrationOps.ednTextDatoms(spark, a)
      .union(MigrationOps.ednTextDatoms(spark, b))))
    assert(rows(globbed) === Seq("[100,Gene:G1,name,alpha,assert]",
      "[150,Gene:G2,name,beta,assert]", "[200,Gene:G1,name,alpha,retract]"))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      MigrationOps.ednTextDatoms(spark, s"$dir/*.nomatch.gz"))
    assert(e.getCondition === "PATH_NOT_FOUND", e.getMessage)
  }

  // ---- latest-wins resume invariant (the reference's checkpoint/restart
  // correctness condition: replaying a prefix then the rest == replaying
  // the whole log). Holds because the Aggregator's merge is associative +
  // commutative and reduce agrees with merge. ----

  private def applyAll(b: LwBuf, ins: Seq[LwIn]): LwBuf =
    ins.foldLeft(b)(LatestWinsAgg.reduce)

  private def randomLog(rnd: scala.util.Random, n: Int): Seq[LwIn] =
    rnd.shuffle((0 until n).toList).map { ts =>   // distinct ts by design
      LwIn(rnd.alphanumeric.take(5).mkString,
        if (rnd.nextBoolean()) "assert" else "retract", ts.toLong)
    }

  /** Colliding-ts generator (ADVICE r4): tiny ts/value domains force the
    * equal-ts tiebreak branches (op rank, value compare) and null values
    * exercise the null ordering — none of which distinct-ts logs reach. */
  private def collidingLog(rnd: scala.util.Random, n: Int): Seq[LwIn] =
    (0 until n).map { _ =>
      LwIn(if (rnd.nextInt(5) == 0) null else s"v${rnd.nextInt(3)}",
        if (rnd.nextBoolean()) "assert" else "retract",
        rnd.nextInt(4).toLong)
    }

  private val generators: Seq[(String, (scala.util.Random, Int) => Seq[LwIn])] =
    Seq("distinct-ts" -> randomLog, "colliding-ts" -> collidingLog)

  test("latest-wins: split replay == whole replay (resume invariant)") {
    for ((gname, gen) <- generators) {
      val rnd = new scala.util.Random(42)
      for (_ <- 1 to 200) {
        val log = gen(rnd, rnd.nextInt(30))
        val k = if (log.isEmpty) 0 else rnd.nextInt(log.size + 1)
        val (prefix, rest) = log.splitAt(k)
        val whole = applyAll(LatestWinsAgg.zero, log)
        val resumed = applyAll(applyAll(LatestWinsAgg.zero, prefix), rest)
        assert(whole === resumed, s"generator $gname")
      }
    }
  }

  test("latest-wins: merge is commutative and order-insensitive") {
    for ((gname, gen) <- generators) {
      val rnd = new scala.util.Random(7)
      for (_ <- 1 to 200) {
        val log = gen(rnd, 1 + rnd.nextInt(20))
        val shuffled = rnd.shuffle(log.toList)
        assert(applyAll(LatestWinsAgg.zero, log) ===
          applyAll(LatestWinsAgg.zero, shuffled), s"generator $gname")
        val (a, b) = log.splitAt(rnd.nextInt(log.size + 1))
        val ba = applyAll(LatestWinsAgg.zero, a)
        val bb = applyAll(LatestWinsAgg.zero, b)
        assert(LatestWinsAgg.merge(ba, bb) === LatestWinsAgg.merge(bb, ba),
          s"generator $gname")
      }
    }
  }

  test("latest-wins: equal-ts tiebreaks — assert beats retract, binary value order") {
    // assert outranks retract at equal ts
    val b1 = applyAll(LatestWinsAgg.zero,
      Seq(LwIn("x", "retract", 5L), LwIn("y", "assert", 5L)))
    assert(b1.op === "assert" && b1.value === "y")
    // same outcome regardless of arrival order
    val b2 = applyAll(LatestWinsAgg.zero,
      Seq(LwIn("y", "assert", 5L), LwIn("x", "retract", 5L)))
    assert(b1 === b2)
    // value tiebreak is UTF-8 binary order (not UTF-16 code units): U+10000
    // (surrogate pair, first UTF-16 unit 0xD800) must BEAT U+FFFD, because
    // its UTF-8 bytes (F0 90 80 80) sort above U+FFFD's (EF BF BD)
    val supp = new String(Character.toChars(0x10000))
    val b3 = applyAll(LatestWinsAgg.zero,
      Seq(LwIn("\uFFFD", "assert", 1L), LwIn(supp, "assert", 1L)))
    assert(b3.value === supp, "UTF-8 binary order must pick the supplementary char")
    // null value loses to any non-null at equal ts/op, and never NPEs
    val b4 = applyAll(LatestWinsAgg.zero,
      Seq(LwIn(null, "assert", 1L), LwIn("a", "assert", 1L)))
    assert(b4.value === "a")
    val b5 = applyAll(LatestWinsAgg.zero,
      Seq(LwIn("a", "assert", 1L), LwIn(null, "assert", 1L)))
    assert(b5.value === "a")
    // a null-valued winner at a LATER ts does win (nullity != empty buffer)
    val b6 = applyAll(LatestWinsAgg.zero,
      Seq(LwIn("a", "assert", 1L), LwIn(null, "assert", 2L)))
    assert(b6.value === null && b6.set)
  }

  test("latest-wins: both DataFrame forms equal LatestWinsAgg folds") {
    val s = spark
    import s.implicits._
    // values whose UTF-8 order differs from their UTF-16 order, plus NULL
    val supp = new String(Character.toChars(0x10000))
    val utf8Log = (rnd: scala.util.Random, n: Int) => (0 until n).map(_ =>
      LwIn(Seq(null, "\uFFFD", supp, "a")(rnd.nextInt(4)),
        if (rnd.nextBoolean()) "assert" else "retract", rnd.nextInt(3).toLong))
    val rnd = new scala.util.Random(11)
    val logs = for ((gname, gen) <- generators :+ ("utf8" -> utf8Log);
                    k <- 0 until 60) yield (s"$gname:$k", gen(rnd, 1 + rnd.nextInt(12)))
    val df = logs.flatMap { case (e, log) =>
      log.map(l => (l.ts, e, "p", l.value, l.op)) }
      .toDF("ts", "e", "path", "value", "op")
    val one = MigrationOps.latestWins(df).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(one === logs.flatMap { case (e, log) =>
      val b = applyAll(LatestWinsAgg.zero, log)
      if (b.op == "assert") Some(e -> b.value) else None }.toMap)
    val many = MigrationOps.latestWinsMulti(df).collect()
      .map(r => (r.getString(0), r.getString(2))).toSet
    assert(many === logs.flatMap { case (e, log) =>
      log.groupBy(_.value).toSeq.collect { case (v, g)
        if applyAll(LatestWinsAgg.zero, g).op == "assert" => (e, v) } }.toSet)
  }

  // ---- cardinality-many patch surgery (mig3b) ----

  test("apply-patches multi: -D removes one value, others survive, new adds") {
    val state = MigrationOps.latestWinsMulti(MigrationOps.patchedLog(spark))
      .filter(org.apache.spark.sql.functions.col("path") === "Other_name")
      .collect().map(r => (r.getString(0), r.getString(2))).sorted
    // base asserted {cep-1, nop-1}; patch retracts cep-1, asserts yop-1
    assert(state === Array(
      ("Gene:WBGene00000001", "nop-1"),
      ("Gene:WBGene00000001", "yop-1")))
    // cardinality-ONE latest-wins on the same tag keeps exactly one winner
    val one = MigrationOps.importedState(spark)
      .filter(org.apache.spark.sql.functions.col("path") === "Other_name")
      .collect()
    assert(one.length === 1)
  }

  // ---- .ace dump writer round-trip layout (mig12) ----

  test("ace dump writer: per-class dirs, each re-parses to only its class") {
    SparkEntry.queries("mig12_ace_dump_roundtrip")(spark, Sf0001).count()
    val root = new java.io.File(Paths.sink("mig12_ace_dump"))
    val parts = root.listFiles().map(_.getName).filter(_.startsWith("cls=")).sorted
    // the final state holds Gene + Protein + CDS objects (Variation was
    // never imported; WBGene00000003 is fully retracted but others remain)
    assert(parts === Array("cls=CDS", "cls=Gene", "cls=Protein"),
      parts.mkString(","))
    // one class's dump re-parses to datoms of that class only
    val geneDatoms = MigrationOps.aceDatoms(spark, s"$root/cls=Gene")
      .collect()
    assert(geneDatoms.nonEmpty)
    assert(geneDatoms.forall(_.getString(0).startsWith("Gene:")))
  }

  // ---- markdown report golden (util.py:74-99 semantics) ----

  test("markdown report: golden render of the QA report") {
    val lines = MigrationOps.markdownReport(MigrationOps.qaReport(spark))
      .collect().map(_.getString(1))
    assert(lines === Array(
      "| class_name | n_ref | n_db | n_diff |",
      "| ---------- | ----- | ---- | ------ |",
      "|  Variation |     5 |    0 |     -5 |",
      "|       Gene |     3 |    2 |     -1 |",
      "|    Protein |     3 |    3 |      0 |",
      "|        CDS |     2 |    2 |      0 |"))
  }

  test("html report: golden render of the QA report document") {
    val lines = MigrationOps.htmlReport(MigrationOps.qaReport(spark), "QA report")
      .collect().map(_.getString(1))
    assert(lines === Array(
      "<html><body><h1>QA report</h1>",
      "<table>",
      "<thead><tr><th>class_name</th><th>n_ref</th><th>n_db</th><th>n_diff</th></tr></thead>",
      "<tbody>",
      "<tr><td>Variation</td><td>5</td><td>0</td><td>-5</td></tr>",
      "<tr><td>Gene</td><td>3</td><td>2</td><td>-1</td></tr>",
      "<tr><td>Protein</td><td>3</td><td>3</td><td>0</td></tr>",
      "<tr><td>CDS</td><td>2</td><td>2</td><td>0</td></tr>",
      "</tbody></table></body></html>"))
  }

  test("html report: &, <, > in title and cells are escaped") {
    val s = spark
    import s.implicits._
    val report = Seq(("a<b>&c", 2L), ("plain", 1L)).toDF("class_name", "n")
    val lines = MigrationOps.htmlReport(report, "R&D <report>")
      .collect().map(_.getString(1))
    assert(lines.head === "<html><body><h1>R&amp;D &lt;report&gt;</h1>")
    assert(lines.contains("<tr><td>a&lt;b&gt;&amp;c</td><td>2</td></tr>"))
    assert(lines.contains("<tr><td>plain</td><td>1</td></tr>"))
  }

  // ---- renderer parity: lines pinned from the Spark-side window renderers
  // the driver-side ones replaced. A NULL cell drops out of its line (the
  // old concat_ws skipped NULLs); widths count code points except the
  // header label's UTF-16 length; ties on the count sort by the cells in
  // UTF-8 order, NULL first. ----

  private def edgeReports: Seq[(String, org.apache.spark.sql.DataFrame)] = {
    val s = spark
    import s.implicits._
    val supp = new String(Character.toChars(0x10000))
    val emoji = new String(Character.toChars(0x1F600))
    Seq(
      "null cell" -> Seq[(String, Option[Long], Option[Double])](
        ("a", Some(2L), Some(1.5)), (null, Some(1L), Some(5.0)),
        ("b", Some(3L), None), ("c", Some(-4L), Some(1e10)))
        .toDF("class_name", "n_ref", "score"),
      "null count" -> Seq[(String, Option[Long])](("a", Some(1L)), ("b", None),
        ("c", Some(3L)), ("d", None)).toDF("class_name", "n"),
      "duplicates" -> Seq(("a", 1L), ("a", 1L), ("b", 2L), ("b", 2L), ("c", 2L))
        .toDF("class_name", "n"),
      "ties" -> Seq(("b", 1L), ("a", 1L), ("c", 1L), ("B", 1L), (null, 1L),
        ("z", 2L)).toDF("class_name", "n"),
      "supplementary" -> Seq(("\uFFFD", 1L), (supp, 1L), ("a", 1L),
        (supp + "x<", 22L)).toDF("class_name", s"n_$emoji"),
      "empty" -> Seq.empty[(String, Long)].toDF("class_name", "n"))
  }

  private def rendered(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).toSeq === (1L to rows.length.toLong))
    rows.map(_.getString(1)).toSeq
  }

  test("markdown report: NULLs, duplicates, ties, supplementary plane, empty") {
    val want = Map(
      "null cell" -> Seq(
        "| class_name | n_ref |  score |",
        "| ---------- | ----- | ------ |",
        "|          b |     3 |",
        "|          a |     2 |    1.5 |",
        "|     1 |    5.0 |",
        "|          c |    -4 | 1.0E10 |"),
      "null count" -> Seq(
        "| class_name | n |",
        "| ---------- | - |",
        "|          c | 3 |",
        "|          a | 1 |",
        "|          b |",
        "|          d |"),
      "duplicates" -> Seq(
        "| class_name | n |",
        "| ---------- | - |",
        "|          b | 2 |",
        "|          c | 2 |",
        "|          a | 1 |"),
      "ties" -> Seq(
        "| class_name | n |",
        "| ---------- | - |",
        "|          z | 2 |",
        "| 1 |",
        "|          B | 1 |",
        "|          a | 1 |",
        "|          b | 1 |",
        "|          c | 1 |"),
      "supplementary" -> Seq(
        "| class_name |  n_\uD83D\uDE00 |",
        "| ---------- | ---- |",
        "|        \uD800\uDC00x< |   22 |",
        "|          a |    1 |",
        "|          \uFFFD |    1 |",
        "|          \uD800\uDC00 |    1 |"),
      "empty" -> Seq(
        "| class_name | n |",
        "| ---------- | - |"))
    for ((name, report) <- edgeReports)
      assert(rendered(MigrationOps.markdownReport(report)) === want(name), name)
  }

  test("html report: NULLs, duplicates, ties, supplementary plane, empty") {
    val head = (cols: String) => Seq("<html><body><h1>T&lt;&amp;&gt;</h1>",
      "<table>", s"<thead><tr>$cols</tr></thead>", "<tbody>")
    val tail = "</tbody></table></body></html>"
    val want = Map(
      "null cell" -> (head("<th>class_name</th><th>n_ref</th><th>score</th>") ++ Seq(
        "<tr><td>b</td><td>3</td></tr>",
        "<tr><td>a</td><td>2</td><td>1.5</td></tr>",
        "<tr><td>1</td><td>5.0</td></tr>",
        "<tr><td>c</td><td>-4</td><td>1.0E10</td></tr>", tail)),
      "null count" -> (head("<th>class_name</th><th>n</th>") ++ Seq(
        "<tr><td>c</td><td>3</td></tr>",
        "<tr><td>a</td><td>1</td></tr>",
        "<tr><td>b</td></tr>",
        "<tr><td>d</td></tr>", tail)),
      "duplicates" -> (head("<th>class_name</th><th>n</th>") ++ Seq(
        "<tr><td>b</td><td>2</td></tr>",
        "<tr><td>c</td><td>2</td></tr>",
        "<tr><td>a</td><td>1</td></tr>", tail)),
      "ties" -> (head("<th>class_name</th><th>n</th>") ++ Seq(
        "<tr><td>z</td><td>2</td></tr>",
        "<tr><td>1</td></tr>",
        "<tr><td>B</td><td>1</td></tr>",
        "<tr><td>a</td><td>1</td></tr>",
        "<tr><td>b</td><td>1</td></tr>",
        "<tr><td>c</td><td>1</td></tr>", tail)),
      "supplementary" -> (head("<th>class_name</th><th>n_\uD83D\uDE00</th>") ++ Seq(
        "<tr><td>\uD800\uDC00x&lt;</td><td>22</td></tr>",
        "<tr><td>a</td><td>1</td></tr>",
        "<tr><td>\uFFFD</td><td>1</td></tr>",
        "<tr><td>\uD800\uDC00</td><td>1</td></tr>", tail)),
      "empty" -> (head("<th>class_name</th><th>n</th>") :+ tail))
    for ((name, report) <- edgeReports)
      assert(rendered(MigrationOps.htmlReport(report, "T<&>")) === want(name), name)
  }

  // ---- checkpoint/resume runner (runcommand.py:389-409 semantics) ----

  test("pipeline runner: completed steps skip on resume; failed step retries") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    val runner = new MigrationOps.PipelineRunner(dir)
    var fail = true
    var step2Runs = 0
    val steps = Seq(
      Step("ok-step", _ => ()),
      Step("flaky-step", _ => {
        step2Runs += 1
        if (fail) sys.error("transient failure")
      }))
    // first run: step 1 completes, step 2 throws -> no marker written
    intercept[RuntimeException](runner.run(spark, steps))
    fail = false
    // resume: step 1 skipped, step 2 re-runs and completes
    val second = runner.run(spark, steps)
    assert(second === Seq((0, "ok-step", "skipped"), (1, "flaky-step", "ran")))
    assert(step2Runs === 2)
    // idempotent third run: everything skips
    assert(runner.run(spark, steps).forall(_._3 == "skipped"))
  }

  test("pipeline runner: step observer fires in lifecycle order, incl. " +
      "failure-before-rethrow and resume-skip (notifications.py:75-82)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ck-obs").toString
    val events = scala.collection.mutable.ArrayBuffer[String]()
    val obs = new MigrationOps.StepObserver {
      override def onStart(i: Int, n: String): Unit = events += s"start:$i:$n"
      override def onSuccess(i: Int, n: String): Unit = events += s"ok:$i:$n"
      override def onFailure(i: Int, n: String, e: Throwable): Unit =
        events += s"fail:$i:$n:${e.getMessage}"
      override def onSkip(i: Int, n: String): Unit = events += s"skip:$i:$n"
    }
    val runner = new MigrationOps.PipelineRunner(dir, obs)
    var fail = true
    val steps = Seq(
      Step("load", _ => ()),
      Step("flaky", _ => if (fail) sys.error("boom")))
    intercept[RuntimeException](runner.run(spark, steps))
    assert(events.toSeq === Seq(
      "start:0:load", "ok:0:load", "start:1:flaky", "fail:1:flaky:boom"),
      "onFailure must fire before the error propagates; no marker written")
    events.clear()
    fail = false
    runner.run(spark, steps)
    assert(events.toSeq === Seq(
      "skip:0:load", "start:1:flaky", "ok:1:flaky"),
      "resume must report the checkpointed step via onSkip, then retry " +
        "the failed one")
  }

  test("pipeline runner: reset-to-step re-runs that step and later only") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ck2").toString
    val runner = new MigrationOps.PipelineRunner(dir)
    val steps = Seq(Step("s0", _ => ()), Step("s1", _ => ()), Step("s2", _ => ()))
    assert(runner.run(spark, steps).forall(_._3 == "ran"))
    runner.resetToStep(1)
    assert(runner.run(spark, steps).map(_._3) ===
      Seq("skipped", "ran", "ran"))
  }

  test("pipeline runner: foreign .done files are ignored, not parsed or deleted") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ck3").toString
    val runner = new MigrationOps.PipelineRunner(dir)
    val steps = Seq(Step("s0", _ => ()), Step("s1", _ => ()))
    assert(runner.run(spark, steps).forall(_._3 == "ran"))
    // a marker not written by this runner must not break reset-to-step
    // (stripPrefix+toInt on "all.done" would throw NumberFormatException)
    val foreign = new java.io.File(dir, "all.done")
    assert(foreign.createNewFile())
    runner.resetToStep(1)
    assert(runner.run(spark, steps).map(_._3) === Seq("skipped", "ran"))
    assert(foreign.exists(), "foreign file must survive resetToStep")
    runner.reset()
    assert(foreign.exists(), "foreign file must survive reset")
    assert(runner.run(spark, steps).forall(_._3 == "ran"))
  }
}
