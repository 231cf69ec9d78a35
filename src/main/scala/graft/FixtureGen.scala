package graft

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

/** Deterministic generator for the committed text fixtures under
  * the checkout's `fixtures/` ([[Paths.fixture]]; read by Scans,
  * MigrationOps and their DuckDB oracles). Run once via `sbt "runMain graft.FixtureGen"`; output is
  * byte-stable so the files can live in git.
  *
  * Formats modeled on the reference:
  *  - `.ace` dump: blank-line-separated paragraphs, `Class : "Ident"` header,
  *    `Tag [Subtag...] "value"` body lines, `-D` prefix = retraction
  *    (reference runcommand.py:134-150 dump shape).
  *  - QUOTE_ALL CSV dialect (reference pseudoace.py:147-153).
  *  - Per-file EDN-ish import logs with a total timestamp order
  *    (reference pseudoace.py:87-102 sort-then-import contract).
  */
object FixtureGen {

  // ---- shared fixture model (single source of truth for .ace + goldens) ---

  /** (class, ident, Seq[(path tokens, value, op)]) */
  type AceObj = (String, String, Seq[(Seq[String], String, String)])

  val baseObjs: Seq[AceObj] = Seq(
    ("Gene", "WBGene00000001", Seq(
      (Seq("CGC_name"), "aap-1", "assert"),
      (Seq("Sequence"), "Y110A7A.10", "assert"),
      // Other_name is a multi-valued ACeDB tag: two concurrent values
      (Seq("Other_name"), "cep-1", "assert"),
      (Seq("Other_name"), "nop-1", "assert"),
      (Seq("RNASeq", "FPKM"), "3.5", "assert"))),
    ("Gene", "WBGene00000002", Seq(
      (Seq("CGC_name"), "abc-1", "assert"),
      (Seq("Sequence"), "F54D5.1", "assert"))),
    ("Gene", "WBGene00000003", Seq(
      (Seq("CGC_name"), "abl-1", "assert"),
      (Seq("Sequence"), "M79.1", "assert"))),
    ("Protein", "WP00000101", Seq(
      (Seq("Peptide"), "MSDNE", "assert"),
      (Seq("Species"), "Caenorhabditis elegans", "assert"))),
    ("Protein", "WP00000102", Seq(
      (Seq("Peptide"), "MKVLA", "assert"),
      (Seq("Species"), "Caenorhabditis elegans", "assert"))),
    ("CDS", "Y110A7A.10", Seq(
      (Seq("Method"), "curated", "assert"),
      (Seq("Gene_ref"), "WBGene00000001", "assert"))),
    ("CDS", "F54D5.1", Seq(
      (Seq("Method"), "curated", "assert"),
      (Seq("Gene_ref"), "WBGene00000002", "assert")))
  )

  /** Patch dump: one updated value, one fully-retracted object, one new
    * object, and a `-D value` retract of ONE value of a multi-valued tag —
    * exercising update / delete / insert / multi-value surgery in
    * apply-patches. */
  val patchObjs: Seq[AceObj] = Seq(
    ("Gene", "WBGene00000001", Seq(
      // retract exactly one of the two Other_name values, add a third
      (Seq("Other_name"), "cep-1", "retract"),
      (Seq("Other_name"), "yop-1", "assert"))),
    ("Gene", "WBGene00000002", Seq(
      (Seq("CGC_name"), "abc-1.2", "assert"))),
    ("Gene", "WBGene00000003", Seq(
      (Seq("CGC_name"), "abl-1", "retract"),
      (Seq("Sequence"), "M79.1", "retract"))),
    ("Protein", "WP00000103", Seq(
      (Seq("Peptide"), "MAAAT", "assert"),
      (Seq("Species"), "Caenorhabditis elegans", "assert")))
  )

  // ---- writers ------------------------------------------------------------

  private def write(path: String, content: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8))
    try w.write(content) finally w.close()
  }

  private def writeGz(path: String, content: String): Unit = {
    val f = new File(path)
    f.getParentFile.mkdirs()
    // (Java's GZIPOutputStream writes MTIME=0 → byte-stable output for git)
    val out = new GZIPOutputStream(new FileOutputStream(f))
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def aceDump(objs: Seq[AceObj]): String =
    objs.map { case (cls, ident, datoms) =>
      (s"""$cls : "$ident"""" +: datoms.map { case (pathToks, v, op) =>
        val prefix = if (op == "retract") "-D " else ""
        s"""$prefix${pathToks.mkString(" ")} "$v""""
      }).mkString("\n")
    }.mkString("", "\n\n", "\n")

  /** QUOTE_ALL csv (pseudoace.py:147-148 dialect). */
  private def csvQuoteAll(header: Seq[String], rows: Seq[Seq[String]]): String =
    (header +: rows)
      .map(_.map(c => "\"" + c.replace("\"", "\"\"") + "\"").mkString(","))
      .mkString("", "\n", "\n")

  /** Scalar XXH64 reference (Yann Collet's public-domain xxHash spec,
    * github.com/Cyan4973/xxHash), written independently of Spark's
    * implementation so the func_hash_xx64 golden is a genuine dual: the
    * DuckDB oracle reads hashes THIS produced, Spark computes its own —
    * agreement pins seed-42 UTF-8-byte XXH64 end to end. Public so
    * GoldenValueSpec can also pin it against Spark's xxhash64 directly. */
  def xxh64Ref(bytes: Array[Byte], seed: Long): Long = {
    import java.lang.Long.rotateLeft
    val P1 = -7046029288634856825L // 0x9E3779B185EBCA87
    val P2 = -4417276706812531889L // 0xC2B2AE3D27D4EB4F
    val P3 = 1609587929392839161L  // 0x165667B19E3779F9
    val P4 = -8796714831421723037L // 0x85EBCA77C2B2AE63
    val P5 = 2870177450012600261L  // 0x27D4EB2F165667C5
    val len = bytes.length
    def u64(o: Int): Long = {
      var v = 0L; var j = 7
      while (j >= 0) { v = (v << 8) | (bytes(o + j) & 0xffL); j -= 1 }
      v
    }
    def u32(o: Int): Long = {
      var v = 0L; var j = 3
      while (j >= 0) { v = (v << 8) | (bytes(o + j) & 0xffL); j -= 1 }
      v
    }
    var i = 0
    var h =
      if (len >= 32) {
        var v1 = seed + P1 + P2; var v2 = seed + P2
        var v3 = seed; var v4 = seed - P1
        while (i + 32 <= len) {
          v1 = rotateLeft(v1 + u64(i) * P2, 31) * P1
          v2 = rotateLeft(v2 + u64(i + 8) * P2, 31) * P1
          v3 = rotateLeft(v3 + u64(i + 16) * P2, 31) * P1
          v4 = rotateLeft(v4 + u64(i + 24) * P2, 31) * P1
          i += 32
        }
        var x = rotateLeft(v1, 1) + rotateLeft(v2, 7) +
          rotateLeft(v3, 12) + rotateLeft(v4, 18)
        def merge(x0: Long, v: Long): Long =
          (x0 ^ (rotateLeft(v * P2, 31) * P1)) * P1 + P4
        x = merge(x, v1); x = merge(x, v2)
        x = merge(x, v3); x = merge(x, v4)
        x
      } else seed + P5
    h += len
    while (i + 8 <= len) {
      h ^= rotateLeft(u64(i) * P2, 31) * P1
      h = rotateLeft(h, 27) * P1 + P4
      i += 8
    }
    if (i + 4 <= len) {
      h ^= u32(i) * P1
      h = rotateLeft(h, 23) * P2 + P3
      i += 4
    }
    while (i < len) {
      h ^= (bytes(i) & 0xffL) * P5
      h = rotateLeft(h, 11) * P1
      i += 1
    }
    h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^= h >>> 32
    h
  }

  def main(args: Array[String]): Unit = {
    // scan2: gzipped plain-text lines
    writeGz(Paths.fixture("lines.txt.gz"),
      Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
        "golf", "hotel").mkString("", "\n", "\n"))

    // scan3/mig1: .ace dumps
    write(Paths.fixture("sample.ace"), aceDump(baseObjs))
    write(Paths.fixture("patches.ace"), aceDump(patchObjs))

    // golden datoms for both dumps (parser ground truth):
    // e = "Class:Ident", path = tokens joined with '.', op, src
    val goldenRows =
      (baseObjs.map(o => (o, "base")) ++ patchObjs.map(o => (o, "patch")))
        .flatMap { case ((cls, ident, datoms), src) =>
          datoms.map { case (pathToks, v, op) =>
            Seq(s"$cls:$ident", pathToks.mkString("."), v, op, src)
          }
        }
    write(Paths.fixture("ace_datoms_golden.csv"),
      csvQuoteAll(Seq("e", "path", "value", "op", "src"), goldenRows))

    // mig7/mig7b: golden renders of the fixture QA report, hand-modeled
    // from the fixture object counts (Variation 5/0, Gene 3/2, Protein
    // 3/3, CDS 2/2 — desc by n_ref, then class_name) — the same dual
    // discipline as ace_datoms_golden: written from the MODEL, not by
    // running the renderer, so the DuckDB oracle is an independent pin.
    // MigrationSpec asserts the identical strings inline.
    val qaRows = Seq(
      ("Variation", 5, 0), ("Gene", 3, 2), ("Protein", 3, 3), ("CDS", 2, 2))
    val mdLines =
      Seq("| class_name | n_ref | n_db | n_diff |",
        "| ---------- | ----- | ---- | ------ |") ++
        qaRows.map { case (c, r, db) =>
          f"| ${c}%10s | ${r}%5d | ${db}%4d | ${db - r}%6d |" }
    write(Paths.fixture("mig7_markdown_golden.csv"),
      csvQuoteAll(Seq("line_no", "line"),
        mdLines.zipWithIndex.map { case (l, i) => Seq((i + 1).toString, l) }))
    val htmlLines =
      Seq("<html><body><h1>QA report</h1>",
        "<table>",
        "<thead><tr><th>class_name</th><th>n_ref</th><th>n_db</th>" +
          "<th>n_diff</th></tr></thead>",
        "<tbody>") ++
        qaRows.map { case (c, r, db) =>
          s"<tr><td>$c</td><td>$r</td><td>$db</td><td>${db - r}</td></tr>" } ++
        Seq("</tbody></table></body></html>")
    write(Paths.fixture("mig7b_html_golden.csv"),
      csvQuoteAll(Seq("line_no", "line"),
        htmlLines.zipWithIndex.map { case (l, i) => Seq((i + 1).toString, l) }))

    // mig8: the resume ledger, hand-modeled from the checkpoint/resume
    // CONTRACT (reference runcommand.py:349-409: marker per completed
    // step, re-run skips marked steps) — NOT by running PipelineRunner,
    // so the DuckDB oracle is an independent pin: fresh dir → both steps
    // "ran"; immediate second pass → both markers present → "skipped".
    write(Paths.fixture("mig8_ledger_golden.csv"),
      csvQuoteAll(Seq("pass", "step", "name", "status"), Seq(
        Seq("0", "0", "import", "ran"),
        Seq("0", "1", "qa", "ran"),
        Seq("1", "0", "import", "skipped"),
        Seq("1", "1", "qa", "skipped"))))

    // func_hash_xx64: (c_custkey, xxh64(c_name)) for every custkey up to
    // the sf0.1 corpus, from the INDEPENDENT scalar reference above.
    // c_name is the deterministic 'Customer#%09d' render of the key at
    // every SF (TESTDATA generator contract), so one committed golden
    // serves all gate scales; a table whose name deviated from that
    // pattern hash-mismatches the oracle join — exactly the dual's job.
    write(Paths.fixture("xxhash64_customer_golden.csv"),
      csvQuoteAll(Seq("c_custkey", "name_xx64"),
        (0 until 15000).map { k =>
          val name = f"Customer#$k%09d"
          Seq(k.toString,
            xxh64Ref(name.getBytes(StandardCharsets.UTF_8), 42L).toString)
        }))

    // scan4: QUOTE_ALL QA-report-shaped csv
    write(Paths.fixture("qa_report.csv"),
      csvQuoteAll(Seq("class_name", "ident", "n_ref", "n_db"), Seq(
        Seq("CDS", "cds/id", "2", "2"),
        Seq("Gene", "gene/id", "3", "2"),
        Seq("Protein", "protein/id", "3", "3"),
        Seq("Variation", "variation/id", "5", "0"))))

    // mig4/mig5: the ACeDB id-catalog (expected per-class object counts)
    write(Paths.fixture("id_catalog.csv"),
      csvQuoteAll(Seq("class_name", "n_ref"), Seq(
        Seq("CDS", "2"),
        Seq("Gene", "3"),
        Seq("Protein", "3"),
        Seq("Variation", "5"))))

    // scan9: CSV with deliberately corrupt rows — three type errors (int,
    // double, double). No quotes/tabs anywhere so a single-column tab
    // read counts raw lines on both engines; no arity errors because
    // Spark (pad/flag) and DuckDB (reject) disagree on those rows'
    // visibility, while type errors converge under a field-null filter.
    write(Paths.fixture("messy.csv"),
      Seq("id,qty,price,name",
        "1,10,9.99,alpha",
        "2,5,1.50,bravo",
        "3,8,12.00,charlie",
        "4,twelve,3.25,delta",
        "5,2,0.75,echo",
        "6,1,5.00,foxtrot",
        "7,3,4.4.4,golf",
        "8,9,oops,hotel",
        "9,6,8.10,india",
        "10,4,7.77,juliet").mkString("", "\n", "\n"))

    // scan5: multi-file dir + a file the glob must skip
    write(Paths.fixture("multi/part-0.txt"), "m0-a\nm0-b\nm0-c\n")
    write(Paths.fixture("multi/part-1.txt"), "m1-a\nm1-b\n")
    write(Paths.fixture("multi/part-2.txt"), "m2-a\nm2-b\nm2-c\nm2-d\n")
    write(Paths.fixture("multi/ignore.dat"), "must-not-be-read\n")

    // mig2c: the same changelog as real EDN log lines
    // [op e path value ts] — one datom per line, gzip like the
    // reference's *.edn.gz dumps (pseudoace.py:91).
    val ednRows = Seq(
      ("100", "Gene:G1", "name", "alpha", "assert"),
      ("200", "Gene:G1", "name", "beta", "assert"),
      ("150", "Gene:G2", "name", "gamma", "assert"),
      ("300", "Gene:G2", "name", "gamma", "retract"),
      ("250", "Gene:G3", "status", "live", "assert"),
      ("400", "Gene:G2", "name", "delta", "assert"),
      ("175", "Gene:G1", "desc", "first", "assert"),
      ("500", "Gene:G3", "status", "dead", "assert"),
      ("120", "Gene:G4", "name", "eps", "assert"),
      ("600", "Gene:G4", "name", "eps", "retract"))
    writeGz(Paths.fixture("edn/edn_log.edn.gz"),
      ednRows.map { case (ts, e, path, v, op) =>
        val kw = if (op == "assert") ":db/add" else ":db/retract"
        s"""[$kw "$e" :$path "$v" $ts]"""
      }.mkString("", "\n", "\n"))

    // mig2: per-file import logs; global order is BY TS ACROSS FILES
    // (the reference sorts each EDN log then imports in timestamp order).
    write(Paths.fixture("edn/edn_log_a.csv"),
      csvQuoteAll(Seq("ts", "e", "path", "value", "op"), Seq(
        Seq("100", "Gene:G1", "name", "alpha", "assert"),
        Seq("200", "Gene:G1", "name", "beta", "assert"),
        Seq("150", "Gene:G2", "name", "gamma", "assert"),
        Seq("300", "Gene:G2", "name", "gamma", "retract"),
        Seq("250", "Gene:G3", "status", "live", "assert"))))
    write(Paths.fixture("edn/edn_log_b.csv"),
      csvQuoteAll(Seq("ts", "e", "path", "value", "op"), Seq(
        Seq("400", "Gene:G2", "name", "delta", "assert"),
        Seq("175", "Gene:G1", "desc", "first", "assert"),
        Seq("500", "Gene:G3", "status", "dead", "assert"),
        Seq("120", "Gene:G4", "name", "eps", "assert"),
        Seq("600", "Gene:G4", "name", "eps", "retract"))))

    // scan8: opaque binary payloads for the binaryFile source. Bytes are
    // deterministic ALPHANUMERIC ASCII so the DuckDB oracle can md5 them
    // via a lossless VARCHAR cast (DuckDB 1.0 has no md5(BLOB), and its
    // blob→varchar cast escapes backslashes); the Spark side hashes the
    // raw bytes — identical input either way.
    new File(Paths.fixture("blobs")).mkdirs()
    def blobBytes(i: Int): Array[Byte] = {
      val alphabet =
        "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
      val sb = new StringBuilder(s"BLOB$i|")
      var x: Long = 1234567L + i
      while (sb.length < 256 + 32 * i) {
        x = (x * 48271L) % 2147483647L
        sb.append(alphabet((x % 62).toInt))
      }
      sb.toString.getBytes(StandardCharsets.US_ASCII)
    }
    for (i <- 0 until 3) {
      val fos = new FileOutputStream(Paths.fixture(s"blobs/blob_$i.bin"))
      fos.write(blobBytes(i)); fos.close()
    }
    // the pathGlobFilter must skip this one
    write(Paths.fixture("blobs/ignore.txt"), "must-not-be-read\n")

    // scan14: REAL PNG files (r12) — six genuine ImageIO-encoded images
    // whose dimensions follow a pinned formula (w = 8+5i, h = 8+3i,
    // gradient seed i), so the scan14 header-parse oracle recomputes the
    // ground truth from the file NAME without needing a PNG decoder.
    // Compressed bytes are encoder-version-dependent, so nothing pins the
    // byte size — only the parsed header fields, which the PNG spec fixes.
    new File(Paths.fixture("pngs")).mkdirs()
    for (i <- 0 until 6) {
      val fos = new FileOutputStream(Paths.fixture(s"pngs/img_$i.png"))
      fos.write(graft.multimodal.MultimodalOps
        .encodePngBytes(i.toLong, 8 + 5 * i, 8 + 3 * i))
      fos.close()
    }
    write(Paths.fixture("pngs/ignore.txt"), "must-not-be-read\n")

    // scan11: XML catalog for Spark 4's built-in XML source. Exercises
    // attributes (id/kind), nested element arrays (tags/tag), an XML
    // entity escape (&amp;), an EMPTY child element (<tags/>) and an
    // ABSENT one — the golden CSV mirror carries the parsed truth the
    // DuckDB oracle reads (the scan3 golden-dual pattern).
    write(Paths.fixture("media_catalog.xml"),
      """<catalog>
        |  <media id="1" kind="image">
        |    <title>sunrise</title>
        |    <bytes>2048</bytes>
        |    <tags><tag>nature</tag><tag>sky</tag></tags>
        |  </media>
        |  <media id="2" kind="audio">
        |    <title>rainfall</title>
        |    <bytes>96000</bytes>
        |    <tags><tag>ambient</tag></tags>
        |  </media>
        |  <media id="3" kind="image">
        |    <title>skyline &amp; harbor</title>
        |    <bytes>4096</bytes>
        |    <tags><tag>city</tag><tag>night</tag><tag>water</tag></tags>
        |  </media>
        |  <media id="4" kind="video">
        |    <title>drone pass</title>
        |    <bytes>1048576</bytes>
        |    <tags/>
        |  </media>
        |  <media id="5" kind="image">
        |    <title>meadow</title>
        |    <bytes>3072</bytes>
        |  </media>
        |</catalog>
        |""".stripMargin)
    write(Paths.fixture("xml_golden.csv"),
      csvQuoteAll(Seq("id", "kind", "title", "bytes", "n_tags"), Seq(
        Seq("1", "image", "sunrise", "2048", "2"),
        Seq("2", "audio", "rainfall", "96000", "1"),
        Seq("3", "image", "skyline & harbor", "4096", "3"),
        Seq("4", "video", "drone pass", "1048576", "0"),
        Seq("5", "image", "meadow", "3072", "0"))))

    // llm7u/llm4cu/llm10u/llm23u: unicode/multilingual document tier
    // (VERDICT r18 item 7). The synthetic lake is ASCII-only, so the text
    // operators were never exercised on CJK, RTL, combining marks, emoji,
    // bidi controls, or zero-width chars — each row below pins one of
    // those surfaces, with PII planted INSIDE non-Latin context and messy
    // URLs carrying unicode hosts/paths. Deterministic and committed; the
    // DuckDB oracles read this same file, so every value is an
    // engine-parity pin (Java regex vs RE2, UTF8String vs utf8proc).
    write(Paths.fixture("unicode_docs.csv"),
      csvQuoteAll(Seq("doc_id", "text", "url"), unicodeDocs))

    println(s"fixtures written under ${Paths.fixture("")}")
  }

  /** (doc_id, text, url) rows for unicode_docs.csv. \u escapes are used
    * for anything invisible (bidi marks, ZWSP, ZWJ, combining marks) so
    * the generator source stays reviewable. */
  val unicodeDocs: Seq[Seq[String]] = Seq(
    // plain English with ' the ' markers (llm7's ASCII heuristic ground)
    Seq("1", "the cat sat on the mat and the dog logged data today",
      "HTTPS://WWW.Example.COM/Docs/A/?utm_source=rss&q=1#top"),
    // English + planted PII (email, IP, card)
    Seq("2", "please contact aria.lee@example.com or 192.168.10.7 " +
      "card 4111111111111111 for details",
      "http://example.com/a/"),
    // Chinese (Han only, no spaces)
    Seq("3", "今天天气很好我们去公园散步吧这是中文文本",
      "https://example.com/a?utm_source=z"),
    // Chinese + ASCII email embedded (must redact) + CJK-domain email
    // (must NOT match: the domain class is ASCII-only in BOTH engines)
    Seq("4", "联系 zhang.wei@example.cn 谢谢 或者 support@例子.com 再见",
      "HTTPS://WWW.example.com/a/"),
    // Japanese: kanji + hiragana + katakana
    Seq("5", "これは日本語のテキストですカタカナもあります",
      "https://例え.jp/ページ/?a=1&utm_x=9"),
    // Korean hangul with spaces
    Seq("6", "안녕하세요 한국어 텍스트 입니다",
      "https://sub.EXAMPLE.com/путь/?utm_id=9&ref=home"),
    // Arabic (RTL) + Arabic-Indic digits ٠١٢٣ (must NOT redact as card:
    // \d is ASCII-only in Java-default and RE2 alike)
    Seq("7", "هذا نص باللغة العربية ورقم ٠١٢٣٤٥٦٧٨٩٠١٢٣ للاختبار",
      "HTTP://www.test.org/?utm_campaign=a"),
    // Hebrew (RTL) + planted IP inside RTL context
    Seq("8", "שרת 10.0.0.1 זמין בדיקה",
      "https://test.org/x/y/"),
    // Russian (Cyrillic)
    Seq("9", "это русский текст для проверки системы",
      "https://www.ТЕСТ.рф/Путь/?utm_a=1&b=2"),
    // Greek
    Seq("10", "αυτό είναι ελληνικό κείμενο για δοκιμή",
      "https://example.com/b"),
    // Hindi (Devanagari)
    Seq("11", "यह हिंदी पाठ है और परीक्षण के लिए है",
      "https://example.com/b/"),
    // Thai (no spaces at all)
    Seq("12", "นี่คือข้อความภาษาไทยสำหรับการทดสอบ",
      "https://example.com/b?utm_source=x&utm_id=2"),
    // NFC: precomposed é/ï (U+00E9, U+00EF)
    Seq("13", "café résumé naïve déjà",
      "https://nfc.example.com/"),
    // NFD: SAME visible text, decomposed e+U+0301 etc — code-point counts
    // must DIFFER from row 13 (neither engine may silently normalize)
    Seq("14", "café résumé naïve déjà",
      "https://nfd.example.com/"),
    // emoji: BMP-external code points (each 1 code point, 2 UTF-16 units)
    Seq("15", "I love pizza 🍕 and tacos 🌮 so much 😀😀",
      "https://emoji.example.com/?utm_z=1"),
    // ZWJ family sequence (7 code points) + skin-tone modifier pair
    Seq("16", "👨\u200D👩\u200D👧\u200D👦 family and 👍🏽 thumbs",
      "https://zwj.example.com/p/"),
    // mixed script + email + number run
    Seq("17", "Visit 北京 next week, email li.na@example.com, 123 items",
      "https://mixed.example.com/p?utm_source=a&keep=1"),
    // Turkish dotted capital İ (U+0130) — kept OUT of urls (lower() on
    // İ is the one case ICU engines may disagree on)
    Seq("18", "İstanbul'da yaşıyorum ve çalışıyorum",
      "https://tr.example.com/"),
    // German ß and umlauts
    Seq("19", "die Straße ist größer als die Brücke",
      "https://de.example.com/straße/"),
    // bidi control marks (RLM U+200F, LRM U+200E) between scripts
    Seq("20", "עברית \u200F mixed \u200E english",
      "https://bidi.example.com/"),
    // zero-width space U+200B: NOT whitespace to \s in Java or RE2 —
    // "zero​width​space" must stay ONE whitespace-token
    Seq("21", "zero\u200Bwidth\u200Bspace joined and plain words",
      "https://zwsp.example.com/"))
}
