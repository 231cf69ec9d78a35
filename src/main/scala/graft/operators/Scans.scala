package graft.operators

import graft.{Det, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.1: scans / sources / sinks.
  *
  * Text-format fixtures live in /root/repo/fixtures (committed; see
  * FixtureGen). Sink queries write under target/tmp-sinks and read the
  * result back, so the declared DataFrame both exercises the sink AND is
  * oracle-checkable against the logical query.
  *
  * Scale notes: gz text is non-splittable — at 100 TB ingest the per-file
  * parallelism model is many-files-few-GB-each (exactly the reference's
  * per-class dump layout, runcommand.py:137), so `spark.read.text(dir)`
  * schedules one task per file; paragraph records use a custom lineSep.
  */
object Scans extends QueryModule {

  val FixturesDir = "/root/repo/fixtures"
  val SinkDir = "/root/repo/target/tmp-sinks"

  /** Collision-resistant short tag for a data-dir path, used to namespace
    * on-disk artifacts (bucketed tables, versioned stores) per lake.
    * String.hashCode collides too easily — two dirs with colliding codes
    * would memoize separately but WRITE THE SAME PATH, cross-contaminating
    * lakes (the failure ivm2/join11's tagging exists to prevent). */
  def dirTag(d: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString

  /** SINK-5's write target: s3a:// when the object-store env contract is
    * present (SPARK_GRAFT_S3A=1 + SPARK_GRAFT_S3_BUCKET; endpoint/creds
    * resolve via Graft.session's s3a conf and the standard provider
    * chain), file:// otherwise. One code path, scheme-selected — the
    * point of Hadoop-FS URIs. */
  def sink5Target: String =
    if (sys.env.get("SPARK_GRAFT_S3A").contains("1"))
      sys.env.get("SPARK_GRAFT_S3_BUCKET")
        .map(b => s"s3a://$b/graft/sink5_uri")
        .getOrElse(s"file://$SinkDir/sink5_uri")
    else s"file://$SinkDir/sink5_uri"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // SCAN-1: parquet scan with pushed filter + pruned columns (the explain
    // test asserts PushedFilters + ReadSchema contain exactly these).
    "scan1_parquet" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),

    // SCAN-2: gzipped line text (codec transparent to spark.read.text)
    "scan2_gz_text" -> ((s, _) =>
      s.read.text(s"$FixturesDir/lines.txt.gz")
        .select(col("value").as("line"), length(col("value")).as("n"))
        .orderBy("line")),

    // SCAN-3: blank-line-delimited paragraph records (.ace dump shape,
    // runcommand.py:134-150): custom lineSep, then header split.
    "scan3_ace_paragraphs" -> ((s, _) =>
      s.read.option("lineSep", "\n\n").text(s"$FixturesDir/sample.ace")
        .filter(trim(col("value")) =!= "")
        .select(
          regexp_extract(col("value"), "^(\\S+) : ", 1).as("cls"),
          size(split(col("value"), "\n")).as("n_lines"))
        .groupBy("cls").agg(count(lit(1)).as("n_objects"))
        .orderBy("cls")),

    // SCAN-4: quoted-dialect CSV (QUOTE_ALL, pseudoace.py:147-153)
    "scan4_csv_quoted" -> ((s, _) =>
      s.read
        .option("header", "true").option("quote", "\"")
        .schema(StructType(Seq(
          StructField("class_name", StringType),
          StructField("ident", StringType),
          StructField("n_ref", IntegerType),
          StructField("n_db", IntegerType))))
        .csv(s"$FixturesDir/qa_report.csv")
        .orderBy("class_name")),

    // SCAN-5: regex/glob-filtered directory ingest (util.py:222-241)
    "scan5_glob" -> ((s, _) =>
      s.read.option("pathGlobFilter", "part-*.txt")
        .text(s"$FixturesDir/multi")
        .select(
          regexp_extract(input_file_name(), "([^/]+)$", 1).as("fname"),
          col("value").as("line"))
        .groupBy("fname").agg(count(lit(1)).as("n_lines"))
        .orderBy("fname")),

    // SCAN-10: arbitrary-REGEX file selection over a directory listing
    // (util.py:222-241 — the reference lists a remote dir and selects by
    // re.match; pathGlobFilter (scan5) only covers the glob SUBSET of that
    // contract — alternation like `part-0|ignore` has no glob). The
    // listing is a driver-side metadata op (exactly what Spark's own
    // InMemoryFileIndex performs for every scan); matched paths are handed
    // to the reader explicitly, so data IO stays distributed and reads
    // ONLY the matched files — at scale this is listing cost O(dir
    // entries), scan cost O(matched bytes).
    "scan10_regex_listing" -> ((s, _) => {
      val re = "^(part-[02]\\.txt|ignore\\.dat)$".r
      val dir = new org.apache.hadoop.fs.Path(s"$FixturesDir/multi")
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      // lookingAt = PREFIX match, mirroring the reference's re.match
      // semantics (util.py:230) — an unanchored alternation like
      // `part-0|ignore` selects by prefix there, and does here too; this
      // query's own pattern is $-anchored so it selects identically
      val files = fs.listStatus(dir).map(_.getPath)
        .filter(p => re.pattern.matcher(p.getName).lookingAt)
        .map(_.toString).sorted
      s.read.text(files: _*)
        .select(
          regexp_extract(input_file_name(), "([^/]+)$", 1).as("fname"),
          col("value").as("line"))
        .groupBy("fname").agg(count(lit(1)).as("n_lines"))
        .orderBy("fname")
    }),

    // SCAN-11: XML ingest via Spark 4's built-in XML source — the lake
    // format the reference's ecosystem used for cross-species metadata
    // interchange. Explicit schema (no inference pass over the file),
    // rowTag streaming so a many-GB document splits into row-sized parse
    // units: attributes land as `_`-prefixed fields, nested repeated
    // elements as array-bearing structs, entity escapes are decoded by
    // the parser. n_tags distinguishes an EMPTY <tags/> and an ABSENT
    // tags element (both 0) from populated lists — the null-handling
    // contract the golden CSV pins.
    //
    // DIRTY-XML posture (IngestFuzzSpec findings, r20): typed attributes
    // are safe ONLY on trusted documents like this committed fixture —
    // on junk-bearing XML an uncastable attribute can throw out of the
    // scan (it bypasses PERMISSIVE's corrupt-record path), so production
    // ingest types attributes as STRING + try_cast after the scan. And
    // PERMISSIVE's quarantine granularity for a structurally-malformed
    // row is the REST OF THE SPLIT (one corrupt record swallows every
    // row after the error) — bound the blast radius with smaller
    // maxPartitionBytes and monitor the corrupt column.
    "scan11_xml" -> ((s, _) => {
      val schema = StructType(Seq(
        StructField("_id", IntegerType), StructField("_kind", StringType),
        StructField("title", StringType), StructField("bytes", LongType),
        StructField("tags", StructType(Seq(
          StructField("tag", ArrayType(StringType)))))))
      s.read.option("rowTag", "media").schema(schema)
        .xml(s"$FixturesDir/media_catalog.xml")
        .select(col("_id").as("id"), col("_kind").as("kind"), col("title"),
          col("bytes"),
          coalesce(size(col("tags.tag")), lit(0)).as("n_tags"))
        .orderBy("id")
    }),

    // SCAN-6: JSON string column ingest (events.props)
    "scan6_json" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")),

    // SCAN-9: malformed-row quarantine — lake CSV ingest where some rows
    // are garbage (unparseable ints/doubles). PERMISSIVE mode keeps the
    // job alive (vs FAILFAST) and keeps the bad rows visible (vs
    // DROPMALFORMED's silent drop), with _corrupt carrying raw text for
    // audit. "Clean" is defined structurally — every typed field parsed
    // non-null — because that is the definition both engines converge on
    // (Spark null-fills failed casts; DuckDB ignore_errors does too);
    // corrupt-FLAG semantics are parser-specific and not portable. The
    // result proves dirty rows are counted but excluded from aggregates.
    "scan9_corrupt_csv" -> ((s, _) => {
      val schema = StructType(Seq(
        StructField("id", IntegerType), StructField("qty", IntegerType),
        StructField("price", DoubleType), StructField("name", StringType),
        StructField("_corrupt", StringType)))
      val clean = col("id").isNotNull && col("qty").isNotNull &&
        col("price").isNotNull && col("name").isNotNull
      s.read.schema(schema)
        .option("header", "true").option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(s"$FixturesDir/messy.csv")
        .agg(
          count(when(clean, 1)).as("n_clean"),
          count(when(!clean, 1)).as("n_dirty"),
          Det.dsum(when(clean, col("price"))).as("sum_price"))
    }),

    // SCAN-7: schema-evolution read. Generation-1 files predate the
    // o_orderpriority column; generation-2 files carry it. mergeSchema
    // unions the parquet footer schemas and old files surface the new
    // column as null — the lake-ingest reality where producers upgrade
    // at different times. Scale note: mergeSchema reads EVERY footer; at
    // 100 TB production pins the unified schema from a catalog and
    // passes it via .schema(...) — the null-fill semantics are the same,
    // which is what this query certifies.
    "scan7_schema_evolution" -> ((s, d) => {
      val out = s"$SinkDir/scan7_evo"
      val o = Tables.orders(s, d)
      o.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$out/g1")
      o.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$out/g2")
      s.read.option("mergeSchema", "true").parquet(s"$out/g1", s"$out/g2")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    // SCAN-8: binaryFile source — raw media/blob ingest (images, audio,
    // model shards) as (path, modificationTime, length, content) rows; the
    // multimodal MM-* operators consume exactly this shape. Payload bytes
    // stay opaque; the glob filter prunes non-matching files at LISTING
    // time (never opened), and column pruning means a metadata-only query
    // never reads content at all. The declared projection keys each file
    // by name, size, and an md5 content digest — the DuckDB oracle
    // recomputes all three with read_blob() over the same fixture dir.
    "scan8_binary_files" -> ((s, _) =>
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load("/root/repo/fixtures/blobs")
        .select(
          element_at(split(col("path"), "/"), -1).as("file_name"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy("file_name")),

    // SCAN-14 (r12): real-format header parse at SCAN time — IHDR fields
    // of genuine on-disk PNG files, extracted with codegen'd
    // substring+hex+conv over the binary content: NO udf, NO decoder.
    // The PNG spec fixes the layout (8-byte signature, 4-byte chunk
    // length, "IHDR", then width/height as big-endian uint32 at offsets
    // 17/21 and bit depth/color type at 25/26 — 1-indexed), so header
    // metadata costs a 26-byte prefix inspection per file; at 100 TB of
    // media this is the catalog-building pass that never inflates a
    // payload (mm2b is the tier that does). Oracle = the fixture
    // generator's pinned dimension formula, keyed by file name — a parse
    // reading the wrong offsets or endianness hash-mismatches.
    "scan14_png_headers" -> ((s, _) => {
      def be(off: Int, len: Int) =
        conv(hex(substring(col("content"), off, len)), 16, 10)
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png")
        .load("/root/repo/fixtures/pngs")
        .select(
          element_at(split(col("path"), "/"), -1).as("file_name"),
          decode(substring(col("content"), 2, 3), "UTF-8").as("magic"),
          be(17, 4).cast("long").as("width"),
          be(21, 4).cast("long").as("height"),
          be(25, 1).cast("int").as("bit_depth"),
          be(26, 1).cast("int").as("color_type"))
        .orderBy("file_name")
    }),

    // SCAN-15 (r12) / SOURCE-1: the `.ace` dump through the REAL
    // DataSource V2 connector (sources/AceDataSource.scala) —
    // `format("ace")`, class filter PUSHED into the source (whole
    // paragraphs skipped from the header line, no residual Filter node;
    // PlanSpec + AceSourceSpec assert), columns pruned at the reader.
    // Same golden-CSV oracle family as mig1: the connector must produce
    // exactly the datoms the UDF parser path produces.
    "scan15_ace_dsv2" -> ((s, _) =>
      s.read.format("ace").load(s"$FixturesDir/sample.ace")
        .filter(col("cls") === "Gene")
        .orderBy("ident", "path", "value", "op")),

    // SINK-16 (r12) / SOURCE-1 write half: `.ace` EXPORT through the DSv2
    // connector — `df.write.format("ace")` with the writer's DECLARED
    // clustering+ordering (RequiresDistributionAndOrdering: Spark plans
    // the shuffle+sort so each paragraph holds one object's datoms, the
    // writer streams with a one-key lookbehind), staged-file commit
    // protocol, then a read back through the SAME connector. Oracle =
    // the mig1 golden: the full write→read round trip must reproduce the
    // committed datom truth exactly.
    "sink16_ace_dsv2_write" -> ((s, _) => {
      val tmp = graft.TmpStores.scratch("sink16")
      s.read.format("ace").load(s"$FixturesDir/sample.ace")
        .write.format("ace").mode("overwrite").save(s"$tmp/dump")
      s.read.format("ace").load(s"$tmp/dump")
        .orderBy("cls", "ident", "path", "value", "op")
    }),

    // SINK-1: CSV sink (QUOTE_ALL dialect) → read back
    "sink1_csv" -> ((s, d) => {
      val out = s"$SinkDir/sink1_csv"
      Tables.lineitem(s, d)
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", "true").option("quoteAll", "true")
        .csv(out)
      s.read.option("header", "true")
        .schema("l_returnflag STRING, n BIGINT").csv(out)
        .orderBy("l_returnflag")
    }),

    // SINK-2: parquet snapshot sink (backup-db analogue) → read back
    "sink2_parquet_snapshot" -> ((s, d) => {
      val out = s"$SinkDir/sink2_parquet"
      Tables.orders(s, d).filter(col("o_orderstatus") === "F")
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // SINK-3: partitioned sink (per-class split dump, runcommand.py:137)
    "sink3_partitioned" -> ((s, d) => {
      val out = s"$SinkDir/sink3_part"
      val src = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      src.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
      // explicit schema: an all-empty partitioned write leaves no footer
      // to infer from (EmptyAudit finding)
      s.read.schema(src.schema).parquet(out)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), Det.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // SCAN-13: whole-file text ingestion — one row per FILE (the
    // document-per-file corpus shape: each crawl page / source file is one
    // training document, never line-split). `wholetext` keeps the payload
    // intact; identity is the content digest, the llm1 discipline from
    // the first byte of ingestion. At scale each file is one task input —
    // no splitting — so maxPartitionBytes governs batching, not record
    // boundaries.
    "scan13_wholetext" -> ((s, _) =>
      s.read.option("wholetext", "true")
        .option("pathGlobFilter", "part-*.txt")
        .text(s"$FixturesDir/multi")
        .select(
          regexp_extract(input_file_name(), "([^/]+)$", 1).as("fname"),
          length(col("value")).as("n_chars"),
          md5(col("value").cast("binary")).as("content_md5"))
        .orderBy("fname")),

    // SCAN-12: hive-partitioned read-back with PARTITION PRUNING — the
    // static half of join14's DPP story: a filter on the partition column
    // must resolve to directory pruning at planning time (the scan's
    // PartitionFilters carries it, zero data files of other partitions
    // open — at 100 TB the difference between reading one l_returnflag
    // directory and all of them). Write reuses sink3's partitioned store;
    // PlanSpec pins PartitionFilters + the pushed-down quantity filter.
    "scan12_partition_pruned" -> ((s, d) => {
      val out = s"$SinkDir/sink3_part"
      val src = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      src.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
      s.read.schema(src.schema).parquet(out)
        .filter(col("l_returnflag") === "R" && col("l_quantity") >= 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // SINK-4: compressed text sink (gzip of dumps, runcommand.py:114-131)
    "sink4_compressed" -> ((s, d) => {
      val out = s"$SinkDir/sink4_gz"
      Tables.nation(s, d)
        .select(concat_ws("|", col("n_nationkey"), col("n_name")).as("value"))
        .coalesce(1)
        .write.mode("overwrite").option("compression", "gzip").text(out)
      s.read.text(out)
        .select(
          split(col("value"), "\\|").getItem(0).cast("int").as("n_nationkey"),
          split(col("value"), "\\|").getItem(1).as("n_name"))
        .orderBy("n_nationkey")
    }),

    // SINK-5: object-store URI sink (reference uploads snapshots to S3,
    // runcommand.py:463-498). The write path is URI-scheme-driven: with
    // SPARK_GRAFT_S3A=1 + SPARK_GRAFT_S3_BUCKET set (and Graft.session's
    // s3a/magic-committer conf applied), the identical write/read-back
    // takes s3a://bucket/...; offline it exercises the same Hadoop-FS
    // mechanism via file://. S3aContractSpec drives the s3a branch when an
    // endpoint is configured and is skipped (canceled) otherwise — the
    // offline container has neither endpoint nor hadoop-aws jars.
    "sink5_uri" -> ((s, d) => {
      val out = sink5Target
      Tables.region(s, d).write.mode("overwrite").parquet(out)
      s.read.parquet(out).select("r_regionkey", "r_name").orderBy("r_regionkey")
    }),

    // SINK-17 (r13): the object-store write path exercised END-TO-END,
    // in-process — `s3m://` is a Hadoop FileSystem with real S3 semantics
    // (flat keys, PUT-on-close atomic visibility, COPY+DELETE per-key
    // rename, no append; sources/S3MockFileSystem.scala), so the FULL
    // Spark commit pipeline (task/job temp dirs, renames, _SUCCESS)
    // runs against object-store behavior rather than POSIX. Offline
    // stand-in for sink5's s3a:// branch; S3aContractSpec additionally
    // measures the per-object rename cost that motivates the magic
    // committer at scale.
    "sink17_object_store" -> ((s, d) => {
      graft.sources.S3MockFileSystem.install(
        s.sparkContext.hadoopConfiguration)
      val out = "s3m://graft-verify/snapshots/nation"
      Tables.nation(s, d).write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    }),

    // SINK-6/SCAN-7: ORC round-trip — the second columnar format; predicate
    // pushdown + pruning apply to the ORC read exactly as to parquet.
    "sink6_orc" -> ((s, d) => {
      val out = s"$SinkDir/sink6_orc"
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .filter(col("o_totalprice") > 100000)
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }),

    // SINK-8: small-file compaction — the operational fix for the
    // many-tiny-files problem at ingest scale: an over-partitioned dataset
    // (32 files here; millions at 100 TB) is rewritten into few right-sized
    // files with repartition(n). Content is unchanged (same oracle shape);
    // CompactionSpec asserts the file-count drop. At cluster scale n comes
    // from target_size / avg_row_size, not a constant.
    "sink8_compacted" -> ((s, d) => {
      val fragmented = s"$SinkDir/sink8_fragmented"
      val compacted = s"$SinkDir/sink8_compacted"
      Tables.documents(s, d).repartition(32)
        .write.mode("overwrite").parquet(fragmented)
      s.read.parquet(fragmented).repartition(2)
        .write.mode("overwrite").parquet(compacted)
      s.read.parquet(compacted)
        .select(col("doc_id"), length(col("text")).as("n_chars"))
        .orderBy("doc_id")
    }),

    // SINK-14: output file-SIZE governance — sink8 fixes too-many-small
    // files after the fact; this prevents too-FEW-too-big files at write
    // time. maxRecordsPerFile rolls each task's output to a new file every
    // N records, bounding every file independently of partition count or
    // skew — at 100 TB an unbounded task writes a 100 GB file that kills
    // retries, prefetch, and row-group skipping. CompactionSpec asserts
    // the per-file record cap via input_file_name(); the declared query
    // certifies the data survives the rolling intact.
    "sink14_sized_files" -> ((s, d) => {
      val out = s"$SinkDir/sink14_sized"
      Tables.orders(s, d).repartition(4)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 2000)
        .parquet(out)
      s.read.parquet(out)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("o_orderkey")).as("n_keys"),
          Det.dsum(col("o_totalprice")).as("sum_price"))
    }),

    // SINK-15: CHECK-constraint commit — Delta's ADD CONSTRAINT semantics
    // on the versioned store: a write that violates the constraint never
    // becomes a version (its data dir is an unreferenced orphan, exactly
    // the crash shape the store proves invisible), a clean write commits
    // atomically. The violation counter rides the write via observe() —
    // no second validation scan (at 100 TB the reference's write-then-
    // re-read validation costs a second pass over the lake).
    "sink15_checked_commit" -> ((s, d) => {
      val root = s"$SinkDir/sink15_checked"
      VersionedStore.destroy(root)
      val orders = Tables.orders(s, d)
      val poisoned = orders.withColumn("o_totalprice",
        when(col("o_orderkey") % 100 === 0, -col("o_totalprice"))
          .otherwise(col("o_totalprice")))
      val rejected = VersionedStore
        .commitChecked(poisoned, root, col("o_totalprice") >= 0).isLeft
      VersionedStore.commitChecked(orders, root, col("o_totalprice") >= 0)
      VersionedStore.read(s, root)
        .agg(count(lit(1)).as("n_rows"),
          Det.dsum(col("o_totalprice")).as("sum_price"))
        .withColumn("first_commit_rejected", lit(rejected))
    }),

    // SINK-9: versioned snapshot store (Delta stand-in; VersionedStore) —
    // the reference KEEPS prior snapshots restorable (backup-db,
    // runcommand.py:221-255), so an overwrite must not destroy history.
    // Commit v1 (F orders), then "overwrite" with v2 (O orders), then
    // time-travel read v1: the answer must still be the F snapshot. The
    // flip to each version is one atomic marker create — no torn reads.
    "sink9_versioned" -> ((s, d) => {
      val root = s"$SinkDir/sink9_versioned"
      VersionedStore.destroy(root)
      val orders = Tables.orders(s, d)
      val v1 = VersionedStore.commit(
        orders.filter(col("o_orderstatus") === "F"), root)
      VersionedStore.commit(
        orders.filter(col("o_orderstatus") === "O"), root)
      VersionedStore.read(s, root, version = v1)
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // SINK-11: restore-db cycle (runcommand.py:221-255) — back up (commit
    // v1), keep writing (v2 diverges), then RESTORE the backup: rollback
    // re-commits v1's manifest as v3 with zero data movement. The latest
    // read must again be the v1 snapshot, and the divergent v2 stays
    // auditable in history.
    "sink11_restore" -> ((s, d) => {
      val root = s"$SinkDir/sink11_restore"
      VersionedStore.destroy(root)
      val orders = Tables.orders(s, d)
      val v1 = VersionedStore.commit(
        orders.filter(col("o_orderstatus") === "F"), root)
      VersionedStore.commit(
        orders.filter(col("o_orderstatus") === "O"), root)
      VersionedStore.rollback(s, root, v1)
      VersionedStore.read(s, root)  // latest == restored v1 snapshot
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // SINK-10: batch MERGE INTO on the versioned store — all three Delta
    // MERGE clauses against a committed snapshot: v1 = full customer
    // snapshot; the change set UPDATES BUILDING balances (+100), DELETES
    // MACHINERY customers, INSERTS supplier-derived rows under disjoint
    // keys. The latest read must reflect all three clauses atomically
    // (v1 stays time-travel readable; sink9 proves that isolation).
    "sink10_merge" -> ((s, d) => {
      val root = s"$SinkDir/sink10_merge"
      VersionedStore.destroy(root)
      val cust = Tables.customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      VersionedStore.commit(cust, root)
      val changes =
        cust.filter(col("c_mktsegment") === "BUILDING")
          .withColumn("c_acctbal", col("c_acctbal") + 100)
          .withColumn("op", lit("upsert"))
          .unionByName(cust.filter(col("c_mktsegment") === "MACHINERY")
            .withColumn("op", lit("delete")))
          .unionByName(Tables.supplier(s, d)
            .select((col("s_suppkey") + 10000000L).as("c_custkey"),
              col("s_name").as("c_name"),
              col("s_acctbal").as("c_acctbal"),
              lit("SUPPLIER").as("c_mktsegment"))
            .withColumn("op", lit("upsert")))
      VersionedStore.merge(s, root, changes, Seq("c_custkey"))
      VersionedStore.read(s, root)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), Det.dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy("c_mktsegment")
    }),

    // SINK-12: change-data-feed between two store versions (Delta CDF
    // analogue). v1 drops keys %3==0; v2 drops keys %5==0 and doubles the
    // price of keys %7==0 — so the diff must classify %3-only keys as
    // inserts, %5-only as deletes, %7 survivors as updates, and emit
    // nothing for unchanged rows. One full-outer join on the key, no sort.
    "sink12_cdc" -> ((s, d) => {
      val root = s"$SinkDir/sink12_cdc"
      VersionedStore.destroy(root)
      val o = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      VersionedStore.commit(o.filter(col("o_orderkey") % 3 =!= 0), root)
      VersionedStore.commit(
        o.filter(col("o_orderkey") % 5 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 7 === 0, col("o_totalprice") * 2)
              .otherwise(col("o_totalprice"))), root)
      VersionedStore.changes(s, root, 1L, 2L, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    // SINK-13: z-order-clustered layout (Delta OPTIMIZE ZORDER analogue) —
    // interleave the bits of the two filter columns, range-partition +
    // sort the files by that z-value, so each file covers a RECTANGLE of
    // the (l_partkey, l_suppkey) space instead of a stripe. Parquet
    // row-group min/max stats then skip files for filters on EITHER
    // column (ZorderSpec proves the file-overlap drop vs a linear sort).
    // The oracle checks the round-trip; at 100 TB the layout is what makes
    // selective 2-d reads metadata-bounded instead of scan-bounded.
    "sink13_zorder" -> ((s, d) => {
      val out = s"$SinkDir/sink13_zorder"
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")
        .withColumn("__z", Layout.zvalue(col("l_partkey"), col("l_suppkey")))
        .repartitionByRange(8, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .filter(col("l_partkey") <= 100 && col("l_suppkey") <= 5)
        // (l_orderkey, l_linenumber) is NOT unique in this generator —
        // extend the sort to a total key for the row-order compare
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity")
    }),

    // SINK-7: JSON-lines round-trip with explicit read schema (schemaless
    // text interchange; no inferSchema pass).
    "sink7_jsonl" -> ((s, d) => {
      val out = s"$SinkDir/sink7_jsonl"
      Tables.nation(s, d).select("n_nationkey", "n_name", "n_regionkey")
        .write.mode("overwrite").json(out)
      s.read
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .json(out)
        .orderBy("n_nationkey")
    })
  )

  def oracle: Map[String, String] = Map(
    // independent parser, converging "clean" definition (see scan9 note)
    "scan9_corrupt_csv" ->
      s"""WITH good AS (
         |  SELECT * FROM read_csv('$FixturesDir/messy.csv', header=true,
         |    columns={'id':'INTEGER','qty':'INTEGER','price':'DOUBLE',
         |             'name':'VARCHAR'},
         |    ignore_errors=true)
         |  WHERE id IS NOT NULL AND qty IS NOT NULL
         |    AND price IS NOT NULL AND name IS NOT NULL),
         |tot AS (
         |  SELECT COUNT(*) AS n
         |  FROM read_csv('$FixturesDir/messy.csv', header=true,
         |                delim='\\t', columns={'line':'VARCHAR'}))
         |SELECT (SELECT COUNT(*) FROM good) AS n_clean,
         |  (SELECT n FROM tot) - (SELECT COUNT(*) FROM good) AS n_dirty,
         |  (SELECT ${Det.dsumSql("price")} FROM good) AS sum_price""".stripMargin,

    "scan1_parquet" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity >= 45 ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "scan2_gz_text" ->
      s"""SELECT line, length(line) AS n
         |FROM read_csv('$FixturesDir/lines.txt.gz', header=false, delim='\\t',
         |              columns={'line': 'VARCHAR'})
         |ORDER BY line""".stripMargin,

    "scan3_ace_paragraphs" ->
      s"""SELECT string_split(e, ':')[1] AS cls, count(DISTINCT e) AS n_objects
         |FROM read_csv('$FixturesDir/ace_datoms_golden.csv', header=true, all_varchar=true)
         |WHERE src = 'base'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "scan4_csv_quoted" ->
      s"""SELECT class_name, ident, CAST(n_ref AS INT) AS n_ref, CAST(n_db AS INT) AS n_db
         |FROM read_csv('$FixturesDir/qa_report.csv', header=true, quote='"')
         |ORDER BY class_name""".stripMargin,

    "scan5_glob" ->
      s"""SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname, count(*) AS n_lines
         |FROM read_csv('$FixturesDir/multi/part-*.txt', header=false, delim='\\t',
         |              columns={'line': 'VARCHAR'}, filename=true)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "scan10_regex_listing" ->
      s"""SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname, count(*) AS n_lines
         |FROM read_csv(['$FixturesDir/multi/part-0.txt',
         |               '$FixturesDir/multi/part-2.txt',
         |               '$FixturesDir/multi/ignore.dat'],
         |              header=false, delim='\\t',
         |              columns={'line': 'VARCHAR'}, filename=true)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "scan6_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    // the golden CSV is the parse ground truth (scan3 pattern): DuckDB has
    // no XML reader, so the dual-written mirror pins what the XML parser
    // must produce — including the decoded &amp; entity and the
    // empty-vs-absent tags contract
    "scan11_xml" ->
      s"""SELECT id, kind, title, bytes, n_tags
         |FROM read_csv('$FixturesDir/xml_golden.csv', header=true,
         |  columns={'id':'INTEGER','kind':'VARCHAR','title':'VARCHAR',
         |           'bytes':'BIGINT','n_tags':'INTEGER'})
         |ORDER BY id""".stripMargin,

    "scan7_schema_evolution" ->
      """SELECT o_orderkey, o_totalprice,
        |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // independent re-read of the same blob files; the fixture bytes are
    // printable ASCII, so the VARCHAR cast is lossless and md5 agrees with
    // Spark's digest of the raw bytes
    "scan8_binary_files" ->
      """SELECT parse_filename(filename) AS file_name,
        |  octet_length(content) AS n_bytes,
        |  md5(CAST(content AS VARCHAR)) AS content_md5
        |FROM read_blob('/root/repo/fixtures/blobs/*.bin')
        |ORDER BY file_name""".stripMargin,

    // the full write→read round trip lands on the same datom truth
    "sink16_ace_dsv2_write" ->
      """SELECT split_part(e, ':', 1) AS cls,
        |  substr(e, strpos(e, ':') + 1) AS ident, path, value, op
        |FROM read_csv('/root/repo/fixtures/ace_datoms_golden.csv',
        |              header=true, all_varchar=true)
        |WHERE src = 'base'
        |ORDER BY cls, ident, path, value, op""".stripMargin,

    // golden-dual of the DSv2 connector: same committed datom truth as
    // mig1, with e split back into the connector's (cls, ident) columns
    "scan15_ace_dsv2" ->
      """SELECT split_part(e, ':', 1) AS cls,
        |  substr(e, strpos(e, ':') + 1) AS ident, path, value, op
        |FROM read_csv('/root/repo/fixtures/ace_datoms_golden.csv',
        |              header=true, all_varchar=true)
        |WHERE src = 'base' AND split_part(e, ':', 1) = 'Gene'
        |ORDER BY ident, path, value, op""".stripMargin,

    // the fixture generator's pinned formula (img_i.png: w=8+5i, h=8+3i,
    // 8-bit grayscale) IS the ground truth the header parse must recover;
    // the PNG spec fixes magic/bit_depth/color_type for this encoding
    "scan14_png_headers" ->
      """SELECT 'img_' || i || '.png' AS file_name,
        |  'PNG' AS magic,
        |  CAST(8 + 5 * i AS BIGINT) AS width,
        |  CAST(8 + 3 * i AS BIGINT) AS height,
        |  CAST(8 AS INT) AS bit_depth,
        |  CAST(0 AS INT) AS color_type
        |FROM range(0, 6) t(i)
        |ORDER BY file_name""".stripMargin,

    "sink1_csv" ->
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "sink2_parquet_snapshot" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_orderstatus = 'F' GROUP BY 1 ORDER BY 1""".stripMargin,

    "sink3_partitioned" ->
      s"""SELECT l_returnflag, count(*) AS n, ${Det.dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    // read_text yields the raw file body; graft's wholetext row is the
    // same bytes, so digests agree (files are \n-terminated ASCII)
    "scan13_wholetext" ->
      s"""SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname,
         |  CAST(length(content) AS INT) AS n_chars,
         |  md5(content) AS content_md5
         |FROM read_text('$FixturesDir/multi/part-*.txt')
         |ORDER BY fname""".stripMargin,

    "scan12_partition_pruned" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity >= 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "sink4_compressed" ->
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey",

    "sink5_uri" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",

    // the in-process object store must hand back exactly the committed
    // table — any torn/partial commit visibility would diverge
    "sink17_object_store" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "sink6_orc" ->
      """SELECT o_orderstatus, count(*) AS n FROM orders
        |WHERE o_totalprice > 100000 GROUP BY 1 ORDER BY 1""".stripMargin,

    "sink7_jsonl" ->
      """SELECT CAST(n_nationkey AS INT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS INT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    // version 1 was the F-filtered snapshot; the later v2 commit must not
    // change this answer
    "sink9_versioned" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_orderstatus = 'F' GROUP BY 1 ORDER BY 1""".stripMargin,

    // after the rollback the LATEST version must again answer as v1 (F)
    "sink11_restore" ->
      """SELECT o_orderpriority, count(*) AS n FROM orders
        |WHERE o_orderstatus = 'F' GROUP BY 1 ORDER BY 1""".stripMargin,

    "sink8_compacted" ->
      """SELECT doc_id, length(text) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "sink14_sized_files" ->
      s"""SELECT count(*) AS n_rows, count(DISTINCT o_orderkey) AS n_keys,
         |  ${graft.Det.dsumSql("o_totalprice")} AS sum_price
         |FROM orders""".stripMargin,

    // the store must contain EXACTLY the clean snapshot (the poisoned
    // write was rejected), and the rejection must have been observed
    "sink15_checked_commit" ->
      s"""SELECT count(*) AS n_rows, ${graft.Det.dsumSql("o_totalprice")} AS sum_price,
         |  true AS first_commit_rejected
         |FROM orders""".stripMargin,

    // the diff of the two committed projections: inserts (in v2 only),
    // deletes (in v1 only), updates (price doubled), unchanged rows absent
    "sink12_cdc" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0),
        |v2 AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 5 <> 0)
        |SELECT COALESCE(v2.o_orderkey, v1.o_orderkey) AS o_orderkey,
        |       CASE WHEN v2.o_orderkey IS NULL THEN v1.o_totalprice
        |            ELSE v2.o_totalprice END AS o_totalprice,
        |       CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
        |            WHEN v2.o_orderkey IS NULL THEN 'delete'
        |            ELSE 'update' END AS _change_type
        |FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
        |WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
        |   OR v1.o_totalprice IS DISTINCT FROM v2.o_totalprice
        |ORDER BY o_orderkey""".stripMargin,

    // layout changes file clustering, never content: the filtered
    // read-back must equal the same filter on the source table
    "sink13_zorder" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |FROM lineitem WHERE l_partkey <= 100 AND l_suppkey <= 5
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity""".stripMargin,

    // the merged state: updated BUILDING rows, untouched other segments
    // minus deleted MACHINERY, plus supplier-derived inserts
    "sink10_merge" ->
      s"""WITH merged AS (
         |  SELECT c_custkey, c_acctbal + 100 AS c_acctbal, c_mktsegment
         |  FROM customer WHERE c_mktsegment = 'BUILDING'
         |  UNION ALL
         |  SELECT c_custkey, c_acctbal, c_mktsegment
         |  FROM customer
         |  WHERE c_mktsegment NOT IN ('BUILDING', 'MACHINERY')
         |  UNION ALL
         |  SELECT s_suppkey + 10000000, s_acctbal, 'SUPPLIER' FROM supplier)
         |SELECT c_mktsegment, count(*) AS n,
         |       ${Det.dsumSql("c_acctbal")} AS sum_bal
         |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
