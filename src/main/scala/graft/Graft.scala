package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session factory + table loaders for the graft engine.
  *
  * Design notes (100 TB posture):
  *  - UTC session timezone everywhere (oracle parity, SURVEY.md §2 protocol).
  *  - AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
  *  - shuffle.partitions is set to `cpus` (the host's core count or
  *    SPARK_GRAFT_CPUS), as is the local master's default parallelism; on
  *    a real cluster this is overridden by conf / AQE target size, not
  *    hardcoded logic. Both counts therefore follow the host: a spec that
  *    measures per-reducer or per-mapper quantities must pin
  *    shuffle.partitions and its inputs' partition counts itself.
  *  - No `inferSchema` anywhere: parquet is self-describing, text sources get
  *    explicit StructTypes (SURVEY.md §1.3).
  *  - This is the ONLY session factory — Verify, Bench, and tests all call
  *    it, so the nanos / AQE / timezone configs are consistent across
  *    entrypoints (ADVICE.md r01).
  */
object Graft {

  /** Default parallelism: SPARK_GRAFT_CPUS env, else all local cores. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  /** Master override (VERDICT r18 item 3): `SPARK_GRAFT_MASTER` lets the
    * same entrypoints run under `local-cluster[n,cores,mem]` — executors in
    * SEPARATE JVMs, so broadcast values, TypedImperativeAggregate buffers
    * (DDSketch/CMS/SpaceSaving/Bitmap/Theta) and native-expression closures
    * cross a REAL serialization boundary instead of being shared by
    * reference inside one local[32] process. That is the executable stand-in
    * for the 1000-executor cluster: any non-serializable state or
    * registrator gap that would kill a real deployment surfaces here.
    * Default stays local[cpus]. */
  def master: String =
    sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")

  /** local-cluster executors are forked JVMs that know nothing of the
    * launcher's classloader — ship the graft classes (and, under a plain
    * `java -cp` launch, the whole driver classpath; all paths are
    * machine-local) via executor extraClassPath. Env override for launches
    * whose java.class.path is just a bootstrap jar (sbt). */
  private def withClusterConf(b: SparkSession.Builder): SparkSession.Builder =
    if (!master.startsWith("local-cluster")) b
    else {
      // keep the executor request inside the per-worker memory the master
      // string grants (local-cluster[n,cores,memMB]) — a request above it
      // is never satisfiable and the app hangs waiting for resources
      val workerMb = "local-cluster\\[\\d+,\\d+,(\\d+)\\]".r
        .findFirstMatchIn(master).map(_.group(1).toLong)
      b.config("spark.executor.extraClassPath",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_CP",
            sys.props.getOrElse("java.class.path", "")))
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM",
            workerMb.fold("3g")(mb => s"${math.min(3072L, mb)}m")))
    }

  /** Object-store (s3a://) readiness — SINK-5's production path (the
    * reference uploads snapshots to S3, runcommand.py:463-498). This
    * container has no S3 endpoint or hadoop-aws jars, so sink5_uri
    * exercises the same Hadoop-FS scheme mechanism via file://; on a
    * cluster the identical `.write.parquet(path)` call takes
    * s3a://bucket/prefix once these configs apply. Gated behind
    * SPARK_GRAFT_S3A=1 so local runs stay untouched.
    *
    * Credentials contract: graft NEVER carries secrets — auth resolves
    * through the standard fs.s3a provider chain (env
    * AWS_ACCESS_KEY_ID/AWS_SECRET_ACCESS_KEY, instance/role profile, or
    * cluster-injected provider), which is the Hadoop-AWS default; only the
    * optional endpoint override (SPARK_GRAFT_S3_ENDPOINT, for S3-compatible
    * stores) is plumbed here.
    *
    * Committer contract: the default FileOutputCommitter v1 finalizes by
    * RENAME, which on S3 is an O(files) server-side copy and not atomic —
    * at 100 TB that is hours of commit time and torn outputs on failure.
    * The S3A "magic" committer (multipart-upload completion, no rename)
    * is the production choice; its binding classes live in the
    * spark-hadoop-cloud module, present on real clusters.
    */
  private def withObjectStoreConf(
      b: SparkSession.Builder): SparkSession.Builder =
    if (!sys.env.get("SPARK_GRAFT_S3A").contains("1")) b
    else {
      val withCommitter = b
        .config("spark.hadoop.fs.s3a.committer.name", "magic")
        .config("spark.hadoop.fs.s3a.committer.magic.enabled", "true")
        .config("spark.sql.sources.commitProtocolClass",
          "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol")
        .config("spark.sql.parquet.output.committer.class",
          "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter")
        // block uploads stream multiparts as they fill — no local spill of
        // the whole object before the PUT
        .config("spark.hadoop.fs.s3a.fast.upload", "true")
      sys.env.get("SPARK_GRAFT_S3_ENDPOINT")
        .fold(withCommitter)(ep =>
          withCommitter.config("spark.hadoop.fs.s3a.endpoint", ep)
            // non-AWS endpoints generally require path-style addressing
            .config("spark.hadoop.fs.s3a.path.style.access", "true"))
    }

  def session(appName: String = "graft"): SparkSession = {
    val spark = withClusterConf(withObjectStoreConf(SparkSession
      .builder()
      .master(master)
      .appName(appName)))
      // custom codegen expressions (cosine_sim) via the sanctioned
      // extension point — resolves in DataFrame expr() and spark.sql alike
      .withExtensions(graft.functions.VectorExtensions.apply)
      // theta sketch aggregate + set-algebra estimators (agg22)
      .withExtensions(graft.functions.ThetaExtensions.apply)
      // count-min aggregate + join-size inner product (prof2b)
      .withExtensions(graft.functions.CmsExtensions.apply)
      // DDSketch quantile aggregate + quantile estimators (agg23)
      .withExtensions(graft.functions.DdsExtensions.apply)
      // SpaceSaving top-k heavy-hitter summary (agg25)
      .withExtensions(graft.functions.SpaceSavingExtensions.apply)
      // Spark's internal bloom build/probe surfaced (join12b)
      .withExtensions(graft.functions.BloomNativeExtensions.apply)
      // exact bitmap distinct-set aggregate + set algebra (agg28)
      .withExtensions(graft.functions.BitmapExtensions.apply)
      // native Jaro-Winkler similarity (er3)
      .withExtensions(graft.functions.StringSimilarityExtensions.apply)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      // events.parquet stores INT64 TIMESTAMP(NANOS); Spark has no ns
      // timestamp type, so surface it as LongType (nanos since epoch) and
      // convert explicitly in queries (timestamp_micros(ts div 1000)).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Write timestamps as INT64 micros (not INT96) so DuckDB/pandas read
      // verify outputs losslessly.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Push bare MIN/MAX/COUNT into the columnar readers: eligible
      // aggregates answer from file footers/statistics instead of data
      // pages (off by default in Spark 4). At 100 TB this turns row-count
      // validation gates into pure metadata passes; ineligible shapes
      // (filters, group-bys, unsupported types) fall back to normal scans.
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.orc.aggregatePushdown", "true")
      // Runtime row-level filtering: inject a bloom filter built from the
      // selective side of a shuffle join into the other side's scan, so
      // non-joining rows drop before the exchange (off by default in OSS
      // Spark). join12_bloom_prune spells out the same pattern manually
      // for when the optimizer's size estimates miss.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // RocksDB state store for ALL stateful streaming (default is the
      // JVM-heap HDFSBackedStateStoreProvider). At 100 TB/day stream
      // rates, keyed state (dedup sets, session windows, top-k counters)
      // outgrows executor heaps — RocksDB keeps it off-heap and spills to
      // local disk, and changelog checkpointing ships deltas instead of
      // full snapshots. It is also the only provider transformWithState
      // (STRM-18) supports, so one default covers every stateful op the
      // engine declares. StructuredStreamingSpec asserts this default.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // Executor JVMs must run UTF-8 regardless of the node's locale:
      // Spark's VARIANT string decode uses the platform default charset,
      // so an ASCII-locale executor silently corrupts every non-ASCII
      // variant string to U+FFFD runs (found by IngestFuzzSpec on this
      // container, whose native.encoding is ANSI_X3.4-1968). Local modes
      // ignore this conf; real clusters and local-cluster[...] apply it.
      // APPEND to any executor options supplied by spark-defaults.conf /
      // --conf (they arrive as system properties before the builder runs)
      // rather than replacing them — a bare .config() would silently
      // clobber a deployment's GC/agent flags (ADVICE r20).
      .config("spark.executor.extraJavaOptions",
        (sys.props.get("spark.executor.extraJavaOptions").toSeq
          :+ "-Dfile.encoding=UTF-8").mkString(" "))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The DRIVER's default charset can't be fixed post-launch
    // (Charset.defaultCharset is cached at JVM start) — warn loudly so a
    // raw `java -cp` launch without -Dfile.encoding=UTF-8 is visibly
    // unsound for VARIANT ops instead of silently lossy. build.sbt adds
    // the flag to every forked test/run JVM; tools/lc_verify.sh to its
    // raw launches.
    if (java.nio.charset.Charset.defaultCharset !=
        java.nio.charset.StandardCharsets.UTF_8)
      System.err.println(
        "[graft] WARNING: JVM default charset is " +
          s"${java.nio.charset.Charset.defaultCharset} (not UTF-8). " +
          "Spark VARIANT decodes strings with the platform charset — " +
          "non-ASCII variant values WILL corrupt to U+FFFD. " +
          "Relaunch with -Dfile.encoding=UTF-8.")
    // getOrCreate() silently ignores .config() when a session pre-exists in
    // the JVM; assert the load-bearing configs actually apply (ADVICE.md r01).
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "graft requires spark.sql.session.timeZone=UTC")
    require(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true",
      "graft requires nanosAsLong=true to read TIMESTAMP(NANOS) parquet")
    spark
  }
}

/** Test-table loaders. Tables are driver-generated parquet under
  * /root/testdata/sf0.x (TESTDATA.md). Parquet is self-describing; predicate
  * pushdown + column pruning engage automatically on these reads.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** events.ts — the generated lake has carried this column under TWO
    * physical encodings across rounds: INT64 TIMESTAMP(NANOS) (surfaced as
    * LongType nanos via nanosAsLong=true) and plain TIMESTAMP µs. The
    * loader normalizes so every downstream operator sees ONE contract:
    * `ts` = LongType nanos since epoch, `event_ts` = TimestampType µs.
    * µs-encoded inputs convert exactly (×1000); NTZ wall-clock reads as a
    * UTC instant (session tz is pinned UTC), which is also how the DuckDB
    * oracle's epoch_us(ts) treats naive timestamps — parity preserved.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    val norm = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw
      case _ => raw.withColumn("ts",
        unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    }
    norm.withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
  }
}
