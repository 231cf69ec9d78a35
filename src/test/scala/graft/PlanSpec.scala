package graft

import org.apache.spark.sql.functions._

/** Physical-plan assertions: the optimizations the 100 TB posture depends
  * on must be visible in the executed plan, not just intended. */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, Sf0001)
    df.queryExecution.executedPlan.toString
  }

  /** True iff the plan contains the WINDOW operator itself — a
    * word-boundary match, so operators that merely contain the substring
    * (WindowGroupLimit, which a future Spark rule may insert with no
    * per-group sort) don't trip no-window assertions (r19 ADVICE). */
  private def hasWindowExec(p: String): Boolean =
    "\\bWindow\\b".r.findFirstIn(p).isDefined

  /** Every node of an executed plan, recursing through the stages AQE
    * hides (shared by the shuffle-schema assertions — one traversal
    * implementation, so a Spark upgrade that changes AQE nesting is
    * fixed in one place). */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
  : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p +: (p.children ++ (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    })).flatMap(allNodes)
  }

  /** Column names output by every shuffle exchange child in `p`. */
  private def shuffledColumns(p: org.apache.spark.sql.execution.SparkPlan)
  : Seq[String] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    allNodes(p).collect {
      case e: ShuffleExchangeLike => e.children.flatMap(_.output.map(_.name))
    }.flatten
  }

  test("scan1: filter pushed to parquet + columns pruned") {
    val p = planOf("scan1_parquet")
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(l_quantity,45"),
      s"expected l_quantity>=45 pushed to the scan:\n$p")
    val readSchema = p.linesIterator.mkString
    assert(readSchema.contains("l_orderkey") &&
      !readSchema.contains("l_extendedprice"),
      "scan must read only the projected columns")
  }

  test("win1: global top-k compiles to TakeOrderedAndProject, not full sort") {
    val p = planOf("win1_row_number")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$p")
  }

  test("sort4: distributed range partitioning, no single-task collapse") {
    val p = planOf("sort4_partition_local")
    assert(p.contains("rangepartitioning"),
      s"expected a range-partitioned exchange in:\n$p")
    assert(!p.contains("Coalesce 1"), "must not collapse to one partition")
  }

  test("sort5: top-k never materializes a full sort") {
    val p = planOf("sort5_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("join6: dimension joins broadcast the small side") {
    val p = planOf("join6_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("llm47: benchmark side broadcasts; corpus fan-out collapses " +
      "map-side before the shuffle") {
    val p = planOf("llm47_embed_decontaminate")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the benchmark embeddings broadcast:\n$p")
    // partial max per vec_id runs BEFORE the exchange, so the shuffle
    // carries n rows, not n×|benchmark| — the property that makes the
    // brute-force decontamination probe a single-scan job at 100 TB
    val idx = p.indexOf("Exchange hashpartitioning(vec_id")
    assert(idx >= 0, s"expected a vec_id exchange:\n$p")
    assert(p.indexOf("HashAggregate", idx) >= 0 &&
      p.substring(idx).contains("BroadcastNestedLoopJoin"),
      s"expected partial HashAggregate below the exchange:\n$p")
  }

  test("llm5: document-frequency join is NOT force-broadcast") {
    val df = SparkEntry.queries("llm5_tfidf")(spark, Sf0001)
    val logical = df.queryExecution.optimizedPlan.toString
    // the fix for VERDICT r02 #9: no planner hint pinning the df side into
    // executor memory; AQE may still choose broadcast at runtime when small
    assert(!logical.contains("ResolvedHint"),
      s"no broadcast hint expected on the tf-idf join:\n$logical")
  }

  test("mm1: metadata-only catalog read prunes the binary payload column") {
    SparkEntry.queries("mm1_media_catalog")(spark, Sf0001).count()
    val df = spark.read.parquet(Paths.sink("mm1_media_store"))
      .filter(col("meta.width") >= 512)
      .select("doc_id", "modality", "meta.mime")
    val p = df.queryExecution.executedPlan.toString
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no scan in plan:\n$p"))
    assert(!readSchema.contains("payload"),
      s"payload bytes must not be read for a metadata query:\n$readSchema")
  }

  test("scan8: metadata-only binaryFile read prunes the content column") {
    val df = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(Paths.fixture("blobs"))
      .select(col("path"), col("length"))
    val p = df.queryExecution.executedPlan.toString
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no scan in plan:\n$p"))
    assert(!readSchema.contains("content"),
      s"blob bytes must not be read for a listing query:\n$readSchema")
  }

  test("partitioned sink: reading one partition prunes the rest") {
    // sink3 writes lineitem partitioned by l_returnflag; a filtered read
    // must show the partition filter at the scan (no full-table read)
    SparkEntry.queries("sink3_partitioned")(spark, Sf0001).count()
    val df = spark.read.parquet(Paths.sink("sink3_part"))
      .filter(col("l_returnflag") === "R")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"expected partition pruning in:\n$p")
  }

  test("mig6b: homology second store is class-pruned and not the main store") {
    SparkEntry.queries("mig6b_homol_store")(spark, Sf0001).count()
    val root = new java.io.File(graft.migration.MigrationOps.HomolStoreDir)
    val parts = root.listFiles().map(_.getName).filter(_.startsWith("cls=")).sorted
    // the second store holds ONLY the homology classes — it is the filtered
    // re-import, not a copy of the main datom store (which also has Gene)
    assert(parts === Array("cls=CDS", "cls=Protein"), parts.mkString(","))
    val df = spark.read.parquet(root.toString)
      .filter(col("cls") === "Protein")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(cls"),
      s"expected class-partition pruning on the homology store read:\n$p")
  }

  test("llm51: fingerprint pair join shuffles (doc_id, fp) only — " +
      "the text never reaches an exchange") {
    val df = SparkEntry.queries("llm51_winnowing")(spark, Sf0001)
    df.count()
    // inspect each shuffle's INPUT SCHEMA, not the plan text: an Exchange
    // line prints only its partitioning expressions, so a regression that
    // ships text as PAYLOAD keyed by fp would never show 'text' on the
    // Exchange line — the ~150 B strings must reduce to 8 B window minima
    // BEFORE any shuffle, which means no exchange child may OUTPUT text
    val shuffled = shuffledColumns(df.queryExecution.executedPlan)
    assert(shuffled.nonEmpty, "expected at least one exchange in the plan")
    assert(!shuffled.exists(_.contains("text")),
      s"text must not cross an exchange; shuffled columns: $shuffled")
  }

  test("llm2d: hot-band tag arrives by BROADCAST and no exchange carries " +
      "text — the salting pre-pass must not add a second fat shuffle") {
    val df = SparkEntry.queries("llm2d_simhash_neardup")(spark, Sf0001)
    df.count()
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    // the is_hot tag (≤ 4·2¹⁶ rows by construction) must broadcast — a
    // shuffle join against the full bands table would pay a second
    // band-keyed exchange of the data just to LABEL it
    assert(allNodes(df.queryExecution.executedPlan)
        .exists(_.isInstanceOf[BroadcastExchangeLike]),
      "hot-band tag must join via broadcast exchange")
    val shuffled = shuffledColumns(df.queryExecution.executedPlan)
    assert(shuffled.nonEmpty, "expected at least one exchange in the plan")
    assert(!shuffled.exists(_.contains("text")),
      s"text must not cross an exchange; shuffled columns: $shuffled")
  }

  test("llm3b: LSH ANN serve — query index broadcast-semi-joins and no " +
      "exchange ever carries an embedding vector") {
    val df = SparkEntry.queries("llm3b_ann_lsh")(spark, Sf0001)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    // the query's (table, bucket) probe set is tiny by construction
    // (tables × 1 row) — it must reach the corpus index as a broadcast
    // LeftSemi, never a shuffle join of the full signature table
    assert(p.contains("LeftSemi"),
      s"candidate selection must be a semi join:\n$p")
    // only candidate IDS may shuffle (the distinct); the 64-float
    // embedding vectors re-attach by broadcast/semi on vec_id and must
    // never cross an exchange — at 100 TB that is the difference between
    // shuffling 8 B/row and 256 B/row
    val shuffled = shuffledColumns(df.queryExecution.executedPlan)
    assert(!shuffled.exists(_.contains("embedding")),
      s"embeddings must not cross an exchange; shuffled: $shuffled")
  }

  test("mm5c: cross-modal features — the scan reads doc_id ONLY and no " +
      "exchange carries a media payload") {
    val df = SparkEntry.queries("mm5c_real_features")(spark, Sf0001)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    // payloads are synthesized and decoded inside the scan projection
    // (partition-local codecs): the parquet scan must prune every column
    // but doc_id, and no compressed bytes may ever reach an exchange —
    // the posture that makes the decode tier viable at 100 TB of media
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      s"scan must read only doc_id:\n$p")
    val shuffled = shuffledColumns(df.queryExecution.executedPlan)
    assert(!shuffled.exists(c => c.contains("payload") || c == "f"),
      s"payload bytes must not cross an exchange; shuffled: $shuffled")
  }

  test("llm9: dedup semi-join ships ids only; text is never joined on") {
    val df = SparkEntry.queries("llm9_pipeline")(spark, Sf0001)
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"), s"expected a semi-join on keep ids:\n$p")
    // the join key must be the doc id, not the text/content hash — only
    // 8-byte ids cross the broadcast, the gated text stays in place
    assert(!p.contains("SortMergeJoin") ||
      !p.linesIterator.exists(l => l.contains("Join") && l.contains("text")),
      s"text column must not be a join key:\n$p")
  }

  test("join11: bucketed join runs with NO shuffle exchange") {
    val df = SparkEntry.queries("join11_bucketed")(spark, Sf0001)
    // materialize so AQE settles, then inspect the final plan
    df.count()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join must not re-shuffle either side:\n$p")
  }

  test("win2: two-phase salted top-k — no raw-table window over 3 statuses") {
    val p = planOf("win2_rank")
    // phase 1 must rank within (status, salt) buckets; phase 2 over the
    // pruned union — two Window nodes, the first keyed by the salt
    assert("Window ".r.findAllIn(p).size >= 2,
      s"expected the salted phase-1 window AND the final window:\n$p")
    assert(p.contains("salt"), s"phase 1 must partition by (status, salt):\n$p")
  }

  test("samp2: stratified cap is two-phase salted — no raw window over ~20 sources") {
    val p = planOf("samp2_stratified")
    // RULE-1 rewrites the salted phase-1 rank-filter into the heap
    // operator (no per-bucket sort at all); the final per-source rank
    // keeps sample_rank in the output, so it stays a Window
    assert(p.contains("TopKPerGroup"),
      s"expected the salted phase-1 heap pass:\n$p")
    assert("Window ".r.findAllIn(p).size >= 1,
      s"expected the final ranking window:\n$p")
    assert(p.contains("salt"), s"phase 1 must partition by (source, salt):\n$p")
  }

  test("agg17: heavy hitters is a partial/final count, filter AFTER the agg") {
    val p = planOf("agg17_heavy_hitters")
    assert(p.contains("partial_count") || p.contains("partial count") ||
      p.toLowerCase.contains("partial"),
      s"heavy hitters must map-side combine:\n$p")
    assert(!hasWindowExec(p), s"no window needed for heavy hitters:\n$p")
  }

  test("agg3: arg-max is a partial/final aggregate, not a window") {
    val p = planOf("agg3_argmax")
    assert(!hasWindowExec(p),
      s"agg3 must compile to an aggregate (map-side combine), no window:\n$p")
    // max_by's struct ordering plans as SortAggregate; the load-bearing
    // property is the partial (map-side) phase before the exchange
    assert(p.contains("partial_max_by"),
      s"expected a partial map-side max_by in:\n$p")
  }

  test("sql3: EXISTS subquery compiles to a semi join, not row multiplication") {
    val p = planOf("sql3_order_priority")
    assert(p.contains("LeftSemi"), s"expected a left-semi join in:\n$p")
  }

  test("sql5: correlated scalar subquery is decorrelated to one aggregate") {
    val p = planOf("sql5_small_quantity")
    // Catalyst must rewrite the per-row subquery into a per-partkey
    // aggregate joined back — visible as exactly one avg aggregate and NO
    // nested subquery execution node
    assert(!p.contains("Subquery subquery"),
      s"subquery must be decorrelated, not re-executed per row:\n$p")
    assert(p.contains("partial_avg"),
      s"expected the decorrelated per-partkey avg aggregate:\n$p")
  }

  test("sql1/sql2: date predicates are pushed into the parquet scans") {
    val p1 = planOf("sql1_pricing_summary")
    assert(p1.contains("LessThanOrEqual(l_shipdate"),
      s"sql1 shipdate filter must reach the scan:\n$p1")
    val p2 = planOf("sql2_shipping_priority")
    assert(p2.contains("LessThan(o_orderdate") &&
      p2.contains("GreaterThan(l_shipdate"),
      s"sql2 date filters must reach both scans:\n$p2")
    assert(p2.contains("TakeOrderedAndProject"),
      s"sql2 LIMIT 10 must compile to top-k, not a full sort:\n$p2")
  }

  test("win9: session windows + rollup share one user_id exchange") {
    val p = planOf("win9_sessionize")
    val nHash = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(nHash == 1,
      s"lag/sum windows and the session rollup must reuse ONE user_id " +
        s"shuffle (found $nHash):\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-partition stage in sessionization:\n$p")
  }

  test("ts1: per-user grid generated in-partition, no global collapse") {
    val p = planOf("ts1_resample_ffill")
    assert(p.contains("Generate explode(sequence"),
      s"grid must be sequence+explode where the user row lives:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"resample must never single-partition the event table:\n$p")
  }

  test("agg18: 1-row bounds broadcast back onto the scan") {
    val p = planOf("agg18_histogram")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"bounds must broadcast, not shuffle the fact table:\n$p")
  }

  test("sql6/sql7: subqueries decorrelate to semi/anti joins") {
    val p6 = planOf("sql6_large_volume")
    assert(p6.contains("LeftSemi"),
      s"sql6 IN-subquery must compile to a semi join:\n$p6")
    val p7 = planOf("sql7_waiting_supplier")
    assert(p7.contains("LeftSemi") && p7.contains("LeftAnti"),
      s"sql7 EXISTS/NOT EXISTS must compile to semi + anti joins:\n$p7")
  }

  test("sort6: global numbering is two-phase — no whole-table collapse") {
    val p = planOf("sort6_global_rownum")
    assert(p.contains("rangepartitioning"),
      s"phase 1 must be a distributed range sort:\n$p")
    // the offsets window is the only single-partition stage (≤32 rows);
    // the raw table itself must never collapse into one task: the
    // single-partition exchange may only feed the tiny count aggregate
    val idx = p.indexOf("Exchange SinglePartition")
    assert(idx >= 0 && p.substring(idx).contains("HashAggregate"),
      s"the only single-partition stage must be the O(partitions) " +
        s"offsets table:\n$p")
  }

  test("win13: custom heap top-k — partial prune below ONE group exchange") {
    val df = SparkEntry.queries("win13_topk_native")(spark, Sf0001)
    df.count() // settle AQE
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("3, true") && p.contains("3, false"),
      s"expected the partial AND final TopKPerGroup phases:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"exactly one group exchange between the phases:\n$p")
    // plan prints top-down: the map side is BELOW the hash exchange — the
    // partial heap must sit there, and nothing below it may sort
    val mapSide = p.substring(p.indexOf("Exchange hashpartitioning"))
    assert(mapSide.contains("3, true") && !mapSide.contains("Sort "),
      s"map side must be the heap prune, not a sort:\n$p")
  }

  test("win13: partial-phase group cap degrades to pass-through, stays exact") {
    import graft.plans.TopKPerGroup
    val baseline = SparkEntry.queries("win13_topk_native")(spark, Sf0001)
      .collect().map(_.toString).toSeq
    try {
      // cap far below the distinct-user count: most rows must ride the
      // shuffle unpruned, and the final phase must still be exact —
      // via the conf key, the same override path a cluster uses
      spark.conf.set(TopKPerGroup.MaxPartialGroupsKey, "3")
      val capped = SparkEntry.queries("win13_topk_native")(spark, Sf0001)
        .collect().map(_.toString).toSeq
      assert(capped == baseline,
        "capped partial phase changed the result set")
    } finally spark.conf.unset(TopKPerGroup.MaxPartialGroupsKey)
  }

  test("join14: dim filter prunes fact partitions at runtime (DPP)") {
    val df = SparkEntry.queries("join14_dpp")(spark, Sf0001)
    df.count() // settle AQE so the executed plan is final
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic-partition-pruning subquery in the fact scan:\n$p")
  }

  test("join15: AQE detects and splits the skewed partition at runtime") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      // the production thresholds are byte-based (256MB) — scale them to
      // sf-test partition sizes so the same mechanism demonstrably fires
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
      // default minPartitionSize (1MB) would coalesce the enrichment
      // join's stage to ONE task at sf-test size — a skewed partition fed
      // by a single mapper cannot be split (mapper-boundary granularity)
      conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1KB")
      val df = SparkEntry.queries("join15_skew_aqe")(spark, Sf0001)
      // collect() (NOT count(), which builds a separate plan) so THIS
      // df's adaptive plan executes and re-optimizes to its final form
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE OptimizeSkewedJoin did not mark the join:\n$p")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("dim2: as-of merge runs in user partitions, never one task") {
    val p = planOf("dim2_pit_join")
    assert(!p.contains("Exchange SinglePartition"),
      s"the as-of union/window must stay user-partitioned:\n$p")
  }

  test("ts4: only the O(buckets) offset window is single-partition") {
    val p = planOf("ts4_peak_concurrency")
    val n = "Exchange SinglePartition".r.findAllIn(p).length
    assert(n == 1,
      s"expected exactly ONE single-partition stage (the per-hour offsets, " +
        s"metadata-sized), found $n:\n$p")
    assert(p.contains("hashpartitioning(bucket"),
      s"delta running sums must partition by time bucket:\n$p")
  }

  test("window queries over raw tables: no single-partition exchange") {
    // (win1/strm4/mig7 windows run over pre-limited/pre-aggregated tiny
    // frames by design; these are the raw-scan paths that must scale)
    for (name <- Seq("win2_rank", "win4_running_sum", "win5_sliding_avg",
      "strm6_upsert_latest", "llm3f_ann_batch", "dim1_scd2")) {
      val p = planOf(name)
      assert(!p.contains("Exchange SinglePartition"),
        s"$name must not move the raw table into one task:\n$p")
    }
  }

  test("llm32: span inventory is join-free — grams explode in-row") {
    val p = planOf("llm32_span_dup")
    assert(!p.contains("Join"),
      s"the window enumeration must be a row-local explode, never a " +
        s"self-join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 must compile to top-k, not a full sort:\n$p")
  }

  test("llm32b: count exchange carries 8-byte hashes, not gram strings") {
    val p = planOf("llm32b_span_dup_hashed")
    // the partial-count aggregate upstream of the shuffle must key on the
    // xxhash64 column; the gram string may only reappear in the second
    // (rehydration) scan after the survivors filter
    val ex = p.indexOf("Exchange hashpartitioning(h#")
    assert(ex >= 0,
      s"the count shuffle must partition on the hash column:\n$p")
  }

  test("llm33: JL projection is row-local — no shuffle before the sort") {
    val p = planOf("llm33_jl_project")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a per-row projection must not shuffle:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"a per-row projection must not collapse to one task:\n$p")
  }

  test("ts8: one full scan; windows run over the O(hours) rollup only") {
    val p = planOf("ts8_seasonal_decompose")
    // the raw-event scan must collapse to the hourly rollup via ONE
    // partial+final agg before any window touches it
    assert(p.contains("partial_sum"),
      s"hourly rollup must be a partial+final hash agg:\n$p")
    // the global trend window is single-partition, but only AFTER the
    // rollup — i.e. downstream of a HashAggregate, never over raw events
    val idx = p.indexOf("Exchange SinglePartition")
    assert(idx >= 0 && p.substring(idx).contains("HashAggregate"),
      s"the single-partition window may only see the hourly table:\n$p")
  }

  test("sql8: dims broadcast (nation twice), part filter pushed") {
    val p = planOf("sql8_market_share")
    val nBc = "BroadcastHashJoin".r.findAllIn(p).length
    assert(nBc >= 3,
      s"expected the dimension chain to broadcast (found $nBc joins):\n$p")
    assert(p.contains("EqualTo(p_type,ECONOMY)"),
      s"p_type filter must reach the part scan:\n$p")
  }

  test("sql10: date range and returnflag filters reach the scans") {
    val p = planOf("sql10_returned_items")
    assert(p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter must reach the lineitem scan:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") &&
      p.contains("LessThan(o_orderdate"),
      s"both date bounds must reach the orders scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"LIMIT 20 must compile to top-k, not a full sort:\n$p")
  }

  test("graph1: rank join broadcasts; final-round plan stays ONE round deep") {
    // Guards both halves of the r9/r10 PageRank findings: (a) the per-round
    // norm⋈pr join must be a broadcast hash join (a stats-less rank subtree
    // demoted it to sort-merge over the full edge table, 3-4x slower per
    // round); (b) the returned frame's plan must contain exactly ONE round
    // (earlier rounds materialized behind checkpoint leaves) — the 2^iters
    // lazy-branching bug would multiply join nodes here.
    val p = planOf("graph1_pagerank")
    assert(p.contains("BroadcastHashJoin"),
      s"rank-vector join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"no sort-merge join in a pagerank round:\n$p")
    val joins = "HashJoin".r.findAllIn(p).length
    assert(joins <= 3,
      s"final-round plan must be one round deep (contribs + base joins), " +
        s"saw $joins join nodes:\n$p")
  }

  test("join12b: native bloom probe is an in-plan expression fed by a " +
      "scalar subquery — no UDF anywhere") {
    val df = SparkEntry.queries("join12b_bloom_native")(spark, Sf0001)
    // the AQE physical toString collapses stage subtrees, so assert on
    // the optimized logical plan, where expressions are spelled out
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("might_contain("), // the expression's prettyName
      s"probe must be the native expression:\n$p")
    assert(p.contains("bloom_filter_agg("),
      s"sketch must build as distributed aggregate state:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("UDF("),
      s"no UDF in the native bloom pipeline:\n$p")
    assert(p.contains("scalar-subquery") || p.contains("Subquery"),
      s"the sketch must arrive via scalar subquery:\n$p")
  }

  test("agg17b: CMS probe is a codegen-native expression inside a " +
      "WholeStageCodegen span — no ScalaUDF (VERDICT r10 #3)") {
    val df = SparkEntry.queries("agg17b_heavy_hitters_cms")(spark, Sf0001)
    df.collect() // materialize so AQE finalizes and codegen markers appear
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF") && !p.contains("UDF("),
      s"no UDF anywhere in the CMS pipeline:\n$p")
    assert(p.contains("partial_cms_sketch_agg"),
      s"sketch must build as map-side-combined aggregate state:\n$p")
    // the per-candidate probe projection must sit inside a codegen span
    // (lines of codegen'd operators carry the "*(n)" stage marker)
    assert(p.linesIterator.exists(l =>
        l.contains("cms_estimate") && l.contains("*(")),
      s"cms_estimate must run inside whole-stage codegen:\n$p")
  }

  test("join12: the pedagogical driver-built sketch still probes through " +
      "the native codegen expression, not a UDF (VERDICT r10 #8)") {
    val df = SparkEntry.queries("join12_bloom_prune")(spark, Sf0001)
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("might_contain("),
      s"probe must be the native expression:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("UDF("),
      s"no UDF on the per-fact-row probe path:\n$p")
  }

  test("llm34: benchmark grams broadcast; the excision rewrite is " +
      "codegen'd HOFs, not a UDF") {
    val p = planOf("llm34_span_excise")
    assert(p.contains("BroadcastHashJoin"),
      s"gram probe must broadcast the benchmark side:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"the span rewrite must stay in codegen'd higher-order functions:\n$p")
  }

  test("agg23: sketch agg is partial+final — the shuffle carries sketches") {
    val p = planOf("agg23_ddsketch_quantile")
    assert(p.contains("partial_dds_sketch_agg"),
      s"dds_sketch_agg must map-side combine:\n$p")
    // quantile extraction happens on the final-agg output, not in a UDF
    // over raw rows — the only scan columns are the grouping key + value
    assert(p.contains("ReadSchema: struct<l_returnflag:string," +
      "l_extendedprice:double>") || p.contains("l_extendedprice"),
      s"scan must be pruned to key+value:\n$p")
  }

  test("agg24: one raw scan; rolling merge windows over the O(days) " +
      "rollup only") {
    val p = planOf("agg24_rolling_quantile")
    assert(p.contains("partial_dds_sketch_agg"),
      s"daily sketch build must be partial+final:\n$p")
    // the single-partition day window may only run AFTER the daily rollup
    val idx = p.indexOf("Exchange SinglePartition")
    assert(idx >= 0 && p.substring(idx).contains("ObjectHashAggregate"),
      s"the day window may only see the daily rollup:\n$p")
    assert("Scan parquet".r.findAllIn(p).length === 1,
      s"events must be scanned exactly once:\n$p")
  }

  test("strm16: windowed sketch agg is partial+final over a pruned scan") {
    val p = planOf("strm16_windowed_quantiles")
    assert(p.contains("partial_dds_sketch_agg"),
      s"window sketch must map-side combine:\n$p")
    val scanLine = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!scanLine.contains("props") && !scanLine.contains("event_type"),
      s"scan must prune to ts+value, got: $scanLine")
  }

  test("ivm2: maintenance terms are broadcast-only — every exchange " +
      "belongs to feed derivation or the output sort") {
    val df = SparkEntry.queries("ivm2_incremental_join")(spark, Sf0001)
    val p = df.queryExecution.executedPlan.toString
    // the three maintenance joins: anti(orders-keys), anti/inner(cust),
    // inner(cNew/cPost) — all BroadcastHashJoin, never sort-merge.
    // Feed derivation (changeFeed's full-outer diff) is allowed its SMJs,
    // but those sit behind the localCheckpoint scans in THIS plan, so the
    // executed maintenance plan must show zero SortMergeJoin nodes.
    assert(!p.contains("SortMergeJoin"),
      s"maintenance must join against broadcast key sets only:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4,
      s"expected >=4 broadcast maintenance joins:\n$p")
  }

  test("graph3: wedge and closure probes broadcast; closure key is packed") {
    // graph3's own plan now reads the memoized triangle rows (a checkpoint
    // scan) — assert the enumeration plan on triangleRows itself, over the
    // same co-purchase edges the memo is built from
    val li = Tables.lineitem(spark, Sf0001)
      .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
      .distinct()
    val edges = li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("x"), col("b.p").as("y"))
      .distinct()
    val df = graft.operators.GraphOps.triangleRows(edges)
    df.collect() // settle AQE
    val p = df.queryExecution.executedPlan.toString
    // under the edge cap the 83M-wedge stream must stay pipelined: both
    // triangle joins are broadcast-hash, never a shuffled sort-merge
    assert(!p.contains("SortMergeJoin"),
      s"triangle joins must broadcast under the edge cap:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"expected wedge + closure broadcast joins:\n$p")
    // the closure probe must use the packed single-long key (fast
    // LongHashedRelation path), visible as the shiftleft expression
    assert(p.contains("shiftleft"),
      s"closure join must probe on the packed (u,v) long key:\n$p")
  }

  test("llm35: only the O(partitions) offset window is single-partition") {
    val p = planOf("llm35_curriculum")
    // the corpus itself is ranked via range partition + local window; the
    // lone single-partition exchange may only carry the per-partition
    // count table (downstream of a HashAggregate), never document rows
    val idx = p.indexOf("Exchange SinglePartition")
    assert(idx >= 0 && p.substring(idx).contains("HashAggregate"),
      s"global rank must not collapse the corpus to one task:\n$p")
    assert(p.contains("rangepartitioning") || p.contains("REPARTITION_BY_NUM"),
      s"corpus must be range-partitioned for the local rank:\n$p")
  }

  test("llm52: budget cut is two-phase — no single-task-per-source window") {
    val p = planOf("llm52_token_budget_fill")
    // the prefix sum must key by (pid, source): a window partitioned by
    // source alone would sort a dominant source (half of CommonCrawl at
    // 100 TB) in ONE task. Phase 1's range exchange hides behind the
    // localCheckpoint's ExistingRDD scan, so the visible contract is the
    // local window spec + the broadcast carry-in join.
    assert("windowspecdefinition\\(pid#\\d+, source#".r.findFirstIn(p).isDefined,
      s"local cumsum must partition by (pid, source):\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"nothing may collapse to one partition:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the O(partitions × sources) offsets table must broadcast back:\n$p")
    // source-only hash exchanges may carry only aggregate outputs (the
    // offsets table / final rollup), never raw doc rows
    "Exchange hashpartitioning\\(source#\\d+, \\d+\\)".r
      .findAllMatchIn(p).foreach { m =>
        assert(p.substring(m.end, math.min(p.length, m.end + 400))
            .contains("HashAggregate"),
          s"source-only exchange must feed from an aggregate:\n$p")
      }
  }

  test("llm53: terciles are two-phase ranked — no single-task-per-language " +
      "window") {
    val p = planOf("llm53_ccnet_buckets")
    // same decomposition as llm52/llm35: local rank per (pid, lang),
    // carry-in offsets + per-language totals broadcast back
    assert("windowspecdefinition\\(pid#\\d+, lang#".r.findFirstIn(p).isDefined,
      s"local rank must partition by (pid, lang):\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"nothing may collapse to one partition:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"the offsets/totals table must broadcast back:\n$p")
    "Exchange hashpartitioning\\(lang#\\d+, \\d+\\)".r
      .findAllMatchIn(p).foreach { m =>
        assert(p.substring(m.end, math.min(p.length, m.end + 400))
            .contains("HashAggregate"),
          s"lang-only exchange must feed from an aggregate:\n$p")
      }
  }

  test("llm38: the log-ratio LM table broadcasts; text never shuffles") {
    val p = planOf("llm38_dsir")
    // per-doc bucket profiles join the B=1024-row weight table via
    // broadcast — a shuffled join here would move the whole token stream
    assert(p.contains("BroadcastHashJoin"),
      s"LM weight table must broadcast onto the doc profiles:\n$p")
    // no exchange may carry the raw token string: after the checkpointed
    // (doc_id, source, bucket) projection only ints move
    val exIdx = p.indexOf("Exchange hashpartitioning")
    assert(exIdx >= 0 && !p.substring(exIdx).contains("tok#"),
      s"token strings must not ride any exchange:\n$p")
  }

  test("ivm4: view maintenance joins are broadcast-only; re-rank window " +
      "sees only changed groups") {
    val df = SparkEntry.queries("ivm4_incremental_topk")(spark, Sf0001)
    val p = df.queryExecution.executedPlan.toString
    // untouched-group anti-join + changed-group rebuild join must both
    // probe the broadcast churn-sized key set; the ONLY sort-merge join
    // allowed is the support merge itself — a FULL OUTER (Spark cannot
    // broadcast full-outer), which at deploy runs exchange-free with the
    // support table hash-partitioned by (group, member)
    val smj = "SortMergeJoin .*FullOuter".r.findAllIn(p).length
    assert(smj === 1 && "SortMergeJoin".r.findAllIn(p).length === 1,
      s"only the full-outer support merge may sort-merge:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"expected anti + rebuild broadcast joins:\n$p")
  }

  test("agg29: two-phase weighted median — sliced local cumsums; no " +
      "task ever sorts a whole flag's value set") {
    val p = planOf("agg29_weighted_median")
    // the heavy cumulative window partitions by (flag, SLICE) — a
    // bounded ordered bucket of the flag's value domain — never by flag
    // alone over the value order
    assert("windowspecdefinition\\(l_returnflag#\\d+, b#\\d+, v#\\d+ ASC".r
      .findAllIn(p).nonEmpty,
      s"local cumsum must partition by (flag, slice):\n$p")
    assert("windowspecdefinition\\(l_returnflag#\\d+, v#\\d+ ASC".r
      .findAllIn(p).isEmpty,
      s"no per-flag window over the full value order (1 task per flag):\n$p")
    // the O(flags×partitions) offsets table joins back as a broadcast —
    // the big side never shuffles for it
    assert(p.contains("BroadcastHashJoin"),
      s"offsets must broadcast back onto the sliced values:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"weighted median must never collapse to one task:\n$p")
  }

  test("join16: the 2-D grid band join is an equi-join on the cells — " +
      "never a nested-loop theta join") {
    val p = planOf("join16_grid_band")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"grid cells must carry the band predicate as equi-keys:\n$p")
    assert(p.contains("Join") || p.contains("join"),
      s"expected a hash/sort-merge join on (user, tcell, vcell):\n$p")
  }

  test("graph6: anchor adjacency broadcasts; the shared edge list is " +
      "never shuffled for the wedge join") {
    val df = SparkEntry.queries("graph6_link_prediction")(spark, Sf0001)
    df.collect() // settle AQE
    val p = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"wedge probe and degree joins must broadcast the small side:\n$p")
  }

  test("scan12: partition filter prunes directories, data filter pushes " +
      "to parquet") {
    val p = planOf("scan12_partition_pruned")
    assert("PartitionFilters: \\[[^\\]]*l_returnflag".r.findFirstIn(p)
      .isDefined, s"partition filter must prune directories:\n$p")
    assert(p.contains("GreaterThanOrEqual(l_quantity,45"),
      s"quantity filter must reach the parquet scan:\n$p")
    assert(!"ReadSchema: [^\\n]*l_returnflag".r.findFirstIn(p).isDefined,
      s"the partition column must not be read from data files:\n$p")
  }

  // ---- RULE-1: TopKRewrite (plans/TopKRewrite.scala) ----

  private def withRewrite[A](on: Boolean)(body: => A): A = {
    val prev = spark.conf.getOption(plans.TopKRewrite.ConfKey)
    spark.conf.set(plans.TopKRewrite.ConfKey, on.toString)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(plans.TopKRewrite.ConfKey, v)
      case None => spark.conf.unset(plans.TopKRewrite.ConfKey)
    }
  }

  private def topkPattern(k: Int) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, Sf0001)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("user_id", "ts", "event_type")
  }

  test("RULE-1: row_number<=k filter-then-drop rewrites to the heap " +
      "operator and drops the Window/Sort pair") {
    val (planOn, rowsOn) = withRewrite(on = true) {
      val df = topkPattern(3)
      (df.queryExecution.executedPlan.toString,
        df.collect().map(_.toString).sorted.toSeq)
    }
    assert(planOn.contains("TopKPerGroup"),
      s"expected the heap operator in:\n$planOn")
    assert(!hasWindowExec(planOn) && !planOn.contains("Sort "),
      s"the Window/Sort pair must be gone:\n$planOn")
    val (planOff, rowsOff) = withRewrite(on = false) {
      val df = topkPattern(3)
      (df.queryExecution.executedPlan.toString,
        df.collect().map(_.toString).sorted.toSeq)
    }
    assert(planOff.contains("Window") && !planOff.contains("TopKPerGroup"),
      s"conf-off must keep the window formulation:\n$planOff")
    // (ts desc, event_id desc) is total per user — identical rows required
    assert(rowsOn === rowsOff, "rewrite changed the result set")
  }

  test("RULE-1: does not fire when the rank column survives, on rank(), " +
      "or on an unpartitioned window") {
    import org.apache.spark.sql.expressions.Window
    withRewrite(on = true) {
      val e = Tables.events(spark, Sf0001)
      val w = Window.partitionBy("user_id").orderBy(col("ts").desc)
      val kept = e.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
      assert(!kept.queryExecution.optimizedPlan.toString
        .contains("TopKPerGroup"), "rank column kept -> positions needed")
      val rk = e.withColumn("rn", rank().over(w)).filter(col("rn") <= 3)
        .select("user_id", "ts")
      assert(!rk.queryExecution.optimizedPlan.toString
        .contains("TopKPerGroup"), "rank() admits ties past k")
      val glob = e.withColumn("rn",
          row_number().over(Window.orderBy(col("ts"))))
        .filter(col("rn") <= 3).select("user_id", "ts")
      assert(!glob.queryExecution.optimizedPlan.toString
        .contains("TopKPerGroup"), "global top-k stays TakeOrdered's job")
    }
  }

  test("RULE-1: null sort keys keep window semantics (asc nulls-first, " +
      "desc nulls-last)") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val df = Seq(("a", Some(3L), 1), ("a", None, 2), ("a", Some(1L), 3),
      ("a", Some(2L), 4), ("b", None, 5), ("b", Some(9L), 6))
      .toDF("g", "v", "id")
    def run(c: org.apache.spark.sql.Column) = {
      val w = Window.partitionBy("g").orderBy(c, col("id"))
      df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
        .select("g", "id")
    }
    for (c <- Seq(col("v").asc, col("v").desc)) {
      val (on, off) = (
        withRewrite(on = true) {
          val q = run(c)
          assert(q.queryExecution.optimizedPlan.toString
            .contains("TopKPerGroup"), s"rewrite must fire for $c")
          q.collect().map(_.toString).sorted.toSeq
        },
        withRewrite(on = false)(run(c).collect().map(_.toString).sorted.toSeq))
      assert(on === off, s"null ordering diverged for $c")
    }
  }

  test("RULE-1: fuzzed on/off parity across directions, null orders, k") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rnd = new scala.util.Random(42) // fixed seed: reproducible
    for (round <- 1 to 8) {
      val n = 30 + rnd.nextInt(120)
      val rows = Seq.fill(n)((
        "g" + rnd.nextInt(5),
        if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(12).toLong),
        rnd.nextInt(10000)))
      val df = rows.toDF("g", "v", "id")
      val k = 1 + rnd.nextInt(4)
      val dirs = Seq(col("v").asc, col("v").desc,
        col("v").asc_nulls_last, col("v").desc_nulls_first)
      val c = dirs(rnd.nextInt(dirs.length))
      val w = Window.partitionBy("g").orderBy(c, col("id"))
      def q = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).select("g", "v", "id")
      val on = withRewrite(on = true) {
        assert(q.queryExecution.optimizedPlan.toString
          .contains("TopKPerGroup"), s"round $round: rewrite must fire")
        q.collect().map(_.toString).sorted.toSeq
      }
      val off =
        withRewrite(on = false)(q.collect().map(_.toString).sorted.toSeq)
      assert(on === off, s"round $round k=$k dir=$c diverged")
    }
  }

  test("RULE-1: win6_top1_per_group now plans through the heap operator") {
    val p = planOf("win6_top1_per_group")
    assert(p.contains("TopKPerGroup"),
      s"declared query must pick up the rewrite:\n$p")
  }

  test("llm3e/llm3eb/llm28c: corpus cell assignment is the heap operator, " +
    "never a window sort over n·k candidate rows (r19 re-plan)") {
    // the pre-r19 shape kept rn alive for a shared localCheckpoint, which
    // BLOCKED the RULE-1 rewrite and hid an n·k embedding-carrying window
    // sort inside the checkpoint (sf1 probe: llm3eb ×16 per decade). The
    // split corpus/query cuts drop rn immediately, so the rewrite fires
    // and the plan is visible end to end — pin both properties.
    for (name <- Seq("llm3e_ann_ivf", "llm3eb_ann_ivf_audit",
        "llm28c_ivfpq")) {
      val df = SparkEntry.queries(name)(spark, Sf0001)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("TopKPerGroup"),
        s"$name corpus assignment must plan through the heap operator:\n$p")
      assert(!hasWindowExec(p),
        s"$name must not window-sort candidate rows:\n$p")
    }
  }

  test("llm44: top-2 semdedup cell posting plans through the heap " +
    "operator, pinned on the PRE-checkpoint fragment (r19 verdict)") {
    // semdedupKept localCheckpoints its cells cut, which truncates the
    // visible plan of the full query — exactly how the llm3eb bug hid.
    // Pin the fragment itself: same drop-rn shape, rn <= 2, so RULE-1
    // must plan TopKPerGroup and the n·nCells candidate rows must never
    // meet a per-vector window sort.
    val e = Tables.embeddings(spark, Sf0001)
    val cents = graft.llm.LlmOps.memoIvfCentroids(spark, Sf0001)
    val df = graft.llm.LlmOps.semdedupCells(e, cents)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerGroup"),
      s"llm44 cell posting must plan through the heap operator:\n$p")
    assert(!hasWindowExec(p),
      s"llm44 cell posting must not window-sort candidate rows:\n$p")
  }
}
