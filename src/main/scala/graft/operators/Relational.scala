package graft.operators

import graft.{Det, Paths, QueryModule, Tables}
import graft.RoundCheckpointer.Checkpointed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.2–§2.7: projections, filters, joins, aggregations, windows,
  * sorts, set ops — all on Spark built-ins so Catalyst's pushdown / pruning /
  * join-selection / AQE engage untouched.
  *
  * Scale notes (100 TB posture), per operator family:
  *  - joins on the big tables (orders⋈customer, lineitem⋈part) are plain
  *    equi-joins → Catalyst picks SMJ/shuffled-hash and AQE re-plans on
  *    runtime stats; dimension joins (nation/region) are `broadcast()`ed
  *    explicitly so no shuffle of the fact side ever happens;
  *  - aggregations are partial+final hash aggs (map-side combine) by
  *    construction — we only group on low/medium-cardinality keys;
  *  - window functions partition by high-cardinality keys (user_id,
  *    custkey) so partitions stay small and sort-spill local;
  *  - the theta join (JOIN-7) deliberately keeps one side tiny (supplier) —
  *    BNLJ with the small side broadcast, the only plan that scales.
  */
object Relational extends QueryModule {

  // 2024-01-15T00:00:00Z in epoch micros (as-of cutoff for JOIN-8).
  private val AsOfCutoffUs = 1705276800000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- PROJ ----
    "proj1_project" -> ((s, d) =>
      Tables.customer(s, d).select("c_custkey", "c_name").orderBy("c_custkey")),

    "proj2_cast" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("qty_int"))
        .orderBy("l_orderkey", "l_linenumber")),

    "proj3_computed" -> ((s, d) =>
      Tables.supplier(s, d)
        .select(col("s_suppkey"),
          concat(col("s_name"), lit("#"),
            lpad(col("s_suppkey").cast("string"), 4, "0")).as("s_uri"))
        .orderBy("s_suppkey")),

    // ---- FILT ----
    "filt1_regex" -> ((s, d) =>
      Tables.part(s, d)
        .filter(col("p_name").rlike("(green|blue)"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")),

    "filt2_range" -> ((s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F" &&
          col("o_totalprice") >= 1000 && col("o_totalprice") <= 50000)
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")),

    "filt3_null" -> ((s, d) => {
      // nations with no suppliers: LEFT JOIN + IS NULL existence predicate
      val n = Tables.nation(s, d)
      val su = Tables.supplier(s, d)
      n.join(su, n("n_nationkey") === su("s_nationkey"), "left")
        .filter(col("s_suppkey").isNull)
        .select("n_nationkey", "n_name")
        .orderBy("n_nationkey")
    }),

    "filt4_subset" -> ((s, d) =>
      // homology-style class-subset re-import: filter to a class subset,
      // then count per class (azanium homol_import, pseudoace.py:127-144)
      Tables.lineitem(s, d)
        .filter(col("l_returnflag").isin("A", "R"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // ---- JOIN ----
    "join1_inner" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .filter(col("c_mktsegment") === "BUILDING")
        .select("o_orderkey", "c_name", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    "join2_full_outer" -> ((s, d) => {
      // QA reconciliation shape (pseudoace.py:113-124): per-key counts from
      // two sides, FULL OUTER so keys missing on either side surface.
      val cn = Tables.customer(s, d).groupBy("c_nationkey")
        .agg(count(lit(1)).as("c_cnt"))
      val sn = Tables.supplier(s, d).groupBy("s_nationkey")
        .agg(count(lit(1)).as("s_cnt"))
      cn.join(sn, cn("c_nationkey") === sn("s_nationkey"), "full_outer")
        .select(
          coalesce(col("c_nationkey"), col("s_nationkey")).as("nationkey"),
          coalesce(col("c_cnt"), lit(0L)).as("c_cnt"),
          coalesce(col("s_cnt"), lit(0L)).as("s_cnt"))
        .orderBy("nationkey")
    }),

    "join3_left" -> ((s, d) => {
      val n = Tables.nation(s, d)
      val su = Tables.supplier(s, d)
      n.join(su, n("n_nationkey") === su("s_nationkey"), "left")
        .groupBy(col("n_nationkey"), col("n_name"))
        .agg(count(col("s_suppkey")).as("n_suppliers"))
        .orderBy("n_nationkey")
    }),

    "join4_semi" -> ((s, d) => {
      val n = Tables.nation(s, d)
      val su = Tables.supplier(s, d)
      n.join(su, n("n_nationkey") === su("s_nationkey"), "left_semi")
        .select("n_nationkey", "n_name")
        .orderBy("n_nationkey")
    }),

    "join5_anti" -> ((s, d) => {
      // "classes lost by the migration" analogue: parts never shipped
      val p = Tables.part(s, d)
      val l = Tables.lineitem(s, d)
      p.join(l, p("p_partkey") === l("l_partkey"), "left_anti")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    }),

    "join6_broadcast" -> ((s, d) => {
      // dimension joins: broadcast both dims — the fact side never shuffles
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_cust"), Det.dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy("r_name")
    }),

    "join7_theta" -> ((s, d) => {
      // non-equi band join; small side (supplier) broadcast → BNLJ
      val su = Tables.supplier(s, d)
      val c = Tables.customer(s, d)
      c.join(broadcast(su),
          c("c_acctbal") >= su("s_acctbal") - 100 &&
          c("c_acctbal") <= su("s_acctbal") + 100)
        .select("s_suppkey", "c_custkey")
        .orderBy("s_suppkey", "c_custkey")
    }),

    "join8_asof" -> ((s, d) => {
      // as-of join (Datomic time semantics): latest event per user at or
      // before the cutoff. Window top-1 — partitions by high-card user_id.
      val e = Tables.events(s, d)
        .withColumn("ts_us", expr("ts div 1000"))
        .filter(col("ts_us") <= AsOfCutoffUs)
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      e.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "ts_us", "event_type", "value")
        .orderBy("user_id")
    }),

    "join9_interval" -> ((s, d) => {
      // interval join: pairs of same-user events within a 60 s band
      val e = Tables.events(s, d).select(col("event_id"),
        col("user_id"), expr("ts div 1000").as("ts_us"))
      val a = e.select(col("event_id").as("a_id"), col("user_id").as("a_user"),
        col("ts_us").as("a_us"))
      val b = e.select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts_us").as("b_us"))
      a.join(b, col("a_user") === col("b_user") &&
          col("b_us") > col("a_us") &&
          col("b_us") <= col("a_us") + 60000000L)
        .select("a_id", "b_id")
        .orderBy("a_id", "b_id")
    }),

    // JOIN-9b: the same interval-join semantics with a coarse time-bucket
    // in the equi-key — the shape that survives a hot user at 100× scale:
    // a user with M events is no longer one M×M join partition; each
    // (user, minute-bucket) pair is its own key. Side b is duplicated into
    // its bucket and the preceding one so every ≤60 s pair lands in a
    // shared key; the exact band filter then prunes. Identical output to
    // join9 (same oracle).
    "join9b_banded_bucket" -> ((s, d) => {
      val bandUs = 60000000L
      val e = Tables.events(s, d).select(col("event_id"),
        col("user_id"), expr("ts div 1000").as("ts_us"))
      val a = e.select(col("event_id").as("a_id"), col("user_id").as("a_user"),
        col("ts_us").as("a_us"),
        expr(s"ts_us div $bandUs").as("a_bucket"))
      val b0 = e.select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts_us").as("b_us"),
        expr(s"ts_us div $bandUs").as("b_bucket"))
      val b = b0.select(col("b_id"), col("b_user"), col("b_us"),
          explode(array(col("b_bucket"), col("b_bucket") - 1)).as("bucket"))
      a.join(b, col("a_user") === col("b_user") &&
          col("a_bucket") === col("bucket") &&
          col("b_us") > col("a_us") &&
          col("b_us") <= col("a_us") + bandUs)
        .select("a_id", "b_id").distinct()
        .orderBy("a_id", "b_id")
    }),

    // JOIN-16: 2-D GRID band join — proximity in TWO continuous
    // dimensions at once (time ≤ 60 s AND |Δvalue| ≤ 5): the geospatial
    // grid-join technique (Sedona/H3 style) in its relational form. Each
    // dimension buckets at its threshold width, so a qualifying pair's
    // buckets differ by ≤1 per dimension (lossless — the join9b triangle
    // argument per axis); one side explodes to the 2×3 reachable cells
    // and the equi-join keys on (user, t-cell, v-cell), with the exact
    // predicate as a post-filter. Candidates shrink multiplicatively —
    // each grid dimension independently prunes — where a 1-D band join
    // would re-scan every same-minute pair for the value test.
    "join16_grid_band" -> ((s, d) => {
      val e = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_id"), col("user_id"),
          expr("ts div 1000").as("ts_us"), col("value"))
        .withColumn("tb", expr("ts_us div 60000000"))
        .withColumn("vb", expr("CAST(floor(value / 5.0) AS BIGINT)"))
      val a = e.select(col("user_id"), col("tb"), col("vb"),
        col("event_id").as("a_id"), col("ts_us").as("a_us"),
        col("value").as("a_v"))
      val b = e.select(col("user_id"),
          explode(array(col("tb"), col("tb") - 1)).as("tb"),
          col("vb").as("vb0"), col("event_id").as("b_id"),
          col("ts_us").as("b_us"), col("value").as("b_v"))
        .select(col("user_id"), col("tb"),
          explode(array(col("vb0") - 1, col("vb0"), col("vb0") + 1))
            .as("vb"),
          col("b_id"), col("b_us"), col("b_v"))
      a.join(b, Seq("user_id", "tb", "vb"))
        .filter(col("b_us") > col("a_us") &&
          col("b_us") <= col("a_us") + 60000000L &&
          abs(col("b_v") - col("a_v")) <= 5.0)
        .select("a_id", "b_id")
        .orderBy("a_id", "b_id")
    }),

    "join10_cross" -> ((s, d) => {
      val r = Tables.region(s, d).select("r_name")
      val st = Tables.orders(s, d).select(col("o_orderstatus")).distinct()
      r.crossJoin(st).orderBy("r_name", "o_orderstatus")
    }),

    // JOIN-11: bucketed co-located join — both sides written bucketBy(8) on
    // the join key, so the sort-merge join runs WITHOUT a shuffle exchange
    // on either side (the bucketing IS the partitioning). This is the
    // pre-partitioning story for repeated big-table joins at 100 TB: pay
    // the shuffle once at write time, never again per query.
    // (PlanSpec "join11: bucketed join runs with NO shuffle exchange"
    // asserts the no-exchange plan.)
    "join11_bucketed" -> ((s, d) => {
      // table names carry the lake's tag: one JVM running against two
      // lakes must not silently reuse the first lake's bucketed files
      val tag = Paths.lakeTag(d)
      val wh = s"graft_b_orders_$tag" -> s"graft_b_lineitem_$tag"
      if (!s.catalog.tableExists(wh._1)) {
        // the in-memory catalog forgets tables across JVMs but their files
        // persist under the warehouse dir — clear stale locations first
        def purge(t: String): Unit = {
          val root = new java.io.File(
            s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
            f.delete(): Unit
          }
          if (root.exists()) rm(root)
        }
        purge(wh._1); purge(wh._2)
        // one-time sweep of the pre-tag legacy dirs (ADVICE r4): earlier
        // rounds wrote untagged table names that nothing recreates or cleans
        purge("graft_b_orders"); purge("graft_b_lineitem")
        Tables.orders(s, d).select("o_orderkey", "o_totalprice")
          .write.mode("overwrite")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable(wh._1)
        Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
          .write.mode("overwrite")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable(wh._2)
      }
      s.table(wh._1)
        .join(s.table(wh._2), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_lines"),
          Det.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderkey")
    }),

    // JOIN-12: bloom-filter join pruning — when the dim side is too big to
    // broadcast as DATA but its key set still fits a few-MB SKETCH, build a
    // bloom filter over the dim keys (distributed agg, driver gets only the
    // sketch), broadcast it, and drop non-joining fact rows BEFORE the
    // shuffle. False positives just ride along and are eliminated by the
    // real join, so the result is exact (the oracle is the plain join).
    // At 100 TB this turns a full-fact shuffle into a shuffle of only the
    // ~matching fraction. Spark's own runtime row-level filtering does the
    // same rewrite automatically when stats allow (enabled in
    // Graft.session); this spells the pattern out and keeps it available
    // when the optimizer's size estimates miss. PEDAGOGICAL BASELINE for
    // the BUILD side only: the sketch is built through the driver-side
    // stats API (`stat.bloomFilter` — the sketch bytes round-trip through
    // the driver) to contrast with join12b, where the build itself is
    // distributed aggregate state. The PROBE is the same codegen-native
    // bloom_might_contain on both — the probe runs per fact row (the hot
    // path), so neither variant may pay a ScalaUDF there (VERDICT r10 #8;
    // join12b is the production path end to end).
    "join12_bloom_prune" -> ((s, d) => {
      val dim = Tables.part(s, d).filter(col("p_size") === 15)
        .select("p_partkey", "p_brand")
      // empty dim: stat.bloomFilter aggregates to null (no rows → no
      // buffer) and deserializing it NPEs — the correct prune for an
      // empty build side is "nothing can match" (EmptyAudit finding)
      val bfOpt =
        if (dim.isEmpty) None
        else Some(dim.stat.bloomFilter("p_partkey",
          expectedNumItems = 1000000L, fpp = 0.01))
      val prune = bfOpt match {
        case Some(bf) =>
          // serialize once, embed as a binary literal: the builder put raw
          // long keys, so the native probe sees the same item space
          val os = new java.io.ByteArrayOutputStream()
          bf.writeTo(os)
          call_function("bloom_might_contain",
            lit(os.toByteArray), col("l_partkey").cast("long"))
        case None => lit(false)
      }
      Tables.lineitem(s, d)
        .filter(prune)
        .select("l_partkey", "l_extendedprice")
        .join(dim, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          Det.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("p_brand")
    }),

    // JOIN-12b: the same prune with SPARK'S OWN bloom expressions
    // (registered in functions/Registry.scala): bloom_filter_agg builds
    // the sketch as distributed aggregate state (bit-array OR merge,
    // map-side combined), the scalar subquery lands it in bloom_might_contain as
    // a literal, and the probe runs inside whole-stage codegen — vs
    // join12's driver-side stat.bloomFilter + probe UDF. Both sides hash
    // through xxhash64 (the aggregate takes LongType); false positives
    // are killed by the real join, so the oracle is the plain join.
    // Empty dim: the scalar subquery yields NULL, might_contain NULL →
    // filter drops every row — the correct prune, with no NPE path.
    "join12b_bloom_native" -> ((s, d) => {
      Tables.part(s, d).createOrReplaceTempView("j12b_part")
      Tables.lineitem(s, d).createOrReplaceTempView("j12b_lineitem")
      s.sql(s"""
        |WITH dim AS (
        |  SELECT p_partkey, p_brand FROM j12b_part WHERE p_size = 15)
        |SELECT p_brand, count(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM (
        |  SELECT l_partkey, l_extendedprice FROM j12b_lineitem
        |  WHERE bloom_might_contain(
        |    (SELECT bloom_filter_agg(xxhash64(p_partkey), 1000000L,
        |       8388608L) FROM dim),
        |    xxhash64(l_partkey))) l
        |JOIN dim ON l.l_partkey = dim.p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin)
    }),

    // JOIN-14: dynamic partition pruning — the fact table is LAID OUT
    // partitioned on the join key; the dim-side filter is only known at
    // run time (it lives in a table, not the query text), so no static
    // pushdown can prune. DPP injects the dim's surviving join keys into
    // the fact scan as a runtime partition filter: at 100 TB the scan
    // reads 2 of 5 partitions instead of the lake. PlanSpec asserts the
    // dynamicpruning subquery is in the scan; the oracle is the plain
    // join.
    "join14_dpp" -> ((s, d) => {
      import s.implicits._
      // r22: the partitioned fact + dim FIXTURES are setup, not the
      // DPP-pruned read under test — written once per (session, sf-dir)
      // via StageMemo (cost in the memo ledger), into a UUID scratch dir
      // created at first build so a regenerated lake in a LATER session
      // can never be shadowed by stale parquet (the staleness the old
      // per-run rewrite guarded against was cross-session; the memo key
      // is per-session by construction). The dirs go when the session
      // ends; a build race double-writes two dirs and one path wins.
      val fact = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("value"),
          col("event_type"))
      val store = graft.StageMemo.value(s, s"join14.fact.$d") {
        val p = Paths.scratch(s, "join14_events")
        fact.write.mode("overwrite").partitionBy("event_type").parquet(p)
        p
      }
      val dimPath = graft.StageMemo.value(s, s"join14.dim.$d") {
        val p = Paths.scratch(s, "join14_dim")
        Seq(("click", "engagement"), ("purchase", "conversion"),
          ("view", "engagement"), ("signup", "conversion"),
          ("error", "ops")).toDF("event_type", "category")
          .write.mode("overwrite").parquet(p)
        p
      }
      // explicit schema: an all-empty partitioned write leaves no footer
      // to infer from (EmptyAudit), and production readers of a
      // partitioned store should pin schema anyway
      s.read.schema(fact.schema).parquet(store)
        .join(s.read.parquet(dimPath)
          .filter(col("category") === "conversion"), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_value"))
        .orderBy("event_type")
    }),

    // JOIN-13: salted shuffle join — the hot-key fix when the SKEWED side
    // must shuffle (dim too big to broadcast, skew too extreme for AQE's
    // partition-splitting, which splits partitions but cannot split one
    // giant KEY's hash bucket across reducers when the build side needs
    // co-location). Fact rows take salt = hash(row-unique cols) % S; the
    // dim side replicates ×S via explode, so every (key, salt) reducer
    // holds the dim row it needs. The (key, salt) pairs are themselves
    // hash-partitioned, so one hot key spreads over at most
    // min(S, shuffle partitions) reducers, and some pairs share one (8
    // salts reach 3 of 4 reducers, 4 of 8, 6 of 32 on JoinAdvisorSpec's
    // fixture). Deterministic salting (xxhash64, not
    // rand()) keeps the result reproducible and oracle-checkable — the
    // result set provably equals the unsalted join, which IS the oracle.
    "join13_salted_join" -> ((s, d) => {
      val S = 8
      val fact = Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .withColumn("salt",
          pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(S)))
      val dim = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus")
        .withColumn("salt", explode(sequence(lit(0L), lit(S - 1L))))
      fact.join(dim,
          fact("l_orderkey") === dim("o_orderkey") &&
            fact("salt") === dim("salt"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), Det.dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderstatus")
    }),

    // JOIN-15: AQE-handled skew join — join13's problem (one hot key
    // dominating a shuffle join) solved by the RUNTIME re-planner instead
    // of manual salting: AQE's OptimizeSkewedJoin sees the actual shuffle
    // partition sizes, SPLITS the oversized fact partition into chunks and
    // REPLICATES the matching dim partition per chunk — same effect as
    // salting, zero query rewrite, and it only pays when skew actually
    // materializes. When to prefer which: AQE handles skew that shows up
    // as an oversized PARTITION under sort-merge join (thresholds are
    // byte-based — they fire at production scale, not at sf-test sizes, so
    // PlanSpec demonstrates with scaled-down thresholds); manual salting
    // (join13) remains necessary when the plan must stay a hash join, or
    // when a single KEY needs finer-than-partition splitting guarantees.
    // 90% of fact rows share skew_key 0; hint("merge") pins SMJ so the
    // demo is deterministic. Result provably equals the plain join — the
    // oracle IS the plain join.
    "join15_skew_aqe" -> ((s, d) => {
      // the fact side is an enrichment join (lineitem ⨝ orders, SMJ) so
      // the skewed exchange below is fed by MANY map tasks — AQE can only
      // split a skewed partition at mapper boundaries, and a bare sf-test
      // parquet scan is a single map task (one row group). At production
      // scale any fact scan has thousands of mappers; this models that.
      val fact = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"))
        .hint("merge")
        .join(Tables.orders(s, d).select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("skew_key",
          when(pmod(col("l_orderkey"), lit(10)) < 9, lit(0L))
            .otherwise(pmod(col("l_orderkey"), lit(97))))
      // the checkpoint materializes the 97-row dim: without it the dim's
      // OWN aggregate partitioning (already on skew_key) is reused by the
      // join, the shuffle sits below the agg instead of under the join's
      // sort, and OptimizeSkewedJoin's pattern (sort-over-shuffle-stage on
      // both sides) cannot match
      val dim = Tables.part(s, d)
        .groupBy(pmod(col("p_partkey"), lit(97)).as("skew_key"))
        .agg(count(lit(1)).as("dim_n"))
        .checkpointed()
      // the rollup key is UNRELATED to the join key: a groupBy on
      // skew_key would be satisfied by the join's output partitioning,
      // and splitting the skewed partition would then ADD an exchange —
      // OptimizeSkewedJoin (correctly) declines such plans unless forced
      fact.join(dim.hint("merge"), "skew_key")
        .groupBy(pmod(col("l_orderkey"), lit(7)).as("bucket"))
        .agg(count(lit(1)).as("n"),
          Det.dsum(col("l_quantity")).as("sum_qty"),
          sum(col("dim_n")).as("sum_dim_n"))
        .orderBy("bucket")
    }),

    // ---- AGG ----
    "agg1_count" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")),

    "agg2_multi" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          Det.dsum(col("l_extendedprice")).as("sum_price"),
          (sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") /
            count(col("l_extendedprice"))).as("avg_price"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    "agg3_argmax" -> ((s, d) =>
      // arg-max per group + max(length) per group (util.py:76-77 analogue).
      // Pure hash aggregate, NOT a window (VERDICT r4 #4): max_by over the
      // deterministic key (acctbal, -custkey) == "order by acctbal desc,
      // custkey asc, take first", and partial aggregation combines map-side,
      // so no single task ever sorts a whole 25-key group at 100×. The top
      // row's acctbal IS max(acctbal) (the key's primary component).
      Tables.customer(s, d)
        .groupBy("c_nationkey")
        .agg(
          max_by(col("c_custkey"),
            struct(col("c_acctbal"), -col("c_custkey"))).as("top_custkey"),
          max(col("c_acctbal")).as("top_acctbal"),
          max(length(col("c_name"))).as("max_name_len"))
        .orderBy("c_nationkey")),

    "agg4_distinct" -> ((s, d) =>
      Tables.customer(s, d).select("c_mktsegment").distinct()
        .orderBy("c_mktsegment")),

    "agg5_count_distinct" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderstatus")),

    // approximate HLL — verified by bounded-error ScalaTest, rows-only here
    "agg6_approx_count_distinct" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(approx_count_distinct(col("o_custkey"), 0.01).as("approx_cust"))
        .orderBy("o_orderstatus")),

    "agg7_rollup" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        // grouping() only resolves inside the grouping-sets agg itself
        .agg(count(lit(1)).as("n"), Det.dsum(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).as("g_flag"),
          grouping(col("l_linestatus")).as("g_status"))
        .select(
          when(col("g_flag") === 1, lit("ALL"))
            .otherwise(col("l_returnflag")).as("flag"),
          when(col("g_status") === 1, lit("ALL"))
            .otherwise(col("l_linestatus")).as("status"),
          col("n"), col("sum_qty"))
        .orderBy("flag", "status")),

    // AGG-7b: full cube — all 4 grouping sets of (flag, status)
    "agg7b_cube" -> ((s, d) =>
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          grouping(col("l_returnflag")).as("g_flag"),
          grouping(col("l_linestatus")).as("g_status"))
        .select(
          when(col("g_flag") === 1, lit("ALL"))
            .otherwise(col("l_returnflag")).as("flag"),
          when(col("g_status") === 1, lit("ALL"))
            .otherwise(col("l_linestatus")).as("status"),
          col("n"))
        .orderBy("flag", "status")),

    "agg8_collect_list" -> ((s, d) =>
      // rebuild-object-from-datoms shape: ordered collect per entity
      Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(concat_ws(",",
          sort_array(collect_list(col("l_linenumber")))).as("lines"))
        .orderBy("l_orderkey")),

    "agg9_latest_wins" -> ((s, d) => {
      // latest-wins per (user, event_type) by (ts, event_id) — the Datomic
      // import invariant (pseudoace.py:87-102)
      val e = Tables.events(s, d).withColumn("ts_us", expr("ts div 1000"))
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      e.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("user_id", "event_type", "ts_us", "value")
        .orderBy("user_id", "event_type")
    }),

    "agg10_percentile" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.75)").as("p75"))
        .orderBy("l_returnflag")),

    // ---- WIN ----
    "win1_row_number" -> ((s, d) => {
      // Global top-100 + row numbers. orderBy.limit compiles to
      // TakeOrderedAndProject (distributed partial top-k per partition, no
      // full sort); the unpartitioned row_number window then runs over the
      // ≤100-row result only — never over the raw table (VERDICT r02 #7).
      val top = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
        .limit(100)
      val w = Window.orderBy(col("c_acctbal").desc, col("c_custkey"))
      top.withColumn("rn", row_number().over(w)).orderBy("rn")
    }),

    // AGG-10b: the same exact interpolated percentiles computed from the
    // VALUE DISTRIBUTION (counts per distinct value + cumulative ranges)
    // instead of buffering every value per group — the formulation that
    // survives 100 TB: state is O(distinct values), not O(rows). The
    // interpolation (lower + frac·(higher−lower), rank p·(N−1)) matches
    // percentile()/quantile_cont bit-for-bit, so the same oracle applies.
    "agg10b_percentile_counts" -> ((s, d) => {
      import s.implicits._
      val counts = Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_quantity")
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
      val cum = counts
        .withColumn("cum_end", sum("cnt").over(w) - 1)
        .withColumn("cum_start", col("cum_end") - col("cnt") + 1)
        .checkpointed()  // tiny (distinct values); reused per percentile
      val n = cum.groupBy("l_returnflag").agg(sum("cnt").as("n"))
      val targets = n.crossJoin(Seq(0.25, 0.5, 0.75).toDF("p"))
        .withColumn("r", col("p") * (col("n") - 1))
        .withColumn("k", floor(col("r")).cast("long"))
        .withColumn("frac", col("r") - col("k"))
        .withColumn("k1", least(col("k") + 1, col("n") - 1))
      def lookup(idx: String, out: String) = cum.select(
        col("l_returnflag").as(s"f_$out"), col("l_quantity").as(out),
        col("cum_start").as(s"cs_$out"), col("cum_end").as(s"ce_$out"))
      val withVk = targets
        .join(lookup("k", "v_k"), col("l_returnflag") === col("f_v_k") &&
          col("k").between(col("cs_v_k"), col("ce_v_k")))
        .join(lookup("k1", "v_k1"), col("l_returnflag") === col("f_v_k1") &&
          col("k1").between(col("cs_v_k1"), col("ce_v_k1")))
        .withColumn("pv",
          col("v_k") + col("frac") * (col("v_k1") - col("v_k")))
      withVk.groupBy("l_returnflag")
        .agg(max(when(col("p") === 0.25, col("pv"))).as("p25"),
          max(when(col("p") === 0.5, col("pv"))).as("p50"),
          max(when(col("p") === 0.75, col("pv"))).as("p75"))
        .orderBy("l_returnflag")
    }),

    // AGG-11: salted two-phase aggregation — the skew-mitigation pattern for
    // hot grouping keys at 100 TB (a single hot key otherwise lands all its
    // rows in one reducer). Phase 1 groups on (key, salt) — partial sums
    // spread across 16 reducers per key; phase 2 re-groups on key alone over
    // the tiny partial-sum table. Decimal partials keep the result exactly
    // equal to the unsalted plan (associativity), so the plain-SQL oracle
    // hash-matches.
    "agg11_salted_skew" -> ((s, d) =>
      Tables.lineitem(s, d)
        .withColumn("salt", pmod(hash(col("l_orderkey")), lit(16)))
        .groupBy("l_returnflag", "salt")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("part_qty"),
          count(lit(1)).as("part_n"))
        .groupBy("l_returnflag")
        .agg(sum(col("part_qty")).cast("double").as("sum_qty"),
          sum(col("part_n")).as("n"))
        .orderBy("l_returnflag")),

    "win2_rank" -> ((s, d) => {
      // Two-phase top-k-per-group (VERDICT r4 #4): o_orderstatus has 3
      // values, so a direct rank() window sorts a third of the table in ONE
      // task at 100×. Phase 1 ranks within (status, salt) buckets — a row's
      // local rank is <= its global rank (dropping rows can only shrink the
      // strictly-greater count), so keeping local rank <= 20 is lossless for
      // global rank <= 20. Phase 2 re-ranks the <= ~20·64 survivors per
      // status: every row strictly greater than a global-top-20 row has
      // global rank < 20 and thus survives phase 1, so rank AND dense_rank
      // recompute to their exact global values on the pruned set.
      val salted = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .withColumn("salt", pmod(hash(col("o_orderkey")), lit(64)))
      val wLocal = Window.partitionBy("o_orderstatus", "salt")
        .orderBy(col("o_totalprice").desc)
      val pruned = salted
        .withColumn("lrk", rank().over(wLocal))
        .filter(col("lrk") <= 20)
        .drop("salt", "lrk")
      val w = Window.partitionBy("o_orderstatus").orderBy(col("o_totalprice").desc)
      pruned
        .withColumn("rk", rank().over(w))
        .withColumn("drk", dense_rank().over(w))
        .filter(col("rk") <= 20)
        .orderBy("o_orderstatus", "rk", "o_orderkey")
    }),

    "win3_lag_lead" -> ((s, d) => {
      val e = Tables.events(s, d).withColumn("ts_us", expr("ts div 1000"))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      e.select(col("user_id"), col("event_id"), col("ts_us"))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
        .withColumn("next_us", lead(col("ts_us"), 1).over(w))
        .withColumn("gap_us", col("ts_us") - col("prev_us"))
        .orderBy("user_id", "ts_us", "event_id")
    }),

    "win4_running_sum" -> ((s, d) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .withColumn("running_spend",
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
        .select(col("o_custkey"), col("o_orderkey"),
          Det.dstr(col("o_orderdate")).as("odate"), col("o_totalprice"),
          col("running_spend"))
        .orderBy("o_custkey", "odate", "o_orderkey")
    }),

    "win5_sliding_avg" -> ((s, d) => {
      val wBase = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val w = wBase.rowsBetween(-3, Window.currentRow)
      val e = Tables.events(s, d).withColumn("ts_us", expr("ts div 1000"))
      e.select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
        .withColumn("mov_avg",
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double") /
            count(lit(1)).over(w))
        .orderBy("user_id", "ts_us", "event_id")
    }),

    "win6_top1_per_group" -> ((s, d) => {
      val e = Tables.events(s, d).withColumn("ts_us", expr("ts div 1000"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      e.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("user_id", "ts_us", "event_type")
        .orderBy("user_id")
    }),

    // ---- SORT ----
    "sort1_global_by_ts" -> ((s, d) =>
      // the reference's sort-edn-logs-by-timestamp step (pseudoace.py:87-95)
      // as one distributed range-partitioned total sort
      Tables.events(s, d)
        .select(col("event_id"), expr("ts div 1000").as("ts_us"))
        .orderBy("ts_us", "event_id")),

    "sort2_desc_by_measure" -> ((s, d) =>
      // report sorted by count desc (util.py:86)
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("l_returnflag"), col("l_linestatus"))),

    "sort3_multikey" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select("l_returnflag", "l_quantity", "l_orderkey", "l_linenumber")
        .orderBy(col("l_returnflag"), col("l_quantity").desc,
          col("l_orderkey"), col("l_linenumber"))
        .limit(1000)),

    "sort4_partition_local" -> ((s, d) =>
      // per-file local sort semantics (sort-edn-log.sh): range-partition on
      // the sort key, then sort within each partition — a distributed total
      // order (partition i's range < partition i+1's), no single-task
      // collapse (VERDICT r02 #8). Partition-concatenation order is the
      // global order, which the verify sink preserves.
      Tables.events(s, d)
        .select(col("event_id"), expr("ts div 1000").as("ts_us"))
        .repartitionByRange(col("ts_us"), col("event_id"))
        .sortWithinPartitions("ts_us", "event_id")),

    "sort5_topk" -> ((s, d) =>
      // TakeOrderedAndProject: never materializes a full sort
      Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(50)),

    // SORT-6: deterministic GLOBAL row numbering — stable ids every engine
    // reproduces (content-hash order), without the classic trap:
    // row_number() with no partition moves the whole table into ONE task.
    // Two-phase instead: range-partition by the hash (distributed sort),
    // number rows LOCALLY per partition, then add per-partition offsets
    // computed from an O(partitions) count table — the same
    // local-rank+offset decomposition as ts4's prefix sum. The only
    // single-partition stage is the offsets window over ≤32 rows.
    // (monotonically_increasing_id is partition-layout-dependent and NOT
    // reproducible — this is.)
    "sort6_global_rownum" -> ((s, d) => {
      val parted = Tables.events(s, d).select(col("event_id"))
        .withColumn("h", md5(col("event_id").cast("string").cast("binary")))
        .repartitionByRange(32, col("h"), col("event_id"))
        .withColumn("pid", spark_partition_id())
        .checkpointed() // offsets AND numbering read the same layout
      val offsets = parted.groupBy("pid").agg(count(lit(1)).as("n"))
        .withColumn("off", coalesce(sum("n").over(
          Window.orderBy("pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("pid", "off")
      parted.withColumn("lrn", row_number().over(
          Window.partitionBy("pid").orderBy("h", "event_id")))
        .join(broadcast(offsets), "pid")
        .select(col("event_id"), (col("lrn") + col("off")).as("rid"))
        .orderBy("rid")
    }),

    // ---- SET ----
    "set1_union_distinct" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .union(Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .distinct()
        .orderBy("nationkey")),

    "set2_union_all" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val hi = o.filter(col("o_totalprice") > 150000)
        .select(col("o_orderkey"), lit("hi").as("bucket"))
      val lo = o.filter(col("o_totalprice") < 5000)
        .select(col("o_orderkey"), lit("lo").as("bucket"))
      hi.unionByName(lo).orderBy("o_orderkey", "bucket")
    }),

    "set3_intersect" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersect(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
        .orderBy("o_custkey")
    }),

    "set4_except" -> ((s, d) => {
      val o = Tables.orders(s, d)
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .except(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
        .orderBy("o_custkey")
    }),

    // AGG-12: PIVOT with EXPLICIT value list. Supplying the values skips the
    // extra distinct-scan job Spark otherwise runs to discover them — at
    // 100 TB that job is a second full pass over the fact table. The plan is
    // a single partial+final hash agg (one conditional sum per pivot value).
    "agg12_pivot" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(Det.dsum(col("l_quantity")))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
        .orderBy("l_returnflag")),

    // AGG-13: UNPIVOT (melt) — wide metrics to (key, metric, value) rows.
    // The expand runs AFTER aggregation, so row multiplication happens on
    // the 3-row aggregate, never on the raw table.
    "agg13_unpivot" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(Det.dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).cast("double").as("n_rows"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("n_rows")), "metric", "value")
        .orderBy("l_returnflag", "metric")),

    // AGG-14: GROUPING SETS — an asymmetric set list ((flag,status),
    // (status), ()) that neither rollup nor cube expresses. One scan + one
    // Expand (3 projections) + one hash agg, vs 3 scans for a UNION ALL of
    // separate aggregates.
    "agg14_grouping_sets" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq.empty[org.apache.spark.sql.Column]),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          grouping(col("l_returnflag")).as("g_flag"),
          grouping(col("l_linestatus")).as("g_status"))
        .select(
          when(col("g_flag") === 1, lit("ALL"))
            .otherwise(col("l_returnflag")).as("flag"),
          when(col("g_status") === 1, lit("ALL"))
            .otherwise(col("l_linestatus")).as("status"),
          col("n"))
        .orderBy("flag", "status")),

    // WIN-7: distribution window functions (percent_rank / cume_dist /
    // ntile) partitioned by high-cardinality user_id — partitions stay
    // small and sorts spill-local at 100×. (ts_us, event_id) is a total
    // order per partition, so every rank is deterministic.
    "win7_ntile" -> ((s, d) => {
      val e = Tables.events(s, d).withColumn("ts_us", expr("ts div 1000"))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      e.select(col("user_id"), col("event_id"), col("ts_us"))
        .withColumn("pr", round(percent_rank().over(w), 6))
        .withColumn("cd", round(cume_dist().over(w), 6))
        .withColumn("tile", ntile(4).over(w))
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // WIN-8: time-RANGE frame — trailing 1-hour sum per user. A range frame
    // over the sorted partition is a sliding two-pointer pass (no
    // re-aggregation per row); equal timestamps are frame peers in both
    // engines, so ties don't affect the result. Decimal accumulation keeps
    // the double bit-identical to the oracle.
    "win8_range_frame" -> ((s, d) => {
      val e = Tables.events(s, d).withColumn("ts_us", expr("ts div 1000"))
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0)
      e.select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
        .withColumn("hr_sum",
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
        .drop("value")
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // AGG-32: exact skewness / kurtosis — the distribution-shape tier of
    // the agg26/agg30 moment protocol: four raw power sums as exact
    // decimals (q ≤ 50 at 2dp → q⁴ sums fit decimal(38,8) with room) in
    // ONE partial+final agg, then the central-moment closed forms as a
    // fixed double expression tree — built-in skewness()/kurtosis() are
    // float-order-dependent streaming forms, these are not. Population
    // g1 = m3/m2^1.5, excess g2 = m4/m2² − 3.
    "agg32_moments" -> ((s, d) => {
      val q = col("l_quantity").cast("decimal(8,2)")
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(q).cast("double").as("s1"),
          sum(q * q).cast("double").as("s2"),
          sum(q * q * q).cast("double").as("s3"),
          sum((q * q) * (q * q)).cast("double").as("s4"))
        .select(col("l_returnflag"),
          round((col("s3") - lit(3) * col("s2") * col("s1") / col("n") +
            lit(2) * col("s1") * col("s1") * col("s1") /
              (col("n") * col("n"))) / col("n") /
            pow((col("s2") - col("s1") * col("s1") / col("n")) / col("n"),
              1.5), 6).as("skewness"),
          round((col("s4") - lit(4) * col("s3") * col("s1") / col("n") +
            lit(6) * col("s2") * col("s1") * col("s1") /
              (col("n") * col("n")) -
            lit(3) * col("s1") * col("s1") * col("s1") * col("s1") /
              (col("n") * col("n") * col("n"))) / col("n") /
            ((col("s2") - col("s1") * col("s1") / col("n")) / col("n")) /
            ((col("s2") - col("s1") * col("s1") / col("n")) / col("n"))
            - lit(3), 6).as("kurtosis_excess"))
        .orderBy("l_returnflag")
    }),

    // AGG-31: ordered LISTAGG — the warehouse string_agg/LISTAGG ... WITHIN
    // GROUP (ORDER BY): collect_list is partition-order-nondeterministic,
    // so determinism comes from array_sort BEFORE the join (the agg8
    // discipline applied to strings); per-group payload is bounded by
    // suppliers-per-nation, never corpus-sized.
    "agg31_listagg" -> ((s, d) =>
      Tables.supplier(s, d)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          concat_ws(",", array_sort(collect_list(col("s_name"))))
            .as("names"))
        .orderBy("s_nationkey")),

    // WIN-15: relative standing — percent_rank (rank−1)/(n−1) and
    // cume_dist (rows ≤ current)/n per user, ordered by (value, event_id)
    // so the rank order is total and both statistics are exact int/int
    // divisions (no float accumulation). One window exchange serves both.
    "win15_percent_rank" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("value"))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .orderBy("user_id", "value", "event_id")
    }),

    // AGG-15: approximate percentile (Greenwald-Khanna sketch). The exact
    // agg10 buffers every value per group (ObjectHashAggregate, O(rows)
    // state); this sketch holds O(1/accuracy) state per group and merges
    // associatively, so partial aggregation works map-side — at 100 TB the
    // shuffle carries fixed-size sketches, not value lists. Approximate →
    // no DuckDB oracle; ApproxSpec bounds the rank error vs exact agg10.
    // Scalar p50/p95 projections (not one array<double> column): the
    // driver's rows-only compare sorts the frame in pandas, and an array
    // column is unhashable there — same estimates, sortable shape.
    "agg15_approx_percentile" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          percentile_approx(col("l_extendedprice"),
            array(lit(0.5), lit(0.95)), lit(10000)).as("approx_pct"),
          count(lit(1)).as("n"))
        .select(
          col("l_returnflag"),
          element_at(col("approx_pct"), 1).as("p50"),
          element_at(col("approx_pct"), 2).as("p95"),
          col("n"))
        .orderBy("l_returnflag")),

    // AGG-16: mergeable distinct-count sketches (Apache DataSketches HLL).
    // Unlike agg6's one-shot approx_count_distinct, the sketch itself is a
    // first-class column: build one per nation, then UNION the serialized
    // sketches into a global estimate WITHOUT rescanning the input. That is
    // the lakehouse rollup pattern — per-partition/per-day sketches
    // persisted once, any ad-hoc slice answered by merging footprint-sized
    // state. ApproxSpec checks both levels against exact distinct counts.
    "agg16_hll_sketch_union" -> ((s, d) => {
      val perNation = Tables.customer(s, d)
        .groupBy("c_nationkey")
        .agg(hll_sketch_agg(col("c_custkey"), lit(12)).as("sk"))
      perNation
        .select(col("c_nationkey"),
          hll_sketch_estimate(col("sk")).as("est_nation"))
        .join(
          perNation.agg(
            hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
              .as("est_global")),
          lit(true))
        .orderBy("c_nationkey")
    }),

    // AGG-19 ⚠: sketch-based set-intersection cardinality — "how many
    // customers ordered in BOTH eras" WITHOUT joining the eras: era
    // sketches merge by inclusion–exclusion (|A∩B| = |A|+|B|−|A∪B|), so
    // the overlap of two 100 TB slices costs two filtered scans (or zero,
    // if per-era sketches are already persisted — the agg16 rollup
    // pattern) and a few KB of sketch state crossing the driver. The
    // exact-join formulation shuffles both custkey sets; this shuffles
    // nothing. Error compounds through the subtraction (documented), so
    // ApproxSpec bounds it vs the exact semi-join overlap.
    "agg19_hll_intersection" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val cut = to_timestamp(lit("1998-01-01"))
      val ska = o.filter(col("o_orderdate") < cut)
        .agg(hll_sketch_agg(col("o_custkey"), lit(12)).as("ska"))
      val skb = o.filter(col("o_orderdate") >= cut)
        .agg(hll_sketch_agg(col("o_custkey"), lit(12)).as("skb"))
      ska.crossJoin(skb)
        .select(
          hll_sketch_estimate(col("ska")).as("est_early"),
          hll_sketch_estimate(col("skb")).as("est_late"),
          hll_sketch_estimate(hll_union(col("ska"), col("skb")))
            .as("est_union"))
        .withColumn("est_overlap",
          col("est_early") + col("est_late") - col("est_union"))
    }),

    // AGG-22 ⚠: theta-sketch set intersection — agg19's question ("how
    // many customers ordered in BOTH eras") answered WITHOUT
    // inclusion–exclusion: a theta sketch is a uniform hash-sample of the
    // set below threshold θ, so |A∩B| is estimated DIRECTLY on the two
    // sketches' retained entries (DataSketches Intersection). agg19's
    // |A|+|B|−|A∪B| compounds three estimates' error against the UNION's
    // scale (15% documented bound); here the error tracks the overlap
    // itself — ApproxSpec holds this to ≤5% on the same data. The
    // sketches are Spark's own theta functions (lgK 12, datasketches-java
    // 6.2.0): two filtered scans build map-side-merged sketch state (the
    // shuffle carries compact sketches, never custkeys), one 1-row cross
    // join does the set algebra, and the estimates are rounded bigints.
    // Sketches persist like agg16's: any later union/intersect/difference
    // is footprint-sized, zero rescans.
    "agg22_theta_intersection" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val cut = to_timestamp(lit("1998-01-01"))
      val ska = o.filter(col("o_orderdate") < cut)
        .agg(theta_sketch_agg(col("o_custkey")).as("ska"))
      val skb = o.filter(col("o_orderdate") >= cut)
        .agg(theta_sketch_agg(col("o_custkey")).as("skb"))
      ska.crossJoin(skb)
        .select(
          theta_sketch_estimate(col("ska")).as("est_early"),
          theta_sketch_estimate(col("skb")).as("est_late"),
          theta_sketch_estimate(theta_intersection(col("ska"), col("skb")))
            .as("est_overlap"))
    }),

    // AGG-23: DDSketch quantile sketch — mergeable QUANTILE state next to
    // the cardinality sketches (HLL/theta/CMS), and the only sketch family
    // here whose result the DuckDB oracle can HASH-MATCH: the log-bucket
    // mapping ⌈ln(x)/ln(γ)⌉ is deterministic and insertion-order-free, so
    // the sketch is a pure function of the value multiset (t-digest is
    // not — centroids depend on merge order). Per group the shuffle
    // carries one bucket→count map (~hundreds of 12 B entries), never
    // rows; p50/p95 come off the 1-row final stage. Bucket indices are
    // exact BIGINTs; value estimates 2γⁱ/(γ+1) round to 2 dp because pow
    // differs by 1 ulp across libms (protocol in DdSketch.scala).
    // Mergeability (sketch(A⊎B) ≡ merge bytes) is pinned by DdsSpec.
    "agg23_ddsketch_quantile" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_items"),
          call_function("dds_sketch_agg", col("l_extendedprice"), lit(0.01))
            .as("sk"))
        .select(col("l_returnflag"), col("n_items"),
          call_function("dds_quantile_bucket", col("sk"), lit(0.5))
            .as("p50_bucket"),
          call_function("dds_quantile", col("sk"), lit(0.5)).as("p50_est"),
          call_function("dds_quantile_bucket", col("sk"), lit(0.95))
            .as("p95_bucket"),
          call_function("dds_quantile", col("sk"), lit(0.95)).as("p95_est"))
        .orderBy("l_returnflag")),

    // AGG-24: rolling 7-day p50/p95 from DAILY DDSKETCHES — the agg21
    // rolling-HLL shape applied to QUANTILES: one scan builds a per-day
    // sketch, then every 7-day window is answered by merging 7
    // KB-sized bucket maps (dds_merge_agg over a row frame) — the raw
    // events are scanned ONCE ever; an exact formulation re-sorts the
    // raw rows per window. The window runs over O(days) rows
    // (metadata-sized — the ts4 single-partition justification). Row
    // frame -6..0 over OBSERVED days (agg21's contract; this lake has
    // every day populated, so row frame == calendar frame). Unlike
    // agg21 this one HASH-MATCHES: deterministic log buckets, the
    // zero bucket (value ≤ 0 — present at sf0.1) surfaces as
    // Long.MinValue in both engines, rank/estimate protocol as agg23.
    "agg24_rolling_quantile" -> ((s, d) => {
      // count(value), not count(*): DdsAgg skips NULLs, so n must too —
      // keeps Spark and the oracle consistent if value is ever nullable
      val daily = Tables.events(s, d)
        .groupBy(date_format(col("event_ts"), "yyyy-MM-dd").as("day"))
        .agg(count(col("value")).as("n"),
          call_function("dds_sketch_agg", col("value"), lit(0.01)).as("sk"))
      val w = Window.orderBy("day").rowsBetween(-6, 0)
      daily.select(col("day"),
          sum(col("n")).over(w).as("n_7d"),
          call_function("dds_merge_agg", col("sk")).over(w).as("sk7"))
        .select(col("day"), col("n_7d"),
          call_function("dds_quantile_bucket", col("sk7"), lit(0.5))
            .as("p50_bucket"),
          call_function("dds_quantile", col("sk7"), lit(0.5)).as("p50_est"),
          call_function("dds_quantile_bucket", col("sk7"), lit(0.95))
            .as("p95_bucket"),
          call_function("dds_quantile", col("sk7"), lit(0.95)).as("p95_est"))
        .orderBy("day")
    }),

    // AGG-23b: DDSketch CDF — the INVERSE quantile query ("what share of
    // prices are ≤ x", the SLO question) off the same sketch state as
    // agg23: one scan, sketch-sized shuffle, any number of thresholds
    // answered from the final 1-row stage. Hash-matches: the CDF is one
    // IEEE division of two integers that are pure functions of the
    // multiset; threshold literals chosen mid-bucket (frac .50/.43) so a
    // 1-ulp ln() divergence cannot flip their bucket index.
    "agg23b_ddsketch_cdf" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(call_function("dds_sketch_agg", col("l_extendedprice"),
          lit(0.01)).as("sk"))
        .select(col("l_returnflag"),
          call_function("dds_cdf", col("sk"), lit(10000.0))
            .as("share_le_10k"),
          call_function("dds_cdf", col("sk"), lit(30000.0))
            .as("share_le_30k"))
        .orderBy("l_returnflag")),

    // AGG-25 ⚠: SpaceSaving one-pass top-k — the third heavy-hitter tier
    // (functions/SpaceSaving.scala): agg17 is exact but shuffles ~|keys|
    // count rows; agg17b's CMS has fixed state but still needs exact
    // CANDIDATES to probe; SpaceSaving emits the candidates ITSELF from
    // one pass over fixed k-counter state — the shuffle carries one
    // k-entry summary per task, period. Per-key bounds ride along:
    // est ≥ true ≥ est − err, err=0 ⇒ provably exact count. Counter
    // summaries are arrival-order-dependent (not canonical bytes) →
    // no_oracle + SpaceSavingSpec/PropertySpec bounds, the agg16/21/22
    // precedent. k=512 ≫ the 20 rows kept: at sf0.1 every top-20 key's
    // counter is far above the eviction floor, err = 0.
    "agg25_topk_sketch" -> ((s, d) =>
      Tables.lineitem(s, d)
        .agg(call_function("space_saving_agg", col("l_partkey"), lit(512))
          .as("top"))
        .select(explode(col("top")).as("e"))
        .select(col("e.key").as("l_partkey"), col("e.est").as("est_n"),
          col("e.err").as("err_n"))
        .orderBy(col("est_n").desc, col("l_partkey")).limit(20)),

    // AGG-21 ⚠: rolling distinct users from DAILY HLL SKETCHES — sketch
    // algebra over a window frame: persist one sketch per day (the agg16
    // rollup pattern), answer "7-day distinct users" for every day by
    // UNIONing 7 footprint-sized sketches — the raw events are scanned
    // ONCE ever; every rolling window after that is O(days) sketch
    // merges. An exact formulation re-scans the raw table per window (or
    // keeps per-day user SETS — unbounded state). The window runs over
    // O(days) rows — metadata-sized, the ts4 single-partition
    // justification. ApproxSpec bounds each day vs the exact 7-day
    // distinct count.
    "agg21_rolling_hll" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(date_format(col("event_ts"), "yyyy-MM-dd").as("day"))
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      daily.withColumn("users_7d",
          hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))
            .over(Window.orderBy("day").rowsBetween(-6, 0))))
        .select("day", "users_7d").orderBy("day")
    }),

    // PROF-1: column profiler (ANALYZE TABLE analogue). Every per-column
    // stat comes out of two pipelined passes over the lineitem scan (below),
    // not one job per column. stack() pivots the 1-row aggregate into the
    // catalog-friendly long form; min/max surface as strings so one schema
    // covers heterogeneous column types.
    "prof1_table_stats" -> ((s, d) => {
      // Two pipelined passes, each sort-free. The obvious one-agg
      // formulation (k countDistincts + min/max in one .agg) rewrites to
      // an Expand whose aggregate is keyed by ALL k value columns at once
      // — string/timestamp agg buffers force SortAggregate, i.e. two full
      // sorts of k×|rows| wide rows (measured 7-12 s at sf0.1 vs <2 s for
      // this shape; at 100 TB it's a cluster-wide sort nobody asked for).
      //   pass 1: keyless agg → null counts + TYPED min/max (no grouping
      //           key → no sort, one codegen pipeline);
      //   pass 2: melt to (column, value-string) and count distinct as two
      //           stacked HashAggregates (long buffers only, never sorts;
      //           shuffle carries one (col,value) row per distinct value).
      val cols = Seq("l_returnflag", "l_shipdate", "l_quantity", "l_extendedprice")
      val li = Tables.lineitem(s, d)
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
        count(col(c)).as(s"${c}__n"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max")))
      val base = li.agg(aggs.head, aggs.tail: _*)
        .select(expr(
          s"stack(${cols.size}, " + cols.map(c =>
            s"'$c', n_rows - ${c}__n, ${c}__n, ${c}__min, ${c}__max")
            .mkString(", ") +
          ") AS (column_name, n_null, n, min_s, max_s)"))
      // the string cast is injective on these types, so distinct counts
      // match COUNT(DISTINCT col) on the original values (the oracle's)
      val nd = li.select(expr(
          s"stack(${cols.size}, " + cols.map(c =>
            s"'$c', CAST($c AS STRING)").mkString(", ") +
          ") AS (column_name, v)"))
        .filter(col("v").isNotNull)
        .groupBy("column_name", "v").agg(count(lit(1)).as("cnt"))
        .groupBy("column_name").agg(count(lit(1)).as("n_distinct"))
      base.join(nd, "column_name")
        .select("column_name", "n_null", "n", "n_distinct", "min_s", "max_s")
        .orderBy("column_name")
    }),

    // AGG-28: EXACT distinct counts from bitmap aggregate state
    // (functions/BitmapSketch.scala) — the third point on the distinct
    // curve: count_distinct expands rows through the shuffle; HLL (agg16)
    // is KB-sized but approximate; the bitmap is fixed-size (32 KB at the
    // declared 2^18 key domain) AND exact, with bitwise-OR merge so
    // map-side combine ships one bitmap per task. Oracle is the plain
    // COUNT(DISTINCT) — equality, not a bound.
    "agg28_bitmap_distinct" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(expr("bitmap_cardinality(bitmap_agg(o_custkey, 262144))")
          .as("n_distinct_cust"))
        .orderBy("o_orderpriority")),

    // AGG-28b: exact distinct-set INTERSECTION from one pass — the query
    // HLL fundamentally cannot answer exactly (agg19's inclusion–
    // exclusion carries compounded error; here it is zero-error): both
    // priority classes' customer bitmaps build in a single scan via
    // conditional keys, and the final 1-row stage intersects them
    // bitwise. The segment-overlap question every audience/cohort tool
    // asks at 100 TB.
    "agg28b_bitmap_intersection" -> ((s, d) =>
      Tables.orders(s, d)
        .agg(
          expr("bitmap_agg(CASE WHEN o_orderpriority = '1-URGENT' " +
            "THEN o_custkey END, 262144)").as("bu"),
          expr("bitmap_agg(CASE WHEN o_orderpriority = '2-HIGH' " +
            "THEN o_custkey END, 262144)").as("bh"))
        .select(
          expr("bitmap_cardinality(bu)").as("n_urgent"),
          expr("bitmap_cardinality(bh)").as("n_high"),
          expr("bitmap_and_cardinality(bu, bh)").as("n_both"))),

    // AGG-27: exact mode per group — most frequent integer value bucket
    // per event type, smallest-value tie-break. Two stacked hash aggs, no
    // window: value counts collapse to O(distinct) rows, then the
    // agg3_argmax struct-max trick ((cnt, −v) lexicographic max = highest
    // count, then lowest v) runs as one partial+final aggregate — the
    // shuffle carries one struct per group per task, never a sorted
    // partition.
    "agg27_mode" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), floor(col("value")).cast("long").as("v"))
        .groupBy("event_type", "v").agg(count(lit(1)).as("cnt"))
        .groupBy("event_type")
        .agg(max(struct(col("cnt"), (-col("v")).as("nv"))).as("m"))
        .select(col("event_type"), (-col("m.nv")).as("mode_v"),
          col("m.cnt").as("n"))
        .orderBy("event_type")),

    // PROF-3: key-skew profile — the measurement that justifies (or
    // forbids) agg11's salting and AQE's skew-join splits: per grouping
    // key, row count, corpus share, and imbalance vs the uniform
    // expectation T/K, all in exact integer ppm. One partial+final hash
    // agg to O(K) rows; the share/skew arithmetic runs on the tiny key
    // table. At 100 TB this is the cheap pre-flight that tells you whether
    // a key needs salting BEFORE you burn a shuffle discovering it.
    "prof3_skew_report" -> ((s, d) => {
      val counts = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("key"))
        .agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum("cnt").as("t"), count(lit(1)).as("k"))
      counts.crossJoin(broadcast(tot))
        .select(col("key"), col("cnt"),
          expr("cnt * 1000000 DIV t").as("share_ppm"),
          expr("cnt * k * 1000000 DIV t").as("skew_x_ppm"))
        .orderBy(col("cnt").desc, col("key"))
    }),

    // PROF-4: functional-dependency profile — does A determine B? The
    // data-quality question behind key discovery, normalization audits,
    // and "is this join key actually unique" pre-flights (the reference's
    // QA report asks the per-class flavor of it: one id → one object).
    // Per candidate FD: distinct LHS count, LHS groups with >1 distinct
    // RHS (violations), violation rate in exact integer ppm, and the
    // worst group's RHS fan-out. Shape per FD: groupBy(lhs, rhs) →
    // groupBy(lhs) → 1-row rollup — stacked hash aggs with map-side
    // combine, the same O(distinct)-collapse discipline as agg27; the
    // four 1-row results union into the report. At 100 TB each FD is one
    // pair-collapse shuffle (no countDistinct row explosion, no window),
    // and independent FDs pipeline as independent stages.
    "prof4_fd_profile" -> ((s, d) => {
      def fd(df: DataFrame, name: String, lhs: String, rhs: String) = {
        val perLhs = df.select(col(lhs).as("a"), col(rhs).as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("n"))
          .groupBy("a").agg(count(lit(1)).as("nrhs"))
        perLhs.agg(
          count(lit(1)).as("n_lhs"),
          count(when(col("nrhs") > 1, 1)).as("n_viol"),
          max(col("nrhs")).as("max_fanout"))
          .select(lit(name).as("fd"), col("n_lhs"), col("n_viol"),
            // NULL on an empty table, like the oracle's `//`
            expr("n_viol * 1000000 DIV nullif(n_lhs, 0)").as("viol_ppm"),
            col("max_fanout"))
      }
      val li = Tables.lineitem(s, d)
      fd(Tables.orders(s, d), "o_orderkey->o_custkey", "o_orderkey", "o_custkey")
        .unionAll(fd(li, "l_orderkey->l_returnflag", "l_orderkey", "l_returnflag"))
        .unionAll(fd(li, "l_partkey->l_suppkey", "l_partkey", "l_suppkey"))
        .unionAll(fd(li, "l_suppkey->l_partkey", "l_suppkey", "l_partkey"))
        .orderBy("fd")
    }),

    // PROF-7: categorical-dependence profile — Cramér's V (χ² normalized
    // to [0,1]) per column pair, the STATISTICAL complement of prof4's
    // functional dependencies (an FD is V=1; prof4 can't see the soft
    // association a mixture/skew audit needs). One contingency-cell agg
    // per pair (map-side combined to |a|×|b| rows — KBs), then windows
    // over that metadata-sized grid for the marginals; expected counts
    // and χ² terms in IEEE doubles with the llm30 decimal-sum protocol,
    // and V derived from the ROUNDED χ² so both engines hash-match. At
    // 100 TB each pair costs one partial-agg shuffle of cell cardinality,
    // nothing touches the raw rows twice.
    "prof7_cramers_v" -> ((s, d) => {
      def pair(df: DataFrame, name: String, a: String, b: String) = {
        val cells = df.select(col(a).cast("string").as("a"),
            col(b).cast("string").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("o"))
        val grid = cells
          .withColumn("ra", sum("o").over(Window.partitionBy("a")))
          .withColumn("cb", sum("o").over(Window.partitionBy("b")))
          .withColumn("n", sum("o").over(Window.partitionBy()))
          .withColumn("exp",
            col("ra").cast("double") * col("cb").cast("double") /
              col("n").cast("double"))
          .withColumn("term",
            (col("o").cast("double") - col("exp")) *
              (col("o").cast("double") - col("exp")) / col("exp"))
        grid.agg(
            max(col("n")).as("n"),
            countDistinct(col("a")).as("r"),
            countDistinct(col("b")).as("c"),
            (round(sum(col("term").cast("decimal(28,12)")).cast("double")
              * lit(1e6)) / lit(1e6)).as("chi2"))
          .select(lit(name).as("pair"), col("n"), col("r"), col("c"),
            col("chi2"),
            // a constant column (r or c = 1) zeroes the normalizer:
            // chi2 is 0 there (every o == exp) but 0/0 → NaN without
            // the guard; a one-category pair has no association → 0.0
            when(least(col("r"), col("c")) <= 1, lit(0.0))
              .otherwise(
                round(sqrt(col("chi2") / (col("n").cast("double") *
                  least(col("r") - 1, col("c") - 1).cast("double"))), 6))
              .as("v"))
      }
      val li = Tables.lineitem(s, d)
      pair(Tables.orders(s, d), "o_orderstatus~o_orderpriority",
          "o_orderstatus", "o_orderpriority")
        .unionAll(pair(li, "l_returnflag~l_linestatus",
          "l_returnflag", "l_linestatus"))
        .unionAll(pair(Tables.customer(s, d), "c_mktsegment~c_nationkey",
          "c_mktsegment", "c_nationkey"))
        .orderBy("pair")
    }),

    // AGG-29: exact weighted median — the quantity-weighted middle price
    // per return flag (each row votes with its weight, the robust center
    // a plain median of line rows gets wrong when quantities skew).
    // Lower weighted median: smallest v with cumWeight(<=v) >= W/2, all
    // in exact decimal so the 2*cum >= tot comparison is float-proof on
    // both engines. Plan (two passes — the DDSketch-bucket variant of the
    // sort6/ts4 two-phase decomposition; a per-flag window would put each
    // flag's WHOLE value set in one task, parallelism = |flags|):
    //   1. slice the value axis into data-INDEPENDENT log buckets
    //      b = ⌊1024·log10(1+v)⌋ (monotone non-decreasing in v, ~1k
    //      buckets per decade, no range-sampling job and no bounds scan —
    //      the expression is the layout) and ONE hash agg collapses the
    //      table to O(flags×buckets) per-bucket weights; a tiny per-flag
    //      window over those rows locates each flag's CROSSING bucket —
    //      the one where cumulative weight passes W/2 — with its running
    //      offset and grand total (equal values share a bucket, so the
    //      minimum crossing value provably lives in that bucket);
    //   2. the second scan broadcast-joins the 1-row-per-flag crossing
    //      set, instantly dropping every row outside the crossing bucket
    //      (~1/buckets of the data), and the exact row-level cumsum runs
    //      only over that remnant. The RANGE window frame sums all peers
    //      of a tied value, so ties are exact.
    // At 100 TB: pass 1 is a map-side-combined agg whose output is KBs;
    // pass 2's window sees W/occupied-buckets of one flag per task —
    // degenerate distributions (all mass on one value) collapse to one
    // bucket, the same unavoidable bound a range partitioner has on
    // identical keys; agg23's DDSketch tier covers that case approximately.
    "agg29_weighted_median" -> ((s, d) => {
      val rows = Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("decimal(18,2)").as("v"),
          col("l_quantity").cast("decimal(18,2)").as("w"))
      val bexpr = when(col("v") <= 0, lit(0))
        .otherwise(floor(log10(col("v").cast("double") + 1) * 1024))
        .cast("int")
      val crossing = rows.withColumn("b", bexpr)
        .groupBy("l_returnflag", "b").agg(sum("w").as("sw"))
        .withColumn("off", coalesce(sum("sw").over(
          Window.partitionBy("l_returnflag").orderBy("b")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0)))
        .withColumn("tot",
          sum("sw").over(Window.partitionBy("l_returnflag")))
        .filter((col("off") + col("sw")) * 2 >= col("tot"))
        .groupBy("l_returnflag")
        .agg(min(struct(col("b"), col("off"), col("tot"))).as("m"))
        .select(col("l_returnflag"), col("m.b").as("b"),
          col("m.off").as("off"), col("m.tot").as("tot"))
      rows.withColumn("b", bexpr)
        .join(broadcast(crossing), Seq("l_returnflag", "b"))
        .withColumn("lcum", sum("w").over(
          Window.partitionBy("l_returnflag", "b").orderBy("v")))
        .filter((col("lcum") + col("off")) * 2 >= col("tot"))
        .groupBy("l_returnflag")
        .agg(min("v").cast("double").as("weighted_median"),
          max("tot").cast("double").as("total_weight"))
        .orderBy("l_returnflag")
    }),

    // AGG-26: per-group Pearson correlation + sample covariance between
    // quantity and price — computed from the five exact decimal moments
    // (n, Σx, Σy, Σxy, Σx², Σy²), ONE partial+final agg, then a fixed
    // double expression over the per-group scalars. The moments are exact
    // decimals (associative — partial-agg order cannot perturb them), so
    // both engines feed bit-identical doubles into the same closed-form
    // formula; no corr() built-in is used on either side because built-in
    // streaming-moment implementations differ across engines in float
    // order (the same reason Det.dsum exists).
    "agg26_corr" -> ((s, d) => {
      val qx = col("l_quantity").cast("decimal(18,6)")
      val qy = col("l_extendedprice").cast("decimal(18,2)")
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(qx).cast("double").as("sx"),
          sum(qy).cast("double").as("sy"),
          sum(qx * qy).cast("double").as("sxy"),
          sum(qx * qx).cast("double").as("sxx"),
          sum(qy * qy).cast("double").as("syy"))
        .select(col("l_returnflag"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("corr"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * (col("n") - 1)), 6).as("covar_samp"))
        .orderBy("l_returnflag")
    }),

    // AGG-30: per-group ordinary least squares (regr_slope / regr_intercept
    // / r²) — the trend-fit primitive behind "is price drifting with
    // quantity" per segment. Same exact-decimal-moments protocol as agg26
    // (built-in regr_* are float-order-dependent streaming forms): the
    // five sums are exact decimals from ONE partial+final agg, each
    // statistic is a fixed closed form over them — intercept written
    // moment-only ((sy·sxx − sx·sxy)/D, never via the slope intermediate)
    // so both engines evaluate the identical expression tree.
    "agg30_regr" -> ((s, d) => {
      val qx = col("l_quantity").cast("decimal(18,6)")
      val qy = col("l_extendedprice").cast("decimal(18,2)")
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(qx).cast("double").as("sx"),
          sum(qy).cast("double").as("sy"),
          sum(qx * qy).cast("double").as("sxy"),
          sum(qx * qx).cast("double").as("sxx"),
          sum(qy * qy).cast("double").as("syy"))
        .select(col("l_returnflag"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
          round((col("sy") * col("sxx") - col("sx") * col("sxy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6)
            .as("intercept"),
          round(((col("n") * col("sxy") - col("sx") * col("sy")) *
            (col("n") * col("sxy") - col("sx") * col("sy"))) /
            ((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
        .orderBy("l_returnflag")
    }),

    // SAMP-1: deterministic hash sampling — the reproducible-sample
    // primitive a training pipeline needs (TABLESAMPLE/rand() differ per
    // engine, per run, and per partitioning; a content-hash cut is stable
    // across all three). First md5 byte < 0x0d keeps ≈ 13/256 ≈ 5.1%,
    // embarrassingly parallel, no shuffle, and the SAME rows come back on
    // every engine — which is exactly what the DuckDB oracle certifies.
    "samp1_hash_sample" -> ((s, d) =>
      Tables.orders(s, d)
        .filter(substring(md5(col("o_orderkey").cast("string").cast("binary")),
          1, 2) < "0d")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")),

    // SAMP-2: stratified per-group cap — "at most N docs per source", the
    // per-domain cap every crawl pipeline applies so one giant domain
    // cannot dominate the corpus. Selection order is CONTENT-HASH order
    // (md5 of the key), so the sample is reproducible across engines,
    // runs, and partitionings — the same property samp1 certifies — and
    // exactly N per group. Two-phase like win2: `source` has ~20 values,
    // so a direct row_number() window would sort a twentieth of the corpus
    // in ONE task at 100×; phase 1 row_numbers inside (source, salt-64)
    // buckets — a row's salted-local rank is <= its global rank, so
    // keeping local rank <= N is lossless — and phase 2 ranks the <= 64·N
    // survivors per source.
    "samp2_stratified" -> ((s, d) => {
      val n = 5
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string").cast("binary")).as("hkey"))
        .withColumn("salt", pmod(hash(col("doc_id")), lit(64)))
      val wLocal = Window.partitionBy("source", "salt")
        .orderBy("hkey", "doc_id")
      val pruned = base
        .withColumn("lrn", row_number().over(wLocal))
        .filter(col("lrn") <= n)
        .drop("salt", "lrn")
      val w = Window.partitionBy("source").orderBy("hkey", "doc_id")
      pruned
        .withColumn("sample_rank", row_number().over(w))
        .filter(col("sample_rank") <= n)
        .select("doc_id", "source", "sample_rank")
        .orderBy("source", "sample_rank")
    }),

    // SAMP-3: WEIGHTED sample without replacement (Efraimidis–Spirakis
    // A-Res): each row draws an exponential clock −ln(u)/w and the k
    // smallest clocks win — inclusion probability tracks weight exactly,
    // the property llm19's integer mix weights approximate. Like samp1/2
    // the "randomness" is a content hash (first 8 md5 hex digits → u ∈
    // (0,1]), so the SAME sample comes back on any engine, run, and
    // partitioning — reproducible sampling is what makes a training-mix
    // auditable — and the DuckDB oracle can certify membership exactly.
    // Plan: row-local clock computation, TakeOrdered top-k (no global
    // sort); weights here derive from doc_id so both engines see them.
    "samp3_weighted" -> ((s, d) => {
      val w = (col("doc_id") % 10 + 1).cast("double")
      val u = (expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 8)" +
        ", 16, 10) as bigint)").cast("double") + 1.0) / 4294967296.0
      Tables.documents(s, d)
        .select(col("doc_id"), w.as("w"), (-log(u) / w).as("clock"))
        .orderBy(col("clock"), col("doc_id")).limit(100)
        .select(col("doc_id"), col("w").cast("long").as("w"))
        .orderBy("doc_id")
    }),

    // AGG-17: exact heavy hitters — every key whose frequency clears a
    // threshold. The plan is the one that survives 100 TB: partial
    // (map-side) counts collapse the shuffle to ~|keys| rows, the HAVING
    // filter runs post-final-agg, and nothing is ever sorted globally
    // except the (tiny) result. agg17b is the sketch twin for when even
    // |keys| state is too much.
    "agg17_heavy_hitters" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_partkey").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 45)
        .orderBy(col("n").desc, col("l_partkey"))),

    // AGG-17b ⚠: Count-Min-Sketch heavy hitters — fixed-size state
    // (5 × 4096 counters ≈ 160 KB, eps = e/4096 ≈ 6.6e-4) regardless of
    // key cardinality; estimates are biased UP only, so every true heavy
    // hitter clears the threshold (no false negatives — the property that
    // matters for a filter stage). FULLY IN-PLAN (the join12b shape): the
    // sketch builds as distributed aggregate state (CmsAgg, map-side
    // combine ships one sketch per task), lands in the probe via a
    // broadcast 1-row cross join, and cms_estimate runs INSIDE whole-stage
    // codegen over the candidate-key table (agg17's exact set) — at 100 TB
    // the candidate set can itself be millions of rows (VERDICT r9 #2), so
    // the probe is a hot path: a static-kernel codegen expression, not a
    // ScalaUDF (VERDICT r10 #3; PlanSpec asserts the codegen span).
    // Approximate → rows-only + ApproxSpec bounds
    // (exact <= estimate <= exact + eps·N).
    "agg17b_heavy_hitters_cms" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val sk = li.agg(expr("cms_sketch_agg(l_partkey, 5, 4096)").as("sk"))
      li.groupBy("l_partkey").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 45)
        .crossJoin(broadcast(sk))
        .select(col("l_partkey"),
          expr("cms_estimate(sk, l_partkey)").as("est_n"))
        .orderBy("l_partkey")
    }),

    // PROF-2: exact join-cardinality prediction — the planner question
    // behind every broadcast/shuffle/salt decision (join13/join15): how
    // many rows would joining on this key produce? |A⋈B| = Σ_k cA(k)·cB(k);
    // the self-join on l_partkey is the worst-case probe (Σ c², the pair
    // blow-up a dedup or similarity stage would pay). The plan never runs
    // the join it predicts: one map-side-combined groupBy collapses the
    // shuffle to ~|keys| count rows, then a 1-row total — at 100 TB this
    // costs a scan + |keys| exchange vs the join's |result| ≫ |input|.
    // max_key_rows is the skew diagnostic (salting trigger).
    "prof2_join_cardinality" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_partkey").agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c")).as("self_join_pairs"),
          count(lit(1)).as("n_keys"),
          max(col("c")).as("max_key_rows"))),

    // PROF-2b ⚠: the same prediction from FIXED-size state — CMS inner
    // product (functions/CmsSketch.scala). One pass per side builds a
    // d×w sketch (~80 KB) with map-side combine shipping one sketch per
    // task; the estimate min_i Σ_j A[i][j]·B[i][j] is biased UP only and
    // within (e/w)·N_A·N_B w.h.p. — ApproxSpec pins both bounds against
    // the exact join count. Here: how many (R-flag, A-flag) line-item
    // pairs share a part, without grouping or joining anything.
    "prof2b_join_cardinality_cms" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val sa = li.filter(col("l_returnflag") === "R")
        .agg(expr("cms_sketch_agg(l_partkey)").as("cms_r"))
      val sb = li.filter(col("l_returnflag") === "A")
        .agg(expr("cms_sketch_agg(l_partkey)").as("cms_a"))
      sa.crossJoin(sb)
        .select(expr("cms_inner_product(cms_r, cms_a)").as("est_pairs"))
    }),

    // PROF-6 / PLAN-2: join-strategy advisor capstone (plans/
    // JoinAdvisor.scala — see its doc for the decision rule) over four
    // candidate joins engineered to exercise every verdict: a dim join
    // (broadcast), the uniform fact⋈fact orderkey join (shuffle), a
    // 90%-hot-key fact (salt — join13's fixture shape), and a 5%-hot-key
    // fact (aqe_skew — hot enough to skew partitions, too diffuse for
    // salting to pay). Evidence columns ride along so the recommendation
    // is auditable; the oracle replays counts + the integer-ppm CASE.
    "prof6_join_advisor" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val ord = Tables.orders(s, d)
      val hot90 = when(pmod(col("l_orderkey"), lit(10)) < 9, lit(0L))
        .otherwise(pmod(col("l_orderkey"), lit(97)))
      val hot5 = when(pmod(col("l_orderkey"), lit(20)) === 0, lit(0L))
        .otherwise(pmod(col("l_orderkey"), lit(997)))
      graft.plans.JoinAdvisor.recommend(
        graft.plans.JoinAdvisor.evidence("customer_nation",
            Tables.customer(s, d), col("c_nationkey"),
            Tables.nation(s, d), col("n_nationkey"))
          .unionByName(graft.plans.JoinAdvisor.evidence("lineitem_orders",
            li, col("l_orderkey"), ord, col("o_orderkey")))
          .unionByName(graft.plans.JoinAdvisor.evidence("lineitem_hot90",
            li, hot90, ord, pmod(col("o_orderkey"), lit(97))))
          .unionByName(graft.plans.JoinAdvisor.evidence("lineitem_hot5",
            li, hot5, ord, pmod(col("o_orderkey"), lit(997)))))
        // decimal(38,0) internally (overflow-proof — JoinAdvisorSpec);
        // bigint at the declared boundary so both engines hash alike
        // (gate-SF values are ≤10⁷, nowhere near long range).
        .withColumn("est_join_rows", col("est_join_rows").cast("bigint"))
        .orderBy("join_name")
    })
  )

  /** prof6's DuckDB twin: the same per-candidate count tables, the same
    * integer-ppm statistics, and the same CASE — generated per candidate
    * the way kcoreSql unrolls rounds (the CTE blocks are mechanical). */
  private def joinAdvisorSql: String = {
    val cands = Seq(
      ("customer_nation", "SELECT c_nationkey AS k FROM customer",
        "SELECT n_nationkey AS k FROM nation"),
      ("lineitem_orders", "SELECT l_orderkey AS k FROM lineitem",
        "SELECT o_orderkey AS k FROM orders"),
      ("lineitem_hot90",
        "SELECT CASE WHEN l_orderkey % 10 < 9 THEN 0 " +
          "ELSE l_orderkey % 97 END AS k FROM lineitem",
        "SELECT o_orderkey % 97 AS k FROM orders"),
      ("lineitem_hot5",
        "SELECT CASE WHEN l_orderkey % 20 = 0 THEN 0 " +
          "ELSE l_orderkey % 997 END AS k FROM lineitem",
        "SELECT o_orderkey % 997 AS k FROM orders"))
    val ctes = cands.map { case (n, l, r) =>
      s"""
        |${n}_l AS (SELECT k, COUNT(*) AS c FROM ($l) GROUP BY 1),
        |${n}_r AS (SELECT k, COUNT(*) AS c FROM ($r) GROUP BY 1),
        |${n}_e AS (
        |  SELECT '$n' AS join_name,
        |    CAST((SELECT SUM(c) FROM ${n}_l) AS BIGINT) AS l_rows,
        |    CAST((SELECT COUNT(*) FROM ${n}_l) AS BIGINT) AS l_keys,
        |    CAST((SELECT MAX(c) FROM ${n}_l) AS BIGINT) AS l_max_key_rows,
        |    CAST((SELECT SUM(c) FROM ${n}_r) AS BIGINT) AS r_rows,
        |    CAST((SELECT COUNT(*) FROM ${n}_r) AS BIGINT) AS r_keys,
        |    CAST((SELECT MAX(c) FROM ${n}_r) AS BIGINT) AS r_max_key_rows,
        |    CAST((SELECT COALESCE(SUM(a.c * b.c), 0)
        |          FROM ${n}_l a JOIN ${n}_r b ON a.k = b.k) AS BIGINT)
        |      AS est_join_rows)""".stripMargin
    }.mkString(",")
    s"""WITH${ctes},
      |ev AS (${cands.map(c => s"SELECT * FROM ${c._1}_e")
        .mkString("\n UNION ALL ")}),
      |scored AS (
      |  SELECT *,
      |    l_max_key_rows * 1000000 // l_rows AS l_share_ppm,
      |    r_max_key_rows * 1000000 // r_rows AS r_share_ppm
      |  FROM ev),
      |s2 AS (
      |  SELECT *,
      |    l_share_ppm * l_keys AS l_skew_x_ppm,
      |    r_share_ppm * r_keys AS r_skew_x_ppm
      |  FROM scored)
      |SELECT join_name, l_rows, l_keys, l_max_key_rows,
      |  r_rows, r_keys, r_max_key_rows, est_join_rows,
      |  CAST(l_share_ppm AS BIGINT) AS l_share_ppm,
      |  CAST(r_share_ppm AS BIGINT) AS r_share_ppm,
      |  CAST(l_skew_x_ppm AS BIGINT) AS l_skew_x_ppm,
      |  CAST(r_skew_x_ppm AS BIGINT) AS r_skew_x_ppm,
      |  CASE
      |    WHEN r_rows <= 10000 AND r_rows <= l_rows THEN 'broadcast_right'
      |    WHEN l_rows <= 10000 THEN 'broadcast_left'
      |    WHEN (l_skew_x_ppm >= 8000000 OR r_skew_x_ppm >= 8000000)
      |         AND GREATEST(
      |           CASE WHEN l_skew_x_ppm >= 8000000
      |                THEN l_share_ppm ELSE 0 END,
      |           CASE WHEN r_skew_x_ppm >= 8000000
      |                THEN r_share_ppm ELSE 0 END) >= 200000 THEN 'salt'
      |    WHEN l_skew_x_ppm >= 8000000 OR r_skew_x_ppm >= 8000000
      |      THEN 'aqe_skew'
      |    ELSE 'shuffle'
      |  END AS strategy
      |FROM s2 ORDER BY join_name""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "prof6_join_advisor" -> joinAdvisorSql,

    "proj1_project" ->
      "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey",

    "proj2_cast" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty_int
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "proj3_computed" ->
      """SELECT s_suppkey,
        |       concat(s_name, '#', lpad(CAST(s_suppkey AS VARCHAR), 4, '0')) AS s_uri
        |FROM supplier ORDER BY s_suppkey""".stripMargin,

    "filt1_regex" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE regexp_matches(p_name, '(green|blue)')
        |ORDER BY p_partkey""".stripMargin,

    "filt2_range" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice >= 1000 AND o_totalprice <= 50000
        |ORDER BY o_orderkey""".stripMargin,

    "filt3_null" ->
      """SELECT n.n_nationkey, n.n_name
        |FROM nation n LEFT JOIN supplier s ON n.n_nationkey = s.s_nationkey
        |WHERE s.s_suppkey IS NULL
        |ORDER BY n.n_nationkey""".stripMargin,

    "filt4_subset" ->
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |WHERE l_returnflag IN ('A','R')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "join1_inner" ->
      """SELECT o_orderkey, c_name, o_totalprice
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |ORDER BY o_orderkey""".stripMargin,

    "join2_full_outer" ->
      """WITH cn AS (SELECT c_nationkey, count(*) AS c_cnt FROM customer GROUP BY 1),
        |     sn AS (SELECT s_nationkey, count(*) AS s_cnt FROM supplier GROUP BY 1)
        |SELECT COALESCE(cn.c_nationkey, sn.s_nationkey) AS nationkey,
        |       COALESCE(cn.c_cnt, 0) AS c_cnt,
        |       COALESCE(sn.s_cnt, 0) AS s_cnt
        |FROM cn FULL OUTER JOIN sn ON cn.c_nationkey = sn.s_nationkey
        |ORDER BY nationkey""".stripMargin,

    "join3_left" ->
      """SELECT n.n_nationkey, n.n_name, count(s.s_suppkey) AS n_suppliers
        |FROM nation n LEFT JOIN supplier s ON n.n_nationkey = s.s_nationkey
        |GROUP BY 1, 2 ORDER BY n.n_nationkey""".stripMargin,

    "join4_semi" ->
      """SELECT n_nationkey, n_name FROM nation n
        |WHERE EXISTS (SELECT 1 FROM supplier s WHERE s.s_nationkey = n.n_nationkey)
        |ORDER BY n_nationkey""".stripMargin,

    "join5_anti" ->
      """SELECT p_partkey, p_name FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
        |ORDER BY p_partkey""".stripMargin,

    "join6_broadcast" ->
      s"""SELECT r_name, count(*) AS n_cust, ${Det.dsumSql("c_acctbal")} AS sum_bal
         |FROM customer c
         |JOIN nation n ON c.c_nationkey = n.n_nationkey
         |JOIN region r ON n.n_regionkey = r.r_regionkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "join7_theta" ->
      """SELECT s_suppkey, c_custkey
        |FROM customer c JOIN supplier s
        |  ON c.c_acctbal >= s.s_acctbal - 100 AND c.c_acctbal <= s.s_acctbal + 100
        |ORDER BY s_suppkey, c_custkey""".stripMargin,

    "join8_asof" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM events
        |WHERE epoch_us(ts) <= 1705276800000000
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,

    "join9_interval" ->
      """SELECT a.event_id AS a_id, b.event_id AS b_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND epoch_us(b.ts) > epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 60000000
        |ORDER BY a_id, b_id""".stripMargin,

    "join16_grid_band" ->
      """SELECT a.event_id AS a_id, b.event_id AS b_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND epoch_us(b.ts) > epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 60000000
        | AND abs(b.value - a.value) <= 5
        |WHERE a.value IS NOT NULL AND b.value IS NOT NULL
        |ORDER BY a_id, b_id""".stripMargin,

    "join9b_banded_bucket" ->
      """SELECT a.event_id AS a_id, b.event_id AS b_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND epoch_us(b.ts) > epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 60000000
        |ORDER BY a_id, b_id""".stripMargin,

    "join10_cross" ->
      """SELECT r_name, o_orderstatus
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
        |ORDER BY r_name, o_orderstatus""".stripMargin,

    "agg1_count" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "agg2_multi" ->
      s"""SELECT l_returnflag,
         |  ${Det.dsumSql("l_extendedprice")} AS sum_price,
         |  ${Det.davgSql("l_extendedprice")} AS avg_price,
         |  min(l_extendedprice) AS min_price,
         |  max(l_extendedprice) AS max_price,
         |  count(*) AS n
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg3_argmax" ->
      """SELECT c_nationkey, c_custkey AS top_custkey, c_acctbal AS top_acctbal,
        |       max(length(c_name)) OVER (PARTITION BY c_nationkey) AS max_name_len
        |FROM customer
        |QUALIFY row_number() OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal DESC, c_custkey) = 1
        |ORDER BY c_nationkey""".stripMargin,

    "agg4_distinct" ->
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment",

    "agg5_count_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg7_rollup" ->
      s"""SELECT
         |  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS flag,
         |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS status,
         |  count(*) AS n, ${Det.dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY flag, status""".stripMargin,

    "agg7b_cube" ->
      """SELECT
        |  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS flag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS status,
        |  count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,

    "agg8_collect_list" ->
      """SELECT l_orderkey,
        |       array_to_string(list_sort(list(l_linenumber)), ',') AS lines
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "agg9_latest_wins" ->
      """SELECT user_id, event_type, epoch_us(ts) AS ts_us, value
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
        |ORDER BY user_id, event_type""".stripMargin,

    "agg10_percentile" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5)  AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg10b_percentile_counts" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5)  AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg11_salted_skew" ->
      s"""SELECT l_returnflag, ${Det.dsumSql("l_quantity")} AS sum_qty,
         |  count(*) AS n
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "join11_bucketed" ->
      s"""SELECT o_orderkey, count(*) AS n_lines,
         |  ${Det.dsumSql("l_quantity")} AS sum_qty
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // bloom pruning is result-invisible: the oracle is the plain join
    "join12_bloom_prune" ->
      s"""SELECT p_brand, count(*) AS n,
         |  ${Det.dsumSql("l_extendedprice")} AS sum_price
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_size = 15 GROUP BY 1 ORDER BY 1""".stripMargin,

    // the prune is exact after the real join — same oracle as join12
    "join12b_bloom_native" ->
      s"""SELECT p_brand, count(*) AS n,
         |  ${Det.dsumSql("l_extendedprice")} AS sum_price
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_size = 15 GROUP BY 1 ORDER BY 1""".stripMargin,

    // the unsalted join: salting must not change the result
    "join13_salted_join" ->
      s"""SELECT o_orderstatus, count(*) AS n,
         |  ${Det.dsumSql("l_quantity")} AS sum_qty
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the plain join: AQE skew splitting must not change the result
    "join15_skew_aqe" ->
      s"""WITH fact AS (
         |  SELECT CASE WHEN l_orderkey % 10 < 9 THEN 0
         |              ELSE l_orderkey % 97 END AS skew_key,
         |         l_orderkey, l_quantity
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |dim AS (
         |  SELECT p_partkey % 97 AS skew_key, count(*) AS dim_n
         |  FROM part GROUP BY 1)
         |SELECT f.l_orderkey % 7 AS bucket, count(*) AS n,
         |  ${Det.dsumSql("f.l_quantity")} AS sum_qty,
         |  CAST(SUM(d.dim_n) AS BIGINT) AS sum_dim_n
         |FROM fact f JOIN dim d ON f.skew_key = d.skew_key
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "join14_dpp" ->
      s"""WITH dim(event_type, category) AS (
         |  VALUES ('click','engagement'), ('purchase','conversion'),
         |         ('view','engagement'), ('signup','conversion'),
         |         ('error','ops'))
         |SELECT e.event_type, COUNT(*) AS n,
         |  ${Det.dsumSql("e.value")} AS sum_value
         |FROM events e JOIN dim d ON e.event_type = d.event_type
         |WHERE d.category = 'conversion'
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "win1_row_number" ->
      """SELECT c_custkey, c_acctbal,
        |       row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rn
        |FROM customer QUALIFY rn <= 100 ORDER BY rn""".stripMargin,

    "win2_rank" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  rank()       OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC) AS rk,
        |  dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC) AS drk
        |FROM orders QUALIFY rk <= 20
        |ORDER BY o_orderstatus, rk, o_orderkey""".stripMargin,

    "win3_lag_lead" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  lag(epoch_us(ts))  OVER w AS prev_us,
        |  lead(epoch_us(ts)) OVER w AS next_us,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "win4_running_sum" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate,
        |  o_totalprice,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders
        |ORDER BY o_custkey, odate, o_orderkey""".stripMargin,

    "win5_sliding_avg" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) /
        |    COUNT(*) OVER w AS mov_avg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "win6_top1_per_group" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_type
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin,

    "sort1_global_by_ts" ->
      """SELECT event_id, epoch_us(ts) AS ts_us FROM events
        |ORDER BY ts_us, event_id""".stripMargin,

    "sort2_desc_by_measure" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY 1, 2
        |ORDER BY n DESC, l_returnflag, l_linestatus""".stripMargin,

    "sort3_multikey" ->
      """SELECT l_returnflag, l_quantity, l_orderkey, l_linenumber
        |FROM lineitem
        |ORDER BY l_returnflag, l_quantity DESC, l_orderkey, l_linenumber
        |LIMIT 1000""".stripMargin,

    "sort4_partition_local" ->
      """SELECT event_id, epoch_us(ts) AS ts_us FROM events
        |ORDER BY ts_us, event_id""".stripMargin,

    "sort5_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin,

    // the naive single-pass global numbering — two-phase must equal it
    "sort6_global_rownum" ->
      """SELECT event_id,
        |  ROW_NUMBER() OVER (ORDER BY md5(CAST(event_id AS VARCHAR)),
        |                     event_id) AS rid
        |FROM events ORDER BY rid""".stripMargin,

    "set1_union_distinct" ->
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL
        |  SELECT s_nationkey AS nationkey FROM supplier)
        |ORDER BY nationkey""".stripMargin,

    "set2_union_all" ->
      """SELECT o_orderkey, 'hi' AS bucket FROM orders WHERE o_totalprice > 150000
        |UNION ALL
        |SELECT o_orderkey, 'lo' AS bucket FROM orders WHERE o_totalprice < 5000
        |ORDER BY o_orderkey, bucket""".stripMargin,

    "set3_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,

    "set4_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,

    "agg12_pivot" ->
      s"""SELECT l_returnflag,
         |  CAST(SUM(CASE WHEN l_linestatus = 'F'
         |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
         |  CAST(SUM(CASE WHEN l_linestatus = 'O'
         |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg13_unpivot" ->
      s"""WITH a AS (SELECT l_returnflag,
         |  ${Det.dsumSql("l_quantity")} AS sum_qty,
         |  CAST(COUNT(*) AS DOUBLE) AS n_rows
         |FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
         |UNION ALL
         |SELECT l_returnflag, 'n_rows' AS metric, n_rows AS value FROM a
         |ORDER BY l_returnflag, metric""".stripMargin,

    "agg14_grouping_sets" ->
      """SELECT
        |  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS flag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS status,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY flag, status""".stripMargin,

    "win7_ntile" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  ntile(4) OVER w AS tile
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "win8_range_frame" ->
      """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS hr_sum
        |FROM events
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "agg32_moments" -> """
      |WITH m AS (
      |  SELECT l_returnflag,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(8,2)) *
      |             CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS s2,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(8,2)) *
      |             CAST(l_quantity AS DECIMAL(8,2)) *
      |             CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS s3,
      |    CAST(SUM((CAST(l_quantity AS DECIMAL(8,2)) *
      |              CAST(l_quantity AS DECIMAL(8,2))) *
      |             (CAST(l_quantity AS DECIMAL(8,2)) *
      |              CAST(l_quantity AS DECIMAL(8,2)))) AS DOUBLE) AS s4
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag,
      |  ROUND((s3 - 3 * s2 * s1 / n + 2 * s1 * s1 * s1 / (n * n)) / n /
      |        POW((s2 - s1 * s1 / n) / n, 1.5), 6) AS skewness,
      |  ROUND((s4 - 4 * s3 * s1 / n + 6 * s2 * s1 * s1 / (n * n) -
      |         3 * s1 * s1 * s1 * s1 / (n * n * n)) / n /
      |        ((s2 - s1 * s1 / n) / n) / ((s2 - s1 * s1 / n) / n) - 3, 6)
      |    AS kurtosis_excess
      |FROM m ORDER BY l_returnflag""".stripMargin,

    "agg31_listagg" ->
      """SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
        |  string_agg(s_name, ',' ORDER BY s_name) AS names
        |FROM supplier GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin,

    "win15_percent_rank" ->
      """SELECT user_id, event_id, value,
        |  percent_rank() OVER (PARTITION BY user_id
        |    ORDER BY value, event_id) AS pct_rank,
        |  cume_dist() OVER (PARTITION BY user_id
        |    ORDER BY value, event_id) AS cume
        |FROM events WHERE value IS NOT NULL
        |ORDER BY user_id, value, event_id""".stripMargin,

    "agg28_bitmap_distinct" -> """
      |SELECT o_orderpriority,
      |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust
      |FROM orders GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin,

    "agg28b_bitmap_intersection" -> """
      |SELECT
      |  CAST((SELECT COUNT(DISTINCT o_custkey) FROM orders
      |        WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
      |  CAST((SELECT COUNT(DISTINCT o_custkey) FROM orders
      |        WHERE o_orderpriority = '2-HIGH') AS BIGINT) AS n_high,
      |  CAST((SELECT COUNT(*) FROM (
      |        SELECT DISTINCT o_custkey FROM orders
      |        WHERE o_orderpriority = '1-URGENT'
      |        INTERSECT
      |        SELECT DISTINCT o_custkey FROM orders
      |        WHERE o_orderpriority = '2-HIGH')) AS BIGINT) AS n_both""".stripMargin,

    "agg27_mode" -> """
      |WITH c AS (
      |  SELECT event_type, CAST(FLOOR(value) AS BIGINT) AS v,
      |         COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, v, cnt,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |                       ORDER BY cnt DESC, v) AS rn
      |  FROM c)
      |SELECT event_type, v AS mode_v, cnt AS n
      |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "prof4_fd_profile" -> Seq(
      ("o_orderkey->o_custkey", "orders", "o_orderkey", "o_custkey"),
      ("l_orderkey->l_returnflag", "lineitem", "l_orderkey", "l_returnflag"),
      ("l_partkey->l_suppkey", "lineitem", "l_partkey", "l_suppkey"),
      ("l_suppkey->l_partkey", "lineitem", "l_suppkey", "l_partkey"))
      .map { case (name, tbl, lhs, rhs) =>
        s"""SELECT '$name' AS fd, COUNT(*) AS n_lhs,
           |  COUNT(*) FILTER (WHERE nrhs > 1) AS n_viol,
           |  CAST(COUNT(*) FILTER (WHERE nrhs > 1) * 1000000
           |       // COUNT(*) AS BIGINT) AS viol_ppm,
           |  MAX(nrhs) AS max_fanout
           |FROM (SELECT $lhs, COUNT(DISTINCT $rhs) AS nrhs
           |      FROM $tbl GROUP BY 1)""".stripMargin }
      .mkString("", "\nUNION ALL\n", "\nORDER BY fd"),

    // χ² terms in IEEE doubles in the same op order as the Spark side;
    // decimal-summed then rounded, and V derived from the ROUNDED χ²
    "prof7_cramers_v" -> Seq(
      ("o_orderstatus~o_orderpriority", "orders",
        "o_orderstatus", "o_orderpriority"),
      ("l_returnflag~l_linestatus", "lineitem",
        "l_returnflag", "l_linestatus"),
      ("c_mktsegment~c_nationkey", "customer",
        "c_mktsegment", "c_nationkey"))
      .map { case (name, tbl, a, b) =>
        s"""SELECT '$name' AS pair, n, r, c, chi2,
           |  CASE WHEN LEAST(r, c) <= 1 THEN 0.0
           |       ELSE ROUND(SQRT(chi2 / (CAST(n AS DOUBLE) *
           |         CAST(LEAST(r - 1, c - 1) AS DOUBLE))), 6) END AS v
           |FROM (
           |  SELECT CAST(MAX(n) AS BIGINT) AS n,
           |    CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
           |    CAST(COUNT(DISTINCT b) AS BIGINT) AS c,
           |    ROUND(CAST(SUM(CAST(
           |        (CAST(o AS DOUBLE) - exp) * (CAST(o AS DOUBLE) - exp)
           |          / exp AS DECIMAL(28,12))) AS DOUBLE)
           |      * 1000000.0) / 1000000.0 AS chi2
           |  FROM (
           |    SELECT a, b, o,
           |      SUM(o) OVER (PARTITION BY a) AS ra,
           |      SUM(o) OVER (PARTITION BY b) AS cb,
           |      SUM(o) OVER () AS n,
           |      CAST(SUM(o) OVER (PARTITION BY a) AS DOUBLE) *
           |        CAST(SUM(o) OVER (PARTITION BY b) AS DOUBLE) /
           |        CAST(SUM(o) OVER () AS DOUBLE) AS exp
           |    FROM (SELECT CAST($a AS VARCHAR) AS a,
           |            CAST($b AS VARCHAR) AS b, COUNT(*) AS o
           |          FROM $tbl GROUP BY 1, 2)))""".stripMargin }
      .mkString("", "\nUNION ALL\n", "\nORDER BY pair"),

    "agg29_weighted_median" -> """
      |WITH vals AS (
      |  SELECT l_returnflag, CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
      |         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS wv
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT l_returnflag, v,
      |    SUM(wv) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
      |    SUM(wv) OVER (PARTITION BY l_returnflag) AS tot
      |  FROM vals)
      |SELECT l_returnflag,
      |  CAST(MIN(v) AS DOUBLE) AS weighted_median,
      |  CAST(MAX(tot) AS DOUBLE) AS total_weight
      |FROM c WHERE cum * 2 >= tot
      |GROUP BY 1 ORDER BY 1""".stripMargin,

    "prof3_skew_report" -> """
      |WITH counts AS (
      |  SELECT l_returnflag AS key, COUNT(*) AS cnt
      |  FROM lineitem GROUP BY 1),
      |tot AS (SELECT SUM(cnt) AS t, COUNT(*) AS k FROM counts)
      |SELECT key, cnt,
      |       CAST(cnt * 1000000 // t AS BIGINT) AS share_ppm,
      |       CAST(cnt * k * 1000000 // t AS BIGINT) AS skew_x_ppm
      |FROM counts, tot
      |ORDER BY cnt DESC, key""".stripMargin,

    "agg26_corr" -> """
      |WITH m AS (
      |  SELECT l_returnflag,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)) *
      |             CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)) *
      |             CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |             CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag,
      |  ROUND((n * sxy - sx * sy) /
      |        (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6)
      |    AS corr,
      |  ROUND((n * sxy - sx * sy) / (n * (n - 1)), 6) AS covar_samp
      |FROM m ORDER BY l_returnflag""".stripMargin,

    "agg30_regr" -> """
      |WITH m AS (
      |  SELECT l_returnflag,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)) *
      |             CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)) *
      |             CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |             CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag,
      |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
      |  ROUND((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 6) AS intercept,
      |  ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
      |        ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
      |FROM m ORDER BY l_returnflag""".stripMargin,

    "prof1_table_stats" -> Seq(
      "l_extendedprice", "l_quantity", "l_returnflag", "l_shipdate").map(c =>
      s"""SELECT '$c' AS column_name, COUNT(*) - COUNT($c) AS n_null,
         |  COUNT($c) AS n, COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS STRING) AS min_s, CAST(MAX($c) AS STRING) AS max_s
         |FROM lineitem""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name"),

    // SUM(c*c) in DuckDB widens to HUGEINT — cast back to match Spark's
    // 64-bit sum (the true value fits comfortably at any test SF)
    "prof2_join_cardinality" ->
      """SELECT CAST(SUM(c * c) AS BIGINT) AS self_join_pairs,
        |  COUNT(*) AS n_keys, MAX(c) AS max_key_rows
        |FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_partkey)""".stripMargin,

    "samp1_hash_sample" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS STRING)), 1, 2) < '0d'
        |ORDER BY o_orderkey""".stripMargin,

    // same A-Res clocks from the same md5-derived uniforms; LIMIT picks
    // the identical 100 members (clock ties broken by doc_id)
    "samp3_weighted" ->
      """WITH t AS (
        |  SELECT doc_id, (doc_id % 10 + 1) AS w,
        |    (CAST(('0x' || substr(md5(CAST(doc_id AS STRING)), 1, 8))
        |       AS BIGINT) + 1.0) / 4294967296.0 AS u
        |  FROM documents),
        |top AS (
        |  SELECT doc_id, w FROM t
        |  ORDER BY -LN(u) / w, doc_id LIMIT 100)
        |SELECT doc_id, CAST(w AS BIGINT) AS w
        |FROM top ORDER BY doc_id""".stripMargin,

    // the oracle computes the cap with a single direct window — the
    // two-phase salted plan must select the IDENTICAL rows
    "samp2_stratified" ->
      """SELECT doc_id, source, rn AS sample_rank FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY source, sample_rank""".stripMargin,

    "agg17_heavy_hitters" ->
      """SELECT l_partkey, count(*) AS n FROM lineitem
        |GROUP BY l_partkey HAVING count(*) >= 45
        |ORDER BY n DESC, l_partkey""".stripMargin,

    // the oracle REPLICATES the deterministic log-bucketing in plain SQL
    // (⌈ln(x)/ln(γ)⌉, γ interpolated from the same Scala double both
    // engines round-trip); rank ⌊q·(n−1)⌋+1 is exact in DuckDB's DECIMAL
    // literals and in the sketch's integer arithmetic; value estimates
    // round to 2 dp (pow differs by 1 ulp across libms — DdSketch.scala)
    "agg23_ddsketch_quantile" -> {
      val g = s"CAST(${(1 + 0.01) / (1 - 0.01)} AS DOUBLE)"
      s"""WITH b AS (
         |  SELECT l_returnflag,
         |    CAST(CEIL(LN(l_extendedprice) / LN($g)) AS BIGINT) AS i,
         |    COUNT(*) AS c
         |  FROM lineitem GROUP BY 1, 2),
         |cum AS (
         |  SELECT l_returnflag, i,
         |    SUM(c) OVER (PARTITION BY l_returnflag ORDER BY i) AS cum,
         |    SUM(c) OVER (PARTITION BY l_returnflag) AS n
         |  FROM b),
         |q AS (
         |  SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n_items,
         |    MIN(CASE WHEN cum >= FLOOR(0.5 * (n - 1)) + 1 THEN i END)
         |      AS p50_bucket,
         |    MIN(CASE WHEN cum >= FLOOR(0.95 * (n - 1)) + 1 THEN i END)
         |      AS p95_bucket
         |  FROM cum GROUP BY 1)
         |SELECT l_returnflag, n_items,
         |  p50_bucket,
         |  ROUND(2 * POWER($g, p50_bucket) / ($g + 1), 2) AS p50_est,
         |  p95_bucket,
         |  ROUND(2 * POWER($g, p95_bucket) / ($g + 1), 2) AS p95_est
         |FROM q ORDER BY l_returnflag""".stripMargin
    },

    // the CDF replicated as integer bucket-count arithmetic: one double
    // division of identical integers reproduces Spark's double exactly
    "agg23b_ddsketch_cdf" -> {
      val g = s"CAST(${(1 + 0.01) / (1 - 0.01)} AS DOUBLE)"
      s"""WITH b AS (
         |  SELECT l_returnflag,
         |    CAST(CEIL(LN(l_extendedprice) / LN($g)) AS BIGINT) AS i,
         |    COUNT(*) AS c
         |  FROM lineitem GROUP BY 1, 2)
         |SELECT l_returnflag,
         |  CAST(SUM(CASE WHEN i <= CEIL(LN(10000.0) / LN($g)) THEN c
         |           ELSE 0 END) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
         |    AS share_le_10k,
         |  CAST(SUM(CASE WHEN i <= CEIL(LN(30000.0) / LN($g)) THEN c
         |           ELSE 0 END) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
         |    AS share_le_30k
         |FROM b GROUP BY 1 ORDER BY l_returnflag""".stripMargin
    },

    // daily log-bucket histograms merged over a 7-ROW day window (same
    // frame as the Spark query); the zero bucket (value ≤ 0) carries the
    // Long.MinValue sentinel in BOTH engines so ordering and rank
    // arithmetic treat it as below every positive bucket
    "agg24_rolling_quantile" -> {
      val g = s"CAST(${(1 + 0.01) / (1 - 0.01)} AS DOUBLE)"
      val zb = Long.MinValue.toString
      s"""WITH e AS (
         |  SELECT strftime(ts, '%Y-%m-%d') AS day,
         |    CASE WHEN value > 0 AND NOT isnan(value) AND NOT isinf(value)
         |         THEN CAST(CEIL(LN(value) / LN($g)) AS BIGINT)
         |         ELSE CAST('$zb' AS BIGINT) END AS i
         |  FROM events WHERE value IS NOT NULL),
         |db AS (SELECT day, i, COUNT(*) AS c FROM e GROUP BY 1, 2),
         |days AS (SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rn
         |         FROM (SELECT DISTINCT day FROM e)),
         |m AS (
         |  SELECT d2.day AS day, b.i, SUM(b.c) AS c
         |  FROM days d2
         |  JOIN days d1 ON d1.rn BETWEEN d2.rn - 6 AND d2.rn
         |  JOIN db b ON b.day = d1.day
         |  GROUP BY 1, 2),
         |cum AS (
         |  SELECT day, i,
         |    SUM(c) OVER (PARTITION BY day ORDER BY i) AS cum,
         |    SUM(c) OVER (PARTITION BY day) AS n
         |  FROM m),
         |q AS (
         |  SELECT day, CAST(MAX(n) AS BIGINT) AS n_7d,
         |    MIN(CASE WHEN cum >= FLOOR(0.5 * (n - 1)) + 1 THEN i END)
         |      AS p50_bucket,
         |    MIN(CASE WHEN cum >= FLOOR(0.95 * (n - 1)) + 1 THEN i END)
         |      AS p95_bucket
         |  FROM cum GROUP BY 1)
         |SELECT day, n_7d,
         |  p50_bucket,
         |  CASE WHEN p50_bucket = CAST('$zb' AS BIGINT) THEN 0.0
         |       ELSE ROUND(2 * POWER($g, p50_bucket) / ($g + 1), 2)
         |  END AS p50_est,
         |  p95_bucket,
         |  CASE WHEN p95_bucket = CAST('$zb' AS BIGINT) THEN 0.0
         |       ELSE ROUND(2 * POWER($g, p95_bucket) / ($g + 1), 2)
         |  END AS p95_est
         |FROM q ORDER BY day""".stripMargin
    }
  )
}
