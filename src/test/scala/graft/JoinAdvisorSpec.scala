package graft

import org.apache.spark.sql.functions._

import graft.plans.JoinAdvisor
import graft.plans.JoinAdvisor.Thresholds

/** PLAN-2 contract: the advisor's verdicts on engineered fixtures —
  * small dim → broadcast (either side), balanced large → shuffle, one
  * dominant key → salt, diffuse-hot key → aqe_skew — plus exactness of
  * the predicted join cardinality and the ≤-inclusive broadcast edge. */
class JoinAdvisorSpec extends SparkSpec {

  // small thresholds so fixtures stay tiny: broadcast at ≤ 100 rows,
  // skew at ≥ 8× fair share, salt at ≥ 20% on one key (the defaults'
  // shape, scaled down)
  private val T = Thresholds(broadcastRows = 100L,
    skewXPpm = 8000000L, saltSharePpm = 200000L)

  private def strategyOf(df: org.apache.spark.sql.DataFrame): String =
    df.select("strategy").collect().head.getString(0)

  private def uniform(n: Long, keys: Long) =
    spark.range(n).select((col("id") % keys).as("k"))

  // The advice→evidence tests measure shuffles and per-reducer loads, so
  // they pin what Graft.session sizes from the host's core count: the
  // mapper count (range slices) and the reducer count (shuffle.partitions).
  private val Slices = 8
  private val Reducers = 32

  test("small dim broadcasts — and the smaller side wins each way") {
    val big = uniform(10000, 1000)
    val dim = uniform(50, 50)
    assert(strategyOf(JoinAdvisor.advise("a", big, col("k"),
      dim, col("k"), T)) === "broadcast_right")
    assert(strategyOf(JoinAdvisor.advise("b", dim, col("k"),
      big, col("k"), T)) === "broadcast_left")
  }

  test("broadcast threshold is inclusive (rows == cap still broadcasts)") {
    val big = uniform(10000, 1000)
    val atCap = uniform(100, 100)
    assert(strategyOf(JoinAdvisor.advise("edge", big, col("k"),
      atCap, col("k"), T)) === "broadcast_right")
    val justOver = uniform(101, 101)
    assert(strategyOf(JoinAdvisor.advise("over", big, col("k"),
      justOver, col("k"), T)) === "shuffle")
  }

  test("balanced large sides → shuffle") {
    assert(strategyOf(JoinAdvisor.advise("s", uniform(10000, 500), col("k"),
      uniform(5000, 500), col("k"), T)) === "shuffle")
  }

  test("one dominant key (50% share, 100 keys) → salt") {
    // half the rows on key 0, the rest spread over 99 keys:
    // share_ppm = 500000 ≥ 200000, skew_x = 500000 × 100 ≥ 8M
    val hot = spark.range(10000)
      .select(when(col("id") % 2 === 0, lit(0L))
        .otherwise(col("id") % 99 + 1).as("k"))
    assert(strategyOf(JoinAdvisor.advise("h", hot, col("k"),
      uniform(5000, 100), col("k"), T)) === "salt")
  }

  test("diffuse hot key (5% share, ~1000 keys) → aqe_skew") {
    // 5% of rows on key 0: share_ppm ≈ 50000 < 200000 (no salt), but
    // skew_x ≈ 50000 × 1000 = 50M ≥ 8M (skewed) → AQE handles it
    val hot = spark.range(100000)
      .select(when(col("id") % 20 === 0, lit(0L))
        .otherwise(col("id") % 997 + 1).as("k"))
    assert(strategyOf(JoinAdvisor.advise("m", hot, col("k"),
      uniform(5000, 997), col("k"), T)) === "aqe_skew")
  }

  test("skew on the RIGHT side alone also triggers the skew verdicts") {
    val hot = spark.range(10000)
      .select(when(col("id") % 2 === 0, lit(0L))
        .otherwise(col("id") % 99 + 1).as("k"))
    assert(strategyOf(JoinAdvisor.advise("r", uniform(5000, 100), col("k"),
      hot, col("k"), T)) === "salt")
  }

  test("est_join_rows is EXACT: equals the materialized join count") {
    val l = spark.range(3000).select((col("id") % 7).as("k"))
    val r = spark.range(2000).select((col("id") % 11).as("k"))
    val predicted = JoinAdvisor.evidence("x", l, col("k"), r, col("k"))
      .select("est_join_rows").collect().head.getDecimal(0).longValueExact()
    val actual = l.join(r, "k").count()
    assert(predicted === actual)
    // disjoint key spaces predict zero, not null
    val disjoint = JoinAdvisor.evidence("y",
      l, col("k") + 100, r, col("k"))
      .select("est_join_rows").collect().head.getDecimal(0).longValueExact()
    assert(disjoint === 0L)
  }

  test("est_join_rows survives the adversarial overflow corpus: two " +
      "trillion-row hot keys multiply exactly past Long.MaxValue") {
    val s = spark
    import s.implicits._
    // pre-aggregated count tables for two 3·10¹²-row hot keys — the
    // shape evidence() feeds estJoinRowsAgg after its groupBy collapses
    val counts = Seq((3000000000000L, 3000000000000L),
      (2000000000000L, 4000000000000L)).toDF("c", "c2")
    val est = counts.agg(JoinAdvisor.estJoinRowsAgg)
      .collect().head.getDecimal(0)
    val want = new java.math.BigDecimal("17000000000000000000000000")
    assert(est.compareTo(want) === 0,
      s"9e24 + 8e24 must stay exact in decimal(38,0), got $est " +
        "(a long Σ c·c′ would have overflowed)")
  }

  test("advice→evidence: the broadcast verdict MEASURABLY ships fewer " +
      "shuffle bytes than the naive shuffle it rejected") {
    // fixed slice counts: a one-slice range is already SinglePartition,
    // which satisfies the join's distribution, so no exchange would run
    val big = spark.range(0, 200000, 1, Slices)
      .select((col("id") % 1000).as("k"))
    val dim = spark.range(0, 50, 1, Slices).select((col("id") % 50).as("k"))
    assert(strategyOf(JoinAdvisor.advise("bq", big, col("k"),
      dim, col("k"), T)) === "broadcast_right")
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> Reducers.toString) {
      val naive = graft.plans.PlanMetrics.measureShuffleBytes(
        big.join(dim.hint("shuffle_hash"), "k")
          .groupBy("k").agg(count(lit(1)).as("n")))
      val advised = graft.plans.PlanMetrics.measureShuffleBytes(
        big.join(broadcast(dim), "k")
          .groupBy("k").agg(count(lit(1)).as("n")))
      assert(naive > 0L, "the rejected plan must actually shuffle")
      assert(advised < naive,
        s"advised broadcast must ship fewer shuffle bytes: " +
          s"advised=$advised naive=$naive")
    }
  }

  test("advice→evidence: the salt verdict MEASURABLY flattens the hot " +
      "key — max reducer load drops vs the naive shuffle join") {
    // join13's fixture shape: 50% of fact rows on key 0
    val fact = spark.range(0, 40000, 1, Slices)
      .select(when(col("id") % 2 === 0, lit(0L))
        .otherwise(col("id") % 99 + 1).as("k"), col("id").as("v"))
    val dim = spark.range(0, 5000, 1, Slices)
      .select((col("id") % 100).as("k"), col("id").as("w"))
    assert(strategyOf(JoinAdvisor.advise("sq", fact, col("k"),
      dim, col("k"), T)) === "salt")
    def maxTaskRows(df: org.apache.spark.sql.DataFrame): Long =
      df.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().max
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> Reducers.toString) {
      val S = 8
      val naive = fact.join(dim, "k")
      val salted = fact
        .withColumn("salt", pmod(xxhash64(col("v")), lit(S)))
        .join(dim.withColumn("salt",
            explode(sequence(lit(0L), lit(S - 1L)))),
          Seq("k", "salt"))
      // the loads below are per reducer: measure them over the pinned
      // count, not over however many cores the session was sized for
      assert(naive.rdd.getNumPartitions === Reducers)
      assert(salted.rdd.getNumPartitions === Reducers)
      assert(salted.count() === naive.count(),
        "salting must not change the join result size")
      val (nMax, sMax) = (maxTaskRows(naive), maxTaskRows(salted))
      info(s"naive max=$nMax salted max=$sMax over $Reducers reducers")
      assert(sMax.toDouble <= nMax.toDouble / 2,
        s"salting must split the hot key's reducer load ≥2×: " +
          s"naive max=$nMax salted max=$sMax")
    }
  }

  test("evidence never executes the candidate join (no join of the raw " +
      "sides in the plan — only the |keys|-sized count-table join)") {
    val l = uniform(10000, 5)  // join would be 10000*2000/5 = 4M rows
    val r = uniform(10000, 5)
    val ev = JoinAdvisor.evidence("z", l, col("k"), r, col("k"))
    val est = ev.select("est_join_rows").collect().head
      .getDecimal(0).longValueExact()
    assert(est === 5L * 2000L * 2000L)
    // both raw sides collapse through HashAggregate BEFORE any join:
    // every join input in the plan is an aggregate output, so the
    // 4M-row product never materializes
    val p = ev.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), s"expected count collapses:\n$p")
  }
}
