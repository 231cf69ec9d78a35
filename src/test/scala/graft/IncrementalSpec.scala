package graft

import org.apache.spark.sql.functions._

import graft.operators.{Incremental, VersionedStore}

/** IVM-1: maintained aggregate == full recompute, exactly (decimal path). */
class IncrementalSpec extends SparkSpec {

  private val root = Paths.sink("ivm1_spec_store")

  test("changeFeed emits pre+post images for updates, and only real changes") {
    Incremental.buildStore(spark, Sf0001, root)
    val feed = VersionedStore.changeFeed(spark, root, 1L, 2L, Seq("o_orderkey"))
      .collect()
    val byType = feed.groupBy(_.getAs[String]("_change_type")).map {
      case (t, rows) => t -> rows.length
    }
    // v1 has %3!=0, v2 has %5!=0 → keys with %3==0 && %5!=0 insert;
    // %3!=0 && %5==0 delete; %7==0 survivors update (price doubled)
    assert(byType.keySet ===
      Set("insert", "delete", "update_preimage", "update_postimage"))
    assert(byType("update_preimage") === byType("update_postimage"),
      s"unpaired update images: $byType")
    // every update key must carry BOTH images, post = 2 × pre
    val updates = feed.filter(_.getAs[String]("_change_type").startsWith("update"))
      .groupBy(_.getAs[Long]("o_orderkey"))
    updates.foreach { case (k, rows) =>
      assert(rows.length === 2, s"key $k: expected pre+post, got ${rows.length}")
      val pre = rows.find(_.getAs[String]("_change_type") == "update_preimage").get
      val post = rows.find(_.getAs[String]("_change_type") == "update_postimage").get
      assert(post.getAs[Double]("o_totalprice") ===
        pre.getAs[Double]("o_totalprice") * 2, s"key $k images wrong")
    }
  }

  test("maintained aggregate is bit-identical to a full recompute of v2") {
    Incremental.buildStore(spark, Sf0001, root)
    val feed = VersionedStore.changeFeed(spark, root, 1L, 2L, Seq("o_orderkey"))
    val maintained = Incremental.maintainSumCount(
      Incremental.aggOf(spark, root, 1L), feed,
      Seq("o_orderpriority"), "o_totalprice")
      .orderBy("o_orderpriority").collect()
    val recomputed = Incremental.aggOf(spark, root, 2L)
      .orderBy("o_orderpriority").collect()
    assert(maintained.length === recomputed.length)
    maintained.zip(recomputed).foreach { case (m, r) =>
      assert(m === r, s"maintained $m != recomputed $r")
    }
  }

  test("empty feed (no changes) leaves the aggregate untouched") {
    Incremental.buildStore(spark, Sf0001, root)
    // v2 → v2: feed is empty; maintenance must be the identity
    val feed = VersionedStore.changeFeed(spark, root, 2L, 2L, Seq("o_orderkey"))
    assert(feed.count() === 0)
    val before = Incremental.aggOf(spark, root, 2L)
      .orderBy("o_orderpriority").collect()
    val after = Incremental.maintainSumCount(
      Incremental.aggOf(spark, root, 2L), feed,
      Seq("o_orderpriority"), "o_totalprice")
      .orderBy("o_orderpriority").collect()
    assert(after.toSeq === before.toSeq)
  }

  private val oRoot = Paths.sink("ivm2_spec_orders")
  private val cRoot = Paths.sink("ivm2_spec_cust")

  private def joinOf(v: Long) = {
    val o = VersionedStore.read(spark, oRoot, v)
    val c = VersionedStore.read(spark, cRoot, v)
    o.join(c, o("o_custkey") === c("c_custkey")).drop("c_custkey")
  }

  test("ivm2: maintained join view == full recompute of v2, row for row") {
    Incremental.buildJoinStores(spark, Sf0001, oRoot, cRoot)
    val maintained = Incremental.maintainJoinView(
      joinOf(1L),
      VersionedStore.read(spark, oRoot, 1L),
      VersionedStore.changeFeed(spark, oRoot, 1L, 2L, Seq("o_orderkey")),
      VersionedStore.changeFeed(spark, cRoot, 1L, 2L, Seq("c_custkey")),
      VersionedStore.read(spark, cRoot, 1L))
    val recomputed = joinOf(2L)
    // exact multiset equality, both directions
    assert(maintained.exceptAll(recomputed).count() === 0, "extra rows")
    assert(recomputed.exceptAll(maintained).count() === 0, "missing rows")
  }

  test("ivm5: delta-rule chaining — aggregate∘maintainJoinView equals " +
      "maintainSumCount∘joinViewDelta") {
    Incremental.buildJoinStores(spark, Sf0001, oRoot, cRoot)
    val oOld = VersionedStore.read(spark, oRoot, 1L)
    val cOld = VersionedStore.read(spark, cRoot, 1L)
    val vOld = joinOf(1L)
    def aggOf(v: org.apache.spark.sql.DataFrame) =
      v.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("sum_dec"))
    def oFeed = VersionedStore.changeFeed(spark, oRoot, 1L, 2L,
      Seq("o_orderkey"))
    def cFeed = VersionedStore.changeFeed(spark, cRoot, 1L, 2L,
      Seq("c_custkey"))
    val viaView = aggOf(Incremental.maintainJoinView(
      vOld, oOld, oFeed, cFeed, cOld))
    val viaDelta = Incremental.maintainSumCount(aggOf(vOld),
      Incremental.joinViewDelta(vOld, oOld, oFeed, cFeed, cOld),
      Seq("c_mktsegment"), "o_totalprice")
    val a = viaView.collect().map(r => (r.getString(0), r.getLong(1),
      r.getDecimal(2).toPlainString)).toSet
    val b = viaDelta.collect().map(r => (r.getString(0), r.getLong(1),
      r.getDecimal(2).toPlainString)).toSet
    assert(a === b, "the two maintenance orders must commute exactly")
    assert(a.nonEmpty)
  }

  test("ivm2: a customer INSERT resurrects unchanged orders the old view " +
      "never contained (the O_old re-probe case)") {
    Incremental.buildJoinStores(spark, Sf0001, oRoot, cRoot)
    // customers inserted at v2: %4==0 (absent from v1) && %6!=0
    val inserted = VersionedStore.read(spark, cRoot, 2L)
      .filter(col("c_custkey") % 4 === 0)
    assert(inserted.count() > 0, "fixture must actually insert customers")
    val maintained = Incremental.maintainJoinView(
      joinOf(1L),
      VersionedStore.read(spark, oRoot, 1L),
      VersionedStore.changeFeed(spark, oRoot, 1L, 2L, Seq("o_orderkey")),
      VersionedStore.changeFeed(spark, cRoot, 1L, 2L, Seq("c_custkey")),
      VersionedStore.read(spark, cRoot, 1L))
    // an order surviving both versions UNCHANGED whose customer is newly
    // inserted: invisible in V_old, must appear in the maintained view
    val resurrected = VersionedStore.read(spark, oRoot, 1L)
      .filter(col("o_orderkey") % 5 =!= 0 && col("o_orderkey") % 7 =!= 0)
      .join(inserted.select("c_custkey"),
        col("o_custkey") === col("c_custkey")).drop("c_custkey")
    assert(resurrected.count() > 0, "fixture must exercise the case")
    assert(resurrected.join(joinOf(1L), Seq("o_orderkey"), "left_semi")
      .count() === 0, "case rows must be absent from the OLD view")
    assert(resurrected.select("o_orderkey")
      .join(maintained, Seq("o_orderkey"), "left_anti").count() === 0,
      "maintained view must contain the resurrected rows")
  }

  test("ivm3: maintained distinct counts == recompute; zero-crossing " +
      "algebra handles birth, death, and cancelling updates") {
    val s = spark
    import s.implicits._
    // hand-built support: group g1 has values {1, 2 (mult 2)}, g2 has {9}
    val sup1 = Seq(("g1", 1L, 1L), ("g1", 2L, 2L), ("g2", 9L, 1L))
      .toDF("g", "v", "n")
    val cnt1 = Seq(("g1", 2L), ("g2", 1L)).toDF("g", "cnt")
    // feed: delete one of g1's v=2 copies (no crossing), delete g1 v=1
    // (death), insert g1 v=3 (birth), delete g2 v=9 (group dies),
    // update g1 v=2 price-style no-op (pre+post same v — cancels)
    val feed = Seq(
      ("delete", "g1", 2L), ("delete", "g1", 1L), ("insert", "g1", 3L),
      ("delete", "g2", 9L),
      ("update_preimage", "g1", 2L), ("update_postimage", "g1", 2L))
      .toDF("_change_type", "g", "v")
    val (sup2, cnt2) = Incremental.maintainDistinctCount(
      sup1, cnt1, feed, "g", "v")
    val gotSup = sup2.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotSup === Set(("g1", 2L, 1L), ("g1", 3L, 1L)), gotSup)
    val gotCnt = cnt2.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // g1: {2,3} → 2 distinct; g2 died entirely → absent, not zero
    assert(gotCnt === Set(("g1", 2L)), gotCnt)
    // end-to-end: the declared query equals a direct v2 recompute
    val maintained = SparkEntry.queries("ivm3_incremental_distinct")(s, Sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val root = Paths.sink("ivm3_spec_store")
    Incremental.buildDistinctStore(s, Sf0001, root)
    val recomputed = VersionedStore.read(s, root, 2L)
      .groupBy("o_orderpriority")
      .agg(countDistinct("o_custkey").as("n"))
      .orderBy("o_orderpriority")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(maintained === recomputed)
  }

  test("ivm3: randomized delete/insert feeds — maintained support and " +
      "counts always equal a recompute of the net rows") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    val groups = Vector("g1", "g2", "g3")
    for (_ <- 1 to 8) {
      val base = Seq.fill(rnd.nextInt(20) + 1)(
        (groups(rnd.nextInt(3)), rnd.nextInt(5).toLong))
      val toDelete = base.filter(_ => rnd.nextBoolean())
      val inserts = Seq.fill(rnd.nextInt(10))(
        (groups(rnd.nextInt(3)), rnd.nextInt(5).toLong))
      val net = inserts.foldLeft(base.diff(toDelete))(_ :+ _)
      val sup1 = base.groupBy(identity).toSeq
        .map { case ((g, v), rows) => (g, v, rows.size.toLong) }
        .toDF("g", "v", "n")
      val cnt1 = base.distinct.groupBy(_._1).toSeq
        .map { case (g, vs) => (g, vs.map(_._2).distinct.size.toLong) }
        .toDF("g", "cnt")
      val feed = (toDelete.map { case (g, v) => ("delete", g, v) } ++
        inserts.map { case (g, v) => ("insert", g, v) })
        .toDF("_change_type", "g", "v")
      val (sup2, cnt2) = Incremental.maintainDistinctCount(
        sup1, cnt1, feed, "g", "v")
      val gotSup = sup2.collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val expSup = net.groupBy(identity)
        .map { case (k, rows) => k -> rows.size.toLong }
      assert(gotSup === expSup, s"support mismatch; base=$base feed=$feed")
      val gotCnt = cnt2.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val expCnt = net.distinct.groupBy(_._1)
        .map { case (g, vs) => g -> vs.map(_._2).distinct.size.toLong }
      assert(gotCnt === expCnt, s"count mismatch; base=$base feed=$feed")
    }
  }

  test("ivm4: maintained top-k view == full recompute of v2") {
    val root4 = Paths.sink("ivm4_spec_store")
    Incremental.buildTopkStore(spark, Sf0001, root4)
    val feed = VersionedStore.changeFeed(spark, root4, 1L, 2L, Seq("o_orderkey"))
    val (sup1, v1) = Incremental.topkStateOf(spark, root4, 1L, k = 3)
    val maintained = Incremental.maintainTopK(v1, sup1, feed,
      "o_orderpriority", "o_custkey", "o_totalprice", k = 3)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDecimal(3))).toSet
    val (_, v2) = Incremental.topkStateOf(spark, root4, 2L, k = 3)
    val recomputed = v2.collect().map(r => (r.getString(0), r.getInt(1),
      r.getLong(2), r.getDecimal(3))).toSet
    assert(maintained === recomputed)
  }

  test("ivm4: in-top-k death promotes the successor; untouched groups " +
      "carry over; cancelling churn re-ranks nothing") {
    val s = spark
    import s.implicits._
    // g1: a=30 > b=20 > c=10 > d=5; g2 untouched by the feed
    val sup1 = Seq(
      ("g1", 1L, 1L, "30.00"), ("g1", 2L, 1L, "20.00"),
      ("g1", 3L, 1L, "10.00"), ("g1", 4L, 1L, "5.00"),
      ("g2", 9L, 1L, "7.00"))
      .toDF("g", "m", "n", "sd")
      .select(col("g"), col("m"), col("n"),
        col("sd").cast("decimal(18,2)").as("sum_dec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("sum_dec").desc, col("m"))
    val v1 = sup1.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 2)
      .select(col("g"), col("rnk"), col("m"), col("sum_dec"))
    // delete g1's #2 member (b): c must be promoted into the view even
    // though v1 never contained it — only the support table knows c
    val feed = Seq(("delete", "g1", 2L, 20.0))
      .toDF("_change_type", "g", "m", "v")
    val got = Incremental.maintainTopK(v1, sup1, feed, "g", "m", "v", k = 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDecimal(3).toPlainString)).toSet
    assert(got === Set(
      ("g1", 1, 1L, "30.00"), ("g1", 2, 3L, "10.00"),
      ("g2", 1, 9L, "7.00")))
    // a cancelling update (pre+post identical) must mark NO group changed:
    // the rebuilt branch contributes zero rows and v1 passes through
    val noop = Seq(("update_preimage", "g1", 1L, 30.0),
      ("update_postimage", "g1", 1L, 30.0))
      .toDF("_change_type", "g", "m", "v")
    val stable = Incremental.maintainTopK(v1, sup1, noop, "g", "m", "v", k = 2)
    assert(stable.collect().toSet === v1.collect().toSet)
  }

  test("ivm6: bucket histogram maintains exactly — births, deaths, " +
      "zero-crossing drops, and cancelling churn") {
    val s = spark
    import s.implicits._
    // bucketOf(v) = the value itself (identity buckets keep the golden
    // arithmetic readable; the production bucket expr is just a column)
    val sup1 = Seq(("g1", 10L, 2L), ("g1", 20L, 1L), ("g2", 10L, 1L))
      .toDF("g", "i", "c")
    val feed = Seq(
      ("insert", "g1", 30L),            // birth of bucket 30
      ("delete", "g1", 20L),            // bucket 20 crosses zero → drops
      ("update_preimage", "g1", 10L),   // one of bucket 10's two moves...
      ("update_postimage", "g1", 30L),  // ...into bucket 30
      ("update_preimage", "g2", 10L),   // cancelling churn: pre == post
      ("update_postimage", "g2", 10L))
      .toDF("_change_type", "g", "v")
    val got = Incremental.maintainBucketHistogram(sup1, feed, "g", col("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(("g1", 10L, 1L), ("g1", 30L, 2L), ("g2", 10L, 1L)))
    // maintained == recompute on the ivm4 store (the declared query path)
    val root = Paths.sink("ivm6_spec_store")
    Incremental.buildTopkStore(spark, Sf0001, root)
    val gamma = (1 + 0.01) / (1 - 0.01)
    def bucket(c: org.apache.spark.sql.Column) =
      ceil(log(c) / log(lit(gamma))).cast("long")
    def bucketsOf(v: Long) = VersionedStore.read(spark, root, v)
      .select(col("o_orderpriority"), bucket(col("o_totalprice")).as("i"))
      .groupBy("o_orderpriority", "i").agg(count(lit(1)).as("c"))
    val storeFeed = VersionedStore.changeFeed(spark, root, 1L, 2L,
      Seq("o_orderkey"))
    val maintained = Incremental.maintainBucketHistogram(bucketsOf(1L),
        storeFeed, "o_orderpriority", bucket(col("o_totalprice")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val recomputed = bucketsOf(2L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(maintained === recomputed)
  }
}
