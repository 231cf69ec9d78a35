package graft

import graft.operators.VersionedStore
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Commit-protocol guarantees of the versioned snapshot store (SINK-9):
  * snapshot isolation across overwrites, invisibility of uncommitted data,
  * concurrent-writer detection, and vacuum retention. */
class VersionedStoreSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-vstore").toString + "/store"

  test("commit/read: versions are isolated snapshots; latest wins by default") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val v1 = VersionedStore.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"), root)
    val v2 = VersionedStore.commit(Seq((3, "c")).toDF("k", "v"), root)
    assert((v1, v2) === (1L, 2L))
    // time travel: v1 unchanged after the v2 overwrite
    val r1 = VersionedStore.read(s, root, v1).orderBy("k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(r1 === Seq((1, "a"), (2, "b")))
    // default read resolves to the latest committed version
    val latest = VersionedStore.read(s, root)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(latest === Seq((3, "c")))
  }

  test("uncommitted data dirs are invisible; reading them is an error") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedStore.commit(Seq((1, "a")).toDF("k", "v"), root)
    // simulate a failed writer: data dir fully written, marker never created
    Seq((9, "orphan")).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$root/data-00002")
    assert(VersionedStore.versions(root) === Seq(1L))
    assert(VersionedStore.read(s, root).count() === 1L)
    intercept[IllegalArgumentException] {
      VersionedStore.read(s, root, version = 2L)
    }
  }

  test("concurrent writers: no lost updates — every visible version is a full commit") {
    val s = spark
    import s.implicits._
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    implicit val ec: ExecutionContext = ExecutionContext.global
    val root = freshRoot()
    // racing writers both read the same latest version and target the same
    // slot; the create-new marker lets exactly one of them win that slot —
    // the loser throws instead of silently clobbering (lost update)
    val results = Await.result(Future.sequence((1 to 8).map(i => Future {
      try Right(VersionedStore.commit(Seq((i, s"w$i")).toDF("k", "v"), root))
      catch { case e: IllegalArgumentException => Left(e.getMessage) }
    })), 2.minutes)
    val won = results.collect { case Right(v) => v }
    assert(won.distinct.size === won.size, s"two writers claimed one version: $won")
    assert(VersionedStore.versions(root) === won.sorted)
    // every visible version resolves to complete, readable data
    VersionedStore.versions(root).foreach { v =>
      assert(VersionedStore.read(s, root, v).count() === 1L)
    }
  }

  test("vacuum drops oldest versions, keeps the newest k readable") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    (1 to 4).foreach(i => VersionedStore.commit(Seq(i).toDF("k"), root))
    // resolve each version's actual data-dir name from its marker manifest
    // BEFORE vacuum (markers are gone after) — data dirs are data-<uuid>,
    // so a guessed path would make the physical-deletion assert vacuous;
    // the manifest's first line names the dir, later lines are metadata
    def dataDirName(v: Long): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        root, "_versions", f"$v%05d.commit"))).linesIterator.next().trim
    val dropped = Seq(1L, 2L).map(dataDirName)
    val retained = Seq(3L, 4L).map(dataDirName)
    VersionedStore.vacuum(root, keep = 2)
    assert(VersionedStore.versions(root) === Seq(3L, 4L))
    assert(VersionedStore.read(s, root, 3L).select("k")
      .collect().map(_.getInt(0)).toSeq === Seq(3))
    intercept[IllegalArgumentException] {
      VersionedStore.read(s, root, 1L)
    }
    // vacuumed data dirs are physically gone, not just unlisted — and ONLY
    // the retained versions' dirs remain
    dropped.foreach(d =>
      assert(!new java.io.File(root, d).exists(), s"$d should be deleted"))
    val remaining = Option(new java.io.File(root).listFiles()).get
      .map(_.getName).filter(_.startsWith("data-")).toSet
    assert(remaining === retained.toSet)
  }

  test("merge: update/delete/insert clauses apply; pre-merge version intact") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val v1 = VersionedStore.commit(
      Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("k", "v", "x"), root)
    val changes = Seq(
      (2, "b2", 21, "upsert"),   // matched  -> update
      (3, "c", 30, "delete"),    // matched  -> delete
      (4, "d", 40, "upsert"))    // no match -> insert
      .toDF("k", "v", "x", "op")
    val v2 = VersionedStore.merge(s, root, changes, Seq("k"))
    assert(v2 === v1 + 1)
    val merged = VersionedStore.read(s, root).orderBy("k")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    // row 1 carried over untouched, 2 replaced, 3 gone, 4 inserted
    assert(merged === Seq((1, "a", 10), (2, "b2", 21), (4, "d", 40)))
    // time travel: the pre-merge snapshot still reads exactly as committed
    assert(VersionedStore.read(s, root, v1).orderBy("k")
      .collect().map(_.getInt(0)).toSeq === Seq(1, 2, 3))
  }

  // ---- merge sizes its change set: a small one broadcasts its keys ----

  private val MergeChanges = Seq(
    (2, "b2", 21, "upsert"), (3, "c", 30, "delete"), (40000, "new", 1, "upsert"))

  private case class Merged(root: String, before: Long, after: Long,
                            shuffleBytes: Long, writePlan: SparkPlan)

  /** Commits `n` rows (k, v, x), merges [[MergeChanges]] into them and
    * captures the merge's shuffle bytes and its write's executed plan. */
  private def mergeInto(n: Int): Merged = {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val before = VersionedStore.commit(spark.range(n).select(
      col("id").cast("int").as("k"), concat(lit("v"), col("id")).as("v"),
      (col("id") * 10).cast("int").as("x")), root)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan): Unit
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // RDD-backed, so the planner has no size for it — like the migrate
    // patch step's change set, read by the `ace` source (a local relation's
    // known size would let the planner broadcast it unaided)
    val changes = spark.sparkContext.parallelize(MergeChanges)
      .toDF("k", "v", "x", "op")
    var after = 0L
    spark.listenerManager.register(listener)
    // query-execution callbacks share the listener queue that
    // shuffleBytesOf awaits, so the merge's have arrived when it returns
    val bytes = try shuffleBytesOf {
      after = VersionedStore.merge(s, root, changes, Seq("k"))
    } finally spark.listenerManager.unregister(listener)
    // the queue may still hold the setup commit's callback: pick the
    // write into the merged version's data dir
    val dataDir = markerLines(root, after).head
    val writes = plans.toArray(Array.empty[SparkPlan]).filter(p =>
      nodes(p).exists {
        case w: DataWritingCommandExec => w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand =>
            i.outputPath.getName == dataDir
          case _ => false
        }
        case _ => false
      })
    assert(writes.length === 1)
    Merged(root, before, after, bytes, writes.head)
  }

  /** Every node of an executed plan, through AQE's stages. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case p => p +: p.children.flatMap(nodes)
  }

  private def rows(root: String, v: Long) =
    VersionedStore.read(spark, root, v).orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq

  test("merge: broadcast and shuffled anti-joins write the same version") {
    val b = mergeInto(1000)
    val sm = withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(mergeInto(1000))
    assert(nodes(sm.writePlan).exists(_.isInstanceOf[ShuffleExchangeExec]),
      "-1 must plan the shuffle join")
    val base = (0 until 1000).map(i => (i, s"v$i", i * 10))
    assert(rows(b.root, b.after) === (base.filterNot(r => Set(2, 3)(r._1)) ++
      Seq((2, "b2", 21), (40000, "new", 1))).sortBy(_._1))
    assert(rows(sm.root, sm.after) === rows(b.root, b.after))
    // the pre-merge version is intact on both paths
    for (m <- Seq(b, sm)) assert(rows(m.root, m.before) === base)
  }

  test("merge: a small change set never shuffles the target") {
    val big = mergeInto(50000)
    val ns = nodes(big.writePlan)
    assert(ns.exists(_.isInstanceOf[BroadcastHashJoinExec]), big.writePlan)
    assert(!ns.exists(_.isInstanceOf[ShuffleExchangeExec]), big.writePlan)
    assert(graft.plans.PlanMetrics.shuffleBytesWritten(big.writePlan) === 0L)
    // the only shuffle left is the change set's duplicate-key pass, so
    // 5,000x the target rows cost not one shuffle byte more
    assert(big.shuffleBytes === mergeInto(10).shuffleBytes)
    val shuffled = withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(mergeInto(50000))
    assert(shuffled.shuffleBytes > big.shuffleBytes * 10,
      s"the shuffle join moves the target: ${shuffled.shuffleBytes} vs " +
        s"${big.shuffleBytes}")
  }

  test("merge: an empty change set commits a version equal to the target") {
    val s = spark
    import s.implicits._
    val none = Seq.empty[(Int, String, Int, String)]
    // a local empty relation is pruned by the optimizer, so the count
    // carries no metric at all; an RDD-backed one is empty only once it runs
    for (empty <- Seq(none.toDF("k", "v", "x", "op"),
        spark.sparkContext.parallelize(none).toDF("k", "v", "x", "op"))) {
      val root = freshRoot()
      val v1 = VersionedStore.commit(
        Seq((1, "a", 10), (2, "b", 20)).toDF("k", "v", "x"), root)
      assert(VersionedStore.merge(s, root, empty, Seq("k")) === v1 + 1)
      assert(rows(root, v1 + 1) === rows(root, v1))
    }
  }

  test("rollback: restore is zero-copy and survives a refcounted vacuum") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val v1 = VersionedStore.commit(Seq((1, "backup")).toDF("k", "v"), root)
    VersionedStore.commit(Seq((2, "divergent")).toDF("k", "v"), root)
    val v3 = VersionedStore.rollback(s, root, v1)
    assert(v3 === 3L)
    // latest now answers as the restored backup
    assert(VersionedStore.read(s, root).collect().map(_.getString(1)).toSeq
      === Seq("backup"))
    // zero-copy: v1 and v3 manifests point at the SAME data dir
    val dirs = Option(new java.io.File(root).listFiles()).get
      .count(_.getName.startsWith("data-"))
    assert(dirs === 2, s"rollback must not copy data ($dirs data dirs)")
    // vacuum to just the rollback version: the shared data dir must
    // survive v1's marker deletion (reference counting), v3 stays readable
    VersionedStore.vacuum(root, keep = 1)
    assert(VersionedStore.versions(root) === Seq(3L))
    assert(VersionedStore.read(s, root, 3L).collect()
      .map(_.getString(1)).toSeq === Seq("backup"))
  }

  test("changes: insert/update/delete classified; unchanged rows emit nothing") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val v1 = VersionedStore.commit(
      Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("k", "v", "x"), root)
    val v2 = VersionedStore.commit(
      Seq((1, "a", 10), (2, "B", 21), (4, "d", 40)).toDF("k", "v", "x"), root)
    val got = VersionedStore.changes(s, root, v1, v2, Seq("k"))
      .orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3)))
      .toSeq
    // key 1 unchanged -> absent; 2 updated (post-image); 3 deleted
    // (pre-image); 4 inserted
    assert(got === Seq(
      (2, "B", 21, "update"),
      (3, "c", 30, "delete"),
      (4, "d", 40, "insert")))
  }

  test("changes: a rollback produces an empty feed vs its source version") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val v1 = VersionedStore.commit(Seq((1, "a")).toDF("k", "v"), root)
    VersionedStore.commit(Seq((2, "b")).toDF("k", "v"), root)
    val v3 = VersionedStore.rollback(s, root, v1)
    assert(VersionedStore.changes(s, root, v1, v3, Seq("k")).count() === 0L)
  }

  test("merge: duplicate source keys are rejected, store stays unchanged") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val v1 = VersionedStore.commit(Seq((1, "a")).toDF("k", "v"), root)
    val dupSource = Seq((1, "x", "upsert"), (1, "y", "upsert"))
      .toDF("k", "v", "op")
    val e = intercept[IllegalArgumentException] {
      VersionedStore.merge(s, root, dupSource, Seq("k"))
    }
    assert(e.getMessage.contains("2 rows for key (k=1)"), e.getMessage)
    // the failed merge must not have committed anything
    assert(VersionedStore.versions(root) === Seq(v1))
  }

  test("checked commit: violations reject without a version, clean commits") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val ok = col("score") >= 0
    // violating write on an EMPTY store: no version must appear
    val bad = VersionedStore.commitChecked(
      Seq((1, 5.0), (2, -1.0), (3, -2.0)).toDF("k", "score"), root, ok)
    assert(bad === Left(2L), "exactly the two violating rows counted")
    assert(VersionedStore.latestVersion(root).isEmpty,
      "rejected write must not create a version")
    // clean write commits and reads back exactly
    val good = VersionedStore.commitChecked(
      Seq((1, 5.0), (2, 1.0)).toDF("k", "score"), root, ok)
    assert(good.isRight)
    assert(VersionedStore.read(s, root).count() === 2L)
    // a later violating write leaves the committed version live
    val bad2 = VersionedStore.commitChecked(
      Seq((9, -9.0)).toDF("k", "score"), root, ok)
    assert(bad2.isLeft)
    assert(VersionedStore.latestVersion(root) === Some(good.toOption.get))
    assert(VersionedStore.read(s, root).count() === 2L)
  }

  test("checked commit: empty frame satisfies any constraint") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val r = VersionedStore.commitChecked(
      Seq.empty[(Int, Double)].toDF("k", "score"), root, col("score") >= 0)
    assert(r.isRight, "vacuously-true constraint must commit")
  }

  test("commitTxn: replayed txnVersions skip, higher commit, appIds isolate") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    // a plain (untagged) commit records no txn
    VersionedStore.commit(Seq((0, "base")).toDF("k", "v"), root)
    assert(VersionedStore.lastTxn(root, "app") === None)
    // first tagged commit
    assert(VersionedStore.commitTxn(
      Seq((1, "a")).toDF("k", "v"), root, "app", 0L) === Right(2L))
    // crash-replay of the same batchId: skipped, store untouched
    assert(VersionedStore.commitTxn(
      Seq((9, "dup")).toDF("k", "v"), root, "app", 0L) === Left(0L))
    assert(VersionedStore.versions(root) === Seq(1L, 2L))
    // stale (lower) txnVersion also skipped after progress
    assert(VersionedStore.commitTxn(
      Seq((2, "b")).toDF("k", "v"), root, "app", 1L) === Right(3L))
    assert(VersionedStore.commitTxn(
      Seq((9, "dup")).toDF("k", "v"), root, "app", 0L) === Left(1L))
    // a different appId has its own sequence
    assert(VersionedStore.commitTxn(
      Seq((3, "c")).toDF("k", "v"), root, "other", 0L) === Right(4L))
    // tagged markers still time-travel and roll back like plain ones
    assert(VersionedStore.read(s, root, 2L).orderBy("k")
      .collect().map(_.getInt(0)).toSeq === Seq(1))
    VersionedStore.rollback(s, root, 2L)
    assert(VersionedStore.read(s, root)
      .collect().map(_.getInt(0)).toSeq === Seq(1))
    // DESCRIBE HISTORY: every version listed, txn tags only where written,
    // the rollback row shares its source version's data dir
    val h = VersionedStore.history(s, root).orderBy("version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(h.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    assert(h(0)._3 == null && h(1)._3 == "txn=app=0" &&
      h(2)._3 == "txn=app=1" && h(3)._3 == "txn=other=0")
    assert(h(4)._2 === h(1)._2 && h(4)._3 == null,
      "rollback must reference the source data dir, untagged")
  }

  test("sink9 query: v1 aggregate unchanged by the v2 overwrite") {
    val s = spark
    val df = SparkEntry.queries("sink9_versioned")(s, Sf0001)
    val viaV1 = df.agg(sum("n")).head().getLong(0)
    val expected = Tables.orders(s, Sf0001)
      .filter(col("o_orderstatus") === "F").count()
    assert(viaV1 === expected)
  }

  test("vacuum sweeps aged orphan attempts but never a graced one") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedStore.commit(Seq((1, "a")).toDF("k", "v"), root)
    // a rejected CHECK commit leaves an unreferenced data dir behind
    val rejected = VersionedStore.commitChecked(
      Seq((2, "bad")).toDF("k", "v"), root, col("k") < 0)
    assert(rejected.isLeft)
    def orphans() = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("data-")).length -
      VersionedStore.versions(root).length
    assert(orphans() === 1, "rejected attempt must leave one orphan dir")
    // inside the grace window the orphan survives (a live writer's dir
    // between data write and marker claim must never be swept)
    VersionedStore.vacuum(root, keep = 10)
    assert(orphans() === 1)
    // past the grace window it is physically removed; the committed
    // version stays readable
    VersionedStore.vacuum(root, keep = 10, orphanGraceMs = 0L)
    assert(orphans() === 0)
    assert(VersionedStore.read(s, root).count() === 1L)
  }
  // ---- the marker's schema line: read plans without an inference job ----

  private def markerLines(root: String, v: Long): Seq[String] =
    scala.io.Source.fromFile(f"$root/_versions/$v%05d.commit", "UTF-8")
      .getLines().toSeq

  /** The version's schema as parquet inference returns it. */
  private def inferred(root: String, v: Long) =
    spark.read.parquet(s"$root/${markerLines(root, v).head}").schema

  test("schema line: commit, checked, txn, merge, rollback, empty — equals inference") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    // non-nullable ints, nested struct/array/map fields: the line must be
    // nullable at every level, as inference is
    def rows(ks: Int*) = ks.map(k => (k, s"v$k", Seq(k, k + 1), Map(s"m$k" -> k * 1.5)))
      .toDF("k", "v", "arr", "m").withColumn("st", struct(col("k"), lit("x").as("c")))
    val v1 = VersionedStore.commit(rows(1, 2, 3), root)
    val v2 = VersionedStore.commitChecked(rows(4), root, col("k") > 0).toOption.get
    val v3 = VersionedStore.commitTxn(rows(5), root, "app", 0L).toOption.get
    val v4 = VersionedStore.merge(s, root,
      rows(2, 6).withColumn("op", lit("upsert")), Seq("k"))
    val v5 = VersionedStore.rollback(s, root, v1)
    val v6 = VersionedStore.commit(rows(), root)
    for (v <- Seq(v1, v2, v3, v4, v5, v6)) {
      assert(markerLines(root, v).exists(_.startsWith("schema=")), s"v$v")
      assert(VersionedStore.read(s, root, v).schema === inferred(root, v), s"v$v")
    }
    assert(VersionedStore.read(s, root, v4).count() === 3L)
    assert(VersionedStore.read(s, root, v6).count() === 0L)
    // the schema line is invisible to the txn and history readers
    assert(VersionedStore.lastTxn(root, "app") === Some(0L))
    assert(VersionedStore.history(s, root).filter(col("txn").isNotNull)
      .collect().map(_.getString(2)).toSeq === Seq("txn=app=0"))
  }

  test("commit: the version's parquet footers report zstd column chunks") {
    val s = spark
    import s.implicits._
    import scala.jdk.CollectionConverters._
    val root = freshRoot()
    val v = VersionedStore.commit(
      Seq((1, "a", 1.5), (2, "b", 2.5)).toDF("k", "v", "x").repartition(2), root)
    val dir = new org.apache.hadoop.fs.Path(s"$root/${markerLines(root, v).head}")
    val conf = s.sparkContext.hadoopConfiguration
    val parts = dir.getFileSystem(conf).listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    val codecs = parts.toSeq.flatMap { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .map(_.getCodec.name).toSeq
      finally r.close()
    }
    assert(codecs.nonEmpty, parts.mkString(", "))
    assert(codecs.toSet === Set("ZSTD"), codecs.mkString(", "))
  }

  test("schema line: building the frame from read runs no job") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    VersionedStore.commit(Seq((1, "a")).toDF("k", "v"), root)
    assert(jobsRun(VersionedStore.read(s, root)) === 0)
    assert(jobsRun(inferred(root, 1L)) > 0, "inference is the job the line saves")
  }

  test("schema line: a hand-written marker without it still reads") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    Seq((7, "old")).toDF("k", "v").write.parquet(s"$root/data-legacy")
    new java.io.File(s"$root/_versions").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/_versions/00001.commit"),
      "data-legacy\ntxn=app=3".getBytes("UTF-8"))
    assert(VersionedStore.read(s, root).collect().map(r =>
      (r.getInt(0), r.getString(1))).toSeq === Seq((7, "old")))
    assert(VersionedStore.lastTxn(root, "app") === Some(3L))
  }

  test("schema line: a partitioned commitTxn records none and still infers") {
    val s = spark
    import s.implicits._
    val root = freshRoot()
    val v = VersionedStore.commitTxn(Seq((1, "a", 10L), (2, "b", 20L))
      .toDF("k", "v", "p"), root, "app", 0L, partitionBy = Seq("p")).toOption.get
    assert(!markerLines(root, v).exists(_.startsWith("schema=")))
    val back = VersionedStore.read(s, root)
    assert(back.columns.toSeq === Seq("k", "v", "p"))
    assert(back.orderBy("k").collect().map(r =>
      (r.getInt(0), r.getString(1), r.get(2).toString)).toSeq ===
      Seq((1, "a", "10"), (2, "b", "20")))
  }
}
