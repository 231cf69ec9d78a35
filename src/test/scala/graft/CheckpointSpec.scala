package graft

import graft.llm.LlmOps
import graft.operators.GraphOps
import org.apache.spark.storage.{RDDInfo, StorageLevel}

/** [[RoundCheckpointer.checkpoint]] is graft's one storage policy: every
  * memo, round and setup checkpoint is stored serialized, and through the
  * session's `spark.rdd.compress` zstd-compressed. */
class CheckpointSpec extends SparkSpec {

  private def storedBytes(i: RDDInfo): Long = i.memSize + i.diskSize

  /** The one RDD `body` leaves in block storage. */
  private def storedBy[A](body: => A): (A, RDDInfo) = {
    val (v, added) = storageAddedBy(body)
    assert(added.length === 1, added.mkString("; "))
    (v, added.head)
  }

  test("StageMemo.frame, RoundCheckpointer.step and the llm2 signature " +
      "table each store serialized blocks") {
    assert(spark.sparkContext.getConf.getBoolean("spark.rdd.compress", false))
    val s = spark.newSession()
    try {
      val (_, memo) = storedBy(StageMemo.frame(s, "checkpoint-spec") {
        s.range(1000).toDF("id")
      })
      assert(!memo.storageLevel.deserialized, memo)
      assert(storedBytes(memo) > 0, memo)
    } finally StageMemo.evict(s)

    val rc = new RoundCheckpointer
    val (round, step) = storedBy(rc.step(spark.range(1000).toDF("id")))
    try assert(!step.storageLevel.deserialized, step)
    finally RoundCheckpointer.release(round)

    val (_, sig) = storedBy(
      LlmOps.minhashNearDupPairs(Tables.documents(spark, Sf0001), 0.8)
        .collect())
    try assert(!sig.storageLevel.deserialized, sig)
    finally RoundCheckpointer.free(spark.sparkContext.getPersistentRDDs(sig.id))
  }

  test("the part_nbrs memo stores fewer bytes than the same frame " +
      "stored deserialized") {
    val s = spark.newSession()
    try {
      val (nbrs, ser) = storedBy(GraphOps.partNbrs(s, Sf0001))
      val (deser, de) = storedBy(
        nbrs.localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK))
      try {
        assert(de.storageLevel.deserialized, de)
        assert(ser.numCachedPartitions === de.numCachedPartitions)
        assert(storedBytes(ser) < storedBytes(de),
          s"serialized ${storedBytes(ser)} B vs deserialized " +
            s"${storedBytes(de)} B")
      } finally RoundCheckpointer.release(deser)
    } finally StageMemo.evict(s)
  }

  /** The WARN-or-worse messages logged (by any logger) while `body` runs,
    * with `body`'s value. */
  private def warningsDuring[A](body: => A): (A, Seq[String]) = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val name = s"warn-capture-${java.util.UUID.randomUUID()}"
    val app = new AbstractAppender(name, null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN))
          seen.add(e.getMessage.getFormattedMessage): Unit
    }
    app.start()
    val root = LoggerContext.getContext(false).getRootLogger
    root.addAppender(app)
    try (body, seen.asScala.toSeq)
    finally { root.removeAppender(app); app.stop() }
  }

  private val TruncatedWarn = "was locally checkpointed"

  test("releasing graft's checkpoints (bpeTrain rounds, dropUnpinned) logs " +
      "no lineage-truncated WARN and frees their blocks") {
    val sc = spark.sparkContext
    def stored = sc.getRDDStorageInfo.map(_.id).toSet
    // control: the capture sees a WARN from the logger that RDD.unpersist
    // warns through
    val probe = s"warn-capture probe ${java.util.UUID.randomUUID()}"
    val (_, controlWarns) = warningsDuring(org.slf4j.LoggerFactory
      .getLogger("org.apache.spark.rdd.MapPartitionsRDD").warn(probe))
    assert(controlWarns.contains(probe), controlWarns)

    val docs = spark.createDataFrame(Seq((0L, "a b c a b c"), (1L, "a b c"),
      (2L, "a b x"))).toDF("doc_id", "text")
    val ((_, added), bpeWarns) = warningsDuring(storageAddedBy(
      LlmOps.bpeTrain(spark, docs, rounds = 3).collect()))
    assert(added.isEmpty, s"bpeTrain left blocks: ${added.mkString("; ")}")
    assert(!bpeWarns.exists(_.contains(TruncatedWarn)), bpeWarns)

    val s = spark.newSession()
    try {
      // held until the end: Spark tracks persisted RDDs by weak
      // reference, so a collected one would leave storage without
      // dropUnpinned
      val (held, kept) = storageAddedBy {
        val cached = sc.parallelize(1 to 100, 2).persist()
        cached.count()
        (RoundCheckpointer.checkpoint(s.range(100).toDF("id")), cached)
      }
      assert(kept.length === 2, kept.mkString("; "))
      val (_, dropWarns) = warningsDuring(StageMemo.dropUnpinned(s))
      assert(!dropWarns.exists(_.contains(TruncatedWarn)), dropWarns)
      assert((kept.map(_.id).toSet & stored).isEmpty,
        s"dropUnpinned must free both: ${sc.getRDDStorageInfo.mkString("; ")}")
      java.lang.ref.Reference.reachabilityFence(held)
    } finally StageMemo.evict(s)
  }

  test("src/main calls localCheckpoint in exactly one place: " +
      "RoundCheckpointer.checkpoint") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val walk = Files.walk(root)
    val calls =
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).flatMap {
        (f: Path) =>
          Files.readAllLines(f).asScala.zipWithIndex.collect {
            case (l, i) if l.contains("localCheckpoint(") =>
              s"${root.relativize(f)}:${i + 1}: ${l.trim}"
          }
      }.toList
      finally walk.close()
    assert(calls.length === 1, calls.mkString("\n"))
    assert(calls.head.startsWith("scala/graft/RoundCheckpointer.scala:") &&
      calls.head.contains("ds.localCheckpoint(eager = true, " +
        "StorageLevel.MEMORY_AND_DISK_SER)"), calls.head)
  }
}
