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
    finally spark.sparkContext.getPersistentRDDs(sig.id).unpersist()
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
