package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — Graft.session
  * asserts its load-bearing configs even on getOrCreate reuse). */
object TestSession {
  lazy val spark: SparkSession = Graft.session("graft-test")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val Sf0001 = "/root/testdata/sf0.001"

  /** Run `body` with SQL conf overrides, restoring prior values after —
    * the session is JVM-shared across suites, so overrides must never
    * leak. */
  def withSQLConf[A](pairs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** Runs `body` in job group `group`, then a one-task marker job in
    * `<group>-marker`. Job events reach the status tracker and the
    * listeners asynchronously but in order, so once the marker is seen,
    * every job and task of `body` has been too. */
  private def thenMarker(group: String)(body: => Any): Unit = {
    val sc = spark.sparkContext
    def inGroup(g: String)(f: => Any): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    inGroup(group)(body)
    inGroup(s"$group-marker")(sc.parallelize(Seq(1), 1).count())
  }

  private def awaitMarker(seen: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!seen) {
      assert(System.nanoTime() < deadline, "marker job never reported")
      Thread.sleep(5)
    }
  }

  /** Spark jobs `body` starts on this thread. */
  def jobsRun(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    thenMarker(group)(body)
    awaitMarker(sc.statusTracker.getJobIdsForGroup(s"$group-marker").nonEmpty)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** Runs `body`; returns its value and the RDDs it left in block storage
    * (memos, checkpoints, caches not released by the time it returns). */
  def storageAddedBy[A](body: => A): (A, Seq[org.apache.spark.storage.RDDInfo]) = {
    val sc = spark.sparkContext
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    val v = body
    (v, sc.getRDDStorageInfo.filterNot(i => before(i.id)).toSeq)
  }

  /** Shuffle bytes written by the tasks of the Spark jobs `body` starts on
    * this thread — the measured cost, with no plan string parsed. */
  def shuffleBytesOf(body: => Any): Long = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val group = s"shuffle-${java.util.UUID.randomUUID()}"
    val listener = new SparkListener {
      val stages = scala.collection.mutable.Set.empty[Int]
      val bytesByStage = scala.collection.mutable.Map.empty[Int, Long]
      @volatile var markerSeen = false
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => stages ++= e.stageIds
          case Some(g) if g == s"$group-marker" => markerSeen = true
          case _ =>
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (e.taskMetrics != null) bytesByStage(e.stageId) =
          bytesByStage.getOrElse(e.stageId, 0L) +
            e.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
      def total: Long =
        synchronized(stages.toSeq.map(bytesByStage.getOrElse(_, 0L)).sum)
    }
    sc.addSparkListener(listener)
    try {
      thenMarker(group)(body)
      awaitMarker(listener.markerSeen)
      listener.total
    } finally sc.removeSparkListener(listener)
  }
}
