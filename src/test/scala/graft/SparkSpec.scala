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

  /** Spark jobs `body` starts on this thread. Job starts reach the status
    * tracker asynchronously and in order, so a marker job runs after
    * `body`: once the marker is visible, every job of `body` is too. */
  def jobsRun(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    def inGroup(g: String)(f: => Any): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    inGroup(group)(body)
    inGroup(s"$group-marker")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(s"$group-marker").isEmpty) {
      assert(System.nanoTime() < deadline, "marker job never reported")
      Thread.sleep(5)
    }
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
