package graft

/** StageMemo's session-scoped state is released by [[StageMemo.evict]]
  * (what the application-end hook runs): both the memo entries and the
  * build ledger, so a stopped session stays unreachable. */
class StageMemoSpec extends SparkSpec {

  test("evict drops a session's memo entries and its build ledger") {
    val s = spark.newSession()
    var builds = 0
    def memo() = StageMemo.frame(s, "stagememo-spec") {
      builds += 1
      s.range(3).toDF()
    }
    try {
      memo(); memo()
      assert(builds === 1)
      assert(StageMemo.buildSeconds(s).map(_._1) === Seq("stagememo-spec"))
      StageMemo.evict(s)
      assert(StageMemo.buildSeconds(s).isEmpty)
      assert(memo().count() === 3L)
      assert(builds === 2, "the next frame call after evict must build again")
    } finally StageMemo.evict(s)
  }

  test("a frame's pin does not survive evict: dropUnpinned then frees its " +
      "blocks") {
    val s = spark.newSession()
    val sc = spark.sparkContext
    val (memo, added) = storageAddedBy(
      StageMemo.frame(s, "stagememo-pin-spec")(s.range(3).toDF()))
    try {
      assert(added.length === 1, added.mkString("; "))
      val id = added.head.id
      StageMemo.dropUnpinned(s)
      assert(sc.getPersistentRDDs.contains(id), "a live memo stays pinned")
      StageMemo.evict(s)
      StageMemo.dropUnpinned(s)
      assert(!sc.getPersistentRDDs.contains(id),
        "an evicted session's pin must not exempt its RDD id")
    } finally {
      StageMemo.evict(s)
      RoundCheckpointer.release(memo)
    }
  }
}
