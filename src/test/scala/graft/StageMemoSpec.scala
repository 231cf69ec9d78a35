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
}
