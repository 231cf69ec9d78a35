package graft

/** Binding of each persisted oracle artifact to the sf-dir it was dumped
  * for (VERDICT r17 "What's wrong" #2): the STABLE-PATH dumps that back
  * DuckDB replay oracles used to write sf-INDEPENDENT paths, so two
  * concurrent Verify processes at different SFs could race and
  * cross-poison each other's replay bytes. Each dump now embeds an sf
  * token in its path and records it here; the oracle SQL — a `def`,
  * evaluated by Verify AFTER every query ran — interpolates the recorded
  * path, so the SQL a run emits always names the bytes THAT run dumped.
  *
  * The registry is process-global (not session-keyed) because the dump
  * memos are already per-(session, sf-dir) and a Verify process serves
  * one sf; the [[path]] fallback (no record → legacy un-tokened path)
  * only triggers when the dumping query didn't run this session, and
  * Verify's `only` filter drops the matching oracle row too, so the
  * fallback is never actually compared.
  */
object OracleArtifacts {
  // reg = the binding [[path]] serves (last writer wins); all = every
  // path ever recorded per name. A test JVM legitimately dumps one
  // artifact for several sf-dirs (each to its own tokened path — no
  // bytes collide, and tests never execute the replay SQL), so [[path]]
  // stays permissive; the GATE invariant — one SF per Verify process —
  // is asserted mechanically by [[assertSingleSf]] right before Verify
  // emits oracle_sql.json, the only point the binding is load-bearing
  // (r18 ADVICE).
  private val reg =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val all =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.Set[String]]()

  /** The tokened dump path for artifact `name` trained on sf-dir `d`
    * ([[Paths.lakeTag]]: two lakes never share one); records it for
    * [[path]] and returns it. */
  def record(name: String, d: String): String = {
    val p = Paths.sink(s"${name}_${Paths.lakeTag(d)}")
    all.computeIfAbsent(name,
      _ => java.util.concurrent.ConcurrentHashMap.newKeySet[String]())
      .add(p)
    reg.put(name, p)
    p
  }

  /** The path this session's dump wrote for `name`, or the legacy
    * un-tokened path when nothing was recorded. */
  def path(name: String): String =
    reg.getOrDefault(name, Paths.sink(name))

  /** Gate invariant, called by Verify immediately before it emits
    * oracle_sql.json: every artifact recorded in this process must be
    * bound to exactly ONE sf-dir — otherwise the interpolated replay SQL
    * could name another SF's bytes (the cross-SF poisoning this module
    * exists to prevent), and failing loudly here beats a hash mismatch
    * diagnosed from the DuckDB side. */
  def assertSingleSf(): Unit = {
    val bad = new StringBuilder
    all.forEach { (n, s) =>
      if (s.size > 1) bad.append(s"$n -> $s; ")
    }
    require(bad.isEmpty,
      s"oracle artifacts dumped for multiple sf-dirs in one Verify " +
        s"process: $bad")
  }
}
