package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Scratch-store hygiene for queries that must write a FRESH on-disk store
  * per invocation (join14's DPP-partitioned fact table; llm28d/e's
  * IVF-PQ stores used scratch dirs until their r17 audit oracles pinned
  * them to fixed SinkDir paths): a UUID-tagged dir avoids stale-parquet reuse
  * and check-then-write races under concurrent suites, but with no cleanup
  * the dirs accumulate across rounds (ADVICE r9: 103 leftover dirs,
  * unbounded disk growth under median-of-3 bench).
  *
  * [[scratch]] pairs the UUID dir with a JVM shutdown hook that deletes it,
  * so every normally-exiting Verify/ScaleProbe/test JVM leaves zero
  * scratch dirs behind. [[sweep]] (called at Verify/ScaleProbe startup,
  * before any query can hold a live reader on a scratch path) removes
  * whatever a crashed or killed JVM still left.
  */
object TmpStores {

  val Root = "/root/repo/target/tmp-sinks"

  /** Scratch dirs only, recognized by the `_scr<8hex>` marker [[scratch]]
    * stamps — named sinks (sink1_csv …, mig6b_homol_store) AND the
    * dirTag-suffixed memoized stores (ivm1_store_<8hex> …) are
    * session-stable by design and never swept. The old pattern was any
    * trailing 8-hex suffix, which ALSO matched the dirTag stores: a
    * concurrently-starting Verify/ScaleProbe JVM would sweep a running JVM's
    * live ivm stores mid-query ("version 1 not committed" in the r11
    * sf0.1 bench). The marker makes scratch-ness explicit in the name. */
  private val ScratchName = "^[A-Za-z0-9_]+_scr[0-9a-f]{8}$".r.pattern

  private val created = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Fresh scratch-dir path `Root/<prefix>_<8-hex-uuid>`, deleted on JVM
    * exit. The caller writes it via Spark; nothing is created here. */
  def scratch(prefix: String): String = {
    if (hooked.compareAndSet(false, true))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        created.forEach(p => deleteRecursively(Paths.get(p)))
      }, "tmpstores-cleanup"))
    val dir =
      s"$Root/${prefix}_scr${java.util.UUID.randomUUID.toString.take(8)}"
    created.add(dir)
    dir
  }

  /** Delete leftover scratch dirs (`_scr<8hex>`-marked only) from DEAD
    * JVMs. A name pattern alone cannot distinguish a crashed JVM's
    * leftovers from a concurrently-RUNNING JVM's live dirs (the r11 suite
    * lost its llm28d index to a concurrent Verify's sweep), so the sweep
    * is additionally AGE-GATED, the VersionedStore.vacuum orphan-grace
    * discipline: a dir is only swept once it is older than any plausible
    * live run (2 h). Young crashed leftovers survive one extra round —
    * bounded disk, never a torn live read. */
  private val SweepGraceMs = 2L * 3600 * 1000

  def sweep(graceMs: Long = SweepGraceMs): Unit = {
    val root = Paths.get(Root)
    if (Files.isDirectory(root)) {
      val cutoff = System.currentTimeMillis() - graceMs
      val it = Files.list(root)
      try it.forEach { p =>
        if (ScratchName.matcher(p.getFileName.toString).matches
            && !created.contains(p.toString)
            && Files.getLastModifiedTime(p).toMillis < cutoff)
          deleteRecursively(p)
      } finally it.close()
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally walk.close()
    }
}
