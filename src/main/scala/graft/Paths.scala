package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.SparkSession

/** Where graft keeps its own files: the committed fixtures it reads, the
  * named sinks and stores its queries write, and per-session scratch dirs.
  *
  * Everything resolves under [[Root]], the checkout, taken once from the
  * JVM's working directory: sbt's forked test and `runMain` JVMs and
  * `perfbench/run.py` all start in their own checkout, so two checkouts
  * never read or write each other's files. Nothing is checked at class
  * init: a JVM that never reads a fixture must not fail for lack of one.
  *
  * Named sinks keep fixed names (DuckDB oracles replay them). Scratch dirs
  * are fresh per call and owned by one session: [[StageMemo.evict]], which
  * the application-end hook runs, deletes them with the session's memos.
  * [[sweep]] removes what a crashed JVM left.
  */
object Paths {

  val Root: String =
    java.nio.file.Paths.get("").toAbsolutePath.normalize.toString

  /** A committed fixture file or dir, `rel` to `fixtures/`. */
  def fixture(rel: String): String = s"$Root/fixtures/$rel"

  /** A named sink or store under `target/tmp-sinks`. */
  def sink(name: String): String = s"$Root/target/tmp-sinks/$name"

  private val ScratchRoot = sink("scratch")

  /** Filesystem- and table-name-safe tag for a lake dir: its readable
    * basename plus a short md5 of the whole slash-stripped path
    * ("/lakes/sf0.01" → "sf0_01_xxxxxxxx"). The hash keeps two
    * lakes with one leaf name (/a/sf0.01, /b/sf0.01) from writing the same
    * store, and stripping the slash keeps one lake from forking into two. */
  def lakeTag(d: String): String = {
    val dir = d.stripSuffix("/")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(UTF_8)).take(4).map(b => f"${b & 0xff}%02x").mkString
    dir.split('/').last.replaceAll("[^A-Za-z0-9]", "_").toLowerCase + "_" + md5
  }

  /** A fresh dir path `scratch/<prefix>_<uuid>`, deleted when session `s`
    * ends (or is evicted). The caller writes it; nothing is created here. */
  def scratch(s: SparkSession, prefix: String): String = {
    val dir = s"$ScratchRoot/${prefix}_${java.util.UUID.randomUUID}"
    StageMemo.own(s, dir)
    dir
  }

  /** Scratch entries older than any plausible live run: only a crashed or
    * killed JVM leaves one behind, and a younger one may belong to a
    * concurrent JVM's live session. */
  private val SweepGraceMs = 2L * 3600 * 1000

  def sweep(): Unit = {
    val root = java.nio.file.Paths.get(ScratchRoot)
    if (Files.isDirectory(root)) {
      val cutoff = System.currentTimeMillis() - SweepGraceMs
      val it = Files.list(root)
      try it.forEach { p =>
        if (Files.getLastModifiedTime(p).toMillis < cutoff) delete(p.toString)
      } finally it.close()
    }
  }

  /** Delete `dir` and everything under it, if it exists. */
  private[graft] def delete(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })
      finally walk.close()
    }
  }
}
