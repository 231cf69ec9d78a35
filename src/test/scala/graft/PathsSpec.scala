package graft

import java.io.File

/** [[Paths]] is the one owner of graft's files: no source spells the
  * checkout's location, one lake tag names every per-lake store, and a
  * session's scratch dirs go with the session. */
class PathsSpec extends SparkSpec {

  test("no file under src/main or src/test names the checkout's absolute " +
      "path") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    val hits = Seq("src/main", "src/test").flatMap { dir =>
      val root = java.nio.file.Paths.get(dir)
      assert(Files.isDirectory(root), root.toAbsolutePath)
      val walk = Files.walk(root)
      try walk.iterator.asScala.filter(Files.isRegularFile(_)).flatMap {
        (f: Path) =>
          new String(Files.readAllBytes(f), "ISO-8859-1").linesIterator
            .zipWithIndex.collect {
              case (l, i) if l.contains(Paths.Root) => s"$f:${i + 1}: ${l.trim}"
            }
      }.toList
      finally walk.close()
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("evict deletes a session's scratch dirs; another session's survive") {
    val (a, b) = (spark.newSession(), spark.newSession())
    val (da, db) = (Paths.scratch(a, "paths-spec"), Paths.scratch(b, "paths-spec"))
    try {
      Seq(da, db).foreach(d => assert(new File(s"$d/sub").mkdirs(), d))
      StageMemo.evict(a)
      assert(!new File(da).exists(), s"$da outlived its session")
      assert(new File(db).isDirectory, s"$db belongs to a live session")
    } finally StageMemo.evict(b)
    assert(!new File(db).exists(), s"$db outlived its session")
  }

  test("an ivm store and an oracle artifact carry one lake tag, with or " +
      "without a trailing slash") {
    val s = spark.newSession()
    val name = s"paths_spec_${System.nanoTime()}" // the registry is global
    try {
      val stores = Seq(Sf0001, Sf0001 + "/").map { d =>
        SparkEntry.queries("ivm1_incremental_agg")(s, d).collect()
        StageMemo.value[String](s, s"ivm1.store.$d")(
          fail(s"ivm1 built no store for $d"))
      }
      assert(stores.distinct.length === 1, stores.mkString(", "))
      val art = OracleArtifacts.record(name, Sf0001 + "/")
      assert(art === OracleArtifacts.record(name, Sf0001))
      val tag = Paths.lakeTag(Sf0001)
      assert(stores.head === Paths.sink(s"ivm1_store_$tag"))
      assert(art === Paths.sink(s"${name}_$tag"))
    } finally StageMemo.evict(s)
  }

  test("sweep deletes an aged scratch entry and keeps a young one") {
    val (s, t) = (spark.newSession(), System.nanoTime())
    val (aged, young) =
      (new File(Paths.scratch(s, s"aged-$t")), new File(Paths.scratch(s, s"young-$t")))
    try {
      Seq(aged, young).foreach(d => assert(d.mkdirs(), d))
      assert(aged.setLastModified(System.currentTimeMillis() - 3L * 3600 * 1000))
      Paths.sweep()
      assert(!aged.exists(), s"$aged is older than the grace period")
      assert(young.isDirectory, s"$young may belong to a live JVM")
    } finally StageMemo.evict(s)
  }
}
