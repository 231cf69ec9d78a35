package graft

/** sink8's point is operational, not relational: the compacted copy must
  * actually contain fewer files than the fragmented one. */
class CompactionSpec extends SparkSpec {

  test("compaction reduces parquet file count 32 -> 2") {
    SparkEntry.queries("sink8_compacted")(spark, Sf0001).count()
    def parquetFiles(dir: String): Int =
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))
    val frag = parquetFiles(Paths.sink("sink8_fragmented"))
    val comp = parquetFiles(Paths.sink("sink8_compacted"))
    assert(frag === 32, s"expected 32 fragment files, got $frag")
    assert(comp === 2, s"expected 2 compacted files, got $comp")
  }

  test("sink14: maxRecordsPerFile bounds every output file") {
    import org.apache.spark.sql.functions._
    SparkEntry.queries("sink14_sized_files")(spark, Sf0001).count()
    val perFile = spark.read
      .parquet(Paths.sink("sink14_sized"))
      .groupBy(input_file_name().as("f")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(perFile.nonEmpty)
    assert(perFile.forall(_._2 <= 2000),
      s"a file exceeds the 2000-record cap: ${perFile.maxBy(_._2)}")
    // sf0.001 orders = 1500 rows over 4 partitions -> under the cap, so
    // exactly the 4 partition files; the cap engages at larger sf (the
    // declared query runs at sf0.01: 15000 rows -> rolling kicks in)
    val n = perFile.map(_._2).sum
    assert(n === 1500L, s"row count drifted: $n")
  }
}
