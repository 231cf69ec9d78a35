package graft
import java.nio.file.{Files, Path}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (tools/compare.py). Each
  * query runs through [[SparkEntry.run]], so its `[verify]` line carries
  * the seconds of a run that actually wrote its output.
  *
  * Uses Graft.session — the single session factory — so the nanosAsLong /
  * UTC / AQE configs apply identically here, in the other entry points,
  * and in tests (ADVICE.md r01, VERDICT r02 item 2).
  */
object Verify {

  /** Strict JSON object encoding of a string map. Escapes backslash, quote,
    * and ALL control chars (<0x20) — a tab or CR in builder-authored SQL
    * would otherwise make the driver's json.load fail and silently zero the
    * round's correctness (VerifyJsonSpec pins this). */
  def toJsonObject(m: Map[String, String]): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg (local dev only; the driver passes two): comma-list
    // of query names — dump and compare just those
    val only: Option[Set[String]] =
      args.lift(2).map(_.split(',').toSet)
    val spark = Graft.session("graft-verify")
    Paths.sweep() // leftover scratch dirs from crashed JVMs
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val failed = selected.count { name =>
      SparkEntry.run(spark, name, sfDir)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      ) match {
        case Right((sec, _)) =>
          System.err.println(f"[verify] $name%-28s $sec%8.3f s")
          false
        case Left(err) =>
          System.err.println(s"[verify] failed: $err")
          true
      }
    }
    // one-SF-per-Verify invariant: fail loudly before emitting replay SQL
    // that could name another SF's artifact bytes
    OracleArtifacts.assertSingleSf()
    Files.writeString(Path.of(s"$outDir/oracle_sql.json"),
      toJsonObject(SparkEntry.oracleSql.view
        .filterKeys(k => only.forall(_.contains(k))).toMap))
    // count over the FILTERED set — a 3-query dev run used to print the
    // full registry size as its denominator
    System.err.println(s"[verify] done: ${selected.size - failed}/" +
      s"${selected.size} queries wrote output")
    spark.stop()
  }
}
