package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** A benchmark workload: inputs made in set-up, then runs of ops.
  *
  * `run` executes every op once through the harness and returns the
  * untimed verification of that run's outputs, which yields
  * (op, problem) pairs — empty when every output is correct. */
trait Workload {
  def name: String
  /** Input rows one run reads (the numerator of `rows_per_s`). */
  def inputRows: Long
  /** Creates the inputs under `dir`; `spark` is a fresh session. */
  def prepare(spark: SparkSession, dir: File): Unit
  def run(h: Harness): () => Seq[(String, String)]
  /** Names of the workload's own per-layer metrics. */
  def layerNames: Seq[String]
  /** Per-layer values from a finished (traced) run. */
  def layerMetrics(h: Harness): Map[String, Double]
}

object Workload {
  /** Every path under `f`, `f` first; empty when `f` does not exist. */
  def tree(f: File): Seq[java.nio.file.Path] =
    if (!f.exists()) Nil
    else {
      val walk = Files.walk(f.toPath)
      try walk.iterator().asScala.toList finally walk.close()
    }

  def sizeOf(f: File): Long =
    tree(f).filter(Files.isRegularFile(_)).map(Files.size).sum

  def fileCount(f: File): Long =
    tree(f).count(Files.isRegularFile(_)).toLong

  def deleteTree(f: File): Unit =
    tree(f).reverse.foreach(p => Files.deleteIfExists(p))
}

/** Row count plus an ordered hash of a result's rows. Doubles are
  * rendered at 12 significant digits so a last-bit difference in a
  * floating sum does not read as a wrong answer. */
object Digest {
  private def render(v: Any): String = v match {
    case null => "\\N"
    case d: Double => new java.math.BigDecimal(d)
      .round(new java.math.MathContext(12)).stripTrailingZeros.toPlainString
    case f: Float => render(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}=${render(x)}" }.sorted
        .mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  def of(df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var n = 0L
    df.collect().foreach { r =>
      md.update(render(r).getBytes(StandardCharsets.UTF_8))
      md.update('\n'.toByte)
      n += 1
    }
    s"$n:${md.digest().take(8).map("%02x".format(_)).mkString}"
  }
}

/** The `queries` workload: corpus dedup/similarity queries (layer `llm`)
  * and graph queries (layer `operators`) from `SparkEntry.queries` over
  * one generated lake. The lake is fixed; `seed` permutes the order the
  * queries run in. Each op is the query function call (`build`, where
  * eager jobs and memo builds run) plus its `noop` materialization
  * (`exec`). Each op's result digest and StageMemo build count must equal
  * its line in `expected.tsv`: the same count in every run proves that no
  * memo carried over from an earlier run. */
final class QueryWorkload(home: File, seed: Long) extends Workload {
  import QueryWorkload._
  val name = "queries"

  private val expected = QueryWorkload.expected(home)
  private var lake: String = _
  private var rows = 0L
  /** Documents plus lineitems: what the timed queries read. */
  def inputRows: Long = rows

  def prepare(spark: SparkSession, dir: File): Unit = {
    Lake.write(spark, dir.getPath, Sizes)
    lake = dir.getPath
    rows = Sizes.documents.toLong +
      spark.read.parquet(s"$lake/lineitem.parquet").count()
  }

  def lakeDir: String = lake

  def run(h: Harness): () => Seq[(String, String)] = {
    val fns = graft.SparkEntry.queries
    val order = new scala.util.Random(seed).shuffle(Queries)
    val out = order.flatMap { case (q, _) =>
      h.op(q) {
        val df = h.phase("build")(fns(q)(h.spark, lake))
        h.phase("exec")(df.write.format("noop").mode("overwrite").save())
        q -> df
      }
    }
    () => {
      val builds = h.records.map(r => r.name -> r.memoBuilds).toMap
      out.flatMap { case (q, df) =>
        val got = Expected(Digest.of(df), builds(q))
        expected.get(q) match {
          case Some(want) if want == got => None
          case want => Some(q -> s"got $got, expected ${want.getOrElse("none")}")
        }
      }
    }
  }

  def layerNames: Seq[String] = QueryWorkload.layerNames

  /** After [[prepare]] into `out/lake`: writes every query's result as
    * parquet under `out/<query>`, its digest and memo builds (in a fresh
    * session, in the order of [[Queries]]) as `out/expected.tsv`, and
    * `out/oracle_sql.json`, the layout `tools/compare.py <out>/lake <out>`
    * replays in DuckDB. */
  def dump(spark: SparkSession, out: File): Unit = {
    val fns = graft.SparkEntry.queries
    val lines = Queries.map { case (q, _) =>
      val memo0 = graft.StageMemo.buildSeconds(spark).map(_._1).toSet
      val df = fns(q)(spark, lake)
      df.write.parquet(new File(out, q).getPath)
      val builds = graft.StageMemo.buildSeconds(spark).count(b => !memo0(b._1))
      s"$q\t${Digest.of(df)}\t$builds"
    }
    Files.write(new File(out, "expected.tsv").toPath,
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    // the oracle replay declares views over all ten tables
    (graft.Tables.all.toSet -- Seq("documents", "embeddings", "lineitem"))
      .foreach(t => spark.range(0).toDF("unused").coalesce(1).write
        .parquet(new File(out, s"lake/$t.parquet").getPath))
    val oracle = graft.SparkEntry.oracleSql
      .filter(kv => Queries.exists(_._1 == kv._1))
    Files.write(new File(out, "oracle_sql.json").toPath,
      oracle.map { case (q, sql) => s"${Json.str(q)}: ${Json.str(sql)}" }
        .mkString("{", ",\n", "}").getBytes(StandardCharsets.UTF_8))
  }

  def layerMetrics(h: Harness): Map[String, Double] = {
    val ops = h.probe.ops.toMap
    val layerOf = Queries.toMap
    h.records.flatMap { r =>
      val c = ops.getOrElse(r.name, new Counters)
      val l = layerOf(r.name)
      Seq(s"$l.${r.name}.build_s" -> r.buildS,
        s"$l.${r.name}.exec_s" -> (r.seconds - r.buildS),
        s"$l.${r.name}.shuffle_mb" -> c.shuffleWrite / 1e6,
        s"$l.${r.name}.jobs" -> c.jobs.toDouble,
        s"plans.${r.name}.exchanges" ->
          c.plan.map(_.exchanges.toDouble).getOrElse(0.0))
    }.toMap.filter { case (k, _) => layerNames.contains(k) }
  }
}

object QueryWorkload {
  /** (query, layer): candidate-pair dedup and a memoized BPE training on
    * the corpus, then graph rounds over the part co-purchase graph. */
  val Queries: Seq[(String, String)] = Seq(
    "llm2_minhash_lsh" -> "llm", "llm22c_bpe_encode" -> "llm",
    "graph4_kcore" -> "operators")

  /** Half of sf0.01's parts, about half its orders (see [[Lake]]); 4x its
    * documents. */
  val Sizes = Lake.Sizes(parts = 1000, orders = 7600, documents = 2000,
    vectors = 1000)

  /** `jobs` (a proxy for rounds) only for the graph operators. */
  val layerNames: Seq[String] = Queries.sortBy(_.swap).flatMap {
    case (q, l) =>
      Seq(s"$l.$q.build_s", s"$l.$q.exec_s", s"$l.$q.shuffle_mb") ++
        (if (l == "operators") Seq(s"$l.$q.jobs") else Nil) :+
        s"plans.$q.exchanges"
  }

  final case class Expected(digest: String, memoBuilds: Int) {
    override def toString = s"digest $digest, $memoBuilds memo builds"
  }

  /** `query<TAB>rows:hash<TAB>memo builds` lines. No two of [[Queries]]
    * share a memo, so each query's count does not depend on the order. */
  def expected(home: File): Map[String, Expected] = {
    val f = new File(home, "expected.tsv")
    if (!f.exists()) Map.empty
    else Files.readAllLines(f.toPath).asScala.map(_.split("\t"))
      .collect { case Array(q, d, b) => q -> Expected(d, b.toInt) }.toMap
  }
}
