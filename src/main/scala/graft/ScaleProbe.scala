package graft

import java.nio.file.{Files, Path}

import graft.plans.PlanMetrics

/** sf0.1 → sf1 decade-growth probe for the heavy query families (VERDICT
  * r18 item 4). local[32] at sf0.1 proves plans are right-shaped; this
  * measures whether each heavy operator's cost actually GROWS like its
  * SURVEY-claimed complexity over a real decade of data — wall time and
  * OBS-2 shuffle bytes (PlanMetrics), the unit Spark prices.
  *
  * Method: per query per SF, three [[SparkEntry.run]]s (per-run
  * block drop), each one [[PlanMetrics.measureShuffleBytes]] call that
  * executes the query's own plan — final sorts and projections included,
  * unlike `count()` — and reads its shuffleBytesWritten. The first
  * failing query stops the probe. Reported: the median run's wall time
  * and shuffle bytes. Shuffle bytes are the scale-stable signal — they
  * don't move with JIT/GC/host noise, so the growth column is trustworthy
  * even when wall time wobbles.
  *
  * Usage: `runMain graft.ScaleProbe <loDir> <hiDir> <outJson> [names]`.
  * The hi lake comes from [[ScaleLake]] (K shifted replicas of the lo
  * lake — distributions/skew/dup-rates preserved per replica). The
  * emitted sf_ratio is MEASURED (hi/lo lineitem row counts), not assumed,
  * so an artifact over a 5-replica lake can't masquerade as a decade.
  */
object ScaleProbe {

  /** The 15 slowest families named by the r18 verdict (llm3e counted with
    * its serve-path audit twin). */
  val Heavy: Seq[String] = Seq(
    "llm2d_simhash_neardup", "llm2e_containment", "llm2b_ngram_jaccard",
    "graph4_kcore", "graph5_label_communities",
    "llm3e_ann_ivf", "llm3eb_ann_ivf_audit",
    "llm28c_ivfpq", "llm28f_ivfpq_batch",
    "strm15_idempotent_ingest", "llm22b_bpe_train", "llm22c_bpe_encode",
    "ivm5_incremental_join_agg", "er2_entity_clusters", "llm32b_span_dup_hashed",
    "sql6_large_volume",
    // r20 (VERDICT r19 item 2): the dedup/semantic serves whose linearity
    // was argued but unmeasured — semantic dedup's cell-bucketed pair scan
    // and the sign-LSH banded embedding near-dup
    "llm44_semdedup", "llm21b_embed_neardup_lsh")

  def main(args: Array[String]): Unit = {
    val (sf01, sf1, outJson) = (args(0), args(1), args(2))
    val names = args.lift(3)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Heavy)
    val spark = Graft.session("graft-scaleprobe")
    Paths.sweep()
    val ratio = spark.read.parquet(s"$sf1/lineitem.parquet").count().toDouble /
      spark.read.parquet(s"$sf01/lineitem.parquet").count()

    def run(name: String, dir: String): (Double, Long) =
      Seq.fill(3)(SparkEntry.run(spark, name, dir)(
        PlanMetrics.measureShuffleBytes
      ).fold(err => sys.error(s"[probe] $err"), identity))
        .sortBy(_._1).apply(1)

    val rows = names.map { n =>
      val (s01, b01) = run(n, sf01)
      val (s1, b1) = run(n, sf1)
      val tg = if (s01 > 0) s1 / s01 else -1.0
      val bg = if (b01 > 0) b1.toDouble / b01 else -1.0
      System.err.println(f"[probe] $n%-28s $s01%7.2f s -> $s1%7.2f s " +
        f"(x$tg%5.2f)  ${b01 / 1e6}%9.2f MB -> ${b1 / 1e6}%9.2f MB (x$bg%5.2f)")
      f"""  "$n": {"sf01_sec": $s01%.3f, "sf1_sec": $s1%.3f, """ +
        f""""time_growth": $tg%.2f, "sf01_shuffle_mb": ${b01 / 1e6}%.3f, """ +
        f""""sf1_shuffle_mb": ${b1 / 1e6}%.3f, "shuffle_growth": $bg%.2f}"""
    }
    val head = "{\n" +
      f""""lo_dir": "$sf01", "hi_dir": "$sf1", "sf_ratio": $ratio%.2f,""" +
      "\n\"queries\": {\n"
    Files.writeString(Path.of(outJson),
      rows.mkString(head, ",\n", "\n}}\n"))
    System.err.println(s"[probe] wrote $outJson")
    spark.stop()
  }
}
