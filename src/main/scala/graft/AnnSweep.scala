package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN recall sweep — the measurement behind PqSpec's recall floors
  * (VERDICT r14 #3: "sweep nprobe at sf0.1, pick the knee, pin
  * measured-minus-margin floors"). For each nprobe it reports recall@20
  * against the exact L2 top-20, (a) for the declared query vector 0 (the
  * PqSpec fixture) and (b) averaged over the first `NQ` vectors as
  * queries — one query's recall@20 moves in 0.05 steps, so floors pinned
  * on it alone need the average as context.
  *
  *   sbt "runMain graft.AnnSweep /root/testdata/sf0.01"
  *
  * Probes the SAME memoized persisted stores the declared queries serve
  * from (raw + residual), so the sweep measures the production path, not
  * a rebuild.
  */
object AnnSweep {
  private val NQ = 16

  // the exact-L2 metric IS LlmOps.l2sq — the sweep's recall numbers
  // calibrate PqSpec/ApproxSpec floors, so a private copy that drifted
  // from the engine's metric would mis-pin them
  private def l2sq(a: org.apache.spark.sql.Column,
                   b: org.apache.spark.sql.Column) =
    graft.llm.LlmOps.l2sq(a, b)

  /** Exact L2 top-20 ids for query `q` over corpus (all vecs except 0,
    * minus the query itself is NOT excluded — members retrieve
    * themselves, same contract as the probe). */
  private def exactTop20(e: DataFrame, q: Long): Set[Long] = {
    val qe = e.filter(col("vec_id") === q)
      .select(col("embedding").as("q_emb"))
    e.filter(col("vec_id") =!= 0).crossJoin(broadcast(qe))
      .select(col("vec_id"), l2sq(col("embedding"), col("q_emb")).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(20)
      .collect().map(_.getLong(0)).toSet
  }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    // optional grids (r20, VERDICT r19 item 3): at a 10× corpus the
    // binding dial is the ADC shortlist (BENCH_NOTES r17 finding 2) —
    // the default {100,200,400} grid under-provisions it, so the sf1
    // run passes a corpus-scaled grid instead of hardcoding a new one.
    //   args(1): comma shortlist grid   (default 100,200,400)
    //   args(2): comma nprobe grid, halfCells always appended
    //            (default 4,6,8,12)
    //   args(3): "nocells" skips the nCells-scaling section (it rebuilds
    //            3 stores — expensive at big SFs, and the dial it
    //            measures is already pinned by the committed r15/r18
    //            tables)
    val shortGrid = args.lift(1)
      .map(_.split(',').map(_.trim.toInt).toSeq)
      .getOrElse(Seq(100, 200, 400))
    val nprobeGrid = args.lift(2)
      .map(_.split(',').map(_.trim.toInt).toSeq)
      .getOrElse(Seq(4, 6, 8, 12))
    val skipCells = args.lift(3).contains("nocells")
    val s: SparkSession = Graft.session("graft-ann-sweep")
    val e = RoundCheckpointer.checkpoint(Tables.embeddings(s, d))
    val exact = (0L until NQ.toLong).map(q => q -> exactTop20(e, q)).toMap
    val stores = Seq(
      ("raw", graft.llm.LlmOps.memoIvfpqStore(s, d), false),
      ("residual", graft.llm.LlmOps.memoIvfpqStoreResidual(s, d), true))
    println(f"${"store"}%-9s ${"nprobe"}%6s ${"short"}%5s " +
      f"${"recall@20(q0)"}%14s ${"mean recall@20"}%15s ${"ms/probe"}%9s")
    // the grid includes the PRODUCTION serve point (half the store's
    // cells, min 8 — llm3e's r18 recipe) so the sweep always measures
    // what the declared queries actually run, at any scaled cell count
    val halfCells = stores.map { case (label, store, _) =>
      label -> math.max(8,
        (s.read.parquet(s"$store/centroids").count() / 2).toInt)
    }.toMap
    for ((label, store, residual) <- stores;
         nprobe <- (nprobeGrid :+ halfCells(label)).distinct.sorted;
         shortlist <- shortGrid) {
      val t0 = System.nanoTime()
      val recalls = (0L until NQ.toLong).map { q =>
        val got = graft.llm.LlmOps.ivfpqProbe(
            e.filter(col("vec_id") === q), e.filter(col("vec_id") =!= 0),
            store, nprobe = nprobe, residual = residual,
            shortlistN = shortlist)
          .collect().map(_.getLong(0)).toSet
        got.intersect(exact(q)).size / 20.0
      }
      val ms = (System.nanoTime() - t0) / 1e6 / NQ
      println(f"$label%-9s $nprobe%6d $shortlist%5d ${recalls.head}%14.2f " +
        f"${recalls.sum / NQ}%15.3f $ms%9.0f")
    }
    // ---- nCells scaling sweep: the 100 TB dial -------------------------
    // The serve tables above hold nCells=16 while the corpus grows with
    // SF — recall at a fixed (nprobe, shortlist) then decays because each
    // cell fattens. The production design grows nCells with the corpus
    // (FAISS convention ~√n) and keeps nprobe as the serve dial; this
    // section measures exactly that: same corpus, k ∈ {16,32,64}, probed
    // at fixed nprobe=8 AND at nprobe=k/2 (fixed 50% probed fraction).
    if (skipCells) { s.stop(); return }
    println(f"%n${"nCells"}%6s ${"nprobe"}%6s ${"short"}%5s " +
      f"${"recall@20(q0)"}%14s ${"mean recall@20"}%15s ${"ms/probe"}%9s")
    for (k <- Seq(16, 32, 64)) {
      val st = Paths.scratch(s, s"annsweep-k$k")
      // the PQ codebook is cell-count-independent: reuse the memoized
      // training artifact instead of re-running k-means per k
      graft.llm.LlmOps.ivfpqBuild(train = e,
        index = e.filter(col("vec_id") =!= 0), st,
        // checkpoint: ivfpqBuild consumes cents twice (store write + the
        // assignment crossJoin) — uncheckpointed, the k-means would run
        // twice per k
        cents0 = Some(RoundCheckpointer.checkpoint(
          graft.llm.LlmOps.ivfCentroids(e, k = k))),
        codebook0 = Some(graft.llm.LlmOps.memoCodebook(s, d, 8)))
      for (nprobe <- Seq(8, k / 2).distinct; shortlist <- Seq(200)) {
        val t0 = System.nanoTime()
        val recalls = (0L until NQ.toLong).map { q =>
          val got = graft.llm.LlmOps.ivfpqProbe(
              e.filter(col("vec_id") === q), e.filter(col("vec_id") =!= 0),
              st, nprobe = nprobe, shortlistN = shortlist)
            .collect().map(_.getLong(0)).toSet
          got.intersect(exact(q)).size / 20.0
        }
        val ms = (System.nanoTime() - t0) / 1e6 / NQ
        println(f"$k%6d $nprobe%6d $shortlist%5d ${recalls.head}%14.2f " +
          f"${recalls.sum / NQ}%15.3f $ms%9.0f")
      }
    }
    s.stop()
  }
}
