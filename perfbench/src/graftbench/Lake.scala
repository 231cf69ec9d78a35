package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** Deterministic generator for the three tables the `queries` workload
  * reads, in the column names and types of the driver's `sfX` lakes
  * (TESTDATA.md), built from a fixed seed so the inputs, and therefore
  * every query's expected digest, never change.
  *
  * The shapes are measured on the sf0.01 lake and copied:
  *  - documents of 8-100 tokens from a 31-word vocabulary, with sf0.01's
  *    rate of pairs at 3-gram Jaccard >= 0.8 (0.05 per document);
  *  - 64-dim random unit embeddings;
  *  - lineitems over uniform parts, with sf0.01's lines-per-order
  *    histogram ([[LinesPerOrder]]), at half of sf0.01's parts and about
  *    half its orders. At half the parts the co-purchase graph is twice
  *    as dense, so more order pairs collide on one edge; 3% more orders
  *    than half make up for that, and the graph gets sf0.01's degree
  *    spread: mean ~116, so `graph4_kcore`'s k = 80 peels a few percent
  *    of the parts over several rounds, as it does there.
  */
object Lake {

  final case class Sizes(parts: Int, orders: Int, documents: Int,
                         vectors: Int)

  /** The lineitem columns the queries read. */
  final case class Lineitem(l_orderkey: Long, l_partkey: Long,
                            l_linenumber: Int)
  final case class Document(doc_id: Long, text: String, lang: String,
                            source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float],
                             label: Int)

  val Vocab: IndexedSeq[String] = ("batch part spark line column order " +
    "small sort fast value scan a hash slow group agg filter query big " +
    "key window row table stream merge data vector join customer the index")
    .split(" ").toIndexedSeq

  /** Orders with 1, 2, ..., 13 lines in the sf0.01 lake. */
  val LinesPerOrder: IndexedSeq[Int] = IndexedSeq(1120, 2129, 2955, 3024,
    2295, 1550, 936, 434, 203, 55, 25, 11, 6)

  private val Langs = IndexedSeq("en", "en", "en", "es", "fr", "zh", "de")

  /** Documents: about 6% re-use an earlier doc's tokens with one
    * substitution per ~30 tokens (a near-duplicate at 3-gram Jaccard
    * >= 0.8 for docs past ~30 tokens); about 1% are exact copies. */
  def documents(n: Int, seed: Long): Seq[Document] = {
    val r = new SplittableRandom(seed)
    val texts = new Array[Array[String]](n)
    (0 until n).map { i =>
      val roll = r.nextInt(100)
      val toks =
        if (i >= 10 && roll < 6) {
          val t = texts(r.nextInt(i)).clone()
          (0 until math.max(1, t.length / 30)).foreach(_ =>
            t(r.nextInt(t.length)) = Vocab(r.nextInt(Vocab.size)))
          t
        } else if (i >= 10 && roll < 7) texts(r.nextInt(i)).clone()
        else Array.fill(8 + r.nextInt(93))(Vocab(r.nextInt(Vocab.size)))
      texts(i) = toks
      val text = toks.mkString(" ")
      Document(i.toLong, text, Langs(r.nextInt(Langs.size)), s"src${i % 20}",
        text.length.toLong)
    }
  }

  /** Random 64-dim unit vectors (the driver lake's embeddings carry no
    * cluster structure either). */
  def embeddings(n: Int, seed: Long): Seq[Embedding] = {
    val r = new SplittableRandom(seed)
    val rnd = new java.util.Random(seed)
    (0 until n).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Embedding(i.toLong, v.map(x => (x / norm).toFloat), r.nextInt(10))
    }
  }

  def lineitems(sz: Sizes, seed: Long): Seq[Lineitem] = {
    val r = new SplittableRandom(seed)
    val total = LinesPerOrder.sum
    def lines(): Int = {
      var x = r.nextInt(total); var n = 0
      while (x >= LinesPerOrder(n)) { x -= LinesPerOrder(n); n += 1 }
      n + 1
    }
    (0 until sz.orders).flatMap { o =>
      (1 to lines()).map(ln =>
        Lineitem(o.toLong, r.nextInt(sz.parts).toLong, ln))
    }
  }

  /** Writes documents, embeddings and lineitem as `<dir>/<table>.parquet`. */
  def write(spark: SparkSession, dir: String, sz: Sizes,
            seed: Long = 42L): Unit = {
    import spark.implicits._
    documents(sz.documents, seed + 1).toDF().repartition(2)
      .write.parquet(s"$dir/documents.parquet")
    embeddings(sz.vectors, seed + 2).toDF().repartition(1)
      .write.parquet(s"$dir/embeddings.parquet")
    lineitems(sz, seed + 3).toDF().repartition(4)
      .write.parquet(s"$dir/lineitem.parquet")
  }
}
