package graft.multimodal

import graft.{Paths, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns (north-star mandate): image/audio/video travel as
  * opaque `binary` columns with a typed metadata struct; decode / resize /
  * frame-sample / feature-extract run as partition-local batch transforms.
  *
  * The decode step is a clearly-marked DETERMINISTIC STUB (no image/audio
  * codecs ship in this container); everything Spark-side is real and
  * load-bearing at scale:
  *  - payloads stay opaque binary end-to-end (no stringly-typed blobs);
  *  - metadata is a first-class struct column → predicate pushdown and
  *    column pruning work on it (filter on `meta.width` never reads bytes);
  *  - per-row transforms are codegen'd expressions where expressible, and
  *    the UDF surfaces take/return whole payloads so swapping the stub for
  *    a JNI/codec call changes ONE function body, not the pipeline;
  *  - frame sampling is a generator (posexplode) — one row in, n frames
  *    out — the shape a video pipeline needs;
  *  - batches: partition-local processing via the same mapInPandas-shaped
  *    contract (iterator of batches in, iterator of batches out) — here a
  *    `mapPartitions` over rows, because Scala Spark's arrow-batch API is
  *    Python-only; the partitioning story is identical.
  *
  * The synthetic corpus derives payloads deterministically from
  * `documents.text` bytes, so every query stays oracle-checkable.
  */
object MultimodalOps extends QueryModule {

  // r22 (guide §1.2 per-task work): javax.imageio defaults to DISK-backed
  // stream caches (useCache=true), so every encodePng/decodePng call
  // round-tripped a temp FILE per image — pure I/O overhead on KB-sized
  // in-memory payloads. Memory-backed caches produce byte-identical
  // PNG/stream output (the cache is an ImageInputStream buffering detail,
  // not part of the codec); executors inherit this static because the
  // UDFs close over this object. mm10's median dropped 2.35 s → see
  // OPTIMIZATION_r22.md for the full-bench delta.
  javax.imageio.ImageIO.setUseCache(false)

  /** documents → multimodal frame: (doc_id, modality, payload binary,
    * meta struct<mime,width,height,duration_ms>). Deterministic synth:
    * payload = utf8 bytes of text; dimensions derived from doc_id/length. */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
      col("text").cast("binary").as("payload"),
      struct(
        element_at(array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("mime"),
        (pmod(col("doc_id"), lit(64)) * 16 + 256).cast("int").as("width"),
        (pmod(col("doc_id"), lit(48)) * 16 + 144).cast("int").as("height"),
        (length(col("text")) * 10).cast("long").as("duration_ms")).as("meta"))

  /** DETERMINISTIC STUB of the decode step — stands in for a real codec
    * (libjpeg/ffmpeg JNI at deploy time). Emits per-payload "pixel stats"
    * derived only from the bytes, so results are stable and testable. The
    * signature (binary → struct) is the real contract. */
  val decodeStub = udf { payload: Array[Byte] =>
    if (payload == null) (0, 0L, 0.0)
    else {
      var sum = 0L
      var i = 0
      while (i < payload.length) { sum += payload(i) & 0xff; i += 1 }
      (payload.length, sum,
        if (payload.length == 0) 0.0 else sum.toDouble / payload.length)
    }
  }

  /** Deterministic REAL PNG payloads: an 8-bit grayscale image whose
    * pixel (x, y) carries sample (doc_id + x) mod 256, encoded through
    * the JDK's ImageIO PNG writer (javax.imageio ships in every JRE — no
    * codec dependency). Dimensions are kept small (8..23 × 8..19) so the
    * corpus encodes in-line; the point is the CONTRACT: the payload
    * column holds genuine compressed image bytes a real pipeline would
    * store, not a text stand-in. Raster samples are written raw
    * (setSample), so no color-management transform touches the values. */
  def encodePngBytes(id: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        r.setSample(x, y, 0, ((id + x) % 256).toInt); x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  val encodePng = udf { (id: Long, w: Int, h: Int) =>
    encodePngBytes(id, w, h)
  }

  /** REAL PNG decode (the non-stub half of the decode tier): ImageIO
    * parses the IHDR and inflates the IDAT stream — width/height/pixel
    * stats come from actual decoded samples, not from metadata or byte
    * arithmetic. Partition-local binary → struct, the same signature the
    * [[decodeStub]] documents for the codec-less modalities; a deploy
    * extends exactly this body with libjpeg/ffmpeg calls. Garbage → null
    * catches NonFatal, not just IOException: JDK ImageIO readers throw
    * RuntimeExceptions (ArrayIndexOutOfBounds, IllegalArgument) on
    * malformed payloads, and the contract is a null row, never a dead
    * task (the posture every decode branch in this file shares). */
  val decodePng = udf { payload: Array[Byte] =>
    if (payload == null) null
    else try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) null // not a decodable image
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val r = img.getRaster
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { sum += r.getSample(x, y, 0); x += 1 }
          y += 1
        }
        (w, h, sum, sum.toDouble / (w.toLong * h))
      }
    } catch { case scala.util.control.NonFatal(_) => null }
  }

  /** Deterministic REAL WAV payloads (MM-2c): 16-bit PCM mono RIFF/WAVE
    * assembled byte-by-byte from the generator formula — sample i of doc
    * `id` is ((id·31 + i·17) mod 65536) − 32768, little-endian. The
    * container is written by hand (44-byte canonical header) precisely so
    * the DECODER below is a genuine independent parser: our bytes vs the
    * JDK's javax.sound.sampled reader, the encodePng/decodePng dual for
    * the audio modality. */
  def encodeWavBytes(id: Long, n: Int, rate: Int): Array[Byte] = {
    val dataLen = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      .putInt(16).putShort(1).putShort(1) // PCM, mono
      .putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) { bb.putShort(wavSampleAt(id, i)); i += 1 }
    bb.array()
  }

  /** The generator ground truth for one PCM sample (shared by the
    * encoder and the spec; the DuckDB oracle replays the same formula). */
  def wavSampleAt(id: Long, i: Int): Short =
    (((id * 31 + i.toLong * 17) % 65536) - 32768).toShort

  val encodeWav = udf { (id: Long, n: Int, rate: Int) =>
    encodeWavBytes(id, n, rate)
  }

  /** REAL WAV decode via the JDK's javax.sound.sampled: AudioSystem
    * parses the RIFF/fmt chunks (sample rate, channels, bit depth come
    * from the genuine header parse, not from our metadata) and streams
    * the PCM frames; sample stats are integer-exact over the decoded
    * shorts. Partition-local binary → struct, null on garbage — the
    * [[decodePng]] posture for audio. */
  val decodeWav = udf { payload: Array[Byte] =>
    if (payload == null) null
    else
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        val fmt = ais.getFormat
        val bytes = ais.readAllBytes()
        if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) null
        else {
          val n = bytes.length / 2
          var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
          var i = 0
          while (i < n) {
            val v =
              if (fmt.isBigEndian)
                ((bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xff)).toShort.toInt
              else
                ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toInt
            sum += v; if (v < mn) mn = v; if (v > mx) mx = v
            i += 1
          }
          (fmt.getSampleRate.toInt, n.toLong, sum, mn, mx)
        }
      } catch { case scala.util.control.NonFatal(_) => null }
  }

  /** Deterministic REAL animated-GIF payloads (MM-2d): `frames` grayscale
    * frames written through the JDK's ImageIO GIF *sequence* writer —
    * ffmpeg is absent in-container, but GIF IS a genuine multi-frame
    * video container the JDK both writes and parses, so this is the
    * encodeWav/decodeWav dual for the video modality (the last fake
    * decode tier after r17's audio work). Pixel (x, y) of frame f
    * carries (id·5 + f·11 + x) mod 256 — closed-form, y-independent, so
    * the DuckDB oracle replays the ground truth without a codec. Full
    * frames, no disposal/delay metadata: each stored frame stands alone. */
  def encodeGifBytes(id: Long, frames: Int, w: Int, h: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < frames) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val r = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          r.setSample(x, y, 0, ((id * 5 + f * 11 + x) % 256).toInt); x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  val encodeGif = udf { (id: Long, frames: Int, w: Int, h: Int) =>
    encodeGifBytes(id, frames, w, h)
  }

  /** REAL animated-GIF decode: ImageIO's GIF reader parses the container
    * (frame count from the image directory, dims per frame, palette-
    * indexed pixels read back through getRGB so values are the decoded
    * COLORS, not palette indices). Aggregates across frames: a reader
    * that drops frames, mis-sizes, or mangles the palette round-trip
    * hash-mismatches the generator's closed form. Partition-local
    * binary → struct, null on garbage — the [[decodePng]] posture. */
  val decodeGifFrames = udf { payload: Array[Byte] =>
    if (payload == null) null
    else {
      // close the ImageInputStream on EVERY path: with ImageIO's default
      // disk cache it is temp-file-backed, and a per-row leak only
      // reclaimed by finalizers would exhaust tmpdir/fds across a long
      // Verify session
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) null
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, false, true)
            val n = reader.getNumImages(true)
            var sum = 0L
            var w = 0
            var h = 0
            var f = 0
            while (f < n) {
              val img = reader.read(f)
              w = img.getWidth
              h = img.getHeight
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) { sum += (img.getRGB(x, y) & 0xff); x += 1 }
                y += 1
              }
              f += 1
            }
            (n, w, h, sum, sum.toDouble / (n.toLong * w * h))
          } finally reader.dispose()
        }
      } catch { case scala.util.control.NonFatal(_) => null }
      finally iis.close()
    }
  }

  /** REAL cross-modal feature extraction (MM-5c, r18): one dense float
    * vector per media payload computed from GENUINELY decoded samples —
    * the container is sniffed from its magic bytes (PNG / RIFF-WAVE /
    * GIF8) and decoded through the same JDK codec the mm2b/2c/2d tiers
    * pin, then four lanes summarize the sample distribution: normalized
    * mean, min, max, and mean-square (energy). Every lane is an exact
    * integer sum narrowed by fixed-order double divisions, so the DuckDB
    * oracle replays the float32 vector bit-for-bit from the generators'
    * closed forms — this retires §2.13's last stub ([[featuresStub]]
    * stays only as the declared byte-stat tier mm5 documents). null for
    * unrecognized or undecodable payloads, like [[decodePng]].
    * Partition-local binary → (modality, vector); bytes never shuffle. */
  val realFeatures = udf { payload: Array[Byte] =>
    // fixed division order (sum / n / norm) — the oracle mirrors it
    def lanes(n: Long, sum: Long, sumSq: Long, mn: Long, mx: Long,
              norm: Double): Array[Float] =
      Array((sum.toDouble / n / norm).toFloat, (mn / norm).toFloat,
        (mx / norm).toFloat,
        (sumSq.toDouble / n / norm / norm).toFloat)
    if (payload == null || payload.length < 8) null
    else if ((payload(0) & 0xff) == 0x89 && payload(1) == 'P') {
      // try/catch like the sibling branches: a payload wearing PNG magic
      // with a corrupt body (truncated IDAT, bad CRC) throws from
      // ImageIO.read — the contract is garbage → null, not a dead task
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        if (img == null) null
        else {
          val r = img.getRaster
          var (sum, sumSq) = (0L, 0L)
          var (mn, mx) = (255L, 0L)
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val v = r.getSample(x, y, 0).toLong
              sum += v; sumSq += v * v
              if (v < mn) mn = v
              if (v > mx) mx = v
              x += 1
            }
            y += 1
          }
          ("image",
            lanes(img.getWidth.toLong * img.getHeight, sum, sumSq, mn, mx,
              255.0))
        }
      } catch { case scala.util.control.NonFatal(_) => null }
    } else if (payload(0) == 'R' && payload(1) == 'I' &&
               payload(2) == 'F' && payload(3) == 'F') {
      try {
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        val fmt = ais.getFormat
        val bytes = ais.readAllBytes()
        if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) null
        else {
          val n = bytes.length / 2
          var (sum, sumSq) = (0L, 0L)
          var (mn, mx) = (Long.MaxValue, Long.MinValue)
          var i = 0
          while (i < n) {
            val v: Long =
              if (fmt.isBigEndian)
                ((bytes(2 * i) << 8) | (bytes(2 * i + 1) & 0xff)).toShort.toLong
              else
                ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toLong
            sum += v; sumSq += v * v
            if (v < mn) mn = v
            if (v > mx) mx = v
            i += 1
          }
          ("audio", lanes(n.toLong, sum, sumSq, mn, mx, 32768.0))
        }
      } catch { case scala.util.control.NonFatal(_) => null }
    } else if (payload(0) == 'G' && payload(1) == 'I' &&
               payload(2) == 'F' && payload(3) == '8') {
      // iis closed on every path — same temp-file-cache leak note as
      // [[decodeGifFrames]]
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) null
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, false, true)
            val nImg = reader.getNumImages(true)
            var n = 0L
            var (sum, sumSq) = (0L, 0L)
            var (mn, mx) = (255L, 0L)
            var f = 0
            while (f < nImg) {
              val img = reader.read(f)
              n += img.getWidth.toLong * img.getHeight
              var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) {
                  val v = (img.getRGB(x, y) & 0xff).toLong
                  sum += v; sumSq += v * v
                  if (v < mn) mn = v
                  if (v > mx) mx = v
                  x += 1
                }
                y += 1
              }
              f += 1
            }
            ("video", lanes(n, sum, sumSq, mn, mx, 255.0))
          } finally reader.dispose()
        }
      } catch { case scala.util.control.NonFatal(_) => null }
      finally iis.close()
    } else null
  }

  /** REAL pixel features from a decoded PNG: the 8-bin gray-value
    * histogram (bin = sample ÷ 32) — INTEGER features, so unlike
    * [[featuresStub]]'s float vector the result is exactly
    * oracle-checkable, and histogram bins are the primitive behind real
    * perceptual features (contrast/exposure stats, pHash preprocessing).
    * null for undecodable payloads, like [[decodePng]]. */
  val pngHistogram = udf { payload: Array[Byte] =>
    if (payload == null) null
    else {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) null
      else {
        val bins = new Array[Long](8)
        val r = img.getRaster
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            bins(r.getSample(x, y, 0) / 32) += 1; x += 1
          }
          y += 1
        }
        bins
      }
    }
  }

  /** REAL perceptual hash from a decoded PNG (MM-10): the standard dHash
    * — resample the image to a 9×8 gray grid, emit one bit per adjacent-
    * column comparison (g[cx+1] > g[cx]), 8 bits × 8 rows packed as 16
    * hex chars. Resampling is NEAREST-NEIGHBOR at integer block centers
    * (x = ⌊(2·cx+1)·w/18⌋, y = ⌊(2·cy+1)·h/16⌋) — total for any w,h ≥ 8
    * (block-mean dies on w < 9) and exact integer arithmetic, so the
    * oracle can replay the generator's ground truth without float
    * resize semantics. Works from genuinely inflated IDAT samples like
    * [[decodePng]]; partition-local, binary → string, no shuffle. */
  val pngDhash = udf { payload: Array[Byte] =>
    if (payload == null) null
    else {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) null
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        val r = img.getRaster
        val sb = new StringBuilder(16)
        var cy = 0
        while (cy < 8) {
          val y = (2 * cy + 1) * h / 16
          var b = 0
          var cx = 0
          while (cx < 8) {
            val x0 = (2 * cx + 1) * w / 18
            val x1 = (2 * (cx + 1) + 1) * w / 18
            if (r.getSample(x1, y, 0) > r.getSample(x0, y, 0))
              b |= 1 << cx
            cx += 1
          }
          sb.append(f"$b%02x")
          cy += 1
        }
        sb.toString
      }
    }
  }

  /** Feature extraction stub: fixed-dim float vector from payload bytes
    * (per-lane byte statistics). Real contract: binary → dense float
    * array of dim 8, partition-local, no shuffle. Lanes ACCUMULATE IN
    * LONG and normalize once in double — exact integer sums followed by
    * one deterministic IEEE expression, so the value is replayable
    * bit-for-bit by the DuckDB oracle (a float-accumulation loop would
    * round differently per engine and forfeit the hash-match). */
  val featuresStub = udf { payload: Array[Byte] =>
    val dim = 8
    val out = new Array[Float](dim)
    if (payload != null && payload.nonEmpty) {
      val sums = new Array[Long](dim)
      var i = 0
      while (i < payload.length) {
        sums(i % dim) += payload(i) & 0xff
        i += 1
      }
      var j = 0
      while (j < dim) {
        out(j) = (sums(j).toDouble / 255.0 / payload.length * dim).toFloat
        j += 1
      }
    }
    out
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // MM-1: media catalog — the media table is MATERIALIZED (payload as a
    // stored binary column, like any production media store), then the
    // metadata-only catalog read must prune the payload column entirely:
    // the scan's ReadSchema has doc_id/modality/meta but NO payload
    // (PlanSpec "mm1: metadata-only catalog read prunes the binary payload
    // column" asserts this). Filtering on meta.width never
    // touches a single payload byte.
    "mm1_media_catalog" -> ((s, d) => {
      val out = Paths.sink("mm1_media_store")
      mediaTable(s, d).write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .filter(col("meta.width") >= 512)
        .select(col("doc_id"), col("modality"), col("meta.mime").as("mime"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .orderBy("doc_id")
    }),

    // MM-2: decode (stubbed) — payload-derived stats; byte-exact oracle.
    "mm2_decode_stats" -> ((s, d) =>
      mediaTable(s, d)
        .select(col("doc_id"), decodeStub(col("payload")).as("dec"))
        .select(col("doc_id"), col("dec._1").as("n_bytes"),
          col("dec._2").as("byte_sum"),
          round(col("dec._3"), 6).as("mean_byte"))
        .orderBy("doc_id")),

    // MM-2b: REAL image decode — the image third of the corpus as genuine
    // PNG bytes (encodePng) round-tripped through a genuine ImageIO
    // decode (decodePng): width/height come from the parsed IHDR, pixel
    // stats from the inflated IDAT samples. The oracle recomputes the
    // GROUND TRUTH the payloads were generated from — the deterministic
    // (doc_id + x) mod 256 gradient — so a decoder that misparses
    // dimensions or samples hash-mismatches. Encode and decode both run
    // partition-local inside the scan projection: compressed bytes never
    // shuffle, the exact plumbing a production decode stage needs.
    "mm2b_png_decode" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"),
          decodePng(encodePng(col("doc_id"),
            (pmod(col("doc_id"), lit(16)) + 8).cast("int"),
            (pmod(col("doc_id"), lit(12)) + 8).cast("int"))).as("dec"))
        .select(col("doc_id"), col("dec._1").as("width"),
          col("dec._2").as("height"), col("dec._3").as("px_sum"),
          round(col("dec._4"), 6).as("mean_px"))
        .orderBy("doc_id")),

    // MM-2c: REAL WAV decode — the audio third of the corpus as genuine
    // RIFF/WAVE PCM bytes (hand-assembled 44-byte header + little-endian
    // 16-bit samples from the generator formula), round-tripped through
    // a genuine javax.sound.sampled parse: the sample rate comes from
    // the parsed fmt chunk, the stats from the decoded PCM stream. The
    // oracle recomputes the ground truth the payloads were generated
    // from — integer end-to-end, so a parser that misreads the header,
    // drops frames, or flips endianness hash-mismatches. Encode and
    // decode run partition-local in the scan projection; compressed
    // bytes never shuffle (the mm2b discipline for audio — §2.13's
    // audio-decode stub caveat retired).
    "mm2c_wav_decode" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 1)
        .select(col("doc_id"),
          decodeWav(encodeWav(col("doc_id"),
            (pmod(col("doc_id"), lit(40)) + 20).cast("int"),
            lit(8000))).as("dec"))
        .select(col("doc_id"), col("dec._1").as("sample_rate"),
          col("dec._2").as("n_samples"), col("dec._3").as("sum_pcm"),
          col("dec._4").as("min_pcm"), col("dec._5").as("max_pcm"))
        .orderBy("doc_id")),

    // MM-2d: REAL video-container decode — the video third of the corpus
    // as genuine animated GIFs (ImageIO sequence writer: a real
    // multi-frame container, the in-JDK stand-in for mp4/ffmpeg) parsed
    // back by a genuine ImageIO multi-frame read: frame count from the
    // container directory, dims per frame, pixel stats through the
    // palette round-trip. The oracle recomputes the generator's closed
    // form ((id·5 + f·11 + x) mod 256, y-independent), so a reader that
    // drops frames, mis-sizes, or mangles the palette hash-mismatches.
    // Encode and decode run partition-local in the scan projection;
    // compressed bytes never shuffle (the mm2b/mm2c discipline —
    // §2.13's video-decode stub caveat retires to the feature-vector
    // stub only).
    "mm2d_gif_decode" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 2)
        .select(col("doc_id"),
          decodeGifFrames(encodeGif(col("doc_id"),
            (pmod(col("doc_id"), lit(4)) + 2).cast("int"),
            (pmod(col("doc_id"), lit(10)) + 8).cast("int"),
            (pmod(col("doc_id"), lit(6)) + 8).cast("int"))).as("dec"))
        .select(col("doc_id"), col("dec._1").as("n_frames"),
          col("dec._2").as("width"), col("dec._3").as("height"),
          col("dec._4").as("px_sum"), round(col("dec._5"), 6).as("mean_px"))
        .orderBy("doc_id")),

    // MM-3: resize — pure metadata arithmetic (halve, min 16), payload
    // untouched; the real resize swaps decodeStub, the plan is identical.
    "mm3_resize_meta" -> ((s, d) =>
      mediaTable(s, d)
        .filter(col("modality") === "image")
        .select(col("doc_id"),
          greatest(expr("meta.width div 2"), lit(16)).cast("int").as("new_w"),
          greatest(expr("meta.height div 2"), lit(16)).cast("int").as("new_h"),
          length(col("payload")).as("n_bytes"))
        .orderBy("doc_id")),

    // MM-4: frame sampling — generator: one video row → ceil(duration/10s)
    // frame rows with timestamps (the UDTF shape for video pipelines).
    "mm4_frame_sample" -> ((s, d) =>
      mediaTable(s, d)
        .filter(col("modality") === "video" && col("meta.duration_ms") > 0)
        .select(col("doc_id"), col("meta.duration_ms").as("duration_ms"),
          posexplode(sequence(lit(0L), col("meta.duration_ms") - 1,
            lit(10000L))))
        .select(col("doc_id"), col("pos").as("frame_idx"),
          col("col").as("frame_off_ms"))
        .orderBy("doc_id", "frame_idx")),

    // MM-5: feature extraction (stub) — dense vectors. Exact DuckDB
    // oracle: the stub's lanes are integer byte-sums normalized by one
    // double expression, and the float32 narrowing is replayed with
    // CAST(... AS REAL), so f0 hash-matches bit-for-bit.
    "mm5_features" -> ((s, d) =>
      mediaTable(s, d)
        .select(col("doc_id"), featuresStub(col("payload")).as("features"))
        .select(col("doc_id"), size(col("features")).as("dim"),
          round(element_at(col("features"), 1).cast("double"), 5).as("f0"))
        .orderBy("doc_id")),

    // MM-5c: REAL cross-modal feature extraction — every doc's payload is
    // a genuine container for its modality (PNG / RIFF-WAVE / animated
    // GIF, the three real codec tiers), sniffed by magic bytes and
    // decoded through the JDK codecs; the 4-lane vector (normalized
    // mean/min/max/mean-square over decoded samples) is integer-exact
    // under the hood, so the oracle replays the float32 lanes bit-for-bit
    // from the generators' closed forms. This is §2.13's feature-vector
    // stub retired: real features from real decodes, one partition-local
    // projection, bytes never shuffle.
    "mm5c_real_features" -> ((s, d) => {
      val m = pmod(col("doc_id"), lit(3))
      val payload = when(m === 0,
          encodePng(col("doc_id"),
            (pmod(col("doc_id"), lit(16)) + 8).cast("int"),
            (pmod(col("doc_id"), lit(12)) + 8).cast("int")))
        .when(m === 1,
          encodeWav(col("doc_id"),
            (pmod(col("doc_id"), lit(40)) + 20).cast("int"), lit(8000)))
        .otherwise(
          encodeGif(col("doc_id"),
            (pmod(col("doc_id"), lit(4)) + 2).cast("int"),
            (pmod(col("doc_id"), lit(10)) + 8).cast("int"),
            (pmod(col("doc_id"), lit(6)) + 8).cast("int")))
      Tables.documents(s, d)
        .select(col("doc_id"), realFeatures(payload).as("f"))
        .select(col("doc_id"), col("f._1").as("modality"),
          round(element_at(col("f._2"), 1).cast("double"), 5).as("f_mean"),
          round(element_at(col("f._2"), 2).cast("double"), 5).as("f_min"),
          round(element_at(col("f._2"), 3).cast("double"), 5).as("f_max"),
          round(element_at(col("f._2"), 4).cast("double"), 5).as("f_msq"))
        .orderBy("doc_id")
    }),

    // MM-5b: REAL pixel features — the 8-bin gray histogram of each
    // decoded PNG, exploded to (doc_id, bin, n_px) rows. Integer
    // end-to-end, so the oracle recomputes the exact bin counts from the
    // generator's gradient formula; a decoder returning wrong samples
    // (not just wrong dims) hash-mismatches. Encode+decode+histogram run
    // partition-local in the scan projection, bytes never shuffle.
    "mm5b_png_histogram" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"),
          posexplode(pngHistogram(encodePng(col("doc_id"),
            (pmod(col("doc_id"), lit(16)) + 8).cast("int"),
            (pmod(col("doc_id"), lit(12)) + 8).cast("int")))))
        .select(col("doc_id"), col("pos").as("bin"), col("col").as("n_px"))
        .orderBy("doc_id", "bin")),

    // MM-10: perceptual-hash buckets over GENUINELY decoded pixels — the
    // dedup tier between mm7 (byte-exact digests: any re-encode breaks
    // the match) and mm8 (stripe-sum near-dup on raw bytes): dHash
    // buckets group images by visual structure from decoded samples, so
    // pixel-identical images bucket together regardless of compressor
    // byte choices. Partition-local encode→decode→hash; the only shuffle
    // carries (16-char hash, count) — at 100 TB the hash table is
    // |distinct structures|, the classic map-side-combined dedup shape.
    // Exactly oracle-checked against the generator's gradient ground
    // truth (a decoder or resampler returning wrong samples mismatches).
    "mm10_png_dhash" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"),
          pngDhash(encodePng(col("doc_id"),
            (pmod(col("doc_id"), lit(16)) + 8).cast("int"),
            (pmod(col("doc_id"), lit(12)) + 8).cast("int"))).as("dhash"))
        .groupBy("dhash")
        .agg(count(lit(1)).as("n_imgs"), min("doc_id").as("min_doc"))
        .orderBy("dhash")),

    // MM-6: binary header parse — the metadata-from-magic-bytes pattern
    // (image dims from a PNG IHDR, sample rate from a WAV header): fixed
    // offsets of the payload decode to typed columns with codegen'd
    // substring/decode exprs, no UDF and no full-body scan semantics. Runs
    // on the scan8 blob fixtures whose header is "BLOB<id>|"; the oracle
    // re-parses the same offsets via read_blob.
    "mm6_header_parse" -> ((s, _) =>
      s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(Paths.fixture("blobs"))
        .select(
          element_at(split(col("path"), "/"), -1).as("file_name"),
          decode(substring(col("content"), 1, 4), "UTF-8").as("magic"),
          decode(substring(col("content"), 5, 1), "UTF-8").cast("int")
            .as("blob_id"),
          length(col("content")).as("n_bytes"))
        .orderBy("file_name")),

    // MM-7: exact media dedup report — the first dedup stage every real
    // media pipeline runs (byte-identical images/clips are the bulk of
    // web-scraped duplication) as a per-modality digest rollup: payloads
    // reduce to 16-byte md5 digests IN the scan projection, so only
    // digests ever shuffle — the media bytes never move, the llm1
    // ids-only discipline applied to binary columns. Reports corpus size,
    // distinct payloads, duplicate-group count and the largest clone
    // family per modality. Oracle recomputes the digests from the same
    // deterministic payload derivation (payload = utf8 text bytes, so
    // DuckDB's md5(text) hashes identical bytes).
    "mm7_media_dedup" -> ((s, d) =>
      mediaTable(s, d)
        .select(col("modality"), md5(col("payload")).as("h"))
        .groupBy("modality", "h").agg(count(lit(1)).as("n"))
        .groupBy("modality")
        .agg(count(lit(1)).as("n_distinct"),
          sum("n").as("n_media"),
          sum(when(col("n") > 1, 1L).otherwise(0L)).as("dup_groups"),
          max("n").as("max_group"))
        .orderBy("modality")),

    // MM-8: media NEAR-dup — the perceptual-hash tier above mm7's exact
    // digests, on an INTEGER feature so the oracle stays exact: each
    // payload reduces to 8 stripe byte-sums (bytes at position i feed
    // stripe i mod 8 — the featuresStub signal before its float
    // normalization, kept in long arithmetic precisely so both engines
    // agree bit-for-bit; a real deploy swaps this for pHash/dHash the same
    // way decodeStub swaps for a codec). Pairing is LOSSLESSLY banded, the
    // llm2d discipline: |Σa − Σb| ≤ Σᵢ|aᵢ − bᵢ| (triangle inequality), so
    // any pair within L1 threshold T lands in the same or an adjacent
    // total-byte-mass bucket of width T — the join keys on
    // (modality, bucket) with one side exploded to its 3 neighbor buckets
    // and candidates shrink ~20× vs all-pairs-per-modality while the
    // post-filter keeps the result EXACT (same-oracle as brute force).
    // Payloads reduce to 64 B vectors in the scan projection: bytes never
    // join. Threshold 1024 ≈ near-identical byte-mass distribution.
    "mm8_media_neardup" -> ((s, d) => {
      // stripe_sums is the native codegen'd EXPR-5 (functions/
      // VectorExpressions.scala) — the feature projection runs inside
      // whole-stage codegen, no UDF ser/de per payload
      val f = mediaTable(s, d)
        .select(col("doc_id"), col("modality"),
          expr("stripe_sums(payload)").as("f"))
        .withColumn("bk", expr(
          "aggregate(f, 0L, (acc, v) -> acc + v) DIV 1024"))
      val a = f.select(col("modality"), col("doc_id").as("id_a"),
        col("f").as("fa"), col("bk"))
      val b = f.select(col("modality"), col("doc_id").as("id_b"),
        col("f").as("fb"),
        explode(array(col("bk") - 1, col("bk"), col("bk") + 1)).as("bk"))
      a.join(b, Seq("modality", "bk")).filter(col("id_a") < col("id_b"))
        .withColumn("dist", expr(
          "aggregate(zip_with(fa, fb, (x, y) -> abs(x - y)), 0L," +
            " (acc, v) -> acc + v)"))
        .filter(col("dist") <= 1024)
        .select(col("modality"), col("id_a"), col("id_b"), col("dist"))
        .orderBy("modality", "id_a", "id_b")
    }),

    // MM-9: cross-video duplicate SEGMENTS — re-upload/clip detection,
    // the sub-payload tier below mm7's whole-file digests: mm4's sampled
    // frames fingerprint ROW-LOCALLY (md5 of the frame's byte window,
    // codegen'd substring on the binary payload — a deploy swaps in a
    // keyframe perceptual hash exactly like decodeStub), then videos
    // sharing fingerprints pair via an ids-only digest join. Frame BYTES
    // never shuffle — only 16 B digests (llm1/mm7 discipline at frame
    // granularity); per-video digest dedup kills within-video repetition
    // before the pair fan-out; evidence floor ≥3 shared frames.
    "mm9_cross_video_dup" -> ((s, d) => {
      val fp = mediaTable(s, d)
        .filter(col("modality") === "video" && col("meta.duration_ms") > 0)
        .select(col("doc_id"), col("payload"),
          posexplode(sequence(lit(0L), col("meta.duration_ms") - 1,
            lit(1000L))))
        // 1 s frame stride = 100 payload bytes (100 B/s synth rate); the
        // frame window is the next 100 bytes — sized to the synth corpus
        // (~300 B payloads) the way a real pipeline sizes keyframe rate
        .select(col("doc_id"), expr(
          "md5(substring(payload, CAST(col DIV 10 + 1 AS INT), 100))")
          .as("fp"))
        .distinct()
      val a = fp.select(col("fp"), col("doc_id").as("a_id"))
      val b = fp.select(col("fp"), col("doc_id").as("b_id"))
      a.join(b, "fp").filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
        .orderBy(col("n_shared").desc, col("a_id"), col("b_id"))
    })
  )


  def oracle: Map[String, String] = Map(
    // replays featuresStub exactly: integer byte-sum of lane 0 (payload
    // positions ≡ 0 mod 8; ord == byte because the corpus is ASCII, the
    // same identity mm8 leans on), then the stub's one double expression
    // in the same operation order, narrowed through REAL to mirror the
    // float32 element before the round
    "mm5_features" ->
      """WITH b AS (
        |  SELECT doc_id, length(text) AS n,
        |         ord(substr(text, CAST(i AS INT), 1)) AS byte
        |  FROM documents, unnest(range(1, length(text) + 1)) AS r(i)
        |  WHERE (i - 1) % 8 = 0),
        |l AS (SELECT doc_id, any_value(n) AS n, SUM(byte) AS s0
        |      FROM b GROUP BY doc_id)
        |SELECT doc_id, 8 AS dim,
        |  round(CAST(CAST(CAST(s0 AS DOUBLE) / 255.0 / n * 8 AS REAL)
        |             AS DOUBLE), 5) AS f0
        |FROM l ORDER BY doc_id""".stripMargin,

    // the three generators' closed forms (PNG gradient, WAV PCM formula,
    // GIF frame formula) replayed as weighted integer sums; the float32
    // lane narrowing mirrors the engine's fixed division order
    // (sum / n / norm), so all four lanes hash-match bit-for-bit
    "mm5c_real_features" ->
      """WITH base AS (
        |  SELECT doc_id, 'image' AS modality, 255.0 AS norm,
        |         (doc_id + x) % 256 AS v,
        |         CAST(doc_id % 12 + 8 AS BIGINT) AS wt
        |  FROM documents,
        |       unnest(range(0, CAST(doc_id % 16 + 8 AS INT))) AS rx(x)
        |  WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, 'audio', 32768.0,
        |         ((doc_id * 31 + i * 17) % 65536) - 32768,
        |         CAST(1 AS BIGINT)
        |  FROM documents,
        |       unnest(range(0, CAST(doc_id % 40 + 20 AS INT))) AS ri(i)
        |  WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id, 'video', 255.0,
        |         (doc_id * 5 + f * 11 + x) % 256,
        |         CAST(doc_id % 6 + 8 AS BIGINT)
        |  FROM documents,
        |       unnest(range(0, CAST(doc_id % 4 + 2 AS INT))) AS rf(f),
        |       unnest(range(0, CAST(doc_id % 10 + 8 AS INT))) AS rx(x)
        |  WHERE doc_id % 3 = 2)
        |SELECT doc_id, any_value(modality) AS modality,
        |  round(CAST(CAST(CAST(sum(v * wt) AS DOUBLE) / sum(wt)
        |             / any_value(norm) AS REAL) AS DOUBLE), 5) AS f_mean,
        |  round(CAST(CAST(min(v) / any_value(norm) AS REAL)
        |             AS DOUBLE), 5) AS f_min,
        |  round(CAST(CAST(max(v) / any_value(norm) AS REAL)
        |             AS DOUBLE), 5) AS f_max,
        |  round(CAST(CAST(CAST(sum(v * v * wt) AS DOUBLE) / sum(wt)
        |             / any_value(norm) / any_value(norm) AS REAL)
        |             AS DOUBLE), 5) AS f_msq
        |FROM base GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the generator's closed-form ground truth: sample i of doc id is
    // ((id·31 + i·17) mod 65536) − 32768 over n = id mod 40 + 20 samples
    // at 8 kHz — a decoder that misparses the header or the PCM frames
    // cannot reproduce these integers
    "mm2c_wav_decode" ->
      """WITH a AS (SELECT doc_id, CAST(doc_id % 40 + 20 AS INT) AS n
        |           FROM documents WHERE doc_id % 3 = 1),
        |s AS (SELECT doc_id, n,
        |        ((doc_id * 31 + i * 17) % 65536) - 32768 AS v
        |      FROM a, unnest(range(0, n)) AS r(i))
        |SELECT doc_id, 8000 AS sample_rate,
        |  CAST(any_value(n) AS BIGINT) AS n_samples,
        |  CAST(sum(v) AS BIGINT) AS sum_pcm,
        |  CAST(min(v) AS INT) AS min_pcm, CAST(max(v) AS INT) AS max_pcm
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the generator's closed-form ground truth: pixel (x, y) of frame f
    // is (id·5 + f·11 + x) mod 256, y-independent — so the per-doc pixel
    // sum is h · Σ_{f,x} v, over nf = id%4+2 frames of (id%10+8) ×
    // (id%6+8); a container parse that drops a frame or mangles the
    // palette round-trip cannot reproduce these integers
    "mm2d_gif_decode" ->
      """WITH a AS (SELECT doc_id,
        |             CAST(doc_id % 4 + 2 AS INT) AS nf,
        |             CAST(doc_id % 10 + 8 AS INT) AS w,
        |             CAST(doc_id % 6 + 8 AS INT) AS h
        |           FROM documents WHERE doc_id % 3 = 2),
        |s AS (SELECT doc_id, nf, w, h,
        |        ((doc_id * 5 + f * 11 + x) % 256) AS v
        |      FROM a, unnest(range(0, nf)) AS rf(f),
        |              unnest(range(0, w)) AS rx(x))
        |SELECT doc_id,
        |  CAST(any_value(nf) AS INT) AS n_frames,
        |  CAST(any_value(w) AS INT) AS width,
        |  CAST(any_value(h) AS INT) AS height,
        |  CAST(sum(v) * any_value(h) AS BIGINT) AS px_sum,
        |  round(CAST(sum(v) * any_value(h) AS DOUBLE) /
        |        (any_value(nf) * any_value(w) * any_value(h)), 6)
        |    AS mean_px
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "mm7_media_dedup" ->
      """WITH m AS (
        |  SELECT ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1]
        |           AS modality,
        |         md5(text) AS h
        |  FROM documents),
        |g AS (SELECT modality, h, COUNT(*) AS n FROM m GROUP BY 1, 2)
        |SELECT modality,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  CAST(SUM(n) AS BIGINT) AS n_media,
        |  CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS dup_groups,
        |  CAST(MAX(n) AS BIGINT) AS max_group
        |FROM g GROUP BY modality ORDER BY modality""".stripMargin,

    "mm8_media_neardup" ->
      """WITH b AS (
        |  SELECT doc_id, doc_id % 3 AS mod3,
        |         (i - 1) % 8 AS stripe,
        |         ord(substr(text, CAST(i AS INT), 1)) AS byte
        |  FROM documents, unnest(range(1, length(text) + 1)) AS r(i)),
        |f AS (SELECT doc_id, mod3, stripe, SUM(byte) AS sv
        |      FROM b GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT a.mod3, a.doc_id AS id_a, b.doc_id AS id_b,
        |         SUM(ABS(a.sv - b.sv)) AS dist
        |  FROM f a JOIN f b ON a.mod3 = b.mod3 AND a.stripe = b.stripe
        |                   AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3)
        |SELECT ['image','audio','video'][CAST(mod3 AS INT) + 1] AS modality,
        |       id_a, id_b, CAST(dist AS BIGINT) AS dist
        |FROM p WHERE dist <= 1024
        |ORDER BY modality, id_a, id_b""".stripMargin,

    // same frame tiling as mm4 (range == sequence stride), fingerprints
    // recomputed from the deterministic payload derivation; ASCII text →
    // char offsets equal byte offsets and md5(substr) matches the binary
    "mm9_cross_video_dup" ->
      """WITH v AS (SELECT doc_id, text FROM documents
        |           WHERE doc_id % 3 = 2 AND length(text) > 0),
        |fr AS (
        |  SELECT doc_id,
        |    md5(substr(text, CAST((u.i - 1) * 100 + 1 AS INT), 100)) AS fp
        |  FROM v, unnest(range(1,
        |    CAST(ceil(length(text) * 10 / 1000.0) AS BIGINT) + 1)) AS u(i)),
        |fd AS (SELECT DISTINCT doc_id, fp FROM fr),
        |p AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_shared
        |  FROM fd a JOIN fd b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, CAST(n_shared AS BIGINT) AS n_shared
        |FROM p WHERE n_shared >= 3
        |ORDER BY n_shared DESC, a_id, b_id""".stripMargin,

    "mm1_media_catalog" ->
      """SELECT doc_id,
        |  ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
        |  ['image/png','audio/wav','video/mp4'][CAST(doc_id % 3 AS INT) + 1] AS mime,
        |  CAST(doc_id % 64 * 16 + 256 AS INT) AS width,
        |  CAST(doc_id % 48 * 16 + 144 AS INT) AS height
        |FROM documents
        |WHERE doc_id % 64 * 16 + 256 >= 512
        |ORDER BY doc_id""".stripMargin,

    // documents.text is ASCII (verified) → per-char ord == per-byte value
    "mm2_decode_stats" ->
      """SELECT d.doc_id,
        |  CAST(length(d.text) AS INT) AS n_bytes,
        |  CAST(sum(ord(substr(d.text, CAST(u.i AS INT), 1))) AS BIGINT) AS byte_sum,
        |  round(CAST(sum(ord(substr(d.text, CAST(u.i AS INT), 1))) AS DOUBLE)
        |        / length(d.text), 6) AS mean_byte
        |FROM documents d, unnest(range(1, length(d.text) + 1)) AS u(i)
        |GROUP BY d.doc_id, d.text
        |ORDER BY d.doc_id""".stripMargin,

    // ground truth of the histogram: column x (h pixels) has value
    // (id+x)%256 → bin (id+x)%256 // 32; all 8 bins emitted, zeros kept
    "mm5b_png_histogram" ->
      """WITH img AS (
        |  SELECT doc_id,
        |         CAST(doc_id % 16 + 8 AS INT) AS w,
        |         CAST(doc_id % 12 + 8 AS INT) AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |cnt AS (
        |  SELECT i.doc_id, ((i.doc_id + u.x) % 256) // 32 AS b,
        |         CAST(SUM(i.h) AS BIGINT) AS n_px
        |  FROM img i, unnest(range(0, i.w)) AS u(x)
        |  GROUP BY 1, 2),
        |grid AS (
        |  SELECT i.doc_id, bn.b FROM img i, unnest(range(0, 8)) AS bn(b))
        |SELECT g.doc_id, CAST(g.b AS INT) AS bin,
        |  COALESCE(c.n_px, 0) AS n_px
        |FROM grid g LEFT JOIN cnt c ON c.doc_id = g.doc_id AND c.b = g.b
        |ORDER BY g.doc_id, bin""".stripMargin,

    // dHash ground truth: pixel (x,y) = (id+x)%256 is y-constant, so all
    // 8 grid rows emit the same byte and dhash = that byte ×8; the byte
    // replays the nearest-neighbor centers x = (2cx+1)·w//18 exactly
    "mm10_png_dhash" ->
      """WITH img AS (
        |  SELECT doc_id, CAST(doc_id % 16 + 8 AS BIGINT) AS w
        |  FROM documents WHERE doc_id % 3 = 0),
        |bits AS (
        |  SELECT i.doc_id,
        |    CAST(SUM(CASE WHEN
        |        (i.doc_id + ((2*(cx.c+1)+1) * i.w) // 18) % 256 >
        |        (i.doc_id + ((2*cx.c+1) * i.w) // 18) % 256
        |      THEN 1 << cx.c ELSE 0 END) AS BIGINT) AS b
        |  FROM img i, unnest(range(0, 8)) AS cx(c) GROUP BY 1),
        |hx AS (SELECT doc_id, repeat(printf('%02x', b), 8) AS dhash
        |       FROM bits)
        |SELECT dhash, count(*) AS n_imgs, min(doc_id) AS min_doc
        |FROM hx GROUP BY 1 ORDER BY 1""".stripMargin,

    // ground truth of the PNG generator: w = id%16+8, h = id%12+8, every
    // row carries the same (id + x) % 256 gradient → px_sum = h · Σ_x
    "mm2b_png_decode" ->
      """WITH img AS (
        |  SELECT doc_id,
        |         CAST(doc_id % 16 + 8 AS INT) AS w,
        |         CAST(doc_id % 12 + 8 AS INT) AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |s AS (
        |  SELECT i.doc_id, i.w, i.h,
        |         SUM((i.doc_id + u.x) % 256) AS rowsum
        |  FROM img i, unnest(range(0, i.w)) AS u(x)
        |  GROUP BY 1, 2, 3)
        |SELECT doc_id, w AS width, h AS height,
        |  CAST(h * rowsum AS BIGINT) AS px_sum,
        |  round(CAST(h * rowsum AS DOUBLE) / (w * h), 6) AS mean_px
        |FROM s ORDER BY doc_id""".stripMargin,

    "mm3_resize_meta" ->
      """SELECT doc_id,
        |  CAST(greatest((doc_id % 64 * 16 + 256) // 2, 16) AS INT) AS new_w,
        |  CAST(greatest((doc_id % 48 * 16 + 144) // 2, 16) AS INT) AS new_h,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes
        |FROM documents WHERE doc_id % 3 = 0
        |ORDER BY doc_id""".stripMargin,

    "mm4_frame_sample" ->
      """SELECT doc_id, CAST(u.i AS INT) - 1 AS frame_idx,
        |  (CAST(u.i AS BIGINT) - 1) * 10000 AS frame_off_ms
        |FROM documents,
        |  unnest(range(1, CAST(ceil(length(text) * 10 / 10000.0) AS BIGINT) + 1))
        |    AS u(i)
        |WHERE doc_id % 3 = 2
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // fixture bytes are alphanumeric ASCII → the VARCHAR cast is lossless
    // and substr offsets equal byte offsets
    "mm6_header_parse" ->
      s"""SELECT parse_filename(filename) AS file_name,
        |  substr(CAST(content AS VARCHAR), 1, 4) AS magic,
        |  CAST(substr(CAST(content AS VARCHAR), 5, 1) AS INT) AS blob_id,
        |  octet_length(content) AS n_bytes
        |FROM read_blob('${Paths.fixture("blobs/*.bin")}')
        |ORDER BY file_name""".stripMargin
  )
}
