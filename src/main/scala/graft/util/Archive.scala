package graft.util

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.nio.channels.{Channels, FileChannel}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveInputStream, TarArchiveOutputStream}
import org.apache.commons.compress.compressors.xz.XZCompressorInputStream
import org.apache.commons.io.IOUtils
import org.tukaani.xz.{LZMA2Options, XZOutputStream}

/** UTIL-1 — tar.xz snapshot archiving, the reference's backup-upload
  * packaging (runcommand.py:245-249: `tarfile.open(path, mode='w:xz');
  * tf.add(local_backup_path, arcname=db_name)`). A driver-side utility,
  * not a relational operator: it packages an already-written store
  * snapshot (e.g. a [[graft.operators.VersionedStore]] version dir) for
  * transfer, exactly as the reference tars its database backup before the
  * object-store upload.
  *
  * Scale posture: this runs on ONE machine over ONE store snapshot — it
  * is the transfer-packaging tail of a pipeline, never a data-plane
  * operator (at 100 TB the data path ships partitioned parquet, not
  * tarballs). The tar is cut into one contiguous byte range per core and
  * each range is compressed concurrently as an independent xz stream; the
  * `.xz` file is those streams concatenated in order, which the xz format
  * allows and every xz reader (`xz -d`, Python's `tarfile`) decodes as one.
  * Uses commons-compress + the xz codec from the Spark runtime classpath;
  * entries are added in sorted path order so identical trees produce
  * identical member order.
  */
object Archive {

  /** Archive `srcDir` (recursively) to `outFile` as tar.xz; entry names
    * are `arcname/<relative path>` — the reference's
    * `tf.add(dir, arcname=db_name)` shape. Parent dirs of `outFile` are
    * created; the tar is staged in a temp file beside it. Returns the
    * number of file entries written. */
  def tarXz(srcDir: String, outFile: String, arcname: String): Int = {
    val root = Paths.get(srcDir)
    require(Files.isDirectory(root), s"not a directory: $srcDir")
    val out = Paths.get(outFile).toAbsolutePath
    Files.createDirectories(out.getParent)
    val tmp = Files.createTempFile(out.getParent, s"${out.getFileName}.", ".tar")
    val tar = new TarArchiveOutputStream(
      new BufferedOutputStream(Files.newOutputStream(tmp)))
    // parquet part files exceed tar's 100-char USTAR name limit routinely
    tar.setLongFileMode(TarArchiveOutputStream.LONGFILE_POSIX)
    var n = 0
    try {
      val walk = Files.walk(root)
      val files =
        try walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        finally walk.close()
      files.sortBy(p => root.relativize(p).toString).foreach { p =>
        val entry = new TarArchiveEntry(p.toFile,
          s"$arcname/${root.relativize(p).toString}")
        tar.putArchiveEntry(entry)
        Files.copy(p, tar)
        tar.closeArchiveEntry()
        n += 1
      }
      tar.close()
      xzRanges(tmp, out)
    } finally { tar.close(); Files.deleteIfExists(tmp) }
    n
  }

  /** Preset 6 with its dictionary cut to the next power of two ≥
    * `rangeLen` (floor `DICT_SIZE_MIN`, ceiling preset 6's 8 MiB). A
    * dictionary no shorter than its range can still reach every earlier
    * byte of it, so the output size holds (migrate's backup archive reads
    * 81.64–81.68 KB either way), while the encoder's match finder, sized
    * by the dictionary, asks ~1 MiB for a 200 KiB range instead of
    * ~94 MiB. */
  private[graft] def rangeOptions(rangeLen: Long): LZMA2Options = {
    val opts = new LZMA2Options(6)
    val want = math.min(math.max(rangeLen, 1L), opts.getDictSize.toLong)
    opts.setDictSize(math.max(LZMA2Options.DICT_SIZE_MIN,
      (java.lang.Long.highestOneBit(want - 1) << 1).toInt))
    opts
  }

  /** `src` → `out` as one xz stream per core-sized byte range
    * ([[rangeOptions]]), compressed concurrently into temp files beside
    * `out` (at most as many at once as the heap fits their encoders), then
    * appended in order. */
  private def xzRanges(src: Path, out: Path): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    val len = Files.size(src)
    val step = math.max(1L, (len + cores - 1) / cores)
    val opts = rangeOptions(step)
    val fit = Runtime.getRuntime.maxMemory /
      (opts.getEncoderMemoryUsage * 1024L)
    val pool =
      Executors.newFixedThreadPool(math.max(1L, math.min(cores, fit)).toInt)
    val parts = (0L until math.max(len, 1L) by step).map(off => off ->
      Files.createTempFile(out.getParent, s"${out.getFileName}.", ".part"))
    try {
      val done = parts.map { case (off, part) => pool.submit(new Runnable {
        def run(): Unit = {
          val in = Channels.newInputStream(FileChannel.open(src).position(off))
          val xz = new XZOutputStream(Files.newOutputStream(part), opts)
          try IOUtils.copyLarge(in, xz, 0L, math.min(step, len - off)): Unit
          finally { in.close(); xz.close() }
        }
      }) }
      val os = new BufferedOutputStream(Files.newOutputStream(out))
      try done.zip(parts).foreach { case (f, (_, part)) =>
        f.get(); Files.copy(part, os) } finally os.close()
    } finally {
      pool.shutdownNow(); pool.awaitTermination(1, TimeUnit.MINUTES)
      parts.foreach(p => Files.deleteIfExists(p._2))
    }
  }

  /** Extract a [[tarXz]] archive under `destDir`. Entry paths are
    * validated to stay inside `destDir` (a hostile `../` member must not
    * escape — the classic tar-slip). Returns the extracted file count. */
  def untarXz(archive: String, destDir: String): Int = {
    val dest = Paths.get(destDir).toAbsolutePath.normalize
    Files.createDirectories(dest)
    // a [[tarXz]] archive is several concatenated xz streams
    val tar = new TarArchiveInputStream(XZCompressorInputStream.builder()
      .setInputStream(new BufferedInputStream(
        Files.newInputStream(Paths.get(archive))))
      .setDecompressConcatenated(true).get())
    var n = 0
    try {
      var entry = tar.getNextEntry
      while (entry != null) {
        val target = dest.resolve(entry.getName).normalize
        require(target.startsWith(dest),
          s"archive entry escapes destination: ${entry.getName}")
        if (entry.isDirectory) Files.createDirectories(target)
        else {
          Option(target.getParent).foreach(Files.createDirectories(_))
          Files.copy(tar, target,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          n += 1
        }
        entry = tar.getNextEntry
      }
    } finally tar.close()
    n
  }

  /** xz magic (FD 37 7A 58 5A 00) — lets callers/specs assert the file
    * really is xz-compressed, not a renamed gz. */
  def isXz(file: String): Boolean = {
    val in = Files.newInputStream(Paths.get(file))
    try {
      val magic = in.readNBytes(6)
      magic.sameElements(Array(0xFD, 0x37, 0x7A, 0x58, 0x5A, 0x00).map(_.toByte))
    } finally in.close()
  }
}
