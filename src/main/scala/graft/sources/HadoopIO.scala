package graft.sources

import java.io.{IOException, InputStream, OutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}

/** Hadoop-FileSystem I/O layer for the custom sources and sinks.
  *
  * Everything the `sam`/`bam` connectors, the `.gai` index, and the BAM
  * writer open goes through `org.apache.hadoop.fs.FileSystem`, so the same
  * code reads local files (`file:///` or bare paths), HDFS, S3A, or any
  * other Hadoop-supported store — the reference inherited this property
  * from hadoop-bam/ADAM (/root/reference/src/main/scala/MitoScape/
  * BamReader.scala:172-174); a 100 TB corpus lives on a distributed store,
  * never on executor-local disks.
  *
  * The Hadoop `Configuration` is NOT serializable, so the driver captures
  * it into a [[HadoopIO.ConfBox]] (a plain property array) when building a
  * reader factory, and executors rebuild it lazily. Driver-side helpers use
  * `SparkContext.hadoopConfiguration` directly (public API; carries every
  * `spark.hadoop.*` setting).
  */
object HadoopIO {

  /** Serializable snapshot of a Hadoop configuration. Rebuilt lazily and
    * at most once per JVM-deserialized instance. */
  final class ConfBox(props: Array[(String, String)]) extends Serializable {
    @transient private lazy val built: Configuration = {
      val c = new Configuration(false)
      props.foreach { case (k, v) => c.set(k, v) }
      c
    }
    def conf: Configuration = built
  }

  /** Driver side: snapshot the active session's Hadoop conf (falls back to
    * classpath-default config outside a session, e.g. the BamIndex CLI). */
  def capture(): ConfBox = {
    import scala.jdk.CollectionConverters._
    val c = driverConf()
    new ConfBox(c.iterator().asScala.map(e => e.getKey -> e.getValue).toArray)
  }

  /** The live driver-side configuration (not serializable — use [[capture]]
    * for anything crossing into a task). */
  def driverConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def fs(path: Path, conf: Configuration): FileSystem = path.getFileSystem(conf)

  /** Sequential read stream (seek before buffering if needed). */
  def open(pathStr: String, conf: Configuration): FSDataInputStream = {
    val p = new Path(pathStr)
    fs(p, conf).open(p)
  }

  /** Every line of a small text file, read on the driver. A compressed
    * file is decoded by its extension, as Spark's text sources do. */
  def readLines(pathStr: String, conf: Configuration): Vector[String] = {
    val b = Vector.newBuilder[String]
    foreachLine(pathStr, conf)(b += _)
    b.result()
  }

  /** [[readLines]] streamed: `f` sees each line in file order, and no
    * line collection is built. */
  def foreachLine(pathStr: String, conf: Configuration)(f: String => Unit)
      : Unit = {
    val p = new Path(pathStr)
    val raw = fs(p, conf).open(p)
    val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
      .getCodec(p)
    val in = if (codec == null) raw else codec.createInputStream(raw)
    val r = new java.io.BufferedReader(new java.io.InputStreamReader(in,
      java.nio.charset.StandardCharsets.UTF_8))
    try {
      var line = r.readLine()
      while (line != null) { f(line); line = r.readLine() }
    } finally r.close()
  }

  /** Create/overwrite an output stream. */
  def create(pathStr: String, conf: Configuration): OutputStream = {
    val p = new Path(pathStr)
    fs(p, conf).create(p, true)
  }

  def exists(pathStr: String, conf: Configuration): Boolean = {
    val p = new Path(pathStr)
    fs(p, conf).exists(p)
  }

  /** A sidecar index is usable when it is present and at least as new as
    * its data file: a stale one (data rewritten after indexing) would
    * silently misread, so every index reader ignores it. */
  def freshSidecar(data: String, side: String, conf: Configuration): Boolean =
    lenAndMtime(side, conf).exists { case (_, sideTime) =>
      lenAndMtime(data, conf).exists { case (_, dataTime) => sideTime >= dataTime }
    }

  /** (length, mtime) of `path`, or None when absent — the freshness pair
    * staging caches compare against their source. */
  def lenAndMtime(pathStr: String, conf: Configuration): Option[(Long, Long)] = {
    val p = new Path(pathStr)
    val filesystem = fs(p, conf)
    if (filesystem.exists(p)) {
      val st = filesystem.getFileStatus(p)
      Some((st.getLen, st.getModificationTime))
    } else None
  }

  def delete(pathStr: String, conf: Configuration): Unit = {
    val p = new Path(pathStr)
    fs(p, conf).delete(p, true)
  }

  /** Scratch root for staging paths that EXECUTORS must read back (x03's
    * round-trip BAM, s07's bucketed corpus, q35's stream staging): on a
    * real cluster set `spark.graft.scratchDir` to a distributed-store path
    * (HDFS/S3A); the default — the driver's `java.io.tmpdir` — is only a
    * shared filesystem in local mode, so it is a fallback, not the design. */
  def scratchDir(spark: org.apache.spark.sql.SparkSession): String =
    spark.conf.getOption("spark.graft.scratchDir")
      .getOrElse(sys.props("java.io.tmpdir"))

  /** Atomic publish: rename `src` onto `dst` iff `dst` does not exist.
    * Returns false when another writer already published (the caller
    * should delete its build and adopt the winner's). Goes through
    * `FileContext.rename` with `Options.Rename.NONE`, which REFUSES an
    * existing destination — `FileSystem.rename` would instead move `src`
    * INTO an existing directory, silently nesting a half-layout inside a
    * committed one. Atomic on HDFS and local renames; object stores
    * without atomic rename (raw S3) keep a small window, which is why
    * adopters re-check the committed `_SUCCESS` after losing. */
  def renameIfAbsent(src: String, dst: String, conf: Configuration): Boolean = {
    val dstPath = new Path(dst)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      dstPath.toUri, conf)
    try { fc.rename(new Path(src), dstPath); true }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case e: IOException
        if e.getMessage != null && e.getMessage.contains("already exists") =>
        false
    }
  }

  /** Byte-copy `src` to `dst` (overwrite) through the Hadoop FS — staging
    * helper; works across filesystems (e.g. corpus store → scratch store). */
  def copy(src: String, dst: String, conf: Configuration): Unit = {
    val in = open(src, conf)
    try {
      val out = create(dst, conf)
      try in.transferTo(out) finally out.close()
    } finally in.close()
  }

  /** Stage `src` at `dst` unless already staged from this exact source
    * version. Freshness is the RECORDED source (length, mtime) pair —
    * written to a dot-prefixed sidecar at copy time and compared for
    * equality — not the staged copy's own mtime: comparing `staged.mtime
    * >= src.mtime` treats a same-length source rewrite within the same
    * mtime tick as fresh (ADVICE r6), and the staged copy's timestamps say
    * nothing about WHICH source version it holds. A same-length rewrite
    * inside one mtime tick is the only residual blind spot (the
    * filesystem itself cannot distinguish the versions short of hashing
    * the content). The sidecar is dot-prefixed so file-source listings
    * (Spark's and [[listScanTargets]]'s) skip it. Returns true when a
    * copy happened. */
  def stageFile(src: String, dst: String, conf: Configuration): Boolean = {
    val srcStat = lenAndMtime(src, conf)
      .getOrElse(throw new IOException(s"staging source missing: $src"))
    val dstPath = new Path(dst)
    val marker = new Path(dstPath.getParent, s".${dstPath.getName}.src").toString
    val fresh = exists(dst, conf) && readMarker(marker, conf).contains(srcStat)
    if (!fresh) {
      copy(src, dst, conf)
      writeMarker(marker, srcStat, conf)
    }
    !fresh
  }

  /** The recorded `(length, mtime)` source-version pair at `marker`, or
    * None when the marker is absent or unparseable (corrupted, truncated-
    * with-garbage) — an unreadable record must force a restage, never
    * crash the staging path. */
  def readMarker(marker: String, conf: Configuration): Option[(Long, Long)] =
    if (!exists(marker, conf)) None
    else {
      val in = open(marker, conf)
      try scala.util.Try {
        new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).split(':') match {
            case Array(l, m) => Some((l.toLong, m.toLong))
            case _ => None
          }
      }.toOption.flatten
      finally in.close()
    }

  /** Record a source-version pair (see [[readMarker]]). */
  def writeMarker(marker: String, stat: (Long, Long),
      conf: Configuration): Unit = {
    val out = create(marker, conf)
    try out.write(s"${stat._1}:${stat._2}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Expand a path into its (fully-qualified path, length) scan targets:
    * a file is itself; a directory yields its non-hidden regular files,
    * name-sorted. A missing path FAILS FAST with the FileSystem's
    * FileNotFoundException — it must never degrade into a bogus split. */
  def listScanTargets(pathStr: String, conf: Configuration): Seq[(String, Long)] = {
    val p = new Path(pathStr)
    val filesystem = fs(p, conf)
    val st = filesystem.getFileStatus(p) // throws FileNotFoundException
    if (st.isDirectory)
      filesystem.listStatus(p).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith(".") &&
          !s.getPath.getName.startsWith("_"))
        .sortBy(_.getPath.getName)
        .map(s => (s.getPath.toString, s.getLen))
    else Seq((st.getPath.toString, st.getLen))
  }

  /** An index sidecar (`.gai`, `.bai`, `.csi`, `.tbi`) that lives next to
    * its data file: every source consults it per file and never scans it
    * as data when a directory is listed. */
  def isSidecar(path: String): Boolean =
    path.endsWith(".gai") || path.endsWith(".bai") ||
      path.endsWith(".csi") || path.endsWith(".tbi")

  /** Drain exactly `n` bytes from a stream; throws instead of spinning if
    * the stream stops making progress (ADVICE r2: `skip` can return 0 at
    * EOF forever). */
  def skipFully(in: InputStream, n: Long, what: => String): Unit = {
    var left = n
    while (left > 0) {
      val s = in.skip(left)
      if (s > 0) left -= s
      else if (in.read() >= 0) left -= 1
      else throw new IOException(s"unexpected EOF skipping $left bytes in $what")
    }
  }
}

/** Positional-read handle over one file: the Hadoop analogue of the
  * `FileChannel.read(buf, pos)` the BGZF machinery was built on.
  * `FSDataInputStream` implements `PositionedReadable`, so reads at
  * arbitrary offsets do not disturb any sequential cursor. */
final class SeekableFile(pathStr: String, conf: Configuration) extends AutoCloseable {
  private val path = new Path(pathStr)
  private val filesystem = HadoopIO.fs(path, conf)
  val size: Long = filesystem.getFileStatus(path).getLen
  private val in = filesystem.open(path)

  /** Read up to `len` bytes at absolute `pos`; -1 at EOF. */
  def readAt(pos: Long, buf: Array[Byte], off: Int, len: Int): Int =
    in.read(pos, buf, off, len)

  /** Fill as much of `buf` as the file allows starting at `pos`; returns
    * bytes read (< buf.length only at EOF). */
  def readAtFully(pos: Long, buf: Array[Byte]): Int = {
    var n = 0
    var r = in.read(pos, buf, 0, buf.length)
    while (r > 0) {
      n += r
      r = if (n < buf.length) in.read(pos + n, buf, n, buf.length - n) else 0
    }
    n
  }

  override def close(): Unit = in.close()
}
