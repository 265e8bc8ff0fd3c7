package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** DataSource V2 connector for SAM alignment text:
  * `spark.read.format("sam").load(path)` (registered short name via
  * META-INF/services). Within a partition the reader streams lines, skips
  * header/blank lines, and decodes the eleven fixed columns + attribute
  * blob into InternalRows directly — no intermediate string-split
  * DataFrame stage.
  *
  * Scale: files split into byte ranges (`splitsize` option; by default a
  * batch scan sizes them from its own bytes and the session's parallelism,
  * see [[SamDataSource.batchSplitSize]]) with hadoop-style newline
  * synchronization — a line belongs to the split containing its first
  * byte; a split whose start is mid-line skips to the next line start, and
  * every split reads past its end to finish a straddling line. A single
  * 300 GB SAM therefore scans with full cluster parallelism instead of
  * serializing on one task. Column pruning happens
  * via SupportsPushDownRequiredColumns (pruned scans skip building the
  * `line`/`attributes` strings entirely).
  *
  * This complements `graft.mito.Sam.parse` (expression-based decoding of
  * an existing line DataFrame); both produce the same schema
  * (SamSourceSpec asserts agreement).
  */
class SamDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "sam"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SamDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SamTable(properties.asScala.toMap)
}

object SamDataSource {
  val schema: StructType = StructType(Seq(
    StructField("line", StringType, nullable = false),
    StructField("readName", StringType, nullable = false),
    StructField("flag", IntegerType, nullable = false),
    StructField("referenceName", StringType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("mapQ", IntegerType, nullable = false),
    StructField("cigar", StringType, nullable = false),
    StructField("rnext", StringType, nullable = false),
    StructField("pnext", IntegerType, nullable = false),
    StructField("tlen", IntegerType, nullable = false),
    StructField("sequence", StringType, nullable = false),
    StructField("qual", StringType, nullable = false),
    StructField("attributes", StringType, nullable = false)))

  /** Largest default byte-range split (64 MB, HDFS-block-sized): the cap
    * of [[batchSplitSize]], and the split size of every landing-dir
    * micro-batch that gives no `splitsize` read option. */
  val DefaultSplitSize: Long = 64L * 1024 * 1024

  /** Smallest default batch split: 16 maximal BGZF members (1 MB). Every
    * split pays a header inflate, a boundary scan and a guess-sync; the
    * floor bounds that cost per split and keeps any input of 1 MB or less
    * on one partition. */
  val MinSplitSize: Long = 16L * Bgzf.MaxIsize

  def resolvePaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val single = Option(options.get("path")).toSeq
    val multi = Option(options.get("paths")).toSeq
      .flatMap(_.stripPrefix("[").stripSuffix("]").split(",")
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")))
    (single ++ multi).filter(_.nonEmpty)
  }

  /** The `splitsize` read option, if given. */
  def splitSize(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("splitsize")).map(_.toLong)

  /** A batch scan's default split size over `bytes` of splittable data:
    * the bytes spread over the session's default parallelism,
    * `min(DefaultSplitSize, max(MinSplitSize, ceil(bytes / parallelism)))`.
    * A sample-sized BAM thus scans (and the writer, one part file per
    * input partition, writes) on every core instead of as one task; a
    * large input keeps 64 MB splits. */
  def batchSplitSize(bytes: Long): Long = {
    val session = org.apache.spark.sql.SparkSession
    val cores = session.getActiveSession.orElse(session.getDefaultSession)
      .map(_.sparkContext.defaultParallelism).getOrElse(1).max(1)
    math.min(DefaultSplitSize,
      math.max(MinSplitSize, (bytes + cores - 1) / cores))
  }

  /** A batch scan's data files (index sidecars, [[HadoopIO.isSidecar]],
    * dropped) and the split size they plan with: the explicit `splitsize`
    * when given, else [[batchSplitSize]] over the files that can split.
    * Plain gzip files always plan as one split, so their bytes are left
    * out of the sum (that costs one header sniff per `.gz`/`.bgz` file).
    * Listing and sizing go through the Hadoop FileSystem (driver side). */
  def batchTargets(paths: Seq[String], splitSize: Option[Long],
      conf: org.apache.hadoop.conf.Configuration)
      : (Seq[(String, Long)], Long) = {
    val files = paths.flatMap(p => HadoopIO.listScanTargets(p, conf))
      .filterNot { case (p, _) => HadoopIO.isSidecar(p) }
    (files, splitSize.getOrElse(batchSplitSize(files.collect {
      case (p, n) if fileCodec(p, conf) != "gzip" => n
    }.sum)))
  }

  /** One file's byte-range splits: `[s, s + splitSize)` ranges, or one
    * whole-file split when the file is plain gzip (not seekable) or fits
    * in one split. */
  def byteRanges(p: String, size: Long, splitSize: Long,
      codec: String): Seq[SamInputPartition] =
    if (codec == "gzip" || size <= splitSize)
      Seq(SamInputPartition(p, 0L, Long.MaxValue, codec))
    else (0L until size by splitSize).map(s =>
      SamInputPartition(p, s, math.min(s + splitSize, size), codec))

  /** Index member runs (startMember, startUoffset, stopMember) → one
    * file's partitions, each run chopped at `splitSize`. Only a run's head
    * knows its exact first-record offset; the chopped tails sync. Shared
    * by the bam and vcf planners. */
  def runParts(p: String, runs: Seq[(Long, Int, Long)], splitSize: Long,
      codec: String): Seq[SamInputPartition] =
    runs.flatMap { case (m0, u, m1) =>
      val cuts = (m0 until m1 by math.max(splitSize, 1L)) :+ m1
      cuts.sliding(2).zipWithIndex.map { case (Seq(a, b), i) =>
        SamInputPartition(p, a, b, codec, if (i == 0) u else -1)
      }.toSeq
    }

  /** Parse the samtools-style `region` read option — a COMMA-separated
    * list of `"chr1:100-200"` (1-based INCLUSIVE bounds) or `"chr1"`
    * (the whole contig) elements. Each element yields
    * (contig, beg1, end1) with Long.MaxValue for an unbounded end.
    *
    * Record semantics are the START-position filter `OR over windows of
    * (referenceName/contig = c AND beg1 <= pos <= end1)` — identical to
    * the same `.where(...)` over an unfiltered scan (the pushed-
    * predicate contract: pruning only ever SKIPS, the reader
    * re-filters). The explicit option exists because Spark does NOT
    * push catalyst predicates into MICRO_BATCH scans (the probe shows
    * `MicroBatchScan ... PushedFilters: []`), so a region-filtered
    * STREAM would otherwise schedule tasks over every byte of every
    * landed file; with the option, planning consults each file's
    * sidecar index exactly like the batch scan — multi-region planning
    * unions the windows' member runs (scatter-gather over intervals,
    * THE genomics estate access pattern). Malformed values raise
    * loudly — a typo'd region silently scanning everything (or nothing)
    * is the failure mode the loud-refusal discipline exists for.
    *
    * Contig names may themselves contain ':' (HLA-style names are legal
    * in SAM/VCF headers — ADVICE r15): samtools' `{contig}` brace
    * escape is supported (`{HLA-A*01:01}` or `{c}:beg-end`), and an
    * unbraced element whose post-':' tail is not a `digits-digits`
    * range falls back to a whole-contig query on the full string — the
    * loud refusal stays for tails that ARE numeric ranges but violate
    * `1 <= beg <= end` (an intended range with bad bounds, never a
    * plausible contig name). */
  def regionsOption(options: CaseInsensitiveStringMap)
      : Seq[(String, Long, Long)] =
    Option(options.get("region")).toSeq.flatMap { all =>
      require(all.nonEmpty && !all.split(",", -1).exists(_.isEmpty),
        s"malformed region option '$all' — empty region element")
      all.split(",").toSeq.map(parseRegionElement)
    }

  /** `digits-digits` tail → validated 1-based inclusive bounds; any
    * other shape → None (the caller decides bare-contig fallback vs
    * refusal). Digit-only overflow still refuses loudly — 20+-digit
    * runs are a typo'd range, not a contig. */
  private def rangeTail(whole: String, range: String): Option[(Long, Long)] = {
    val dash = range.indexOf('-')
    if (dash <= 0 || dash == range.length - 1 ||
        !range.substring(0, dash).forall(_.isDigit) ||
        !range.substring(dash + 1).forall(_.isDigit)) None
    else {
      val (b, e) =
        try (range.substring(0, dash).toLong, range.substring(dash + 1).toLong)
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"malformed region option '$whole' — range bounds overflow")
        }
      require(b >= 1 && e >= b,
        s"malformed region option '$whole' — need 1 <= beg <= end")
      Some((b, e))
    }
  }

  private def parseRegionElement(r: String): (String, Long, Long) =
    if (r.startsWith("{")) {
      val close = r.indexOf('}')
      require(close > 1,
        s"malformed region option '$r' — unterminated '{contig}' escape")
      val contig = r.substring(1, close)
      val rest = r.substring(close + 1)
      if (rest.isEmpty) (contig, 1L, Long.MaxValue)
      else {
        require(rest.head == ':',
          s"malformed region option '$r' — expected '{contig}:beg-end'")
        val (b, e) = rangeTail(r, rest.tail).getOrElse(
          throw new IllegalArgumentException(
            s"malformed region option '$r' — expected '{contig}:beg-end' " +
              "(1-based inclusive)"))
        (contig, b, e)
      }
    } else {
      val colon = r.lastIndexOf(':')
      if (colon < 0) (r, 1L, Long.MaxValue)
      else rangeTail(r, r.substring(colon + 1)) match {
        case Some((b, e)) if colon > 0 => (r.substring(0, colon), b, e)
        // ':' belongs to the contig name — whole-contig query
        case _ => (r, 1L, Long.MaxValue)
      }
    }

  /** One InputPartition per byte range of each file ([[byteRanges]] at
    * the scan's [[batchSplitSize]]). Directory paths expand to their
    * (non-hidden) regular files, so `load(dir)` scans a whole sample
    * directory in parallel — minus the index sidecars
    * ([[HadoopIO.isSidecar]]) living next to their BAMs (the 100 TB layout
    * is many `<f>.bam` + `<f>.bam.gai` pairs per directory; a sidecar is
    * consulted per-file by the reader, never scanned as data). An
    * unreadable path fails the query here — it must never degrade into a
    * bogus whole-file split. */
  def planSplits(paths: Seq[String],
      splitSize: Option[Long]): Array[InputPartition] = {
    val conf = HadoopIO.driverConf()
    val (files, size) = batchTargets(paths, splitSize, conf)
    files.flatMap { case (p, len) =>
      byteRanges(p, len, size, fileCodec(p, conf))
    }.toArray[InputPartition]
  }

  /** Compression sniff for SAM text: "bgzf" (gzip + BC extra subfield —
    * splittable at member boundaries, so a 300 GB bgzip'd `.sam.gz` still
    * scans with full cluster parallelism), "gzip" (single-stream, not
    * seekable — degrades to ONE whole-file split rather than failing or
    * mis-decoding), or "plain". Extension-gated so uncompressed files cost
    * no extra I/O; a BGZF file whose extra field outgrows the standard
    * 6-byte layout reads as "gzip" — still decoded correctly (BGZF IS
    * gzip), just unsplit. */
  def fileCodec(path: String,
      conf: org.apache.hadoop.conf.Configuration): String =
    if (!path.endsWith(".gz") && !path.endsWith(".bgz")) "plain"
    else {
      val in = HadoopIO.open(path, conf)
      try {
        val hdr = new Array[Byte](18)
        var got = 0
        var r = 0
        while (got < hdr.length && r >= 0) {
          r = in.read(hdr, got, hdr.length - got)
          if (r > 0) got += r
        }
        if (Bgzf.memberLength(hdr, 0, got) > 0) "bgzf" else "gzip"
      } finally in.close()
    }
}

class SamTable(properties: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"sam(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = SamDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SamScanBuilder(SamDataSource.resolvePaths(options),
      SamDataSource.splitSize(options))
}

class SamScanBuilder(paths: Seq[String], splitSize: Option[Long]) extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownV2Filters {
  private var required: StructType = SamDataSource.schema
  private var pushed: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = Array.empty
  private var preds: Seq[SamFilters.Pred] = Nil
  /** Column pruning: the reader decodes only requested fields — pruned
    * scans skip building the `line`/`attributes` strings entirely. */
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  /** Predicate pushdown (see SamFilters): accepted predicates are fully
    * evaluated by the reader, so they are NOT returned as post-scan. */
  override def pushPredicates(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = {
    val (ok, rest) = predicates.partition(p => SamFilters.convert(p).isDefined)
    pushed = ok
    preds = ok.toSeq.flatMap(p => SamFilters.convert(p))
    rest
  }
  override def pushedPredicates(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    pushed
  override def build(): Scan = new SamScan(paths, splitSize, required, preds)
}

class SamScan(paths: Seq[String], splitSize: Option[Long], required: StructType,
    preds: Seq[SamFilters.Pred]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"sam PushedFilters: [${preds.mkString(", ")}]"
  override def planInputPartitions(): Array[InputPartition] =
    SamDataSource.planSplits(paths, splitSize)
  override def createReaderFactory(): PartitionReaderFactory =
    new SamReaderFactory(required.fieldNames, preds, HadoopIO.capture())
  /** Landing-dir micro-batch streaming (r14): the shared prefix-offset
    * model; pushed predicates stay per-record reader-side. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val fields = required.fieldNames
    val ps = preds
    new LandingDirMicroBatchStream(paths, splitSize, "sam",
      () => new SamReaderFactory(fields, ps, HadoopIO.capture()))
  }
}

/** A byte range [start, end) of one file (shared by the sam, bam, vcf
  * and fastq sources; end = Long.MaxValue means "whole file"). `codec` is
  * the text compression sniffed at planning time ("plain"/"bgzf"/"gzip");
  * the bam source ignores it (BAM is always BGZF). `uoffset ≥ 0` means
  * the first record starts `uoffset` bytes into the BGZF member at
  * `start` (an index told the planner); -1 means the reader syncs from
  * the first member at or after `start`. */
case class SamInputPartition(path: String, start: Long, end: Long,
    codec: String = "plain", uoffset: Int = -1) extends InputPartition

class SamReaderFactory(fields: Array[String], preds: Seq[SamFilters.Pred],
    conf: HadoopIO.ConfBox) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SamInputPartition]
    new SamPartitionReader(p.path, p.start, p.end, p.codec, fields, preds, conf)
  }
}

/** Feeds the lines a split OWNS to the record decoder; null at end of the
  * owned range. Each codec has its own ownership/sync protocol (see the
  * implementations), but all deliver exactly-once line streams across
  * neighbouring splits. */
private[sources] trait SamLineIter extends AutoCloseable {
  def readLine(): String
}

/** Uncompressed text: a line is owned by the split containing its first
  * byte. Hadoop FS open + seek straight to the split start (a seek is
  * O(1) on every store). Newline sync: seek to start-1 and discard
  * through the first newline; if the byte at start-1 already IS a
  * newline, the line starting exactly at `start` is ours. */
private[sources] final class PlainLineIter(path: String, rangeStart: Long,
    rangeEnd: Long, conf: org.apache.hadoop.conf.Configuration)
    extends SamLineIter {
  private val in: java.io.BufferedInputStream = {
    val raw = HadoopIO.open(path, conf)
    if (rangeStart > 0) raw.seek(rangeStart - 1)
    new java.io.BufferedInputStream(raw, 1 << 16)
  }
  /** Byte offset of the next unread byte (tracked by hand). */
  private var offset = if (rangeStart > 0) rangeStart - 1 else 0L

  locally {
    if (rangeStart > 0) {
      var b = read1()
      while (b != -1 && b != '\n') b = read1()
    }
  }

  private def read1(): Int = {
    val b = in.read()
    if (b >= 0) offset += 1
    b
  }

  /** Reads the next line owned by this split (first byte < rangeEnd),
    * running past rangeEnd only to complete it. Returns null at range end
    * or EOF. */
  override def readLine(): String = {
    if (offset >= rangeEnd) return null
    val sb = new java.lang.StringBuilder(160)
    var b = read1()
    if (b == -1) return null
    while (b != -1 && b != '\n') { sb.append(b.toChar); b = read1() }
    val n = sb.length()
    if (n > 0 && sb.charAt(n - 1) == '\r') sb.setLength(n - 1)
    sb.toString
  }

  override def close(): Unit = in.close()
}

/** Single-stream gzip: not seekable, so the file is one whole-file split
  * (planSplits guarantees it) and this iter simply streams every line.
  * Multi-member streams decode transparently (GZIPInputStream reads
  * concatenated members). */
private[sources] final class GzipLineIter(path: String,
    conf: org.apache.hadoop.conf.Configuration) extends SamLineIter {
  private val in = new java.io.BufferedInputStream(
    new java.util.zip.GZIPInputStream(
      new java.io.BufferedInputStream(HadoopIO.open(path, conf), 1 << 16)),
    1 << 16)

  override def readLine(): String = {
    val sb = new java.lang.StringBuilder(160)
    var b = in.read()
    if (b == -1) return null
    while (b != -1 && b != '\n') { sb.append(b.toChar); b = in.read() }
    val n = sb.length()
    if (n > 0 && sb.charAt(n - 1) == '\r') sb.setLength(n - 1)
    sb.toString
  }

  override def close(): Unit = in.close()
}

/** BGZF text: members are independently inflatable, so the raw byte range
  * [start, end) maps to member ranges — a line is owned by the split whose
  * range contains the file offset of the BGZF member holding the line's
  * FIRST byte (each member belongs to exactly one split, so neighbouring
  * splits partition the line stream exactly).
  *
  * Newline sync mirrors [[PlainLineIter]]'s seek(start-1), one level up:
  * inflate from the member BEFORE the split's first owned member, remember
  * the last payload byte before the owned range, and discard through the
  * first newline only if that byte was NOT itself a newline — so a line
  * starting exactly at the first owned member's first byte is never lost
  * and never double-read. Empty members contribute no payload; if the
  * immediately-previous member has none, the walk-back continues (bounded
  * by file start). */
private[sources] final class BgzfLineIter(path: String, rangeStart: Long,
    rangeEnd: Long, conf: org.apache.hadoop.conf.Configuration)
    extends SamLineIter {
  private val file = new SeekableFile(path, conf)
  private val fileLen = file.size
  private val mStart: Long =
    if (rangeStart == 0) 0L else Bgzf.nextMemberStart(file, rangeStart, fileLen)
  private val in: BgzfInputStream =
    if (mStart >= fileLen || mStart >= rangeEnd) null
    else if (mStart == 0) new BgzfInputStream(file, 0L)
    else syncedStream()

  /** Open at the previous member, consume up to the owned range capturing
    * the last byte served, then apply the prev-byte newline rule. */
  private def syncedStream(): BgzfInputStream = {
    var prev = Bgzf.prevMemberStart(file, mStart, fileLen)
    var last: Int = -1
    var s: BgzfInputStream = null
    val scratch = new Array[Byte](Bgzf.MaxIsize)
    while (s == null) {
      val cand = new BgzfInputStream(file, prev)
      while (cand.memberStart < mStart && cand.memberRemaining > 0) {
        val k = cand.read(scratch, 0, math.min(cand.memberRemaining, scratch.length))
        if (k > 0) last = scratch(k - 1) & 0xff
      }
      if (last >= 0 || prev == 0) s = cand
      else { // empty member: keep walking back
        cand.close()
        prev = Bgzf.prevMemberStart(file, prev, fileLen)
      }
    }
    if (last != '\n' && last != -1) {
      // mid-line entry: the straddling line belongs to the previous split
      var b = s.read()
      while (b != -1 && b != '\n') b = s.read()
    }
    s
  }

  override def readLine(): String = {
    if (in == null) return null
    if (in.memberStart >= rangeEnd) return null // next line starts beyond the range
    val sb = new java.lang.StringBuilder(160)
    var b = in.read()
    if (b == -1) return null
    while (b != -1 && b != '\n') { sb.append(b.toChar); b = in.read() }
    val n = sb.length()
    if (n > 0 && sb.charAt(n - 1) == '\r') sb.setLength(n - 1)
    sb.toString
  }

  override def close(): Unit = {
    if (in != null) in.close()
    file.close()
  }
}

class SamPartitionReader(path: String, rangeStart: Long, rangeEnd: Long,
    codec: String, fields: Array[String], preds: Seq[SamFilters.Pred],
    conf: HadoopIO.ConfBox) extends PartitionReader[InternalRow] {

  private val lines: SamLineIter = codec match {
    case "bgzf" => new BgzfLineIter(path, rangeStart, rangeEnd, conf.conf)
    case "gzip" => new GzipLineIter(path, conf.conf)
    case _      => new PlainLineIter(path, rangeStart, rangeEnd, conf.conf)
  }
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      var line = lines.readLine()
      while (line != null && (line.isEmpty || line.charAt(0) == '@' || line.trim.isEmpty))
        line = lines.readLine()
      if (line == null) { current = null; return false }
      val row = decode(line)
      if (row != null) { current = row; return true }
      // else: pushed filter rejected the record — read on
    }
    false
  }

  /** Decodes one record, or returns null if a pushed filter rejects it —
    * rejected records never materialize UTF8Strings or an InternalRow. */
  private def decode(line: String): InternalRow = {
    val f = line.split("\t", 12)
    require(f.length >= 11, s"malformed SAM record (${f.length} fields): $line")
    if (preds.nonEmpty &&
        !SamFilters.evalAll(preds, f(1).toInt, f(4).toInt, f(3).toInt, f(2)))
      return null
    InternalRow.fromSeq(fields.map {
      case "line"          => UTF8String.fromString(line)
      case "readName"      => UTF8String.fromString(f(0))
      case "flag"          => f(1).toInt
      case "referenceName" => UTF8String.fromString(f(2))
      case "start"         => f(3).toInt
      case "mapQ"          => f(4).toInt
      case "cigar"         => UTF8String.fromString(f(5))
      case "rnext"         => UTF8String.fromString(f(6))
      case "pnext"         => f(7).toInt
      case "tlen"          => f(8).toInt
      case "sequence"      => UTF8String.fromString(f(9))
      case "qual"          => UTF8String.fromString(f(10))
      case "attributes"    => UTF8String.fromString(
        if (f.length > 11) f(11).replace('\t', ' ') else "")
    }.toIndexedSeq)
  }

  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}
