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

/** DataSource V2 connector for FASTQ (`spark.read.format("fastq")`) — the
  * sequencing-read interchange format UPSTREAM of alignment (the reference
  * pipeline's BAMs start life as FASTQ off the instrument; ref README.md:30
  * documents the revert-to-uBAM preprocessing). Modern 4-line records:
  *
  * {{{
  * @name[ comment]
  * SEQUENCE            (one line, [A-Za-z*=-]+; ACGTN in practice)
  * +[name]
  * QUALITY             (one line, same length as SEQUENCE, Phred+33)
  * }}}
  *
  * The split problem FASTQ is famous for: '@' does NOT mark a record
  * start — it is also a legal quality character (Phred 31), so a split
  * landing mid-file cannot sync on "line starts with '@'" alone. The
  * disambiguation here is STRUCTURAL and provably unambiguous for
  * alphabet-conforming files: a line L0 is a record header iff L0 starts
  * with '@', L2 starts with '+', and L1 is pure sequence alphabet with
  * len(L3) == len(L1). A quality line starting with '@' can never
  * validate — its L2 is the NEXT record's sequence line, which starts
  * with a base character, never '+'. (BamSync.scala applies the same
  * validate-the-guess discipline to binary record boundaries.)
  *
  * Ownership and scale: files split into byte ranges (`splitsize`
  * option); a RECORD belongs to the split containing its header line's
  * first byte (plain text) or the BGZF member holding that byte
  * (bgzip'd `.fastq.gz`) — each split reads past its end only to finish
  * a straddling record, so neighbouring splits partition the record
  * stream exactly and a 300 GB FASTQ scans with full cluster
  * parallelism. Single-stream gzip degrades to one whole-file split
  * (never mis-decodes). Malformed records in the OWNED range raise
  * loudly (decoder-fuzz discipline: a truncated file must not read as a
  * shorter valid one).
  */
class FastqDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fastq"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FastqDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    import scala.jdk.CollectionConverters._
    new FastqTable(properties.asScala.toMap)
  }
}

object FastqDataSource {
  val schema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("comment", StringType, nullable = true),
    StructField("sequence", StringType, nullable = false),
    StructField("quality", StringType, nullable = false),
    StructField("length", IntegerType, nullable = false)))

  private[sources] def isSeqLine(s: String): Boolean = {
    if (s.isEmpty) return false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val ok = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        c == '*' || c == '=' || c == '-' || c == '.'
      if (!ok) return false
      i += 1
    }
    true
  }

  /** Write reads as a single FASTQ file through [[TextSink]]'s
    * distributed commit (one streamed part per task, driver byte-concat;
    * `.gz`/`.bgz` suffix produces bgzip framing readable back with
    * intra-file splits). Input columns: name, sequence, quality,
    * optionally comment. */
  def write(df: org.apache.spark.sql.DataFrame, out: String): Long = {
    import org.apache.spark.sql.functions._
    val hasComment = df.columns.contains("comment")
    val header = concat(lit("@"), col("name"),
      if (hasComment)
        when(col("comment").isNotNull && col("comment") =!= "",
          concat(lit(" "), col("comment"))).otherwise(lit(""))
      else lit(""))
    TextSink.write(Nil, df.select(concat(header, lit("\n"),
      col("sequence"), lit("\n+\n"), col("quality")).as("line")), out)
  }
}

class FastqTable(properties: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"fastq(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = FastqDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FastqScanBuilder(SamDataSource.resolvePaths(options),
      SamDataSource.splitSize(options))
}

class FastqScanBuilder(paths: Seq[String], splitSize: Option[Long])
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  private var required: StructType = FastqDataSource.schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new FastqScan(paths, splitSize, required)
}

class FastqScan(paths: Seq[String], splitSize: Option[Long], required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    SamDataSource.planSplits(paths, splitSize)
  override def createReaderFactory(): PartitionReaderFactory =
    new FastqReaderFactory(required.fieldNames, HadoopIO.capture())
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new FastqMicroBatchStream(paths, splitSize, required.fieldNames)
}

/** Micro-batch stream over a landing DIRECTORY — the instrument-drop
  * ingest shape (a sequencer finishes a flow-cell, a `.fastq.gz` — or a
  * per-sample BAM — lands, the pipeline processes it incrementally).
  * Shared by the `fastq`, `sam`, and `bam` sources: the offset model and
  * split planning are format-independent; only the per-partition reader
  * factory differs.
  *
  * Offset model: the PREFIX LENGTH of the path-name-sorted file listing,
  * carrying the last included file's name. The contract (asserted, not
  * assumed) is append-only ingest with lexicographically increasing
  * names — the natural `part-00000`-style landing convention; a file
  * appearing BEFORE the committed prefix or a renamed prefix file fails
  * LOUDLY at planning instead of silently double-reading or skipping
  * (the offset `last` name pins the committed prefix). Each micro-batch
  * plans the new files' byte-range splits exactly like the batch scan —
  * same ownership protocol, same intra-file parallelism, so a 300 GB
  * drop still scans wide. Replays are idempotent: (start, end] always
  * maps to the same files, so checkpoint recovery re-reads exactly the
  * uncommitted tail (the exactly-once half the sink completes).
  *
  * `planFile` (r15, VERDICT r14 #4) is the format's per-file split
  * planner, given the stream's split size — the hook that makes a
  * pushed region predicate prune each landed file AT BATCH PLANNING
  * through its sidecar index, the way the batch scans do, instead of
  * scheduling tasks over every byte of every drop. It defaults to plain
  * byte-range splits. Replays stay value-idempotent:
  * an index only ever SKIPS members no region record can live in, and
  * the reader re-filters per record, so a sidecar landing between a
  * batch's first plan and a recovery replay changes task count, never
  * results.
  *
  * Splits are `splitSize` bytes, [[SamDataSource.DefaultSplitSize]] when
  * the read gives no `splitsize`: a micro-batch's files are not known when
  * the stream starts, so it does not size splits from them as a batch
  * scan does. */
class LandingDirMicroBatchStream(paths: Seq[String], splitSize: Option[Long],
    what: String, factory: () => PartitionReaderFactory,
    planFile: (String, Long, Long, org.apache.hadoop.conf.Configuration)
      => Seq[InputPartition] = (p, size, split, conf) =>
        SamDataSource.byteRanges(p, size, split,
          SamDataSource.fileCodec(p, conf)))
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private val split = splitSize.getOrElse(SamDataSource.DefaultSplitSize)

  private case class PrefixOffset(n: Int, last: String) extends Offset {
    override def json(): String = {
      val esc = last.replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"n":$n,"last":"$esc"}"""
    }
  }

  private def listing(): Seq[(String, Long)] = {
    val conf = HadoopIO.driverConf()
    paths.flatMap(p => HadoopIO.listScanTargets(p, conf))
      .filterNot { case (p, _) => HadoopIO.isSidecar(p) }
      .sortBy(_._1)
  }

  override def initialOffset(): Offset = PrefixOffset(0, "")
  override def latestOffset(): Offset = {
    val ls = listing()
    PrefixOffset(ls.length, ls.lastOption.map(_._1).getOrElse(""))
  }
  override def deserializeOffset(json: String): Offset = {
    val n = "\"n\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(json)
      .map(_.group(1).toInt)
      .getOrElse(sys.error(s"bad $what stream offset: $json"))
    val last = "\"last\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findFirstMatchIn(json).map(_.group(1)
        .replace("\\\"", "\"").replace("\\\\", "\\"))
      .getOrElse(sys.error(s"bad $what stream offset: $json"))
    PrefixOffset(n, last)
  }

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val (s0, e0) = (start.asInstanceOf[PrefixOffset],
      end.asInstanceOf[PrefixOffset])
    val ls = listing()
    require(ls.length >= e0.n,
      s"$what stream: listing shrank to ${ls.length} files below the " +
        s"batch end offset ${e0.n} — files were deleted under the stream")
    // the committed prefix must be the SAME files: a new name sorting
    // into the prefix would silently shift ownership
    if (s0.n > 0) require(ls(s0.n - 1)._1 == s0.last,
      s"$what stream: file ${s0.n - 1} is now '${ls(s0.n - 1)._1}' but " +
        s"the committed offset recorded '${s0.last}' — non-append-only " +
        "ingest (a file landed before the committed prefix?)")
    if (e0.n > 0) require(ls(e0.n - 1)._1 == e0.last,
      s"$what stream: file ${e0.n - 1} is now '${ls(e0.n - 1)._1}' but " +
        s"the batch end offset recorded '${e0.last}'")
    val conf = HadoopIO.driverConf()
    ls.slice(s0.n, e0.n).flatMap { case (p, size) =>
      planFile(p, size, split, conf)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = factory()
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The fastq face of [[LandingDirMicroBatchStream]] (kept as a named
  * class — x83's gate and the source specs construct it directly). */
class FastqMicroBatchStream(paths: Seq[String], splitSize: Option[Long],
    fields: Array[String])
    extends LandingDirMicroBatchStream(paths, splitSize, "fastq",
      () => new FastqReaderFactory(fields, HadoopIO.capture()))

class FastqReaderFactory(fields: Array[String], conf: HadoopIO.ConfBox)
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SamInputPartition]
    new FastqPartitionReader(p.path, p.start, p.end, p.codec, fields,
      conf)
  }
}

/** Growable raw-byte line accumulator decoded ONCE as UTF-8 (with CR
  * strip) — per-byte `toChar` would be Latin-1 and mojibake any
  * non-ASCII bytes in read names/comments on the way to the reader's
  * UTF-8 re-encoding (ADVICE r11). */
private[sources] final class FastqLineBuf {
  private var buf = new Array[Byte](120)
  private var n = 0
  def reset(): Unit = n = 0
  def append(b: Int): Unit = {
    if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n * 2)
    buf(n) = b.toByte
    n += 1
  }
  def toLine: String = {
    var m = n
    if (m > 0 && buf(m - 1) == '\r') m -= 1
    new String(buf, 0, m, java.nio.charset.StandardCharsets.UTF_8)
  }
}

/** Line source reporting each line together with its OWNERSHIP OFFSET
  * (file byte offset of the line start for plain text; containing-member
  * file offset for BGZF; 0 for whole-file gzip). Unlike the SAM line
  * iterators this never cuts at rangeEnd — the record loop decides
  * ownership by the HEADER line's offset and reads past the end only to
  * finish a straddling record. */
private[sources] trait FastqLines extends AutoCloseable {
  /** (line, ownershipOffset), or null at EOF. */
  def next(): (String, Long)
}

private[sources] final class FastqPlainLines(path: String, rangeStart: Long,
    conf: org.apache.hadoop.conf.Configuration) extends FastqLines {
  private val in: java.io.BufferedInputStream = {
    val raw = HadoopIO.open(path, conf)
    if (rangeStart > 0) raw.seek(rangeStart - 1)
    new java.io.BufferedInputStream(raw, 1 << 16)
  }
  private var offset = if (rangeStart > 0) rangeStart - 1 else 0L
  locally { // newline sync, PlainLineIter's rule
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
  private val lb = new FastqLineBuf
  override def next(): (String, Long) = {
    val start = offset
    lb.reset()
    var b = read1()
    if (b == -1) return null
    while (b != -1 && b != '\n') { lb.append(b); b = read1() }
    (lb.toLine, start)
  }
  override def close(): Unit = in.close()
}

private[sources] final class FastqGzipLines(path: String,
    conf: org.apache.hadoop.conf.Configuration) extends FastqLines {
  private val in = new java.io.BufferedInputStream(
    new java.util.zip.GZIPInputStream(
      new java.io.BufferedInputStream(HadoopIO.open(path, conf), 1 << 16)),
    1 << 16)
  private val lb = new FastqLineBuf
  override def next(): (String, Long) = {
    lb.reset()
    var b = in.read()
    if (b == -1) return null
    while (b != -1 && b != '\n') { lb.append(b); b = in.read() }
    (lb.toLine, 0L)
  }
  override def close(): Unit = in.close()
}

/** BGZF lines with member-offset ownership — BgzfLineIter's sync dance
  * (walk back one member, discard through the first newline unless the
  * previous payload byte already was one), but lines are never cut at
  * rangeEnd; each line reports the member offset holding its first byte. */
private[sources] final class FastqBgzfLines(path: String, rangeStart: Long,
    conf: org.apache.hadoop.conf.Configuration) extends FastqLines {
  private val file = new SeekableFile(path, conf)
  private val fileLen = file.size
  private val mStart: Long =
    if (rangeStart == 0) 0L
    else Bgzf.nextMemberStart(file, rangeStart, fileLen)
  private val in: BgzfInputStream =
    if (mStart >= fileLen) null
    else Bgzf.openAtLineStart(file, mStart, fileLen)

  private val lb = new FastqLineBuf
  override def next(): (String, Long) = {
    if (in == null) return null
    val owner = in.memberStart
    lb.reset()
    var b = in.read()
    if (b == -1) return null
    while (b != -1 && b != '\n') { lb.append(b); b = in.read() }
    (lb.toLine, owner)
  }
  override def close(): Unit = {
    if (in != null) in.close()
    file.close()
  }
}

class FastqPartitionReader(path: String, rangeStart: Long, rangeEnd: Long,
    codec: String, fields: Array[String], conf: HadoopIO.ConfBox)
    extends PartitionReader[InternalRow] {

  private val lines: FastqLines = codec match {
    case "bgzf" => new FastqBgzfLines(path, rangeStart, conf.conf)
    case "gzip" => new FastqGzipLines(path, conf.conf)
    case _      => new FastqPlainLines(path, rangeStart, conf.conf)
  }
  // one-line lookahead so candidate validation can push back
  private var pending: (String, Long) = _
  private var current: InternalRow = _

  private def nextLine(): (String, Long) = {
    if (pending != null) { val p = pending; pending = null; p }
    else lines.next()
  }

  override def next(): Boolean = {
    while (true) {
      var l0 = nextLine()
      while (l0 != null && l0._1.isEmpty) l0 = nextLine() // blank tolerance
      if (l0 == null || l0._2 >= rangeEnd) { current = null; return false }
      if (l0._1.charAt(0) == '@') {
        val l1 = nextLine()
        if (l1 == null) {
          // '@'-led line at EOF. From a mid-file split (rangeStart > 0)
          // this is the legitimate tail of a record owned by the
          // PREVIOUS split (a quality line we synced onto) — skip. From
          // the file start there is no previous record: it is a
          // truncated header, and reading the file as one record
          // shorter would violate the decoder-fuzz discipline.
          require(rangeStart > 0,
            s"truncated FASTQ record at ${l0._2} in $path: header " +
              s"'${l0._1.take(30)}' at end of file")
          current = null; return false
        }
        if (FastqDataSource.isSeqLine(l1._1)) {
          val l2 = nextLine()
          if (l2 != null && l2._1.nonEmpty && l2._1.charAt(0) == '+') {
            val l3 = nextLine()
            require(l3 != null && l3._1.length == l1._1.length,
              s"malformed FASTQ record at ${l0._2} in $path: quality " +
                s"length ${if (l3 == null) -1 else l3._1.length} != " +
                s"sequence length ${l1._1.length}")
            current = decode(l0._1, l1._1, l3._1)
            return true
          }
          // Unreachable at a sync point: l0 '@'-led + l1 pure-alphabet
          // means l0 is a real header (a quality line's successor is the
          // NEXT header, which starts '@' and fails isSeqLine). A missing
          // '+' line is therefore file damage in the owned range — raise,
          // never skip (decoder-fuzz discipline).
          require(false,
            s"malformed FASTQ record at ${l0._2} in $path: separator " +
              s"line is ${if (l2 == null) "missing" else s"'${l2._1.take(20)}'"}")
        } else if (l1._1.isEmpty) {
          // ZERO-LENGTH read (routine after adapter trimming): header,
          // empty sequence, '+' separator, empty quality. Unambiguous
          // even at a sync point: a quality line starting '@' belongs
          // to a read of length ≥ 1, so its successor line is the next
          // nonempty header — never an empty line whose own successor
          // starts '+'. Decode rather than silently drop (ADVICE r11:
          // write() emits these, so the roundtrip must keep them).
          val l2 = nextLine()
          if (l2 != null && l2._1.nonEmpty && l2._1.charAt(0) == '+') {
            val l3 = nextLine()
            require(l3 != null && l3._1.isEmpty,
              s"malformed FASTQ record at ${l0._2} in $path: zero-" +
                s"length read with quality line " +
                s"${if (l3 == null) "missing" else s"'${l3._1.take(20)}'"}")
            current = decode(l0._1, "", "")
            return true
          }
          // blank line after an '@'-led line with no '+' follower:
          // inter-record blank tolerance; re-scan from l2
          pending = l2
        } else {
          // '@'-led line whose follower is not sequence alphabet: a
          // quality line at a sync point; re-scan from the follower
          pending = l1
        }
      }
      // non-'@' line (sequence/plus/quality at a sync point): drop it
    }
    false
  }

  private def decode(header: String, seq: String, qual: String): InternalRow = {
    val sp = header.indexOf(' ')
    val nm = if (sp < 0) header.substring(1) else header.substring(1, sp)
    val cm = if (sp < 0) null else header.substring(sp + 1)
    InternalRow.fromSeq(fields.map {
      case "name" => UTF8String.fromString(nm)
      case "comment" =>
        if (cm == null) null else UTF8String.fromString(cm)
      case "sequence" => UTF8String.fromString(seq)
      case "quality"  => UTF8String.fromString(qual)
      case "length"   => seq.length
    }.toIndexedSeq)
  }

  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}
