package graft.sources

import java.io.{DataInputStream, EOFException}
import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** DataSource V2 connector for binary BAM:
  * `spark.read.format("bam").load(path)` — same output schema as the
  * `sam` source, so everything downstream (flag expansion, validity,
  * features) is format-agnostic.
  *
  * Decoding is implemented from the public SAM/BAM spec v1.6:
  *  - BGZF framing and INTRA-FILE byte-range splits live in
  *    `graft.sources.Bgzf`: each partition owns a raw byte range, seeks to
  *    the first BGZF member boundary in it, re-synchronizes to a record
  *    boundary by validated guessing (the hadoop-bam technique the
  *    reference inherited via ADAM,
  *    /root/reference/src/main/scala/MitoScape/BamReader.scala:172-174),
  *    and emits the records that start in its range. A single WGS-scale
  *    BAM therefore scans with full cluster parallelism, and a
  *    sample-sized one on every core: without a `splitsize` option the
  *    split size follows the session's parallelism
  *    ([[SamDataSource.batchSplitSize]]).
  *  - Sidecar indexes (`.gai`, `.bai`, `.csi`) are used at PLANNING only
  *    ([[BamScan.streamPlanFile]]): they prune partitions and, where they
  *    know it, give a partition the exact offset of its first record.
  *    Readers open no index.
  *  - The payload is `BAM\1`, SAM-text header, reference dictionary, then
  *    length-prefixed alignment records (little-endian) with 4-bit packed
  *    sequence ("=ACMGRSVTWYHKDBN") and typed optional tags.
  *
  * Validated against fixtures generated independently from the spec by
  * scripts/make_bam_fixture.py (BamDataSourceSpec asserts record-level
  * equality with the SAM-text fixtures, in both single- and multi-split
  * configurations).
  */
class BamDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "bam"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SamDataSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new BamTable(properties.asScala.toMap)
}

/** The one BAM header parser: magic `BAM\1`, SAM header text, reference
  * dictionary (SAM spec §4.2), with the corruption guards every caller
  * gets — a negative `l_text`/`n_ref` or an `l_name` below 1 fails loudly
  * instead of degrading into an empty or garbled dictionary. */
object BamHeader {

  /** Header text + (name, length) per reference, in refId order. */
  final case class Header(text: String, refs: Array[(String, Int)]) {
    def names: Array[String] = refs.map(_._1)
  }

  /** Where a BAM's records begin: the virtual position (member, u) right
    * after the dictionary, plus what a record walk needs to bound it. */
  final case class Located(fileLen: Long, nRef: Int, member: Long, u: Int)

  /** Parse from a stream at the first payload byte; leaves it at the
    * first record. */
  def parse(in: java.io.InputStream, path: String): Header = {
    val din = new DataInputStream(in)
    def i32(): Int = Integer.reverseBytes(din.readInt())
    val magic = new Array[Byte](4); din.readFully(magic)
    require(magic.sameElements(Array[Byte]('B', 'A', 'M', 1)),
      s"not a BAM file: $path")
    val lText = i32()
    require(lText >= 0, s"corrupt BAM header in $path: negative l_text $lText")
    val text = new Array[Byte](lText); din.readFully(text)
    val nRef = i32()
    // Array.fill(negative) silently returns empty — a corrupt count must
    // fail loudly, not degrade into a refless dictionary
    require(nRef >= 0, s"corrupt BAM header in $path: negative n_ref $nRef")
    val refs = Array.fill(nRef) {
      val lName = i32()
      require(lName >= 1, s"corrupt BAM header in $path: l_name $lName")
      val name = new Array[Byte](lName); din.readFully(name)
      (new String(name, 0, lName - 1, "US-ASCII"), i32()) // drop the NUL
    }
    Header(new String(text, "US-ASCII"), refs)
  }

  def read(path: String, conf: org.apache.hadoop.conf.Configuration): Header = {
    val ch = new SeekableFile(path, conf)
    try parse(new BgzfInputStream(ch, 0L), path) finally ch.close()
  }

  def refNames(path: String,
      conf: org.apache.hadoop.conf.Configuration): Array[String] =
    read(path, conf).names

  /** Driver-side probe for split walks: the file length, the dictionary
    * size (record validation) and the exact virtual position where
    * records begin. */
  def locate(path: String, conf: org.apache.hadoop.conf.Configuration): Located = {
    val ch = new SeekableFile(path, conf)
    try {
      val in = new BgzfInputStream(ch, 0L)
      val nRef = parse(in, path).refs.length
      val (m, u) = in.virtualPos
      Located(ch.size, nRef, m, u)
    } finally ch.close()
  }
}

class BamTable(properties: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"bam(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = SamDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // parsed once (ADVICE r15); `region` option → the same preds a
    // pushed .where() produces (START-position semantics; several
    // windows → an OR the pushdown algebra can't express, so a
    // dedicated disjunction pred); the channel that reaches STREAMING
    // scans, where Spark performs no predicate pushdown
    val regions = SamDataSource.regionsOption(options)
    val regionPreds = regions match {
      case Nil => Nil
      case Seq((c, b, e)) =>
        SamFilters.RefNameEq(c) +:
          (Seq(SamFilters.IntCmp("start", ">=", b)) ++
            (if (e == Long.MaxValue) Nil
             else Seq(SamFilters.IntCmp("start", "<=", e))))
      case many => Seq(SamFilters.InRegions(many))
    }
    new BamScanBuilder(SamDataSource.resolvePaths(options),
      SamDataSource.splitSize(options), regionPreds, regions)
  }
}

class BamScanBuilder(paths: Seq[String], splitSize: Option[Long],
    regionPreds: Seq[SamFilters.Pred] = Nil,
    regions: Seq[(String, Long, Long)] = Nil) extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownV2Filters {
  private var required: StructType = SamDataSource.schema
  private var pushed: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] = Array.empty
  private var preds: Seq[SamFilters.Pred] = Nil
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  /** Predicate pushdown (see SamFilters): a rejected record is skipped
    * from its 32 fixed bytes — name/cigar/sequence/tags never decode. */
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
  override def build(): Scan =
    new BamScan(paths, splitSize, required, regionPreds ++ preds, regions)
}

object BamScan {
  /** The per-file planner, shared by the BATCH scan and the landing-dir
    * stream, and the one place a BAM sidecar is resolved: a fresh `.gai`
    * first, then `.bai`, then `.csi` ([[HadoopIO.freshSidecar]]). Every
    * partition says where its first record starts, so readers open no
    * index:
    *  - `.gai`, with or without predicates: each byte-range cut plans from
    *    the per-member stats, and every partition starts at the exact
    *    first-record offset of its first owned member (no guessing).
    *    Unpredicated, a cut stays one partition; with predicates, it
    *    becomes its runs of members that may match
    *    ([[BamIndex.selectRuns]]), so pruned members schedule no task.
    *  - `.bai`/`.csi` and a region-constraining predicate set (pushed
    *    batch predicates or the `region` read option): the region's
    *    member runs, chopped at `splitSize`
    *    ([[SamDataSource.runParts]]); run heads start exactly, chopped
    *    tails sync.
    *  - otherwise: byte-range splits whose readers sync.
    * Pruning at planning keeps a region query over a 100 TB BAM directory
    * from scheduling millions of no-op tasks. The reader re-filters per
    * record, so pruning only ever skips bytes no matching record can live
    * in. */
  private[sources] def streamPlanFile(preds: Seq[SamFilters.Pred],
      regions: Seq[(String, Long, Long)] = Nil)(
      p: String, size: Long, splitSize: Long,
      conf: org.apache.hadoop.conf.Configuration): Seq[InputPartition] = {
    val cuts = SamDataSource.byteRanges(p, size, splitSize,
      SamDataSource.fileCodec(p, conf))
    if (BamIndex.exists(p, conf)) return gaiParts(p, size, cuts, preds, conf)
    if (preds.isEmpty) return cuts
    // (refNames, maxPos, chunks lookup) of a binned index, if any
    val idx: Option[(Array[String], Int, (Int, Int, Int) => Seq[BaiIndex.Chunk])] =
      if (BaiIndex.exists(p, conf)) {
        val bai = BaiIndex.read(p, conf)
        Some((BamHeader.refNames(p, conf), BaiIndex.MaxPos,
          (r, b, e) => BaiIndex.chunks(bai, r, b, e)))
      } else if (CsiIndex.exists(p, conf)) {
        val csi = CsiIndex.read(p, conf)
        Some((BamHeader.refNames(p, conf),
          CsiIndex.maxPos(csi.minShift, csi.depth),
          (r, b, e) => CsiIndex.chunks(csi, r, b, e)))
      } else None
    def runParts(rs: Seq[(Long, Int, Long)]): Seq[InputPartition] =
      SamDataSource.runParts(p, rs, splitSize, "bgzf")
    idx match {
      case None => cuts
      case Some((names, maxPos, chunksOf)) =>
        if (regions.size >= 2) {
          // multi-region: union of the windows' chunks (memberRuns
          // merges touching spans — exactly-once); unknown contigs
          // contribute nothing; zero windows → zero partitions
          val chunks = regions.flatMap { case (c, b1, e1) =>
            val refId = names.indexOf(c)
            if (refId < 0) Nil
            else chunksOf(refId,
              math.max(0L, b1 - 1).min(maxPos.toLong).toInt,
              math.min(maxPos.toLong,
                if (e1 == Long.MaxValue) maxPos.toLong else e1).toInt)
          }
          runParts(BaiIndex.memberRuns(chunks))
        } else if (regions.size == 1 && regions.head._1 != "*" &&
            names.indexOf(regions.head._1) < 0) {
          // option-named contig absent from this file's header: plan
          // nothing, like the multi-region arm — before r15's ADVICE
          // this degraded to a FULL unpruned scan whose reader filtered
          // every record out ("*" still scans: unmapped records aren't
          // in the index's coordinate bins)
          Nil
        } else BaiIndex.region(preds, names, maxPos) match {
          case None => cuts
          case Some((refId, beg, end)) =>
            runParts(BaiIndex.memberRuns(chunksOf(refId, beg, end)))
        }
    }
  }

  /** A `.gai`-indexed file's partitions: per byte-range cut, its first
    * member owning a record (unpredicated) or its runs of members the
    * predicates may match, each starting at that member's exact
    * first-record offset. A cut that owns no such member plans nothing. */
  private def gaiParts(p: String, size: Long, cuts: Seq[SamInputPartition],
      preds: Seq[SamFilters.Pred],
      conf: org.apache.hadoop.conf.Configuration): Seq[InputPartition] = {
    val stats = BamIndex.read(p, conf)
    val names =
      if (preds.isEmpty) Array.empty[String] else BamHeader.refNames(p, conf)
    cuts.flatMap { c =>
      val runs = BamIndex.selectRuns(stats, preds, names, c.start,
        math.min(c.end, size))
      if (preds.isEmpty)
        runs.headOption.map { case (m, u, _) => c.copy(start = m, uoffset = u) }
      else runs.map { case (m, u, stop) =>
        c.copy(start = m, end = math.min(stop, c.end), uoffset = u)
      }
    }
  }
}

class BamScan(paths: Seq[String], splitSize: Option[Long], required: StructType,
    preds: Seq[SamFilters.Pred], regions: Seq[(String, Long, Long)] = Nil)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"bam PushedFilters: [${preds.mkString(", ")}]"
  /** Each file's partitions from [[BamScan.streamPlanFile]]: byte-range
    * splits, or index-planned ones that start exactly and skip pruned
    * members. */
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = HadoopIO.driverConf()
    val (files, split) = SamDataSource.batchTargets(paths, splitSize, conf)
    files.flatMap { case (p, size) =>
      BamScan.streamPlanFile(preds, regions)(p, size, split, conf)
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new BamReaderFactory(required.fieldNames, preds, HadoopIO.capture())
  /** Landing-dir micro-batch streaming (r14): per-sample BAMs land in a
    * directory (the other instrument/pipeline drop format next to
    * `fastq`'s); the shared prefix-offset model plans each batch, and
    * each landed file goes through the batch scan's planner
    * ([[BamScan.streamPlanFile]]), so a `region`-option stream prunes at
    * batch planning through the file's sidecar and schedules no tasks
    * over members the index excludes. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val fields = required.fieldNames
    val ps = preds
    new LandingDirMicroBatchStream(paths, splitSize, "bam",
      () => new BamReaderFactory(fields, ps, HadoopIO.capture()),
      BamScan.streamPlanFile(ps, regions))
  }
}

class BamReaderFactory(fields: Array[String], preds: Seq[SamFilters.Pred],
    conf: HadoopIO.ConfBox) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[SamInputPartition]
    new BamPartitionReader(p.path, p.start, p.end, p.uoffset, fields, preds,
      conf)
  }
}

/** Decodes the records that start in members before `rangeEnd`. With
  * `uoffset ≥ 0` the first record starts `uoffset` bytes into the member
  * at `rangeStart` (the planner read it from an index); otherwise the
  * split syncs from its first member ([[BamSync.openRange]]). */
class BamPartitionReader(path: String, rangeStart: Long, rangeEnd: Long,
    uoffset: Int, fields: Array[String], preds: Seq[SamFilters.Pred],
    conf: HadoopIO.ConfBox)
    extends PartitionReader[InternalRow] {

  private val needSeq = fields.contains("sequence") || fields.contains("line")
  private val needQual = fields.contains("qual") || fields.contains("line")
  private val needAttrs = fields.contains("attributes") || fields.contains("line")

  private val ch = new SeekableFile(path, conf.conf)

  // --- header + reference dictionary (always parsed from offset 0 —
  // KB-sized, one member inflate; every split needs the ref dictionary),
  // then the stream at this split's first record, or null when it owns
  // none. The split holding the header end re-opens the header member
  // there: one ≤64 KB inflate per file.
  private val (refNames, bgzf) = {
    val header = new BgzfInputStream(ch, 0L)
    try {
      val names = BamHeader.parse(header, path).names
      val first =
        if (uoffset >= 0) {
          val s = new BgzfInputStream(ch, rangeStart)
          HadoopIO.skipFully(s, uoffset.toLong,
            s"$path first record at $rangeStart")
          s
        } else {
          val (m, u) = header.virtualPos
          val hdr = BamHeader.Located(ch.size, names.length, m, u)
          BamSync.openRange(ch,
            BamSync.firstMember(ch, rangeStart, hdr.fileLen), rangeEnd, hdr,
            path).orNull
        }
      (names, first)
    } finally header.close()
  }
  private val in = if (bgzf == null) null else new DataInputStream(bgzf)

  /** True once this split's range is exhausted (or it owns no records). */
  private var done = bgzf == null

  // --- little-endian primitives over the decompressed stream
  private def u8(): Int = {
    val b = in.read()
    if (b < 0) throw new EOFException()
    b
  }
  private def i16(): Int = u8() | (u8() << 8)
  private def i32(): Int = u8() | (u8() << 8) | (u8() << 16) | (u8() << 24)
  private def bytes(n: Int): Array[Byte] = {
    val a = new Array[Byte](n); in.readFully(a); a
  }
  private def cstr(n: Int): String = {
    val a = bytes(n); new String(a, 0, n - 1, "US-ASCII") // drop trailing \0
  }

  private val SeqCodes = "=ACMGRSVTWYHKDBN".toCharArray
  private val CigarOps = "MIDNSHP=X".toCharArray
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (done) return false
    while (true) {
      // split ownership: emit only records STARTING in a member before
      // rangeEnd (memberStart is a member boundary, so `>= rangeEnd` is
      // exactly `>= first boundary at-or-after rangeEnd`)
      if (bgzf.memberStart >= rangeEnd) { done = true; current = null; return false }
      // clean end-of-stream is ONLY an EOF before the record's first
      // byte; an EOF anywhere inside a record is a truncated file and
      // must fail loudly, never read as a shorter-but-valid BAM
      val first = in.read()
      if (first < 0) { done = true; current = null; return false }
      val r =
        try decodeRecord(first) // null: pushed filter rejected the record
        catch {
          case e: EOFException => throw new java.io.IOException(
            s"truncated BAM record mid-decode in $path " +
              s"(member at ${bgzf.memberStart})", e)
        }
      if (r != null) { current = r; return true }
    }
    false
  }

  /** Decodes one record, or returns null if a pushed filter rejects it —
    * rejected records skip straight over the name/cigar/sequence/tag bytes
    * without decoding them (the bulk of a record). */
  private def corrupt(msg: String): Nothing = throw new java.io.IOException(
    s"corrupt BAM record in $path (member at ${bgzf.memberStart}): $msg")

  private def decodeRecord(firstByte: Int): InternalRow = {
    val blockSize = firstByte | (u8() << 8) | (u8() << 16) | (u8() << 24)
    // geometry guards BEFORE any length-driven allocation or skip: a
    // corrupt block_size / l_seq must raise a clear corruption error, not
    // a negative-size allocation, an absurd one, or a silent mis-decode
    if (blockSize < 32) corrupt(s"block_size $blockSize < 32")
    if (blockSize > (1 << 28)) corrupt(s"implausible block_size $blockSize")
    val refId = i32()
    val pos = i32()
    val lReadName = u8()
    val mapq = u8()
    i16() // bin
    val nCigar = i16()
    val flag = i16()
    val lSeq = i32()
    val nextRefId = i32()
    val nextPos = i32()
    val tlen = i32()
    if (lReadName < 1) corrupt("l_read_name 0 (must include the NUL)")
    if (lSeq < 0) corrupt(s"negative l_seq $lSeq")
    val geom = 32L + lReadName + 4L * nCigar + (lSeq + 1L) / 2 + lSeq
    if (geom > blockSize) corrupt(
      s"record geometry ($geom bytes) overflows block_size $blockSize")
    val rname0 = if (refId >= 0 && refId < refNames.length) refNames(refId) else "*"
    if (preds.nonEmpty &&
        !SamFilters.evalAll(preds, flag, mapq, pos + 1, rname0)) {
      var left = blockSize - 32 // fixed fields after block_size are 32 bytes
      while (left > 0) {
        val s = in.skipBytes(left)
        if (s > 0) left -= s else { u8(); left -= 1 } // u8 throws at EOF
      }
      return null
    }
    val readName = cstr(lReadName)
    val cigarWords = new Array[Int](nCigar)
    var c = 0
    while (c < nCigar) { cigarWords(c) = i32(); c += 1 }
    val packed = bytes((lSeq + 1) / 2) // must consume regardless of pruning
    val seq = if (!needSeq) "" else if (lSeq == 0) "*" else {
      val sb = new StringBuilder(lSeq)
      var i = 0
      while (i < lSeq) {
        val b = packed(i / 2) & 0xff
        sb.append(SeqCodes(if (i % 2 == 0) b >>> 4 else b & 0xf))
        i += 1
      }
      sb.toString
    }
    val qualBytes = bytes(lSeq)
    // per spec: 0xff-filled qual means "unavailable" (SAM text '*');
    // otherwise text is phred+33
    val qual = if (!needQual) "" else {
      var allMissing = true
      var i = 0
      while (allMissing && i < lSeq) {
        if (qualBytes(i) != -1) allMissing = false
        i += 1
      }
      if (lSeq == 0 || allMissing) "*"
      else {
        val sb = new StringBuilder(lSeq)
        var j = 0
        while (j < lSeq) { sb.append((qualBytes(j) + 33).toChar); j += 1 }
        sb.toString
      }
    }
    val tagBytes = bytes((blockSize - geom).toInt) // consume the record tail
    // SAM spec §4.2.2: `<l_seq>S<refLen>N` stands for a CIGAR of more
    // than 65535 ops, which its CG:B:I tag holds; that tag reads back as
    // the CIGAR, not as an attribute
    var longCigar: Array[Int] = null
    val attrs =
      if (nCigar == 2 && cigarWords(0) == ((lSeq << 4) | 4) &&
          (cigarWords(1) & 0xf) == 3) {
        val a = decodeTags(tagBytes, ops => longCigar = ops)
        if (needAttrs) a else ""
      } else if (needAttrs) decodeTags(tagBytes)
      else ""
    val cigar = cigarText(if (longCigar == null) cigarWords else longCigar)
    val rname = rname0
    val start = pos + 1
    // RNEXT text form: '*' unavailable, '=' same reference, else the name
    val rnext =
      if (nextRefId == -1) "*"
      else if (nextRefId == refId) "="
      else if (nextRefId >= 0 && nextRefId < refNames.length) refNames(nextRefId)
      else "*"
    val pnext = nextPos + 1
    lazy val line =
      s"$readName\t$flag\t$rname\t$start\t$mapq\t$cigar\t$rnext\t$pnext\t$tlen\t$seq\t$qual" +
        (if (attrs.isEmpty) "" else "\t" + attrs.replace(' ', '\t'))
    InternalRow.fromSeq(fields.map {
      case "line"          => UTF8String.fromString(line)
      case "readName"      => UTF8String.fromString(readName)
      case "flag"          => flag
      case "referenceName" => UTF8String.fromString(rname)
      case "start"         => start
      case "mapQ"          => mapq
      case "cigar"         => UTF8String.fromString(cigar)
      case "rnext"         => UTF8String.fromString(rnext)
      case "pnext"         => pnext
      case "tlen"          => tlen
      case "sequence"      => UTF8String.fromString(seq)
      case "qual"          => UTF8String.fromString(qual)
      case "attributes"    => UTF8String.fromString(attrs)
    }.toIndexedSeq)
  }

  /** SAM CIGAR text of BAM CIGAR words; `*` for none. */
  private def cigarText(words: Array[Int]): String =
    if (words.isEmpty) "*"
    else {
      val sb = new StringBuilder
      var i = 0
      while (i < words.length) {
        sb.append(words(i) >>> 4).append(CigarOps(words(i) & 0xf))
        i += 1
      }
      sb.toString
    }

  /** Typed optional tags → the SAM text form "TAG:TYPE:VALUE ..."
    * (whitespace-joined — the attribute convention the feature pipeline's
    * attrMap consumes; all integer widths normalize to SAM type `i`).
    * With `longCigar` set, a `CG:B:I` tag goes to it instead of the
    * text. */
  private def decodeTags(raw: Array[Byte],
      longCigar: Array[Int] => Unit = null): String = {
    val bb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = new StringBuilder
    while (bb.remaining() > 0) {
      val tag = "" + bb.get().toChar + bb.get().toChar
      val typ = bb.get().toChar
      val text = typ match {
        case 'A' => s"$tag:A:${bb.get().toChar}"
        case 'c' => s"$tag:i:${bb.get()}"
        case 'C' => s"$tag:i:${bb.get() & 0xff}"
        case 's' => s"$tag:i:${bb.getShort()}"
        case 'S' => s"$tag:i:${bb.getShort() & 0xffff}"
        case 'i' => s"$tag:i:${bb.getInt()}"
        case 'I' => s"$tag:i:${bb.getInt() & 0xffffffffL}"
        case 'f' => s"$tag:f:${bb.getFloat()}"
        case 'Z' | 'H' =>
          val sb = new StringBuilder
          var c = bb.get()
          while (c != 0) { sb.append(c.toChar); c = bb.get() }
          s"$tag:$typ:$sb"
        case 'B' if longCigar != null && tag == "CG" &&
            bb.get(bb.position()) == 'I' =>
          bb.get()
          longCigar(Array.fill(bb.getInt())(bb.getInt()))
          null
        case 'B' =>
          val sub = bb.get().toChar
          val n = bb.getInt()
          val vals = (0 until n).map { _ =>
            sub match {
              case 'c' => bb.get().toString
              case 'C' => (bb.get() & 0xff).toString
              case 's' => bb.getShort().toString
              case 'S' => (bb.getShort() & 0xffff).toString
              case 'i' => bb.getInt().toString
              case 'I' => (bb.getInt() & 0xffffffffL).toString
              case 'f' => bb.getFloat().toString
            }
          }
          s"$tag:B:$sub,${vals.mkString(",")}"
      }
      if (text != null) {
        if (out.nonEmpty) out.append(' ')
        out.append(text)
      }
    }
    out.toString
  }

  override def get(): InternalRow = current
  override def close(): Unit = { if (bgzf != null) bgzf.close(); ch.close() }
}
