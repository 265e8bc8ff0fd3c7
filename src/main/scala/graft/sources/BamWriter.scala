package graft.sources

import java.io.OutputStream
import java.util.zip.{CRC32, Deflater}

import org.apache.spark.sql.{DataFrame, Row}

/** Single-file BAM sink (reference K1 parity: `saveAsSam(..., BAM,
  * asSingleFile=true)`, `MTClassify.scala:204`), written from the SAM/BAM
  * v1.6 spec. It commits through [[TextSink.commit]] in BGZF form: encode
  * and deflate, the actual CPU cost, run in executors, each task
  * streaming its partition as one self-contained run of BGZF members to
  * its own part file, and the driver only concatenates the parts behind
  * the header and appends the EOF marker (hadoop-bam's part-file merge,
  * which the reference relied on). No record bytes transit the driver.
  * What is BAM-specific lives here: the header payload, the record
  * [[encode]], the index accumulator feed and the `.bai`/`.csi`
  * choice. */
object BamWriter {

  /** 4-bit base code by ASCII char; any other char encodes as `N` (15). */
  private val SeqCode: Array[Int] = asciiTable("=ACMGRSVTWYHKDBN", 15)
  /** BAM CIGAR op code by ASCII char; -1 for a char that is no op. */
  private val CigarOp: Array[Int] = asciiTable("MIDNSHP=X", -1)

  private def asciiTable(alphabet: String, other: Int): Array[Int] = {
    val t = Array.fill(128)(other)
    var i = 0
    while (i < alphabet.length) { t(alphabet.charAt(i)) = i; i += 1 }
    t
  }

  /** Read header text + reference dictionary from an existing BAM
    * (driver-side; headers are KB-sized) through [[BamHeader]]. */
  def readHeader(path: String): (String, Seq[(String, Int)]) = {
    val h = BamHeader.read(path, HadoopIO.driverConf())
    (h.text, h.refs.toSeq)
  }

  /** COORDINATE SORT + single-file write — the in-engine replacement for
    * the one external tool the reference workflow still shells out to
    * (`samtools sort`, `scripts/alignToMT.sh:70`; the reference REQUIRES
    * coordinate-sorted input and delegates producing it,
    * `README.md:23,32`). Sort key is (reference-dictionary ORDINAL,
    * start) — the SAM-spec coordinate order, which is the HEADER's
    * contig order, not the names' lexicographic order (chr10 < chr2
    * lexicographically; the x16 gate uses a non-alphabetical dictionary
    * so a name-sorting regression fails loudly). Unmapped records
    * (refName absent from the dictionary, e.g. "*") sort LAST — the
    * samtools convention — and still encode as refId −1.
    *
    * Scale shape: `repartitionByRange` samples the key space and
    * assigns ascending key ranges to ascending partition ids — a contig
    * larger than one partition splits across consecutive ranges, so
    * balance survives the human-genome shape (two contigs = 60% of
    * bases). Each task then sorts ONLY its range (spillable external
    * sort) and streams it as BGZF members; [[write]] concatenates the
    * part-files in partition order, so ascending ranges + sorted
    * partitions = a globally coordinate-sorted file with no driver-side
    * sort and no single-reducer stage. This is exactly samtools
    * sort's merge shape, distributed. */
  def sortAndWrite(records: DataFrame, headerText: String,
      refs: Seq[(String, Int)], out: String, numPartitions: Int = 0,
      index: Boolean = false): Long = {
    import org.apache.spark.sql.functions._
    val s = records.sparkSession
    val n = if (numPartitions > 0) numPartitions
      else s.conf.get("spark.sql.shuffle.partitions").toInt
    val ordMap = typedLit(refs.map(_._1).zipWithIndex.toMap)
    val sorted = records
      .withColumn("__ref_ord",
        coalesce(try_element_at(ordMap, col("referenceName")),
          lit(Int.MaxValue)))
      .repartitionByRange(n, col("__ref_ord"), col("start"))
      .sortWithinPartitions(col("__ref_ord"), col("start"))
    write(sorted, headerText, refs, out, index)
  }

  /** BAM CIGAR words (`len << 4 | op`) of a SAM CIGAR string: one per
    * digit run followed by one of `MIDNSHP=X`. Any other char (`*`, or a
    * stray one) ends the pending run and yields no word, as a
    * `(\d+)([MIDNSHP=X])` match would skip it. */
  private def cigarOps(cigar: String): Array[Int] = {
    val out = new Array[Int](cigar.length / 2) // a word takes >= 2 chars
    var k = 0
    var num = 0
    var digits = false
    var i = 0
    while (i < cigar.length) {
      val c = cigar.charAt(i)
      if (c >= '0' && c <= '9') { num = num * 10 + (c - '0'); digits = true }
      else {
        val op = if (c < 128) CigarOp(c) else -1
        if (digits && op >= 0) { out(k) = (num << 4) | op; k += 1 }
        num = 0
        digits = false
      }
      i += 1
    }
    if (k == out.length) out else java.util.Arrays.copyOf(out, k)
  }

  /** Reference-consumed length (M/D/N/=/X) of CIGAR words, 0 for none —
    * what [[BaiIndex.endPos]] spans a mapped record by. */
  private def refLen(ops: Array[Int]): Int = {
    var len = 0
    var i = 0
    while (i < ops.length) {
      val op = ops(i) & 0xf
      if (op == 0 || op == 2 || op == 3 || op == 7 || op == 8)
        len += ops(i) >>> 4
      i += 1
    }
    len
  }

  private def cigarRefLen(cigar: String): Int = refLen(cigarOps(cigar))

  /** Write `records` (the sam/bam source schema) as one BAM file
    * through [[TextSink.commit]]; returns the record count.
    *
    * With `index = true` (requires coordinate-sorted input —
    * [[sortAndWrite]]'s contract, enforced loudly per task and across
    * part seams) the write ALSO emits the index FROM THE WRITE ITSELF:
    * each task feeds its records to the accumulator the post-hoc split
    * walk uses ([[BaiIndex.BamAcc]]) at write-side virtual offsets, and
    * the driver relocates the parts ([[BaiIndex.relocate]]) and reuses the
    * build's merge and encoder. The sidecar is BYTE-IDENTICAL to
    * [[BaiIndex.build]] re-run over the finished file (BamWriterSpec pins
    * it), without the full re-read. `.bai` addresses [0, 2^29) only, so a
    * dictionary with a longer contig (wheat chromosomes, concatenated
    * pangenome contigs) gets a `.csi` instead, samtools' long-reference
    * behaviour, at min_shift 14 and the smallest depth covering the
    * longest contig: byte-identical to [[CsiIndex.build]] at the same
    * (min_shift, depth) (BamWriterCsiSpec pins it). The accumulation is
    * scheme-agnostic (CSI at min_shift 14 shares BAI's 16 kb window), so
    * only the bin function and the encoder differ. */
  def write(records: DataFrame, headerText: String,
      refs: Seq[(String, Int)], out: String, index: Boolean = false): Long = {
    val refIndex = refs.map(_._1).zipWithIndex.toMap
    val maxContigLen = if (refs.isEmpty) 0 else refs.map(_._2).max
    val useCsi = index && maxContigLen > BaiIndex.MaxPos
    var depth = 5
    while (maxContigLen > CsiIndex.maxPos(14, depth)) depth += 1
    val csiDepth = depth // stable local for the task closures
    val scheme =
      if (useCsi) BaiIndex.BinScheme.bamCsi(14, csiDepth)
      else BaiIndex.BinScheme.Bai
    val nRef = refs.size
    val indexer: () => TextSink.PartIndexer[BaiIndex.TaskBai] =
      if (!index) null
      else () => new TextSink.PartIndexer[BaiIndex.TaskBai] {
        private val acc = new BaiIndex.BamAcc(scheme, nRef, out)
        def add(r: Row, vBeg: Long, vEnd: Long): Unit = {
          val pos = r.getInt(3) - 1
          val flag = r.getInt(1)
          acc.add(refIndex.getOrElse(r.getString(2), -1), pos,
            BaiIndex.endPos(pos, flag, cigarRefLen(r.getString(5))),
            flag, vBeg, vEnd)
        }
        def result: BaiIndex.TaskBai = acc.result
      }
    val (n, parts) = TextSink.commit(
      records.select("readName", "flag", "referenceName", "start", "mapQ",
        "cigar", "rnext", "pnext", "tlen", "sequence", "qual", "attributes"),
      out, headerPayload(headerText, refs), bgzf = true,
      r => encode(r, refIndex, csiDepth), indexer)
    if (index) {
      val conf = records.sparkSession.sparkContext.hadoopConfiguration
      val (bins, linear, noCoor, _, stats) = BaiIndex.mergeTasks(
        parts.map { case (t, at) => BaiIndex.relocate(t, at) }.toArray,
        nRef, out)
      if (useCsi) CsiIndex.writeCsi(out, conf, 14, csiDepth, bins, linear,
        noCoor, stats)
      else BaiIndex.writeBai(out, conf, bins, linear, noCoor, stats)
    }
    n
  }

  /** The BAM header payload (SAM spec §4.2): magic, text, dictionary. */
  private def headerPayload(headerText: String, refs: Seq[(String, Int)])
      : Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      b.write(v); b.write(v >>> 8); b.write(v >>> 16); b.write(v >>> 24)
    }
    val text = headerText.getBytes("US-ASCII")
    le32(0x014d4142) // "BAM\1" little-endian
    le32(text.length)
    b.write(text)
    le32(refs.size)
    refs.foreach { case (name, len) =>
      val nb = (name + "\u0000").getBytes("US-ASCII")
      le32(nb.length); b.write(nb); le32(len)
    }
    b.toByteArray
  }

  /** The record's `bin` field (SAM spec §4.2.1): reg2bin over
    * [pos, [[BaiIndex.endPos]]), the index builders' span, so an
    * unplaced record (pos -1) gets 4680. BAI bins address [0, 2^29);
    * past that the field carries the CSI bin at the writer's depth, cut to
    * the field's 16 bits. */
  private def recordBin(pos: Int, flag: Int, cigarOps: Array[Int],
      csiDepth: Int): Int = {
    val end = BaiIndex.endPos(pos, flag, refLen(cigarOps))
    if (pos < 0) BaiIndex.reg2bin(-1, 0)
    else if (end <= BaiIndex.MaxPos) BaiIndex.reg2bin(pos, end.toInt)
    else CsiIndex.reg2bin(pos.toLong, end, 14, csiDepth) & 0xffff
  }

  private def encode(r: Row, refIndex: Map[String, Int], csiDepth: Int)
      : Array[Byte] = {
    val readName = r.getString(0)
    val flag = r.getInt(1)
    // loud on an unknown contig (ADVICE r14): getOrElse(-1) silently
    // encoded a typo'd referenceName as unplaced in BOTH the BAM and the
    // write-side .bai — the read then vanishes from every region query.
    // Only the literal '*' means unplaced; anything else must be in the
    // header dictionary (the loud-unsorted discipline).
    def refIdOf(name: String): Int =
      if (name == "*") -1
      else refIndex.getOrElse(name, throw new IllegalArgumentException(
        s"BamWriter: reference '$name' (read '$readName') is not in the " +
          s"header dictionary — encoding it as unplaced would silently " +
          "drop it from every region query"))
    val refId = refIdOf(r.getString(2))
    val start = r.getInt(3)
    val mapq = r.getInt(4)
    val cigar = r.getString(5)
    val rnext = r.getString(6)
    val pnext = r.getInt(7)
    val tlen = r.getInt(8)
    // SEQ `*` (no sequence stored) is l_seq 0, with no seq or qual bytes
    val seq = r.getString(9) match { case "*" => ""; case s => s }
    val qual = r.getString(10)
    val attrs = r.getString(11)
    val nextRefId = rnext match {
      case "*" => -1
      case "=" => refId
      case nm  => refIdOf(nm) // same loud-unknown-contig discipline
    }

    // fixed-width fields refuse a value they cannot hold: a wrapped
    // l_read_name corrupts the record, a wrapped MAPQ or FLAG misreads
    def refuse(what: String): Nothing = throw new IllegalArgumentException(
      s"BamWriter: read '$readName' $what")
    val name = (readName + "\u0000").getBytes("US-ASCII")
    if (name.length > 0xff) refuse(s"has a ${readName.length}-char QNAME " +
      "(l_read_name holds at most 254 chars and the NUL)")
    if (mapq < 0 || mapq > 0xff) refuse(s"has MAPQ $mapq (uint8)")
    if (flag < 0 || flag > 0xffff) refuse(s"has FLAG $flag (uint16)")
    // n_cigar is 16 bits: a longer CIGAR is stored as `<l_seq>S<refLen>N`
    // with the real ops in a trailing CG:B:I tag (SAM spec §4.2.2); the
    // placeholder spans the same reference length, so `bin` is unchanged
    val realOps = cigarOps(cigar)
    val longCigar = realOps.length > 0xffff
    val ops =
      if (!longCigar) realOps
      else Array((seq.length << 4) | 4, (refLen(realOps) << 4) | 3)
    val packed = new Array[Byte]((seq.length + 1) / 2)
    var i = 0
    while (i < seq.length) {
      val c = seq.charAt(i)
      val code = if (c < 128) SeqCode(c) else 15
      packed(i / 2) = (packed(i / 2) |
        (if (i % 2 == 0) code << 4 else code)).toByte
      i += 1
    }
    val tags = new java.io.ByteArrayOutputStream()
    def le(v: Int, bytes: Int): Unit = {
      var k = 0
      while (k < bytes) { tags.write(v >>> (8 * k)); k += 1 }
    }
    attrs.split("\\s+").filter(_.nonEmpty).foreach { t =>
      val Array(tag, typ, value) = t.split(":", 3)
      if (longCigar && tag == "CG") refuse(s"has ${realOps.length} CIGAR " +
        "ops and its own CG tag, where the real ops must go")
      tags.write(tag.charAt(0)); tags.write(tag.charAt(1))
      typ match {
        case "i" =>
          // SAM text has one integer type, and the bam source emits every
          // integer type (c C s S i I) as `i`; BAM stores each value at
          // the smallest type that holds it, by htslib `sam_parse1`'s rule:
          // a signed type for text starting with '-', unsigned otherwise
          val v = value.toLong
          require(v >= Int.MinValue && v <= 0xffffffffL,
            s"BamWriter: tag '$t' is out of the int32/uint32 range")
          val (code, width) =
            if (value.charAt(0) == '-')
              if (v >= Byte.MinValue) ('c', 1)
              else if (v >= Short.MinValue) ('s', 2)
              else ('i', 4)
            else if (v <= 0xffL) ('C', 1)
            else if (v <= 0xffffL) ('S', 2)
            else ('I', 4)
          tags.write(code)
          le(v.toInt, width)
        case "Z" | "H" =>
          tags.write(typ.head)
          value.getBytes("US-ASCII").foreach(b => tags.write(b))
          tags.write(0)
        case "A" => tags.write('A'); tags.write(value.head)
        case "f" =>
          tags.write('f')
          le(java.lang.Float.floatToIntBits(value.toFloat), 4)
        case "B" =>
          // `B:sub[,v1,...]` (spec §4.2.4): subtype, int32 count, values
          require(value.nonEmpty && (value.length == 1 || value(1) == ','),
            s"BamWriter: malformed array tag '$t'")
          val sub = value.head
          val vals =
            if (value.length <= 2) Array.empty[String]
            else value.substring(2).split(",", -1)
          val (lo, hi, width) = sub match {
            case 'c' => (Byte.MinValue.toLong, Byte.MaxValue.toLong, 1)
            case 'C' => (0L, 0xffL, 1)
            case 's' => (Short.MinValue.toLong, Short.MaxValue.toLong, 2)
            case 'S' => (0L, 0xffffL, 2)
            case 'i' => (Int.MinValue.toLong, Int.MaxValue.toLong, 4)
            case 'I' => (0L, 0xffffffffL, 4)
            case 'f' => (0L, 0L, 4) // floats: no integer range check
            case other => sys.error(s"unsupported tag type B:$other in $t")
          }
          tags.write('B'); tags.write(sub); le(vals.length, 4)
          vals.foreach { x =>
            if (sub == 'f') le(java.lang.Float.floatToIntBits(x.toFloat), 4)
            else {
              val v = x.toLong
              require(v >= lo && v <= hi,
                s"BamWriter: '$x' is out of range for B:$sub in '$t'")
              le(v.toInt, width)
            }
          }
        case other => sys.error(s"unsupported tag type $other in $t")
      }
    }
    if (longCigar) {
      tags.write('C'); tags.write('G'); tags.write('B'); tags.write('I')
      le(realOps.length, 4)
      realOps.foreach(le(_, 4))
    }

    val body = java.nio.ByteBuffer.allocate(
        32 + name.length + 4 * ops.length + packed.length + seq.length + tags.size())
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    body.putInt(refId).putInt(start - 1)
    body.put(name.length.toByte).put(mapq.toByte)
      .putShort(recordBin(start - 1, flag, ops, csiDepth).toShort)
    body.putShort(ops.length.toShort).putShort(flag.toShort)
    body.putInt(seq.length).putInt(nextRefId).putInt(pnext - 1).putInt(tlen)
    body.put(name)
    i = 0
    while (i < ops.length) { body.putInt(ops(i)); i += 1 }
    body.put(packed)
    i = 0
    if (qual == "*" || qual.length != seq.length)
      while (i < seq.length) { body.put(0xff.toByte); i += 1 } // unavailable
    else
      while (i < seq.length) { body.put((qual.charAt(i) - 33).toByte); i += 1 }
    body.put(tags.toByteArray)

    val full = java.nio.ByteBuffer.allocate(4 + body.position())
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    full.putInt(body.position())
    full.put(body.array(), 0, body.position())
    full.array()
  }
}

/** BGZF-framing output stream: buffers payload to ~60 KB, emits each
  * buffer as one gzip member with the BC extra subfield, appends the
  * spec's 28-byte EOF marker on close.
  *
  * BSIZE is a uint16, so a member (header + deflate + trailer) must stay
  * ≤ 65535 bytes. Payloads are capped at 60 KB BEFORE appending: a write
  * that would overflow the cap emits the pending member first, and a
  * single write larger than the cap is split across members (records span
  * BGZF members freely per spec). Worst-case deflate of 60 KB
  * (incompressible → stored blocks, ~5 bytes/16 KB overhead) plus the
  * 26-byte framing stays well under 65535. */
class BgzfOutputStream(out: OutputStream) extends OutputStream {
  private val MaxPayload = 60 * 1024
  private val buf = new java.io.ByteArrayOutputStream(MaxPayload + 1024)
  private var emitted = 0L // compressed bytes written to `out` so far

  /** Virtual position (memberFileOffset, offsetInPayload) of the NEXT
    * byte to be written — the write-side mirror of
    * [[BgzfInputStream.virtualPos]], for index-on-write. A full pending
    * buffer is emitted first so the answer matches the READ side's
    * convention at member boundaries (the reader reports a record ending
    * exactly at a member end as (nextMember, 0), never
    * (member, maxPayload)). */
  def virtualPos: (Long, Int) = {
    if (buf.size() >= MaxPayload) emitBlock()
    (emitted, buf.size())
  }

  override def write(b: Int): Unit = {
    if (buf.size() + 1 > MaxPayload) emitBlock()
    buf.write(b)
  }
  override def write(b: Array[Byte], off: Int, len: Int): Unit = {
    var o = off
    var left = len
    while (left > 0) {
      val space = MaxPayload - buf.size()
      if (space == 0) emitBlock()
      else {
        val k = math.min(space, left)
        buf.write(b, o, k)
        o += k
        left -= k
      }
    }
  }
  def writeLe32(v: Int): Unit =
    write(Array[Byte](v.toByte, (v >>> 8).toByte, (v >>> 16).toByte,
      (v >>> 24).toByte), 0, 4)

  /** Emit any buffered payload as a member WITHOUT the EOF marker or
    * closing the sink — used by writers that concatenate member runs
    * (header + per-partition chunks) into one file. */
  def flushBlock(): Unit = if (buf.size() > 0) emitBlock()

  private def emitBlock(): Unit = {
    val payload = buf.toByteArray
    buf.reset()
    val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    deflater.setInput(payload); deflater.finish()
    val cbuf = new Array[Byte](payload.length + 64)
    var clen = 0
    while (!deflater.finished())
      clen += deflater.deflate(cbuf, clen, cbuf.length - clen)
    deflater.end()
    val crc = new CRC32(); crc.update(payload)
    val bsize = clen + 25 // total block size (18 + clen + 8) minus 1, per spec
    val header = Array[Byte](0x1f, 0x8b.toByte, 8, 4, 0, 0, 0, 0, 0, 0xff.toByte,
      6, 0, 'B', 'C', 2, 0, (bsize & 0xff).toByte, ((bsize >>> 8) & 0xff).toByte)
    out.write(header)
    out.write(cbuf, 0, clen)
    val tr = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    tr.putInt(crc.getValue.toInt).putInt(payload.length)
    out.write(tr.array())
    emitted += header.length + clen + 8
  }

  override def close(): Unit = {
    if (buf.size() > 0) emitBlock()
    out.write(BgzfOutputStream.EofMarker)
    out.close()
  }
}

object BgzfOutputStream {
  /** The spec's 28-byte empty-member EOF marker (SAM v1.6 §4.1.2),
    * appended exactly once per FILE. */
  val EofMarker: Array[Byte] =
    "1f8b08040000000000ff0600424302001b0003000000000000000000"
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
}
