package graft.sources

import java.io.{DataInputStream, EOFException}

import org.apache.hadoop.conf.Configuration

/** Tabix indexing for bgzip'd VCF — the `.tbi` sidecar `tabix -p vcf`
  * emits (written from the tabix paper, Li 2011, and the format section
  * of the htslib tabix manpage / SAM spec appendix) plus a `.csi`
  * variant for long contigs. These are what make a cohort VCF a
  * random-access artifact: region queries decode only the BGZF members
  * whose records can overlap, exactly like `.bai`/`.csi` for BAM.
  *
  * `.tbi` structure (itself BGZF-compressed, little-endian): magic
  * `TBI\1`; n_ref; the six config ints (format, col_seq, col_beg,
  * col_end, meta, skip); l_nm + NUL-terminated contig names (defining
  * refId order); per ref a BAI-shaped binned index (bin → chunks of
  * virtual offsets) plus the 16 kb linear index; optional n_no_coor.
  * Binning is EXACTLY BAI's six-level 2^29 scheme, so region queries
  * reuse [[BaiIndex.chunks]] verbatim via a [[BaiIndex.Bai]] view.
  *
  * `.csi` variant: the same accumulation written in [[CsiIndex]]'s
  * encoding with the tabix config + names as the aux blob (the layout
  * htslib stores for `tabix -C`), so contigs past 2^29 index correctly;
  * [[CsiIndex.read]] parses it back and [[names]] recovers the contig
  * order from aux.
  *
  * VCF coordinate rule (format=2): beg = POS−1 (0-based), end = beg +
  * max(1, len(REF)) widened by an INFO `END=` key when present (htslib's
  * VCF preset — spanning symbolic/structural records must index over
  * their whole span or external region queries miss them); both indexes
  * only ever SKIP members, never filter records, so a widened-in record
  * is re-filtered by the reader's predicate and correctness never
  * depends on the index. Build REQUIRES coordinate-sorted input and
  * raises loudly otherwise (an index over an unsorted file silently
  * drops region records — the CsiIndex.build rule). */
object Tabix {

  import BaiIndex.{Chunk, RefIndex}

  /** The tabix preset for VCF: sequence col 1, begin col 2, end col 0
    * (= derive from REF length), meta '#', skip 0. */
  val VcfFormat = 2
  private val LinearShift = 14

  /** Index interval end of one record — htslib's `tabix -p vcf` rule:
    * the reference footprint beg + max(1, len(REF)), WIDENED by an
    * `END=` INFO key when present (symbolic/structural variants span
    * far past their REF string; an END-blind interval would let an
    * external htslib region query silently miss spanning records —
    * ADVICE r13). VCF END is 1-based inclusive, so as a 0-based
    * half-open end it is the value itself. */
  private[sources] def recordEnd(beg: Long, f: Array[String]): Long = {
    val refEnd = beg + math.max(1L, f(3).length.toLong)
    if (f.length < 8) return refEnd
    math.max(refEnd, parseInfoEnd(f(7)))
  }

  /** Value of a whole `END=<digits>` INFO key (key boundary: start of
    * string or after ';'; value ends at ';' or end of string), or -1. */
  private[sources] def parseInfoEnd(info: String): Long = {
    var i = 0
    val n = info.length
    while (i >= 0 && i < n) {
      if (info.startsWith("END=", i)) {
        var j = i + 4
        var v = 0L
        var any = false
        while (j < n && info.charAt(j) >= '0' && info.charAt(j) <= '9') {
          v = v * 10 + (info.charAt(j) - '0'); j += 1; any = true
        }
        if (any && (j == n || info.charAt(j) == ';')) return v
      }
      // advance to the char after the next ';'
      val semi = info.indexOf(';', i)
      i = if (semi < 0) -1 else semi + 1
    }
    -1L
  }

  def sidecarPath(vcf: String): String = vcf + ".tbi"

  def exists(vcf: String, conf: Configuration = new Configuration()): Boolean =
    HadoopIO.freshSidecar(vcf, sidecarPath(vcf), conf)

  final case class Tbi(names: Array[String], bai: BaiIndex.Bai)

  // ---- the one accumulation: [[scanRangeVcf]] and index-on-write both
  // feed [[WriteAcc]]; [[mergeParts]] replays range results into an Acc

  private final class Acc {
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    val nameId = scala.collection.mutable.HashMap.empty[String, Int]
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.LinkedHashMap[Int,
        scala.collection.mutable.ArrayBuffer[Chunk]]]
    val lidx = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    var n = 0
  }

  /** The VCF record-interval parser of every tabix build: (contig, beg,
    * end) of one record line — beg = POS−1, end per [[recordEnd]] — or
    * null for a header or empty line. `where` names the line's place in
    * error messages. */
  private def interval(line: String, where: => String): (String, Long, Long) = {
    if (line.isEmpty || line.charAt(0) == '#') return null
    val f = line.split("\t", 9)
    require(f.length >= 4,
      s"malformed VCF record$where: '${line.take(40)}' has ${f.length} fields")
    val pos1 =
      try f(1).toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"malformed VCF POS '${f(1)}'$where")
      }
    val beg = pos1 - 1
    (f(0), beg, recordEnd(beg, f))
  }

  /** Tabix `.csi` binning: the linear index stays at 16 kb windows at any
    * min_shift (the encoder samples it for each bin's loffset). */
  private def csiScheme(minShift: Int, depth: Int): BaiIndex.BinScheme =
    BaiIndex.BinScheme(csi = true, minShift, depth, LinearShift)

  /** Build `<vcf>.tbi` (BGZF-compressed, the interoperable sidecar):
    * [[scanRangeVcf]] run once over the whole file on the calling thread —
    * the one-range case of [[buildDistributed]], no Spark job. Returns the
    * record count. */
  def build(vcf: String, conf: Configuration = new Configuration()): Int = {
    val acc = scanWhole(vcf, conf, BaiIndex.BinScheme.Bai)
    writeTbi(vcf, conf, acc)
    acc.n
  }

  private def scanWhole(vcf: String, conf: Configuration,
      scheme: BaiIndex.BinScheme): Acc = {
    val fileLen = fileLength(vcf, conf)
    mergeParts(vcf, Seq(scanRangeVcf(vcf, conf, 0L, fileLen, fileLen, scheme)))
  }

  private def fileLength(vcf: String, conf: Configuration): Long = {
    val f = new SeekableFile(vcf, conf)
    try f.size finally f.close()
  }

  // sidecar encoders: every build and index-on-write merge into the SAME
  // Acc shape, so sharing the byte encoders makes their sidecars
  // byte-identical
  private def writeTbi(vcf: String, conf: Configuration, acc: Acc): Unit = {
    val raw = HadoopIO.create(sidecarPath(vcf), conf)
    try {
      val out = new BgzfOutputStream(raw)
      def le32(v: Int): Unit = out.writeLe32(v)
      def le64(v: Long): Unit = {
        le32((v & 0xffffffffL).toInt); le32((v >>> 32).toInt)
      }
      out.write(Array[Byte]('T', 'B', 'I', 1))
      le32(acc.names.length)
      le32(VcfFormat); le32(1); le32(2); le32(0) // col_seq/col_beg/col_end
      le32('#'.toInt); le32(0) // meta, skip
      val nm = acc.names.map(_ + "\u0000").mkString.getBytes("US-ASCII")
      le32(nm.length); out.write(nm)
      acc.bins.indices.foreach { ri =>
        val bm = acc.bins(ri)
        le32(bm.size)
        bm.foreach { case (bin, cs) =>
          le32(bin); le32(cs.length)
          cs.foreach { c => le64(c.beg); le64(c.end) }
        }
        val lin = acc.lidx(ri)
        le32(lin.length)
        lin.foreach(le64)
      }
      le64(0L) // n_no_coor
      out.flushBlock()
      raw.write(BgzfOutputStream.EofMarker)
    } finally raw.close()
  }

  /** Build `<vcf>.csi` with the tabix aux payload (the `tabix -C` form;
    * for contigs past BAI's 2^29 cap) — the one-range case of
    * [[buildCsiDistributed]]. Encoding matches [[CsiIndex.read]]. */
  def buildCsi(vcf: String, conf: Configuration = new Configuration(),
      minShift: Int = 14, depth: Int = 5): Int = {
    val acc = scanWhole(vcf, conf, csiScheme(minShift, depth))
    writeCsiTabix(vcf, conf, acc, minShift, depth)
    acc.n
  }

  private def writeCsiTabix(vcf: String, conf: Configuration, acc: Acc,
      minShift: Int, depth: Int): Unit = {
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      HadoopIO.create(vcf + ".csi", conf)))
    try {
      def le32(v: Int): Unit = out.writeInt(Integer.reverseBytes(v))
      def le64(v: Long): Unit = out.writeLong(java.lang.Long.reverseBytes(v))
      out.write(Array[Byte]('C', 'S', 'I', 1))
      le32(minShift); le32(depth)
      val nm = acc.names.map(_ + "\u0000").mkString.getBytes("US-ASCII")
      le32(28 + nm.length) // l_aux: 7 config ints + names
      le32(VcfFormat); le32(1); le32(2); le32(0)
      le32('#'.toInt); le32(0); le32(nm.length)
      out.write(nm)
      le32(acc.names.length)
      // derive per-bin loffset from the linear index (htslib rule), as
      // CsiIndex.writeCsi does for BAM
      acc.bins.indices.foreach { ri =>
        val lin = acc.lidx(ri)
        def loff(bin: Int): Long = {
          // walk to the bin's level to find its interval start
          var l = 0
          while (l < depth && (((1 << (3 * (l + 1))) - 1) / 7) <= bin) l += 1
          val first = ((1 << (3 * l)) - 1) / 7
          val start = (bin - first).toLong << (minShift + 3 * (depth - l))
          val w0 = (start >> LinearShift).toInt
          if (w0 < lin.length) lin(w0)
          else if (lin.nonEmpty) lin.last else 0L
        }
        val bm = acc.bins(ri)
        le32(bm.size)
        bm.foreach { case (bin, cs) =>
          le32(bin); le64(loff(bin)); le32(cs.length)
          cs.foreach { c => le64(c.beg); le64(c.end) }
        }
      }
      le64(0L)
    } finally out.close()
  }

  // ---- distributed build: the same walk per byte range as one Spark job

  /** One range's pre-aggregated contribution: per-contig blocks in
    * discovery order (for the cross-seam sortedness replay and the
    * global refId order), per-(contig, bin) chunk runs already merged
    * WITHIN the range, per-(contig, window) linear minima, and the
    * record count. Contigs are carried by NAME — refIds are a global
    * discovery-order property only the merge can assign. Sized by bins
    * touched, not records: a task over 16 MB of a cohort VCF carries a
    * few KB back to the driver. */
  private final case class TaskTbx(
      blocks: Seq[(String, Long, Long)], // (contig, firstBeg, lastBeg)
      bins: Seq[((String, Int), Seq[Chunk])], // in-range discovery order
      linear: Seq[((String, Int), Long)],
      n: Long)

  /** Executor-parallel `.tbi` build over byte-range splits of a bgzip'd
    * coordinate-sorted VCF — [[BaiIndex.buildDistributed]]'s shape on the
    * text surface, with [[build]] as its one-range case. Tasks own the
    * BGZF members starting in their range, position at the first owned
    * line via [[Bgzf.openAtLineStart]] (the compressed-text seam protocol
    * every split scan uses), and run [[scanRangeVcf]]; the driver replays
    * task results in file order (record-order bin discovery), applies the
    * same same-member chunk-merge rule across seams, and verifies
    * sortedness across them. The sidecar is BYTE-IDENTICAL to [[build]]'s
    * (TabixDistributedSpec asserts exactly that). */
  def buildDistributed(s: org.apache.spark.sql.SparkSession, vcf: String,
      splitSize: Long = 16L * 1024 * 1024): Int = {
    val confBox = HadoopIO.capture()
    val acc = accumulateDistributed(s, vcf, confBox, splitSize,
      BaiIndex.BinScheme.Bai)
    writeTbi(vcf, confBox.conf, acc)
    acc.n
  }

  /** Executor-parallel tabix-`.csi` build; [[buildCsi]] is its one-range
    * case, so the two are byte-identical. */
  def buildCsiDistributed(s: org.apache.spark.sql.SparkSession, vcf: String,
      splitSize: Long = 16L * 1024 * 1024,
      minShift: Int = 14, depth: Int = 5): Int = {
    val confBox = HadoopIO.capture()
    val acc = accumulateDistributed(s, vcf, confBox, splitSize,
      csiScheme(minShift, depth))
    writeCsiTabix(vcf, confBox.conf, acc, minShift, depth)
    acc.n
  }

  private def accumulateDistributed(s: org.apache.spark.sql.SparkSession,
      vcf: String, confBox: HadoopIO.ConfBox, splitSize: Long,
      scheme: BaiIndex.BinScheme): Acc = {
    val fileLen = fileLength(vcf, confBox.conf)
    mergeParts(vcf, BaiIndex.splitScan(s, fileLen, splitSize) { (start, end) =>
      scanRangeVcf(vcf, confBox.conf, start, end, fileLen, scheme)
    })
  }

  /** Replay per-range/per-part accumulations in file order into one Acc:
    * global refIds in discovery order, cross-block sortedness rules,
    * same-member chunk merge across seams, unsigned-min linear merge,
    * htslib hole fill. Shared by every read-side build, one range or
    * many, and by index-on-write (whose parts arrive already shifted to
    * global virtual offsets). */
  private def mergeParts(vcf: String, parts: Iterable[TaskTbx]): Acc = {
    val acc = new Acc
    var lastRef = -1
    var lastBeg = -1L
    var total = 0L
    parts.foreach { p =>
      p.blocks.foreach { case (contig, firstBeg, blockLastBeg) =>
        val refId = acc.nameId.getOrElseUpdate(contig, {
          acc.names += contig
          acc.bins += scala.collection.mutable.LinkedHashMap.empty
          acc.lidx += scala.collection.mutable.ArrayBuffer.empty[Long]
          acc.names.length - 1
        })
        require(refId >= lastRef,
          s"$vcf: contig $contig reappears after a later contig across " +
            "split seams — tabix requires contiguous contig blocks")
        require(refId > lastRef || firstBeg >= lastBeg,
          s"$vcf is not coordinate-sorted across split seams " +
            s"($contig beg $firstBeg after refId $lastRef beg $lastBeg) — " +
            "a tabix index over an unsorted file silently drops region " +
            "records")
        lastRef = refId
        lastBeg = blockLastBeg
      }
      p.bins.foreach { case ((contig, bin), cs) =>
        val bcs = acc.bins(acc.nameId(contig)).getOrElseUpdate(bin,
          scala.collection.mutable.ArrayBuffer.empty[Chunk])
        cs.foreach { c =>
          if (bcs.nonEmpty && (bcs.last.end >>> 16) == (c.beg >>> 16))
            bcs(bcs.length - 1) = Chunk(bcs.last.beg, c.end)
          else bcs += c
        }
      }
      p.linear.foreach { case ((contig, w), v) =>
        val lin = acc.lidx(acc.nameId(contig))
        while (lin.length <= w) lin += 0L
        if (lin(w) == 0L ||
            java.lang.Long.compareUnsigned(v, lin(w)) < 0) lin(w) = v
      }
      total += p.n
    }
    require(total <= Int.MaxValue,
      s"$vcf: $total records overflow the record count")
    acc.n = total.toInt
    // fill linear holes with the previous window's value (htslib rule)
    acc.lidx.foreach { lin =>
      var w = 1
      while (w < lin.length) {
        if (lin(w) == 0L) lin(w) = lin(w - 1)
        w += 1
      }
    }
    acc
  }

  /** One range's record walk: own the lines whose first byte lives in a
    * member starting in [start, end) and feed each record to one
    * [[WriteAcc]] (within-range sortedness included). The sequential
    * builds run it once over the whole file; the distributed ones once
    * per task. */
  private def scanRangeVcf(vcf: String, conf: Configuration,
      start: Long, end: Long, fileLen: Long,
      scheme: BaiIndex.BinScheme): TaskTbx = {
    val acc = new WriteAcc(scheme, vcf)
    val file = new SeekableFile(vcf, conf)
    try {
      val firstMember =
        if (start == 0) 0L else Bgzf.nextMemberStart(file, start, fileLen)
      if (firstMember < end && firstMember < fileLen) {
        val in = Bgzf.openAtLineStart(file, firstMember, fileLen)
        try {
          val lb = new FastqLineBuf
          var done = false
          while (!done) {
            val (m0, u0) = in.virtualPos
            if (m0 >= end || m0 >= fileLen) done = true
            else {
              lb.reset()
              var b = in.read()
              if (b == -1) done = true
              else {
                while (b != -1 && b != '\n') { lb.append(b); b = in.read() }
                val rec = interval(lb.toLine, s" in $vcf at member $m0")
                if (rec != null) {
                  val (m1, u1) = in.virtualPos
                  acc.add(rec._1, rec._2, rec._3, (m0 << 16) | u0,
                    (m1 << 16) | u1)
                }
              }
            }
          }
        } finally in.close()
      }
    } finally file.close()
    acc.result
  }

  // ---- index-on-write: each [[TextSink]] commit task feeds tabix state
  // at write-side virtual offsets, and the driver relocates every part
  // into the committed file and reuses [[mergeParts]] and the shared
  // encoders, so the sidecar is byte-identical to a post-hoc
  // [[build]]/[[buildCsi]] over the finished file, without the re-read.

  /** The one per-record tabix rule for one bin scheme: contiguous contig
    * blocks, sorted positions within a block, the scheme's cap, bin
    * chunks with the same-member merge, first-touch linear minima. Fed by
    * [[scanRangeVcf]] and, at write-side virtual positions, by
    * [[VcfWriteIndexer]]. Linear minima use PRESENCE checks, never a 0L
    * sentinel: part-LOCAL voffset 0 is a real position (the part's first
    * record). Voffsets are monotone within one feed, so first touch ==
    * minimum. */
  private final class WriteAcc(scheme: BaiIndex.BinScheme, what: String) {
    private val blocks =
      scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    private val bins = scala.collection.mutable.LinkedHashMap
      .empty[(String, Int), scala.collection.mutable.ArrayBuffer[Chunk]]
    private val linear =
      scala.collection.mutable.LinkedHashMap.empty[(String, Int), Long]
    private val seen = scala.collection.mutable.HashSet.empty[String]
    private var curContig: String = null
    private var lastBeg = -1L
    private var n = 0L

    def add(contig: String, beg: Long, end: Long,
        vBeg: Long, vEnd: Long): Unit = {
      scheme.requireBinnable(what, beg, end)
      if (contig != curContig) {
        require(seen.add(contig),
          s"$what: contig $contig reappears after a later contig — tabix " +
            "requires contiguous contig blocks")
        curContig = contig
        blocks += ((contig, beg, beg))
      } else {
        require(beg >= lastBeg,
          s"$what is not coordinate-sorted ($contig beg $beg after beg " +
            s"$lastBeg) — a tabix index over an unsorted file silently " +
            "drops region records")
        val (c, fb, _) = blocks.last
        blocks(blocks.length - 1) = (c, fb, beg)
      }
      lastBeg = beg
      val bcs = bins.getOrElseUpdate((contig, scheme.binOf(beg, end)),
        scala.collection.mutable.ArrayBuffer.empty[Chunk])
      if (bcs.nonEmpty && (bcs.last.end >>> 16) == (vBeg >>> 16))
        bcs(bcs.length - 1) = Chunk(bcs.last.beg, vEnd)
      else bcs += Chunk(vBeg, vEnd)
      var w = (beg >> scheme.linShift).toInt
      val wEnd = ((end - 1) >> scheme.linShift).toInt
      while (w <= wEnd) {
        val k = (contig, w)
        if (!linear.contains(k)) linear(k) = vBeg
        w += 1
      }
      n += 1
    }

    def result: TaskTbx = TaskTbx(blocks.toSeq,
      bins.toSeq.map { case (k, v) => (k, v.toSeq) }, linear.toSeq, n)
  }

  /** [[TextSink.PartIndexer]] for VCF: parse each rendered record line
    * with the post-hoc builders' [[interval]] and feed every requested
    * scheme's [[WriteAcc]]. Header lines never reach the indexer (the
    * commit writes the header on the driver), but '#' is guarded
    * anyway. */
  private final class VcfWriteIndexer(schemes: Seq[BaiIndex.BinScheme],
      out: String) extends TextSink.PartIndexer[Seq[TaskTbx]] {
    private val accs = schemes.map(new WriteAcc(_, out))
    override def add(row: org.apache.spark.sql.Row, vBeg: Long,
        vEnd: Long): Unit = {
      val rec = interval(row.getString(0), s" written to $out")
      if (rec != null) accs.foreach(_.add(rec._1, rec._2, rec._3, vBeg, vEnd))
    }
    override def result: Seq[TaskTbx] = accs.map(_.result)
  }

  /** [[TextSink.write]] + index-on-write in one call: stream `lines`
    * (rendered, coordinate-sorted VCF record lines) under `header` to
    * the bgzip'd `out`, emitting the requested sidecar(s) from the
    * write itself — byte-identical to a post-hoc [[build]]/[[buildCsi]]
    * over the finished file (VcfIndexOnWriteSpec), with no post-write
    * re-read. Returns the line count. */
  def writeIndexedVcf(header: Seq[String],
      lines: org.apache.spark.sql.DataFrame, out: String,
      tbi: Boolean = true, csi: Boolean = false,
      minShift: Int = 14, depth: Int = 5): Long = {
    require(tbi || csi, "writeIndexedVcf: no sidecar form requested")
    require(out.endsWith(".gz") || out.endsWith(".bgz"),
      s"writeIndexedVcf: '$out' is plain text — tabix virtual offsets " +
        "only exist inside BGZF members")
    val schemes = (if (tbi) Seq(BaiIndex.BinScheme.Bai) else Nil) ++
      (if (csi) Seq(csiScheme(minShift, depth)) else Nil)
    val (n, parts) = TextSink.writeLines(header, lines, out,
      () => new VcfWriteIndexer(schemes, out))
    finishIndexOnWrite(out, HadoopIO.driverConf(), parts, schemes,
      minShift, depth)
    n
  }

  /** Driver-side finisher: relocate each part's accumulations into the
    * committed file ([[TextSink.Relocation]]: chunk begins and linear
    * minima shift, chunk ends also take the part-tail rule) and encode
    * one sidecar per scheme. */
  private def finishIndexOnWrite(vcf: String, conf: Configuration,
      parts: Seq[(Seq[TaskTbx], TextSink.Relocation)],
      schemes: Seq[BaiIndex.BinScheme], minShift: Int, depth: Int): Unit =
    schemes.zipWithIndex.foreach { case (scheme, si) =>
      val acc = mergeParts(vcf, parts.map { case (ts, at) =>
        val t = ts(si)
        TaskTbx(t.blocks,
          t.bins.map { case (k, cs) =>
            (k, cs.map(c => Chunk(at.pos(c.beg), at.end(c.end))))
          },
          t.linear.map { case (k, v) => (k, at.pos(v)) },
          t.n)
      })
      if (scheme.csi) writeCsiTabix(vcf, conf, acc, minShift, depth)
      else writeTbi(vcf, conf, acc)
    }

  def read(vcf: String, conf: Configuration = new Configuration()): Tbi = {
    val file = new SeekableFile(sidecarPath(vcf), conf)
    try {
      val in = new DataInputStream(new java.io.BufferedInputStream(
        new BgzfInputStream(file, 0L), 1 << 16))
      def le32(): Int = Integer.reverseBytes(in.readInt())
      def le64(): Long = java.lang.Long.reverseBytes(in.readLong())
      def counted(what: String): Int = {
        val n = le32()
        require(n >= 0 && n <= (1 << 26),
          s"corrupt .tbi for $vcf: $what $n")
        n
      }
      val magic = new Array[Byte](4); in.readFully(magic)
      require(magic.sameElements(Array[Byte]('T', 'B', 'I', 1)),
        s"bad .tbi sidecar for $vcf")
      val nRef = counted("n_ref")
      le32(); le32(); le32(); le32(); le32(); le32() // config ints
      val lNm = counted("l_nm")
      val nm = new Array[Byte](lNm); in.readFully(nm)
      val names = new String(nm, "US-ASCII").split("\u0000").filter(_.nonEmpty)
      require(names.length == nRef,
        s"corrupt .tbi for $vcf: ${names.length} names for $nRef refs")
      val refs = Array.fill(nRef) {
        val bins = (0 until counted("n_bin")).map { _ =>
          val bin = le32()
          bin -> Array.fill(counted("n_chunk"))(Chunk(le64(), le64()))
        }.toMap
        val linear = Array.fill(counted("n_intv"))(le64())
        RefIndex(bins, linear)
      }
      val noCoor = try le64() catch { case _: EOFException => 0L }
      Tbi(names, BaiIndex.Bai(refs, noCoor))
    } finally file.close()
  }

  /** CLI parity with `tabix -p vcf` / `tabix -C` (and the BamIndex main):
    * `runMain graft.sources.Tabix [--csi] [--distributed] file.vcf.gz
    * [more ...]`. `--distributed` fans the record scan out over a Spark
    * job — the form a cohort-scale VCF indexes with. */
  def main(args: Array[String]): Unit = {
    val (flags, paths) = args.partition(_.startsWith("--"))
    require(paths.nonEmpty,
      "usage: Tabix [--csi] [--distributed] <file.vcf.gz> [more.vcf.gz ...]")
    val csi = flags.contains("--csi")
    val dist = flags.contains("--distributed")
    val spark = if (dist) Some(org.apache.spark.sql.SparkSession.builder()
      .appName("graft-tabix").getOrCreate()) else None
    try paths.foreach { p =>
      val n = spark match {
        case Some(s) => if (csi) buildCsiDistributed(s, p)
          else buildDistributed(s, p)
        case None => if (csi) buildCsi(p) else build(p)
      }
      val side = if (csi) p + ".csi" else sidecarPath(p)
      println(s"[tabix] indexed $p: $n records -> $side")
    } finally spark.foreach(_.stop())
  }

  /** Contig names out of a tabix-flavoured CSI aux blob. */
  def csiNames(aux: Array[Byte]): Array[String] = {
    require(aux.length >= 28, s"CSI aux too short for tabix config: ${aux.length}")
    def le32(o: Int): Int =
      (aux(o) & 0xff) | ((aux(o + 1) & 0xff) << 8) |
        ((aux(o + 2) & 0xff) << 16) | ((aux(o + 3) & 0xff) << 24)
    val lNm = le32(24)
    require(lNm >= 0 && 28 + lNm <= aux.length,
      s"corrupt tabix CSI aux: l_nm $lNm of ${aux.length}")
    new String(aux, 28, lNm, "US-ASCII").split("\u0000").filter(_.nonEmpty)
  }
}
