package graft.sources

import java.io.{DataInputStream, DataOutputStream, EOFException}

import org.apache.hadoop.conf.Configuration

/** Reader/writer for the standard BAI index format (SAM spec §5.2-5.3) —
  * compatibility with samtools-indexed BAMs.
  *
  * The reference's published workflow assumes `samtools index`ed input
  * (/root/reference/README.md:23,32 and scripts/mitoscape.sh:39-46): a
  * user switching to this library already HAS `.bai` sidecars next to
  * every sorted BAM. The graft-native `.gai` (BamIndex) stays the richer
  * index — per-member coordinate stats prune arbitrary predicate shapes
  * and position every split exactly — but when only a `.bai` exists, a
  * region-shaped pushed predicate (referenceName equality + `start`
  * bounds) prunes through it instead of falling back to a full scan.
  *
  * Format (all little-endian): magic "BAI\1", n_ref; per reference a
  * binned index (6-level R-tree over [0, 2^29), bin numbers per the
  * spec's reg2bin) of chunks — (beg, end) BGZF VIRTUAL offsets, i.e.
  * `(memberFileOffset << 16) | uncompressedOffsetInMember` — plus a
  * linear index of 16 kb windows → lowest voffset of a record whose span
  * touches the window; then an optional count of unplaced reads.
  * `BgzfInputStream.virtualPos` returns exactly the (member, offset)
  * pair a voffset packs, so positioning by chunk start needs no guessing.
  *
  * Pruning model: chunks for a region are a SUPERSET of the records whose
  * span overlaps it (bin granularity), and the planner widens them further
  * to whole BGZF members ([[memberRuns]]), the member-granularity runs it
  * plans partitions from. Every widened-in record
  * is still filtered by the per-record pushed predicate evaluation, so
  * the index only ever SKIPS work, never changes results (BaiIndexSpec
  * pins indexed ≡ unindexed on both single- and multi-split scans).
  */
object BaiIndex {

  /** One contiguous run of records in virtual-offset space. */
  final case class Chunk(beg: Long, end: Long)
  /** One reference's index: bin → chunks, plus the 16 kb linear index. */
  final case class RefIndex(bins: Map[Int, Array[Chunk]], linear: Array[Long])
  final case class Bai(refs: Array[RefIndex], noCoor: Long)

  /** Per-reference record statistics carried by the htslib PSEUDO-BIN
    * (SAM spec §5.2, bin 37450 for BAI; the scheme's max bin + 2 for
    * CSI): virtual offsets of the reference's first/last record and its
    * mapped/unmapped (FLAG 0x4, coordinate-placed) segment counts.
    * Emitting it makes graft sidecars `samtools idxstats`-readable and
    * powers the metadata-only [[Idxstats]] surface; reading it serves
    * stats from samtools-built indexes too. */
  final case class RefStat(offBeg: Long, offEnd: Long, nMapped: Long,
      nUnmapped: Long)

  /** Pseudo-bin number for a scheme of the given depth: the bin count
    * `((1 << 3(depth+1)) - 1) / 7` plus one — 37450 at BAI's depth 5,
    * matching the spec's constant. */
  def metaBin(depth: Int): Int = ((1 << (3 * (depth + 1))) - 1) / 7 + 1

  /** Max coordinate the 6-level binning scheme addresses. */
  val MaxPos: Int = 1 << 29

  def sidecarPath(bam: String): String = bam + ".bai"

  /** CLI: `runMain graft.sources.BaiIndex [--distributed] <file.bam> ...`
    * builds standard `.bai` sidecars (the samtools-index equivalent, for
    * handing graft-written BAMs back to a samtools-based pipeline).
    * `--distributed` fans the record scan out over a Spark job
    * ([[buildDistributed]]) — the form that indexes a WGS-scale BAM in
    * one cluster pass. */
  def main(args: Array[String]): Unit = {
    val (flags, paths) = args.partition(_.startsWith("--"))
    require(paths.nonEmpty,
      "usage: BaiIndex [--distributed] <file.bam> [more.bam ...]")
    val dist = flags.contains("--distributed")
    val spark = if (dist) Some(org.apache.spark.sql.SparkSession.builder()
      .appName("graft-bai").getOrCreate()) else None
    try paths.foreach { p =>
      val n = spark.map(buildDistributed(_, p)).getOrElse(build(p))
      println(s"[bai] indexed $p: $n records -> ${sidecarPath(p)}")
    } finally spark.foreach(_.stop())
  }

  /** A usable sidecar exists ([[HadoopIO.freshSidecar]]). */
  def exists(bam: String, conf: Configuration = new Configuration()): Boolean =
    HadoopIO.freshSidecar(bam, sidecarPath(bam), conf)

  // ---- binning arithmetic (SAM spec §5.3, 0-based half-open [beg, end))

  /** The SMALLEST bin fully containing [beg, end). */
  def reg2bin(beg: Int, end0: Int): Int = {
    val end = end0 - 1
    if (beg >> 14 == end >> 14) ((1 << 15) - 1) / 7 + (beg >> 14)
    else if (beg >> 17 == end >> 17) ((1 << 12) - 1) / 7 + (beg >> 17)
    else if (beg >> 20 == end >> 20) ((1 << 9) - 1) / 7 + (beg >> 20)
    else if (beg >> 23 == end >> 23) ((1 << 6) - 1) / 7 + (beg >> 23)
    else if (beg >> 26 == end >> 26) ((1 << 3) - 1) / 7 + (beg >> 26)
    else 0
  }

  /** Every bin that can hold a record overlapping [beg, end). */
  def reg2bins(beg0: Int, end0: Int): Array[Int] = {
    val beg = math.max(0, beg0)
    val end = math.min(MaxPos, end0) - 1
    if (end < beg) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer(0)
    var k = 1 + (beg >> 26); while (k <= 1 + (end >> 26)) { out += k; k += 1 }
    k = 9 + (beg >> 23); while (k <= 9 + (end >> 23)) { out += k; k += 1 }
    k = 73 + (beg >> 20); while (k <= 73 + (end >> 20)) { out += k; k += 1 }
    k = 585 + (beg >> 17); while (k <= 585 + (end >> 17)) { out += k; k += 1 }
    k = 4681 + (beg >> 14); while (k <= 4681 + (end >> 14)) { out += k; k += 1 }
    out.toArray
  }

  // ---- build (the samtools-index analogue, for fixtures and for BAMs
  // written by BamWriter that a downstream samtools user will region-scan)

  /** A coordinate-sorted BAM → a standard `.bai`: the split walk
    * ([[scanRangeBam]]) run once over the whole file on the calling
    * thread — the one-range case of [[buildDistributed]], no Spark job.
    * Unplaced reads (refId < 0) only count into `n_no_coor`. Refuses
    * unsorted input loudly — a BAI over an unsorted file would silently
    * drop records from every region query. */
  def build(bam: String, conf: Configuration = new Configuration()): Int = {
    val hdr = BamHeader.locate(bam, conf)
    encode(bam, conf, hdr.nRef,
      Array(scanRangeBam(bam, conf, 0L, hdr.fileLen, hdr, BinScheme.Bai)))
  }

  private def encode(bam: String, conf: Configuration, nRef: Int,
      parts: Array[TaskBai]): Int = {
    val (bins, linear, noCoor, n, stats) = mergeTasks(parts, nRef, bam)
    writeBai(bam, conf, bins, linear, noCoor, stats)
    n.toInt
  }

  /** The `.bai` encoder over merged [[BamAcc]] results — the post-hoc
    * builds and index-on-write share accumulator, merge and encoder, so
    * their sidecars are byte-identical. */
  private[sources] def writeBai(bam: String, conf: Configuration,
      bins: Array[scala.collection.mutable.LinkedHashMap[Int,
        scala.collection.mutable.ArrayBuffer[Chunk]]],
      linear: Array[scala.collection.mutable.ArrayBuffer[Long]],
      noCoor: Long, stats: Array[RefStat]): Unit = {
    val nRef = bins.length
    val out = new DataOutputStream(new java.io.BufferedOutputStream(
      HadoopIO.create(sidecarPath(bam), conf)))
    try {
      def le32(v: Int): Unit = out.writeInt(Integer.reverseBytes(v))
      def le64(v: Long): Unit = out.writeLong(java.lang.Long.reverseBytes(v))
      out.write(Array[Byte]('B', 'A', 'I', 1))
      le32(nRef)
      var ri = 0
      while (ri < nRef) {
        val bm = bins(ri)
        val st = stats(ri)
        le32(bm.size + (if (st == null) 0 else 1))
        bm.foreach { case (bin, cs) =>
          le32(bin); le32(cs.length)
          cs.foreach { ck => le64(ck.beg); le64(ck.end) }
        }
        if (st != null) {
          // htslib pseudo-bin (bin 37450): first "chunk" = the ref's
          // record span in virtual offsets, second = its mapped/unmapped
          // counts — what `samtools idxstats` serves without a scan
          le32(metaBin(5)); le32(2)
          le64(st.offBeg); le64(st.offEnd)
          le64(st.nMapped); le64(st.nUnmapped)
        }
        val lin = linear(ri)
        le32(lin.length)
        lin.foreach(le64)
        ri += 1
      }
      le64(noCoor)
    } finally out.close()
  }

  /** One range's pre-aggregated contribution to a BAI/CSI build:
    * per-(refId, bin) chunk runs already merged WITHIN the range,
    * per-window linear minima, the range's first/last mapped (refId, pos)
    * for the cross-range sortedness check, and its record/unplaced
    * counts. Sized by bins touched, not records — a task over 16 MB of a
    * WGS BAM carries a few KB back to the driver. */
  private[sources] final case class TaskBai(
      bins: Seq[((Int, Int), Seq[Chunk])], // in-range DISCOVERY order — the
      // merge replays it so bin insertion order is record order
      linear: Map[(Int, Int), Long],
      firstKey: Option[(Int, Int)], lastKey: Option[(Int, Int)],
      noCoor: Long, n: Long,
      stats: Map[Int, RefStat] = Map.empty) // per-ref pseudo-bin stats

  /** A binning scheme as data (a case class, not a captured function, so
    * split-task closures stay trivially serializable): BAI's fixed
    * six-level 2^29 scheme, or CSI at (minShift, depth). `linShift` is
    * the linear-index window: 16 kb for `.bai` and tabix, min_shift for a
    * BAM `.csi` (htslib's rule). */
  private[sources] final case class BinScheme(csi: Boolean, minShift: Int,
      depth: Int, linShift: Int) {
    def binOf(beg: Long, end: Long): Int =
      if (csi) CsiIndex.reg2bin(beg, end, minShift, depth)
      else reg2bin(beg.toInt, end.toInt)
    def maxPos: Long =
      if (csi) 1L << (minShift + 3 * depth) else MaxPos.toLong
    /** Refuse an interval the scheme cannot address. */
    def requireBinnable(what: String, beg: Long, end: Long): Unit =
      require(beg >= 0 && end <= maxPos,
        s"$what: record [$beg, $end) exceeds " + (
          if (csi) s"the (min_shift=$minShift, depth=$depth) scheme's " +
            s"$maxPos cap"
          else "BAI's 2^29 cap — index this long-contig file with a .csi " +
            "instead (CsiIndex.build / buildDistributed)"))
  }

  private[sources] object BinScheme {
    val Bai: BinScheme = BinScheme(csi = false, 14, 5, 14)
    def bamCsi(minShift: Int, depth: Int): BinScheme =
      BinScheme(csi = true, minShift, depth, minShift)
  }

  /** End of a BAM record's reference span — htslib's `bam_endpos`: an
    * unmapped read (FLAG 0x4) spans one base wherever it is placed;
    * otherwise POS + the CIGAR's reference length, a zero-length span
    * widened to one base. The index builders and the record `bin` field
    * share it. */
  private[sources] def endPos(pos: Int, flag: Int, refLen: Int): Long =
    pos.toLong + (if ((flag & 4) != 0) 1 else math.max(1, refLen))

  /** The one per-record rule of the BAM bin indexes (`.bai`, BAM `.csi`):
    * bin chunks with htslib's same-member merge (chunk boundaries inside
    * one member buy no seek granularity), 16 kb / min_shift linear
    * minima, pseudo-bin stats, and loud refusals of unsorted input and of
    * spans past the scheme's cap. Fed by the split walk
    * ([[scanRangeBam]]) and by `BamWriter.write` at write-side virtual
    * positions. Linear minima use presence, never a 0L sentinel: a
    * part-local voffset 0 is a real record, and voffsets only grow within
    * one feed, so first touch is the minimum. */
  private[sources] final class BamAcc(scheme: BinScheme, nRef: Int,
      what: String) {
    private val bins = scala.collection.mutable.LinkedHashMap
      .empty[(Int, Int), scala.collection.mutable.ArrayBuffer[Chunk]]
    private val linear =
      scala.collection.mutable.LinkedHashMap.empty[(Int, Int), Long]
    private val stats =
      scala.collection.mutable.LinkedHashMap.empty[Int, RefStat]
    private var firstKey: Option[(Int, Int)] = None
    private var lastRef = -1
    private var lastPos = -1
    private var noCoor = 0L
    private var n = 0L

    def add(refId: Int, pos: Int, end: Long, flag: Int, vBeg: Long,
        vEnd: Long): Unit = {
      n += 1
      if (refId < 0 || pos < 0) noCoor += 1
      else {
        require(refId < nRef, s"$what: refId $refId out of range")
        require(refId > lastRef || (refId == lastRef && pos >= lastPos),
          s"$what is not coordinate-sorted (ref $refId pos $pos after ref " +
            s"$lastRef pos $lastPos) — an index over an unsorted file " +
            "silently drops region records")
        scheme.requireBinnable(what, pos, end)
        lastRef = refId; lastPos = pos
        if (firstKey.isEmpty) firstKey = Some((refId, pos))
        val unm = if ((flag & 4) != 0) 1L else 0L
        stats(refId) = stats.get(refId) match {
          case None => RefStat(vBeg, vEnd, 1L - unm, unm)
          case Some(prev) => RefStat(prev.offBeg, vEnd,
            prev.nMapped + 1L - unm, prev.nUnmapped + unm)
        }
        val bcs = bins.getOrElseUpdate((refId, scheme.binOf(pos, end)),
          scala.collection.mutable.ArrayBuffer.empty[Chunk])
        if (bcs.nonEmpty && (bcs.last.end >>> 16) == (vBeg >>> 16))
          bcs(bcs.length - 1) = Chunk(bcs.last.beg, vEnd)
        else bcs += Chunk(vBeg, vEnd)
        var w = pos >> scheme.linShift
        val wEnd = ((end - 1) >> scheme.linShift).toInt
        while (w <= wEnd) {
          if (!linear.contains((refId, w))) linear((refId, w)) = vBeg
          w += 1
        }
      }
    }

    def result: TaskBai = TaskBai(
      bins.toSeq.map { case (k, v) => (k, v.toSeq) }, linear.toMap,
      firstKey, if (lastRef >= 0) Some((lastRef, lastPos)) else None,
      noCoor, n, stats.toMap)
  }

  /** Executor-parallel `.bai` build over byte-range splits — the form a
    * WGS-scale sorted BAM gets samtools-compatible indexing with;
    * [[build]] is its one-range case. Each task owns the members starting
    * in its range, syncs to its first record by validated guessing (or
    * the driver-supplied exact header end) and runs [[scanRangeBam]]. The
    * driver concatenates task results in file order, applies the same
    * same-member chunk-merge rule across task seams, and verifies
    * sortedness across them — the sidecar is byte-identical to
    * [[build]]'s (BaiIndexSpec asserts exactly that). */
  def buildDistributed(s: org.apache.spark.sql.SparkSession, bam: String,
      splitSize: Long = 16L * 1024 * 1024): Int = {
    val confBox = HadoopIO.capture()
    val hdr = BamHeader.locate(bam, confBox.conf)
    encode(bam, confBox.conf, hdr.nRef,
      splitScan(s, hdr.fileLen, splitSize) { (start, end) =>
        scanRangeBam(bam, confBox.conf, start, end, hdr, BinScheme.Bai)
      })
  }

  /** Run `scan` over `splitSize` byte ranges of a file as one Spark job;
    * results in file order (partition order == byte order). */
  private[sources] def splitScan[T: scala.reflect.ClassTag](
      s: org.apache.spark.sql.SparkSession, fileLen: Long, splitSize: Long)(
      scan: (Long, Long) => T): Array[T] = {
    val ranges = (0L until fileLen by math.max(splitSize, 1L))
      .map(st => (st, math.min(st + splitSize, fileLen)))
    s.sparkContext.parallelize(ranges, math.max(ranges.size, 1))
      .map { case (start, end) => scan(start, end) }
      .collect()
  }

  /** Driver-side merge of range accumulations in file order: cross-range
    * sortedness check, record-order bin discovery, same-member chunk
    * merge across seams, unsigned-min linear merge. Shared by every BAI
    * and BAM-CSI build, one range or many. */
  private[sources] def mergeTasks(parts: Array[TaskBai], nRef: Int,
      bam: String)
      : (Array[scala.collection.mutable.LinkedHashMap[Int,
          scala.collection.mutable.ArrayBuffer[Chunk]]],
        Array[scala.collection.mutable.ArrayBuffer[Long]], Long, Long,
        Array[RefStat]) = {
    // cross-task sortedness: task i's last mapped key must not exceed
    // task i+1's first (within-task order was checked on the executor)
    val keyed = parts.filter(p => p.firstKey.isDefined)
    keyed.sliding(2).foreach {
      case Array(a, b) =>
        val (lr, lp) = a.lastKey.get
        val (fr, fp) = b.firstKey.get
        require(fr > lr || (fr == lr && fp >= lp),
          s"$bam is not coordinate-sorted across split seams " +
            s"(ref $fr pos $fp after ref $lr pos $lp) — " +
            "an index over an unsorted file silently drops region records")
      case _ => ()
    }
    val bins = Array.fill(nRef)(scala.collection.mutable.LinkedHashMap
      .empty[Int, scala.collection.mutable.ArrayBuffer[Chunk]])
    val linear = Array.fill(nRef)(
      scala.collection.mutable.ArrayBuffer.empty[Long])
    val stats = Array.fill[RefStat](nRef)(null)
    var noCoor = 0L
    var n = 0L
    // deterministic bin insertion order: replaying ranges in file order
    // with ordered within-range maps discovers bins in record order, for
    // any split size
    parts.foreach { p =>
      // pseudo-bin stats: parts replay in file order, so the first task
      // seeing a ref owns offBeg and the last seen vEnd wins offEnd
      p.stats.foreach { case (refId, st) =>
        val prev = stats(refId)
        stats(refId) =
          if (prev == null) st
          else RefStat(prev.offBeg, st.offEnd,
            prev.nMapped + st.nMapped, prev.nUnmapped + st.nUnmapped)
      }
      p.bins.foreach { case ((refId, bin), cs) =>
        val bcs = bins(refId).getOrElseUpdate(bin,
          scala.collection.mutable.ArrayBuffer.empty[Chunk])
        cs.foreach { c =>
          if (bcs.nonEmpty && (bcs.last.end >>> 16) == (c.beg >>> 16))
            bcs(bcs.length - 1) = Chunk(bcs.last.beg, c.end)
          else bcs += c
        }
      }
      p.linear.foreach { case ((refId, w), v) =>
        val lin = linear(refId)
        while (lin.length <= w) lin += 0L
        if (lin(w) == 0L ||
            java.lang.Long.compareUnsigned(v, lin(w)) < 0) lin(w) = v
      }
      noCoor += p.noCoor
      n += p.n
    }
    require(n <= Int.MaxValue, s"$bam: $n records overflow the record count")
    (bins, linear, noCoor, n, stats)
  }

  /** A PART-LOCAL accumulation (offsets relative to one commit task's
    * part file) relocated into the committed single file: chunk begins,
    * linear minima and pseudo-bin begins shift, chunk and pseudo-bin
    * ends also take the part-tail rule ([[TextSink.Relocation]]). Keys
    * (refId, pos) and counts are position-independent. */
  private[sources] def relocate(p: TaskBai, at: TextSink.Relocation)
      : TaskBai =
    TaskBai(
      p.bins.map { case (k, cs) =>
        (k, cs.map(c => Chunk(at.pos(c.beg), at.end(c.end))))
      },
      p.linear.map { case (k, v) => (k, at.pos(v)) },
      p.firstKey, p.lastKey, p.noCoor, p.n,
      p.stats.map { case (k, st) =>
        (k, st.copy(offBeg = at.pos(st.offBeg), offEnd = at.end(st.offEnd)))
      })

  /** One range's record walk: own the members starting in [start, end),
    * sync to the first record (exact header end when this range holds
    * it), feed every record to one [[BamAcc]]. The sequential builds run
    * it once over the whole file; the distributed ones once per task. */
  private[sources] def scanRangeBam(bam: String, conf: Configuration,
      start: Long, end: Long, hdr: BamHeader.Located,
      scheme: BinScheme): TaskBai = {
    val acc = new BamAcc(scheme, hdr.nRef, bam)
    val ch = new SeekableFile(bam, conf)
    try {
      BamSync.openRange(ch, BamSync.firstMember(ch, start, hdr.fileLen), end,
          hdr, bam).foreach { in =>
        BamSync.walkRecords(in, end, hdr.fileLen, bam) {
          (vBeg, vEnd, refId, pos, flag, refLen) =>
            acc.add(refId, pos, endPos(pos, flag, refLen), flag, vBeg, vEnd)
        }
      }
    } finally ch.close()
    acc.result
  }

  def read(bam: String, conf: Configuration = new Configuration()): Bai = {
    val in = new DataInputStream(new java.io.BufferedInputStream(
      HadoopIO.open(sidecarPath(bam), conf)))
    try {
      def le32(): Int = Integer.reverseBytes(in.readInt())
      def le64(): Long = java.lang.Long.reverseBytes(in.readLong())
      val magic = new Array[Byte](4); in.readFully(magic)
      require(magic.sameElements(Array[Byte]('B', 'A', 'I', 1)),
        s"bad .bai sidecar for $bam")
      // count guards: Array.fill/(0 until n) silently treat a corrupt
      // NEGATIVE count as zero — a truncated-with-garbage sidecar would
      // then read as an empty index and the scan would silently prune
      // EVERYTHING; bound above too, so a corrupt count can't size an
      // absurd allocation either
      def counted(what: String): Int = {
        val n = le32()
        require(n >= 0 && n <= (1 << 26), s"corrupt .bai for $bam: $what $n")
        n
      }
      val refs = Array.fill(counted("n_ref")) {
        val bins = (0 until counted("n_bin")).map { _ =>
          val bin = le32()
          val chunks = Array.fill(counted("n_chunk"))(Chunk(le64(), le64()))
          bin -> chunks
        }.toMap
        val lin = Array.fill(counted("n_intv"))(le64())
        RefIndex(bins, lin)
      }
      // trailing n_no_coor is optional in the spec
      val noCoor = try le64() catch { case _: EOFException => 0L }
      Bai(refs, noCoor)
    } finally in.close()
  }

  /** Merged chunks whose records may overlap region [beg, end) of refId:
    * the union of the region's bins, floored by the linear index (chunks
    * ending before the window's first overlapping record can't contribute),
    * merged at member granularity. */
  def chunks(bai: Bai, refId: Int, beg: Int, end: Int): Seq[Chunk] = {
    if (refId < 0 || refId >= bai.refs.length || beg >= end) return Nil
    val ri = bai.refs(refId)
    val w = math.max(0, beg) >> 14
    val minOff =
      if (w < ri.linear.length && ri.linear(w) != 0L) ri.linear(w) else 0L
    val cs = reg2bins(beg, end)
      .flatMap(b => ri.bins.getOrElse(b, Array.empty[Chunk]))
      .filter(c => java.lang.Long.compareUnsigned(c.end, minOff) > 0)
      .sortBy(_.beg)
    val merged = scala.collection.mutable.ArrayBuffer.empty[Chunk]
    cs.foreach { c =>
      if (merged.nonEmpty && (c.beg >>> 16) <= (merged.last.end >>> 16))
        merged(merged.length - 1) =
          Chunk(merged.last.beg, math.max(merged.last.end, c.end))
      else merged += c
    }
    merged.toSeq
  }

  /** The region a pushed predicate set constrains, or None when a binned
    * index cannot prune it (no referenceName equality, `*`/unknown name —
    * those scans fall back to the full-file path and stay correct).
    * 0-based half-open; `start` predicates are 1-based SAM. Contradictory
    * bounds yield an empty region → zero runs → the scan reads nothing.
    * `maxPos` is the index scheme's coordinate cap (BAI: 2^29; CSI:
    * whatever its (min_shift, depth) addresses) — clamping an unbounded
    * upper predicate to it keeps tail records inside the region. */
  def region(preds: Seq[SamFilters.Pred], refNames: Array[String],
      maxPos: Int = MaxPos): Option[(Int, Int, Int)] = {
    val flat = scala.collection.mutable.ArrayBuffer.empty[SamFilters.Pred]
    def walk(p: SamFilters.Pred): Unit = p match {
      case SamFilters.AndP(l, r) => walk(l); walk(r)
      case other                 => flat += other
    }
    preds.foreach(walk)
    val refIds = flat.collect { case SamFilters.RefNameEq(v) =>
      if (v == "*") -1 else refNames.indexOf(v)
    }.distinct
    if (refIds.length != 1 || refIds.head < 0) return None
    def clamp(v: Long): Int =
      math.min(maxPos.toLong, math.max(0L, v)).toInt
    var beg = 0
    var end = maxPos
    flat.foreach {
      case SamFilters.IntCmp("start", op, v) => op match {
        // 1-based start s → 0-based pos p = s-1
        case ">=" => beg = math.max(beg, clamp(v - 1))
        case ">"  => beg = math.max(beg, clamp(v))
        case "<=" => end = math.min(end, clamp(v))
        case "<"  => end = math.min(end, clamp(v - 1))
        case "="  => beg = math.max(beg, clamp(v - 1)); end = math.min(end, clamp(v))
      }
      case _ => ()
    }
    Some((refIds.head, beg, math.max(beg, end)))
  }

  /** Chunks → member-granularity runs, planned as partitions
    * (startMemberOffset, startUoffset, stopMemberOffset): decode from the
    * chunk's first record, stop at the first member past its records. A
    * chunk end with a nonzero intra-member offset means records extend
    * INTO that member, so the stop bound is one past it (+1 is below the
    * ≥28-byte minimum member length, so it cannot overshoot a boundary);
    * runs whose member spans touch merge — decoding a member twice would
    * duplicate records. */
  def memberRuns(cs: Seq[Chunk]): Seq[(Long, Int, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
    cs.sortBy(_.beg).foreach { c =>
      val mBeg = c.beg >>> 16
      val u = (c.beg & 0xffff).toInt
      val stop = (c.end >>> 16) + (if ((c.end & 0xffff) != 0) 1L else 0L)
      val bound = math.max(stop, mBeg + 1)
      if (out.nonEmpty && mBeg <= out.last._3) {
        val (o0, u0, b0) = out.last
        out(out.length - 1) = (o0, u0, math.max(b0, bound))
      } else out += ((mBeg, u, bound))
    }
    out.toSeq
  }
}
