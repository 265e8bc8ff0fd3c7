package graft.sources

import java.io.{DataInputStream, DataOutputStream, EOFException}

import org.apache.hadoop.conf.Configuration

/** Reader/writer for the CSI index format (the CSIv1 spec published with
  * the SAM spec; `samtools index -c`) — the successor to BAI that
  * parameterizes the binning scheme as (min_shift, depth) so contigs
  * longer than BAI's 2^29 cap index correctly. samtools emits `.csi`
  * sidecars by default for such references; a reference user's long-contig
  * BAMs carry these, so the `bam` source consults them after `.gai`/`.bai`.
  *
  * Structural differences from BAI (all little-endian, BGZF-style virtual
  * offsets as in [[BaiIndex]]):
  *  - header carries min_shift, depth and an opaque aux blob;
  *  - no separate linear index: each bin instead records `loffset`, the
  *    virtual offset of the first record overlapping the bin's interval,
  *    used as the chunk-filter floor a BAI query takes from its linear
  *    index. The builder derives loffsets exactly as htslib does: an
  *    internal min_shift-granular linear index, holes filled with the
  *    previous window's value, sampled at each bin's interval start.
  *
  * Defaults (min_shift=14, depth=5) make bin numbers and intervals
  * IDENTICAL to BAI's six-level scheme — CsiIndexSpec pins that a
  * default-parameter CSI query plans the same member runs as the BAI for
  * the same file. Region queries reuse [[BaiIndex.region]] (predicate →
  * region) and [[BaiIndex.memberRuns]] (chunks → planned member runs);
  * widened-in records are re-filtered per record, so like the other
  * indexes a CSI only ever SKIPS work.
  */
object CsiIndex {

  import BaiIndex.Chunk

  /** One reference's binned index: bin → (loffset, chunks). */
  final case class RefIndex(bins: Map[Int, (Long, Array[Chunk])])
  final case class Csi(minShift: Int, depth: Int, aux: Array[Byte],
      refs: Array[RefIndex], noCoor: Long)

  def sidecarPath(bam: String): String = bam + ".csi"

  def exists(bam: String, conf: Configuration = new Configuration()): Boolean =
    HadoopIO.freshSidecar(bam, sidecarPath(bam), conf)

  /** Max coordinate addressable by a (minShift, depth) scheme, clamped to
    * the int32 positions BAM records can hold. */
  def maxPos(minShift: Int, depth: Int): Int =
    math.min(Int.MaxValue.toLong, 1L << (minShift + 3 * depth)).toInt

  /** First bin number of the deepest (finest) level. */
  private def leafBase(depth: Int): Int = ((1 << (3 * depth)) - 1) / 7

  /** The SMALLEST bin fully containing [beg, end) — the CSI spec's
    * generalized reg2bin. */
  def reg2bin(beg0: Long, end0: Long, minShift: Int, depth: Int): Int = {
    val end = end0 - 1
    var l = depth
    var s = minShift
    var t = leafBase(depth)
    while (l > 0) {
      if ((beg0 >> s) == (end >> s)) return t + (beg0 >> s).toInt
      l -= 1
      s += 3
      t -= 1 << (3 * l)
    }
    0
  }

  /** Every bin that can hold a record overlapping [beg, end). */
  def reg2bins(beg0: Long, end0: Long, minShift: Int, depth: Int): Array[Int] = {
    val beg = math.max(0L, beg0)
    val end = math.min(maxPos(minShift, depth).toLong, end0) - 1
    if (end < beg) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    var l = 0
    var s = minShift + 3 * depth
    var t = 0
    while (l <= depth) {
      var k = t + (beg >> s).toInt
      val kEnd = t + (end >> s).toInt
      while (k <= kEnd) { out += k; k += 1 }
      t += 1 << (3 * l)
      l += 1
      s -= 3
    }
    out.toArray
  }

  /** Interval start coordinate of bin `b`. */
  private def binStart(b: Int, minShift: Int, depth: Int): Long = {
    // find the level: the largest l with firstBin(l) <= b
    var l = 0
    var first = 0
    while (l < depth && firstBin(l + 1) <= b) l += 1
    first = firstBin(l)
    (b - first).toLong << (minShift + 3 * (depth - l))
  }
  private def firstBin(l: Int): Int = ((1 << (3 * l)) - 1) / 7

  /** Parent bin in the scheme's 8-ary tree (bin 0 is the root). */
  private def parent(b: Int): Int = (b - 1) >> 3

  // ---- build: the split walk of [[BaiIndex.scanRangeBam]] under this
  // scheme's reg2bin and min_shift-granular linear windows

  /** A coordinate-sorted BAM → a `.csi` with the given binning
    * parameters: the split walk run once over the whole file on the
    * calling thread — the one-range case of [[buildDistributed]], no
    * Spark job. Same loud-unsorted rule as [[BaiIndex.build]]. */
  def build(bam: String, conf: Configuration = new Configuration(),
      minShift: Int = 14, depth: Int = 5): Int = {
    val hdr = BamHeader.locate(bam, conf)
    encode(bam, conf, minShift, depth, hdr.nRef,
      Array(BaiIndex.scanRangeBam(bam, conf, 0L, hdr.fileLen, hdr,
        BaiIndex.BinScheme.bamCsi(minShift, depth))))
  }

  private def encode(bam: String, conf: Configuration, minShift: Int,
      depth: Int, nRef: Int, parts: Array[BaiIndex.TaskBai]): Int = {
    val (bins, linear, noCoor, n, stats) =
      BaiIndex.mergeTasks(parts, nRef, bam)
    writeCsi(bam, conf, minShift, depth, bins, linear, noCoor, stats)
    n.toInt
  }

  /** The `.csi` encoder over merged accumulations (every build and
    * index-on-write share it, so their sidecars are byte-identical): fill
    * linear holes with the previous window's value (htslib rule), then
    * sample at each bin's interval start for the bin's loffset. */
  private[sources] def writeCsi(bam: String, conf: Configuration, minShift: Int,
      depth: Int,
      bins: Array[scala.collection.mutable.LinkedHashMap[Int,
        scala.collection.mutable.ArrayBuffer[Chunk]]],
      lidx: Array[scala.collection.mutable.ArrayBuffer[Long]],
      noCoor: Long, stats: Array[BaiIndex.RefStat]): Unit = {
    val nRef = bins.length
    val out = new DataOutputStream(new java.io.BufferedOutputStream(
      HadoopIO.create(sidecarPath(bam), conf)))
    try {
      def le32(v: Int): Unit = out.writeInt(Integer.reverseBytes(v))
      def le64(v: Long): Unit = out.writeLong(java.lang.Long.reverseBytes(v))
      out.write(Array[Byte]('C', 'S', 'I', 1))
      le32(minShift); le32(depth); le32(0) // l_aux = 0
      le32(nRef)
      var ri = 0
      while (ri < nRef) {
        val lin = lidx(ri)
        var w = 1
        while (w < lin.length) {
          if (lin(w) == 0L) lin(w) = lin(w - 1)
          w += 1
        }
        def loff(bin: Int): Long = {
          val w0 = (binStart(bin, minShift, depth) >> minShift).toInt
          if (w0 < lin.length) lin(w0) else if (lin.nonEmpty) lin.last else 0L
        }
        val bm = bins(ri)
        val st = stats(ri)
        le32(bm.size + (if (st == null) 0 else 1))
        bm.foreach { case (bin, cs) =>
          le32(bin); le64(loff(bin)); le32(cs.length)
          cs.foreach { ck => le64(ck.beg); le64(ck.end) }
        }
        if (st != null) {
          // htslib pseudo-bin at the scheme's meta number (37450 for
          // depth 5): record span + mapped/unmapped counts; loffset 0
          le32(BaiIndex.metaBin(depth)); le64(0L); le32(2)
          le64(st.offBeg); le64(st.offEnd)
          le64(st.nMapped); le64(st.nUnmapped)
        }
        ri += 1
      }
      le64(noCoor)
    } finally out.close()
  }

  /** Executor-parallel `.csi` build over byte-range splits of a
    * coordinate-sorted BAM: [[BaiIndex.buildDistributed]]'s split/
    * seam-merge machinery under this scheme, then the shared encoder.
    * [[build]] is its one-range case, so the sidecar is byte-identical at
    * every split size (CsiIndexSpec asserts it). */
  def buildDistributed(s: org.apache.spark.sql.SparkSession, bam: String,
      splitSize: Long = 16L * 1024 * 1024,
      minShift: Int = 14, depth: Int = 5): Int = {
    val confBox = HadoopIO.capture()
    val hdr = BamHeader.locate(bam, confBox.conf)
    val scheme = BaiIndex.BinScheme.bamCsi(minShift, depth)
    encode(bam, confBox.conf, minShift, depth, hdr.nRef,
      BaiIndex.splitScan(s, hdr.fileLen, splitSize) { (start, end) =>
        BaiIndex.scanRangeBam(bam, confBox.conf, start, end, hdr, scheme)
      })
  }

  def read(bam: String, conf: Configuration = new Configuration()): Csi = {
    val in = new DataInputStream(new java.io.BufferedInputStream(
      HadoopIO.open(sidecarPath(bam), conf)))
    try {
      def le32(): Int = Integer.reverseBytes(in.readInt())
      def le64(): Long = java.lang.Long.reverseBytes(in.readLong())
      val magic = new Array[Byte](4); in.readFully(magic)
      require(magic.sameElements(Array[Byte]('C', 'S', 'I', 1)),
        s"bad .csi sidecar for $bam")
      val minShift = le32()
      val depth = le32()
      require(minShift >= 4 && minShift <= 32 && depth >= 1 && depth <= 10,
        s"corrupt .csi for $bam: (min_shift=$minShift, depth=$depth)")
      val lAux = le32()
      require(lAux >= 0 && lAux <= (1 << 26),
        s"corrupt .csi for $bam: l_aux $lAux")
      val aux = new Array[Byte](lAux); in.readFully(aux)
      // count guards: Array.fill/(0 until n) silently treat a corrupt
      // NEGATIVE count as zero — a truncated-with-garbage sidecar would
      // then read as an empty index and the scan would silently prune
      // EVERYTHING; bound above too, so a corrupt count can't size an
      // absurd allocation either
      def counted(what: String): Int = {
        val n = le32()
        require(n >= 0 && n <= (1 << 26), s"corrupt .csi for $bam: $what $n")
        n
      }
      val refs = Array.fill(counted("n_ref")) {
        RefIndex((0 until counted("n_bin")).map { _ =>
          val bin = le32()
          val loffset = le64()
          val chunks = Array.fill(counted("n_chunk"))(Chunk(le64(), le64()))
          bin -> (loffset, chunks)
        }.toMap)
      }
      val noCoor = try le64() catch { case _: EOFException => 0L }
      Csi(minShift, depth, aux, refs, noCoor)
    } finally in.close()
  }

  /** Merged chunks whose records may overlap region [beg, end) of refId:
    * union of the region's bins, floored by the loffset of the smallest
    * PRESENT bin containing `beg` (walking up the 8-ary tree — htslib's
    * min_off rule), merged at member granularity. */
  def chunks(csi: Csi, refId: Int, beg: Int, end: Int): Seq[Chunk] = {
    if (refId < 0 || refId >= csi.refs.length || beg >= end) return Nil
    val ri = csi.refs(refId)
    var b = leafBase(csi.depth) +
      (math.max(0, beg).toLong >> csi.minShift).toInt
    var minOff = 0L
    var walking = true
    while (walking) {
      ri.bins.get(b) match {
        case Some((lo, _)) => minOff = lo; walking = false
        case None if b == 0 => walking = false
        case None => b = parent(b)
      }
    }
    val cs = reg2bins(beg.toLong, end.toLong, csi.minShift, csi.depth)
      .flatMap(bn => ri.bins.get(bn).map(_._2).getOrElse(Array.empty[Chunk]))
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
}
