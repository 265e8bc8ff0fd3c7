package graft.sources

import java.io.{DataInputStream, DataOutputStream}

import org.apache.hadoop.conf.Configuration

/** Linear member index for BAM files (sidecar `<file>.gai`), the
  * graft-native analogue of a BAI linear index (SAM spec §5.2): one entry
  * per BGZF member recording where its first record starts and the
  * coordinate range of the records starting in it.
  *
  * Two wins for the scan, both taken at planning
  * ([[BamScan.streamPlanFile]]):
  *  - positioning: each partition starts at its first member's
  *    `firstRecUoffset` — no record-boundary guessing;
  *  - pruning: with a pushed `referenceName`/`start` filter and a
  *    coordinate-sorted BAM, members whose [minRef..maxRef] ×
  *    [minPos..maxPos] cannot satisfy the predicate are skipped WITHOUT
  *    decompressing them. The reference's own workload — extracting the
  *    chrM records from a whole-genome BAM (MTClassify.scala:200) — reads
  *    ~0.1% of the members of a sorted WGS BAM this way.
  *
  * Like samtools index, building costs one sequential scan. Entries are
  * fixed-width (28 bytes/member ≈ 0.04% of the data), so a reader of a
  * huge file can range-seek the sidecar; here it is loaded whole.
  */
object BamIndex {

  final case class MemberStat(offset: Long, firstRecUoffset: Int,
    minRef: Int, maxRef: Int, minPos: Int, maxPos: Int)

  private val Magic = 0x47414931 // "GAI1"

  def sidecarPath(bam: String): String = bam + ".gai"

  /** CLI: `runMain graft.sources.BamIndex [--distributed] <file.bam> ...`
    * builds sidecars (the samtools-index analogue). `--distributed` fans
    * the byte-range scan out over a Spark job ([[buildDistributed]]) —
    * the form that indexes a corpus-sized BAM in one cluster pass. */
  def main(args: Array[String]): Unit = {
    val (flags, paths) = args.partition(_.startsWith("--"))
    require(paths.nonEmpty,
      "usage: BamIndex [--distributed] <file.bam> [more.bam ...]")
    val dist = flags.contains("--distributed")
    val spark = if (dist) Some(org.apache.spark.sql.SparkSession.builder()
      .appName("graft-gai").getOrCreate()) else None
    try paths.foreach { p =>
      val n = spark.map(buildDistributed(_, p)).getOrElse(build(p))
      println(s"[gai] indexed $p: $n members -> ${sidecarPath(p)}")
    } finally spark.foreach(_.stop())
  }

  /** A usable sidecar exists ([[HadoopIO.freshSidecar]]); a stale one is
    * ignored and the scan falls back to boundary guessing. */
  def exists(bam: String, conf: Configuration = new Configuration()): Boolean =
    HadoopIO.freshSidecar(bam, sidecarPath(bam), conf)

  /** Per member, the intra-member offset of the first record starting
    * there (-1 if none) and the min/max (refId, pos) over records starting
    * there: [[scanRange]] run once over the whole file on the calling
    * thread — the one-range case of [[buildDistributed]], no Spark job. */
  def build(bam: String, conf: Configuration = new Configuration()): Int = {
    val hdr = BamHeader.locate(bam, conf)
    val (bounds, stats) = scanRange(bam, conf, 0L, hdr.fileLen, hdr)
    writeGai(bam, conf, bounds.length, entries(bounds, stats))
  }

  /** Executor-parallel index build over byte-range splits — the form a
    * 100 TB corpus actually gets indexed with; [[build]] is its one-range
    * case. Each task owns a raw range [start, end): it enumerates the
    * member boundaries in it (BSIZE hops from the first validated
    * boundary), re-synchronizes to a record start with the same
    * [[BamSync]] guesser the un-indexed reader uses (or the exact header
    * end, driver-supplied, when the range contains it), and accumulates
    * the per-member stats of the records STARTING in its members — the
    * identical attribution rule to the reader's split protocol, so task
    * outputs are disjoint by construction. The driver merges the tiny
    * per-member rows and writes a sidecar byte-identical to [[build]]'s
    * (BamIndexSpec asserts exactly that). */
  def buildDistributed(s: org.apache.spark.sql.SparkSession, bam: String,
      splitSize: Long = 16L * 1024 * 1024): Int = {
    val confBox = HadoopIO.capture()
    val hdr = BamHeader.locate(bam, confBox.conf)
    val ranges = (0L until hdr.fileLen by splitSize)
      .map(st => (st, math.min(st + splitSize, hdr.fileLen)))
    // cluster-side merge: pair each boundary with its member's stats inside
    // the owning task, dedup range-edge boundaries, sort by offset — the
    // driver then STREAMS the sorted entries one partition at a time
    // (toLocalIterator) into the sidecar, so its memory is bounded by one
    // range's entries, not the whole file's (a 1 TB BAM is ~450 MB of
    // entries; per-range it's ~0.5 MB)
    val sorted = s.sparkContext
      .parallelize(ranges, ranges.size)
      .flatMap { case (start, end) =>
        val (bounds, stats) =
          scanRange(bam, confBox.conf, start, end, hdr)
        entries(bounds, stats)
      }
      .reduceByKey((a, b) => a.orElse(b))
      .sortByKey()
    // count() materializes the shuffle map side (the one BAM scan); the
    // per-partition toLocalIterator jobs below skip straight to the sorted
    // reduce output, so the file is scanned exactly once
    writeGai(bam, confBox.conf, sorted.count(), sorted.toLocalIterator)
  }

  /** Each member boundary paired with the stats of its records. */
  private def entries(bounds: Seq[Long], stats: Seq[MemberStat])
      : Iterator[(Long, Option[MemberStat])] = {
    val byOff = stats.iterator.map(st => st.offset -> st).toMap
    bounds.iterator.map(off => (off, byOff.get(off)))
  }

  /** The `.gai` encoder: every member boundary in file order — including
    * record-less members, so the reader can treat the index as a complete
    * member list. */
  private def writeGai(bam: String, conf: Configuration, n: Long,
      members: Iterator[(Long, Option[MemberStat])]): Int = {
    require(n <= Int.MaxValue, s"$bam: $n members overflow the sidecar count")
    val out = new DataOutputStream(new java.io.BufferedOutputStream(
      HadoopIO.create(sidecarPath(bam), conf)))
    try {
      out.writeInt(Magic)
      out.writeInt(n.toInt)
      members.foreach { case (off, stOpt) =>
        val e = stOpt.getOrElse(MemberStat(off, -1, Int.MaxValue,
          Int.MinValue, Int.MaxValue, Int.MinValue))
        out.writeLong(e.offset); out.writeInt(e.firstRecUoffset)
        out.writeInt(e.minRef); out.writeInt(e.maxRef)
        out.writeInt(e.minPos); out.writeInt(e.maxPos)
      }
      n.toInt
    } finally out.close()
  }

  /** One range's contribution: (member boundaries in [start,end), stats of
    * records starting in those members). */
  private def scanRange(bam: String, conf: Configuration, start: Long,
      end: Long, hdr: BamHeader.Located): (Seq[Long], Seq[MemberStat]) = {
    val ch = new SeekableFile(bam, conf)
    try {
      val firstMember = BamSync.firstMember(ch, start, hdr.fileLen)
      if (firstMember >= end || firstMember >= hdr.fileLen) return (Nil, Nil)
      // enumerate boundaries by BSIZE hops (18-byte positioned reads)
      val offsets = scala.collection.mutable.ArrayBuffer.empty[Long]
      val head = new Array[Byte](18)
      var off = firstMember
      var ok = true
      while (ok && off < end) {
        val got = ch.readAtFully(off, head)
        val total = Bgzf.memberLength(head, 0, got)
        if (total <= 0) ok = false
        else { offsets += off; off += total }
      }
      // firstU, minRef, maxRef, minPos, maxPos per member with records
      val stats = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Int]]
      BamSync.openRange(ch, firstMember, end, hdr, bam).foreach { in =>
        BamSync.walkRecords(in, end, hdr.fileLen, bam) {
          (vBeg, _, refId, pos, _, _) =>
            val st = stats.getOrElseUpdate(vBeg >>> 16, Array(-1,
              Int.MaxValue, Int.MinValue, Int.MaxValue, Int.MinValue))
            if (st(0) < 0) st(0) = (vBeg & 0xffff).toInt
            st(1) = math.min(st(1), refId); st(2) = math.max(st(2), refId)
            st(3) = math.min(st(3), pos); st(4) = math.max(st(4), pos)
        }
      }
      (offsets.toSeq,
        stats.toSeq.map { case (o, a) => MemberStat(o, a(0), a(1), a(2), a(3), a(4)) })
    } finally ch.close()
  }

  def read(bam: String, conf: Configuration = new Configuration()): Array[MemberStat] = {
    val in = new DataInputStream(new java.io.BufferedInputStream(
      HadoopIO.open(sidecarPath(bam), conf)))
    try {
      require(in.readInt() == Magic, s"bad .gai sidecar for $bam")
      val n = in.readInt()
      // a corrupt negative count must not silently read as an empty index
      // (Array.fill(-n) returns empty) — the reader would prune everything
      require(n >= 0 && n <= (1 << 26), s"corrupt .gai for $bam: count $n")
      Array.fill(n)(MemberStat(in.readLong(), in.readInt(), in.readInt(),
        in.readInt(), in.readInt(), in.readInt()))
    } finally in.close()
  }

  /** Can any record starting in this member satisfy the pushed predicates?
    * Conservative: only referenceName equality and `start` comparisons
    * prune; everything else keeps the member. `pos` in the index is
    * 0-based (BAM), `start` predicates are 1-based (SAM). */
  def mayMatch(m: MemberStat, preds: Seq[SamFilters.Pred],
      refNames: Array[String]): Boolean = {
    if (m.firstRecUoffset < 0) return false // no record starts here
    preds.forall {
      case SamFilters.RefNameEq(v) =>
        // '*' is the text form of refId -1 (unmapped); an unknown name
        // matches no record at all
        val id = if (v == "*") -1 else refNames.indexOf(v)
        if (id < 0 && v != "*") false else m.minRef <= id && id <= m.maxRef
      case SamFilters.IntCmp("start", op, value) =>
        val lo = m.minPos + 1L
        val hi = m.maxPos + 1L
        op match {
          case "="  => lo <= value && value <= hi
          case "<"  => lo < value
          case "<=" => lo <= value
          case ">"  => hi > value
          case ">=" => hi >= value
        }
      case SamFilters.AndP(l, r) =>
        mayMatch(m, Seq(l), refNames) && mayMatch(m, Seq(r), refNames)
      case _ => true // flag masks etc: not indexed
    }
  }

  /** Runs of consecutive keepable members within [from, until):
    * (runStartOffset, firstRecUoffset of the run's first member,
    * endOffset = offset of the first non-kept member after the run, or
    * Long.MaxValue when the run reaches the range end). Each run is one
    * partition ending at min(endOffset, range end). */
  def selectRuns(stats: Array[MemberStat], preds: Seq[SamFilters.Pred],
      refNames: Array[String], from: Long, until: Long): Seq[(Long, Int, Long)] = {
    val offsets = stats.view.map(_.offset) // file order: binary-searchable
    val inRange = stats.slice(offsets.search(from).insertionPoint,
      offsets.search(until).insertionPoint)
    val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
    var open = -1 // index into runs of the currently-open run
    inRange.foreach { m =>
      val keep = mayMatch(m, preds, refNames)
      if (keep && open < 0) { runs += ((m.offset, m.firstRecUoffset, Long.MaxValue)); open = runs.length - 1 }
      else if (!keep && open >= 0) {
        val (o, u, _) = runs(open); runs(open) = (o, u, m.offset); open = -1
      }
    }
    runs.toSeq
  }
}
