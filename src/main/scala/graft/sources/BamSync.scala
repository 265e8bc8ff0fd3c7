package graft.sources

/** Record-boundary re-synchronization for byte-range splits of a BAM
  * payload (the hadoop-bam technique the reference inherited via ADAM,
  * /root/reference/src/main/scala/MitoScape/BamReader.scala:172-174):
  * inflate a validation window at a member boundary, try every offset as a
  * record start, and accept when a chain of records decodes with all the
  * spec's invariants holding. The `bam` DSv2 reader and every BAM sidecar
  * builder position a split the same way ([[openRange]]); the builders
  * then walk it with [[walkRecords]].
  */
object BamSync {

  private def le16(w: Array[Byte], p: Int): Int =
    (w(p) & 0xff) | ((w(p + 1) & 0xff) << 8)
  private def le32(w: Array[Byte], p: Int): Int =
    (w(p) & 0xff) | ((w(p + 1) & 0xff) << 8) |
      ((w(p + 2) & 0xff) << 16) | ((w(p + 3) & 0xff) << 24)

  /** Validate up to 3 consecutive records starting at w(p0); a prefix
    * that runs off the window accepts iff at least one full record
    * validated AND the window is not `complete`. `complete = true`
    * means the window already reaches the END OF THE FILE (rather than
    * the 1 MB validation cap), so a candidate whose claimed extent runs
    * past it is structurally IMPOSSIBLE and must reject — without this,
    * a mis-aligned guess whose byte-shifted block_size reads as a few
    * MB swallowed the whole remaining window, "validated" on its
    * header alone, and the r15 multi-region fixture decoded garbage to
    * EOF (the same false accept was latent in every plain grid split of
    * such files). A chain ending EXACTLY at the window end stays valid
    * either way — that is a genuine final record. `nRef` bounds the
    * refId range check (SAM spec §4.2). */
  def validChain(w: Array[Byte], p0: Int, nRef: Int,
      complete: Boolean = false): Boolean = {
    var p = p0
    var k = 0
    while (k < 3) {
      if (p + 36 > w.length)
        return k > 0 && (!complete || p == w.length)
      val bs = le32(w, p)
      if (bs < 32 || bs > (1 << 26)) return false
      val refId = le32(w, p + 4)
      if (refId < -1 || refId >= nRef) return false
      if (le32(w, p + 8) < -1) return false // pos
      val lName = w(p + 12) & 0xff
      if (lName < 1) return false
      val nCigar = le16(w, p + 16)
      val lSeq = le32(w, p + 20)
      if (lSeq < 0) return false
      if (32 + lName + 4L * nCigar + (lSeq + 1) / 2 + lSeq > bs) return false
      if (p + 36 + lName > w.length) return k > 0 && !complete
      var i = p + 36
      while (i < p + 36 + lName - 1) {
        val c = w(i) & 0xff
        if (c < 33 || c > 126) return false // QNAME charset per spec §1.4
        i += 1
      }
      if (w(p + 36 + lName - 1) != 0) return false
      var q = p + 36 + lName
      var j = 0
      while (j < nCigar && q + 4 <= w.length) {
        if ((le32(w, q) & 0xf) > 8) return false
        q += 4; j += 1
      }
      p += 4 + bs
      k += 1
    }
    true
  }

  /** Find the first record boundary at-or-after member `from`: returns a
    * stream positioned at the boundary, or None if no record starts in a
    * member of [from, limit). */
  def syncToRecord(ch: SeekableFile, from: Long, limit: Long, nRef: Int,
      what: String): Option[BgzfInputStream] = {
    val fileLen = ch.size
    var memberOff = from
    while (memberOff < fileLen && memberOff < limit) {
      val ws = new BgzfInputStream(ch, memberOff)
      // split the window into [bytes of first member][rest]
      val firstLen = {
        var n = 0
        var more = true
        while (more && ws.memberStart == memberOff) {
          if (ws.read() < 0) more = false else n += 1
        }
        n
      }
      val nextOff = ws.memberStart // boundary after the first member
      ws.close()
      val w = new java.io.ByteArrayOutputStream()
      val ws2 = new BgzfInputStream(ch, memberOff)
      val buf = new Array[Byte](1 << 16)
      var r = ws2.read(buf)
      while (r > 0 && w.size < (1 << 20)) { w.write(buf, 0, r); r = ws2.read(buf) }
      // the window is COMPLETE when it reaches the file's last payload
      // byte (r hit EOF), not the 1 MB validation cap — validChain then
      // rejects candidates claiming bytes that cannot exist
      val complete = r <= 0
      ws2.close()
      val wb = w.toByteArray
      var p = 0
      while (p < firstLen) {
        if (validChain(wb, p, nRef, complete)) {
          val rs = new BgzfInputStream(ch, memberOff)
          HadoopIO.skipFully(rs, p.toLong, s"$what record sync at $memberOff")
          return Some(rs)
        }
        p += 1
      }
      memberOff = if (nextOff > memberOff) nextOff else fileLen
    }
    None
  }

  /** First member a split of `[start, ...)` owns: members belong to the
    * range they start in. */
  def firstMember(ch: SeekableFile, start: Long, fileLen: Long): Long =
    if (start == 0) 0L else Bgzf.nextMemberStart(ch, start, fileLen)

  /** A stream at the first record of the split owning the members that
    * start in [firstMember, end): the split holding the header end starts
    * there exactly, later splits sync by validated guessing. None when
    * the split owns no record. */
  def openRange(ch: SeekableFile, firstMember: Long, end: Long,
      hdr: BamHeader.Located, what: String): Option[BgzfInputStream] =
    if (firstMember >= end || firstMember >= hdr.fileLen) None
    else if (firstMember <= hdr.member) {
      if (hdr.member >= end) None
      else {
        val st = new BgzfInputStream(ch, hdr.member)
        HadoopIO.skipFully(st, hdr.u.toLong, s"$what header end")
        Some(st)
      }
    } else syncToRecord(ch, firstMember, end, hdr.nRef, what)

  /** The one record walk of the sidecar builders: from a positioned
    * stream, visit every record starting in a member before `end` with
    * (vBeg, vEnd, refId, pos, flag, refLen) — its virtual start and end
    * and the reference length of its CIGAR (M/D/N/=/X). Stops at EOF, and
    * closes the stream. */
  def walkRecords(in: BgzfInputStream, end: Long, fileLen: Long,
      what: String)(visit: (Long, Long, Int, Int, Int, Int) => Unit): Unit = {
    val din = new java.io.DataInputStream(in)
    val fixed = new Array[Byte](36) // block_size + the 32 fixed bytes
    var done = false
    try while (!done) {
      val (mBeg, uBeg) = in.virtualPos
      if (mBeg >= end || mBeg >= fileLen) done = true
      else try {
        din.readFully(fixed)
        val blockSize = le32(fixed, 0)
        val lReadName = fixed(12) & 0xff
        val nCigar = le16(fixed, 16)
        HadoopIO.skipFully(din, lReadName.toLong, s"$what read name")
        var refLen = 0
        var c = 0
        while (c < nCigar) {
          val v = Integer.reverseBytes(din.readInt())
          (v & 0xf) match {
            case 0 | 2 | 3 | 7 | 8 => refLen += (v >>> 4) // M D N = X
            case _                 => ()
          }
          c += 1
        }
        HadoopIO.skipFully(din,
          (blockSize - 32 - lReadName - 4 * nCigar).toLong, s"$what record tail")
        val (mEnd, uEnd) = in.virtualPos
        visit((mBeg << 16) | uBeg, (mEnd << 16) | uEnd, le32(fixed, 4),
          le32(fixed, 8), le16(fixed, 18), refLen)
      } catch { case _: java.io.EOFException => done = true }
    } finally in.close()
  }
}
