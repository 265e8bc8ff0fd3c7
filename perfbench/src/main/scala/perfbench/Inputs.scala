package perfbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom
import java.util.concurrent.{Callable, ExecutorService, Executors, TimeUnit}
import java.util.zip.{CRC32, Deflater}

import scala.collection.mutable.ArrayBuffer

/** Workload shape: `samples` samples of `pairs` read pairs each, of which
  * a `numtFrac` share are NUMT-like (dropped) and the rest genuine mtDNA
  * (kept when the read also has a nuclear alignment). */
final case class Workload(name: String, samples: Int, pairs: Int,
    numtFrac: Double) {
  def reads: Long = samples.toLong * pairs
}

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("mt_sample", 1, 20000, 0.10),
    Workload("numt_rich", 1, 8000, 0.80),
    Workload("cohort", 4, 2500, 0.10))

  def apply(name: String, scale: Double): Workload = {
    val w = all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload '$name' (one of ${all.map(_.name).mkString(", ")})"))
    w.copy(pairs = math.max(50, (w.pairs * scale).round.toInt))
  }
}

/** What a correct classified BAM holds, restated from the generator. */
final case class Expected(records: Long, sumStart: Long, sumMapQ: Long,
    namesSha: String)

/** One sample's files on disk plus the answer the pipeline must write. */
final case class Sample(prefix: String, expected: Expected)

/** Generated inputs of one (workload, seed): the shared LD and NUMT tables
  * and one prefix per sample (`<prefix>_MT_MD.bam`, `_NT.bam`, `_MT.bam`). */
final case class Inputs(ldFile: String, numtFile: String,
    samples: Seq[Sample], files: Seq[Path])

/** Deterministic input generator with its own BGZF/BAM writer, so the bytes
  * the program reads depend only on `(workload, seed)` and never on the
  * program's own writer.
  *
  * Classes are separated by two wide margins (the technique of the x08
  * gate): NUMT reads carry 7–9 mismatches per mate whose alleles form LD
  * table pairs (MTEditDist ≥ 14, LD ≥ 30000), mtDNA reads carry 0–2
  * mismatches per mate with alleles that never occur in the LD table
  * (MTEditDist ≤ 4, LD = 0). Nuclear-side features are class-independent
  * noise. A model trained on the same rule ([[Model]]) therefore predicts
  * the generating class, and the kept set is exact: mtDNA reads that also
  * have a nuclear alignment (the pipeline's feature join is inner). */
object Inputs {

  val ChrMLen = 16569
  val ReadLen = 100
  val LdRows = 88237
  /** Offsets between LD-linked positions; NUMT mismatches chain along them. */
  val LdOffsets: Array[Int] = Array(3, 5, 8, 13, 21, 34)
  private val ChainSteps = Array(3, 5, 8, 13)
  private val Bases = "ACGT"
  /** hg38 primary assembly lengths, chr1..chr22, chrX, chrY. */
  val NuclearRefs: Seq[(String, Int)] = Seq(248956422, 242193529, 198295559,
    190214555, 181538259, 170805979, 159345973, 145138636, 138394717,
    133797422, 135086622, 133275309, 114364328, 107043718, 101991189,
    90338345, 83257441, 80373285, 58617616, 64444167, 46709983, 50818468,
    156040895, 57227415).zipWithIndex.map { case (len, i) =>
      (if (i < 22) s"chr${i + 1}" else if (i == 22) "chrX" else "chrY", len)
    }

  private def seedOf(parts: Any*): Long = {
    val d = MessageDigest.getInstance("SHA-256")
      .digest(parts.mkString("|").getBytes(US_ASCII))
    ByteBuffer.wrap(d).getLong
  }

  final case class NumtInterval(chrom: Int, start: Int, end: Int, score: String)

  /** One BAM record before encoding. `seq` and `qual` are SAM text. */
  final case class Rec(name: String, flag: Int, refId: Int, pos1: Int,
      mapq: Int, nextRefId: Int, nextPos1: Int, tlen: Int, seq: String,
      qual: String, tags: Array[Byte])

  def generate(w: Workload, seed: Long, dir: Path): Inputs = {
    val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors)
    try generate(w, seed, dir, pool) finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  private def generate(w: Workload, seed: Long, dir: Path, pool: ExecutorService): Inputs = {
    Files.createDirectories(dir)
    val shared = new SplittableRandom(seedOf(w.name, seed, "shared"))
    val ref = Array.fill(ChrMLen)(shared.nextInt(4))
    // allele code at 1-based position x: NUMT reads carry ref+1, mtDNA
    // reads ref+2, so mtDNA alleles never appear in the LD table
    def numtAlt(x: Int): Char = Bases((ref(x - 1) + 1) % 4)
    def mtAlt(x: Int): Char = Bases((ref(x - 1) + 2) % 4)

    writeLd(dir.resolve("mitomap.ld"), shared, numtAlt)
    val numts = writeNumts(dir.resolve("numts.tsv"), shared)

    val samples = (0 until w.samples).map { k =>
      val rng = new SplittableRandom(seedOf(w.name, seed, "sample", k))
      val prefix = dir.resolve(s"s$k").toString
      val mtMd = ArrayBuffer.empty[Rec]
      val mt = ArrayBuffer.empty[Rec]
      val nt = ArrayBuffer.empty[Rec]
      val keptNames = ArrayBuffer.empty[String]
      var sumStart = 0L
      var sumMapQ = 0L
      var i = 0
      while (i < w.pairs) {
        val name = s"A0042$k:$seed:HBNCHDSXY:1:${1101 + i / 10000}:" +
          s"${(i % 10000) * 3 + 1000}:${rng.nextInt(1000, 30000)}"
        val numt = rng.nextDouble() < w.numtFrac
        val s1 = rng.nextInt(1, ChrMLen - 2 * ReadLen - 300)
        val s2 = s1 + rng.nextInt(50, 300)
        val tlen = s2 + ReadLen - s1
        val inNt = rng.nextDouble() < 0.95
        Seq((99, s1, s2, tlen), (147, s2, s1, -tlen)).foreach {
          case (flag, s, mateS, tl) =>
            val offs =
              if (numt) chain(rng, rng.nextInt(7, 10))
              else Array.fill(rng.nextInt(0, 3))(rng.nextInt(0, ReadLen))
                .distinct.sorted
            val alt = (o: Int) => if (numt) numtAlt(s + o) else mtAlt(s + o)
            val mapq = rng.nextInt(1, 61)
            val nh = rng.nextInt(1, 3)
            val md = mdString(offs, o => Bases(ref(s + o - 1)))
            val calmd = Array.fill(ReadLen)('=')
            val bases = Array.tabulate(ReadLen)(o => Bases(ref(s + o - 1)))
            offs.foreach { o => calmd(o) = alt(o); bases(o) = alt(o) }
            val qual = randomQual(rng)
            val tags = new Tags().u8("NM", offs.length).z("MD", md).u8("NH", nh)
              .z("RG", "bench").bytes
            mtMd += Rec(name, flag, 0, s, mapq, 0, mateS, tl,
              new String(calmd), qual, tags)
            mt += Rec(name, flag, 0, s, mapq, 0, mateS, tl,
              new String(bases), qual, tags)
            if (!numt && inNt) {
              sumStart += s; sumMapQ += mapq; keptNames += name
            }
        }
        if (inNt) {
          val both = rng.nextBoolean()
          val (chrom, p1) = ntPlacement(rng, numts)
          val p2 = math.min(p1 + rng.nextInt(50, 300), NuclearRefs(chrom)._2 - ReadLen)
          val mates =
            if (both) Seq((99, p1, p2, p2 + ReadLen - p1), (147, p2, p1, p1 - p2 - ReadLen))
            else Seq((99, p1, p2, 0))
          mates.foreach { case (flag, p, mateP, tl) =>
            val seq = Array.fill(ReadLen)(Bases(rng.nextInt(4)))
            val tags = new Tags().u8("NM", rng.nextInt(0, 5))
              .u8("NH", rng.nextInt(1, 4)).z("RG", "bench").bytes
            nt += Rec(name, flag, chrom, p, rng.nextInt(0, 61), chrom, mateP,
              tl, new String(seq), randomQual(rng), tags)
          }
        }
        i += 1
      }
      val chrM = Seq("chrM" -> ChrMLen)
      writeBam(Path.of(prefix + "_MT_MD.bam"), chrM, mtMd, pool)
      writeBam(Path.of(prefix + "_MT.bam"), chrM, mt, pool)
      writeBam(Path.of(prefix + "_NT.bam"), NuclearRefs, nt, pool)
      Sample(prefix, Expected(keptNames.length.toLong, sumStart, sumMapQ,
        sha256Lines(keptNames.sorted)))
    }
    val files = Seq(dir.resolve("mitomap.ld"), dir.resolve("numts.tsv")) ++
      samples.flatMap(s => Seq("_MT_MD.bam", "_NT.bam", "_MT.bam")
        .map(x => Path.of(s.prefix + x)))
    Inputs(dir.resolve("mitomap.ld").toString, dir.resolve("numts.tsv").toString,
      samples, files)
  }

  /** 7–9 mismatch offsets chained along LD-linked distances. */
  private def chain(rng: SplittableRandom, k: Int): Array[Int] = {
    val out = ArrayBuffer(rng.nextInt(0, 20))
    while (out.length < k && out.last + 3 < ReadLen) {
      val next = out.last + ChainSteps(rng.nextInt(ChainSteps.length))
      if (next < ReadLen) out += next
    }
    out.toArray
  }

  /** MD string for mismatches at sorted read offsets. */
  private def mdString(offs: Array[Int], refAt: Int => Char): String = {
    val sb = new StringBuilder
    var prev = 0
    offs.foreach { o => sb.append(o - prev).append(refAt(o)); prev = o + 1 }
    sb.append(ReadLen - prev).toString
  }

  private def randomQual(rng: SplittableRandom): String = {
    val q = new Array[Char](ReadLen)
    var i = 0
    while (i < ReadLen) { q(i) = (33 + rng.nextInt(2, 42)).toChar; i += 1 }
    new String(q)
  }

  /** 30% of nuclear alignments fall inside a NUMT interval. */
  private def ntPlacement(rng: SplittableRandom, numts: Seq[NumtInterval]): (Int, Int) =
    if (rng.nextDouble() < 0.3) {
      val n = numts(rng.nextInt(numts.length))
      (n.chrom, rng.nextInt(n.start, n.end))
    } else {
      val c = rng.nextInt(NuclearRefs.length)
      (c, rng.nextInt(1, NuclearRefs(c)._2 - 2 * ReadLen - 300))
    }

  /** LD table: `LdRows` distinct pairs of NUMT alleles at LD-linked
    * distances, R in [0.3, 1.0), half the rows written in swapped order. */
  private def writeLd(path: Path, rng: SplittableRandom,
      allele: Int => Char): Unit = {
    val cands = for {
      x <- 1 to ChrMLen; d <- LdOffsets if x + d <= ChrMLen
    } yield (x, d)
    val keys = cands.map(_ => rng.nextLong())
    val chosen = cands.indices.sortBy(keys).take(LdRows).sorted.map(cands)
    val sb = new StringBuilder
    chosen.foreach { case (x, d) =>
      val (a, b) = (s"$x${allele(x)}", s"${x + d}${allele(x + d)}")
      val r = 0.3 + 0.7 * rng.nextDouble()
      if (rng.nextBoolean()) sb.append(a).append('\t').append(b)
      else sb.append(b).append('\t').append(a)
      sb.append('\t').append(f"$r%.4f").append('\n')
    }
    Files.write(path, sb.toString.getBytes(US_ASCII))
  }

  /** 23 NUMT intervals, one on each of chr1..chr22 and chrX. */
  private def writeNumts(path: Path, rng: SplittableRandom): Seq[NumtInterval] = {
    val numts = (0 until 23).map { c =>
      val start = rng.nextInt(1000000, 5000000)
      NumtInterval(c, start, start + rng.nextInt(1000, 20000),
        f"${1 + 99 * rng.nextDouble()}%.1f")
    }
    Files.write(path, numts.map(n =>
      s"${NuclearRefs(n.chrom)._1}\t${n.start}\t${n.end}\t${n.score}\n")
      .mkString.getBytes(US_ASCII))
    numts
  }

  /** Typed BAM optional fields, smallest integer type as samtools writes. */
  final class Tags {
    private val out = new ByteArrayOutputStream
    private def tag(t: String, typ: Char): Unit = {
      out.write(t.charAt(0)); out.write(t.charAt(1)); out.write(typ)
    }
    def u8(t: String, v: Int): Tags = { tag(t, 'C'); out.write(v); this }
    def z(t: String, v: String): Tags = {
      tag(t, 'Z'); out.write(v.getBytes(US_ASCII)); out.write(0); this
    }
    def bytes: Array[Byte] = out.toByteArray
  }

  /** SAM spec §5.3 `reg2bin` over the 0-based half-open [beg, end). */
  def reg2bin(beg: Int, endExcl: Int): Int = {
    val end = endExcl - 1
    if (beg >> 14 == end >> 14) ((1 << 15) - 1) / 7 + (beg >> 14)
    else if (beg >> 17 == end >> 17) ((1 << 12) - 1) / 7 + (beg >> 17)
    else if (beg >> 20 == end >> 20) ((1 << 9) - 1) / 7 + (beg >> 20)
    else if (beg >> 23 == end >> 23) ((1 << 6) - 1) / 7 + (beg >> 23)
    else if (beg >> 26 == end >> 26) ((1 << 3) - 1) / 7 + (beg >> 26)
    else 0
  }

  private val SeqCode = Array.fill(128)(15)
  "=ACMGRSVTWYHKDBN".zipWithIndex.foreach { case (c, i) => SeqCode(c) = i }

  /** Encode one record per SAM spec §4.2, with a spec `bin` (4680 for an
    * unplaced read). Every read here is a full-length match (`100M`). */
  def encode(r: Rec): Array[Byte] = {
    val name = r.name.getBytes(US_ASCII)
    val lSeq = r.seq.length
    val size = 32 + name.length + 1 + 4 + (lSeq + 1) / 2 + lSeq + r.tags.length
    val b = ByteBuffer.allocate(4 + size).order(ByteOrder.LITTLE_ENDIAN)
    val pos0 = r.pos1 - 1
    val bin = if (r.refId < 0) 4680 else reg2bin(pos0, pos0 + lSeq)
    b.putInt(size).putInt(r.refId).putInt(pos0)
    b.put((name.length + 1).toByte).put(r.mapq.toByte).putShort(bin.toShort)
    b.putShort(1).putShort(r.flag.toShort).putInt(lSeq)
    b.putInt(r.nextRefId).putInt(r.nextPos1 - 1).putInt(r.tlen)
    b.put(name).put(0.toByte)
    b.putInt((lSeq << 4) | 0) // lSeq M
    var i = 0
    while (i < lSeq) {
      val hi = SeqCode(r.seq.charAt(i))
      val lo = if (i + 1 < lSeq) SeqCode(r.seq.charAt(i + 1)) else 0
      b.put(((hi << 4) | lo).toByte)
      i += 2
    }
    i = 0
    while (i < lSeq) { b.put((r.qual.charAt(i) - 33).toByte); i += 1 }
    b.put(r.tags)
    b.array()
  }

  /** Coordinate-sorted BAM: header, records, spec EOF marker. */
  def writeBam(path: Path, refs: Seq[(String, Int)], recs: collection.Seq[Rec],
      pool: ExecutorService): Unit = {
    val header = new ByteArrayOutputStream
    val text = ("@HD\tVN:1.6\tSO:coordinate\n" +
      refs.map { case (n, l) => s"@SQ\tSN:$n\tLN:$l\n" }.mkString +
      "@RG\tID:bench\tSM:bench\tPL:ILLUMINA\n").getBytes(US_ASCII)
    def le32(v: Int): Unit = {
      header.write(v); header.write(v >>> 8); header.write(v >>> 16); header.write(v >>> 24)
    }
    header.write("BAM\u0001".getBytes(US_ASCII))
    le32(text.length); header.write(text); le32(refs.size)
    refs.foreach { case (n, l) =>
      val nb = n.getBytes(US_ASCII); le32(nb.length + 1); header.write(nb)
      header.write(0); le32(l)
    }
    val body = new ByteArrayOutputStream(recs.length * 400)
    recs.sortBy(r => (r.refId, r.pos1, r.name, r.flag)).foreach(r => body.write(encode(r)))
    // the header sits in its own member, as htslib writes it
    BgzfWriter.write(path, Seq(header.toByteArray, body.toByteArray), pool)
  }

  def sha256Lines(lines: collection.Seq[String]): String = {
    val d = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => d.update(l.getBytes(US_ASCII)); d.update('\n'.toByte) }
    hex(d.digest())
  }

  def sha256File(p: Path): String = {
    val d = MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(p)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n > 0) { d.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    hex(d.digest())
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
}

/** Minimal BGZF writer (SAM spec §4.1): members of at most 0xff00 payload
  * bytes with the `BC` extra subfield, then the 28-byte EOF member. Members
  * deflate in parallel on `pool`, at zlib's default level. */
object BgzfWriter {
  val MaxPayload = 0xff00
  val Eof: Array[Byte] =
    "1f8b08040000000000ff0600424302001b0003000000000000000000"
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** Each part starts a new member. */
  def write(path: Path, parts: Seq[Array[Byte]], pool: ExecutorService): Unit = {
    val chunks = parts.flatMap(p =>
      (0 until math.max(1, (p.length + MaxPayload - 1) / MaxPayload)).map(i =>
        (p, i * MaxPayload, math.min(MaxPayload, p.length - i * MaxPayload))))
    val members = chunks.map { case (p, off, len) =>
      pool.submit(new Callable[Array[Byte]] { def call() = member(p, off, len) })
    }
    val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 16)
    try {
      members.foreach(f => out.write(f.get()))
      out.write(Eof)
    } finally out.close()
  }

  def member(p: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    val cbuf = new Array[Byte](len + 1024)
    d.setInput(p, off, len); d.finish()
    var clen = 0
    while (!d.finished()) clen += d.deflate(cbuf, clen, cbuf.length - clen)
    d.end()
    val crc = new CRC32
    crc.update(p, off, len)
    val b = ByteBuffer.allocate(18 + clen + 8).order(ByteOrder.LITTLE_ENDIAN)
    b.put(Array[Byte](0x1f, 0x8b.toByte, 8, 4, 0, 0, 0, 0, 0, 0xff.toByte))
    b.putShort(6).put('B'.toByte).put('C'.toByte).putShort(2)
    b.putShort((18 + clen + 8 - 1).toShort)
    b.put(cbuf, 0, clen).putInt(crc.getValue.toInt).putInt(len)
    b.array()
  }
}
