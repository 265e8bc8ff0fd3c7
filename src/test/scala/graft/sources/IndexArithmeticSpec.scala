package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions.lit

/** The BAM and tabix accumulators pinned to hand arithmetic on tiny
  * files: every bin, chunk, linear window, pseudo-bin count and
  * `n_no_coor` is derived here from the SAM spec §5 rules, with virtual
  * offsets read back from the file by [[BgzfInputStream.virtualPos]]. */
class IndexArithmeticSpec extends SparkSpec {
  import IndexArithmeticSpec._
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test(".bai of a 5-record BAM matches hand-derived bins, chunks, " +
      "linear windows and counts") {
    // (name, flag, rname, 1-based start, cigar), already coordinate-sorted
    val recs = Seq(
      ("a1", 0, "chr1", 101, "50M"),      // [100, 150): leaf 4681, window 0
      ("a2", 0, "chr1", 121, "20M"),      // [120, 140): 4681, same member
      ("a3", 0, "chr1", 16371, "30M"),    // [16370, 16400): crosses 16384
      ("b1", 0, "chr2", 1001, "10M5D10M"), // [1000, 1025): 4681 on chr2
      ("u1", 4, "*", 0, "*"))             // unplaced: n_no_coor only
      .toDF("readName", "flag", "referenceName", "start", "cigar")
      .select($"readName", $"flag", $"referenceName", $"start",
        lit(60).as("mapQ"), $"cigar", lit("*").as("rnext"),
        lit(0).as("pnext"), lit(0).as("tlen"),
        lit("ACGTACGTAC").as("sequence"), lit("*").as("qual"),
        lit("NM:i:0").as("attributes"))
      .coalesce(1)
    val out = s"${tmp("baiarith")}/t.bam"
    BamWriter.write(recs, "@HD\tVN:1.6\tSO:coordinate\n" +
      "@SQ\tSN:chr1\tLN:100000\n@SQ\tSN:chr2\tLN:100000\n",
      Seq("chr1" -> 100000, "chr2" -> 100000), out)
    assert(BaiIndex.build(out) === 5)
    val v = bamVoffsets(out)
    val (a1, a2, a3, b1) = (v("a1"), v("a2"), v("a3"), v("b1"))
    // one partition of tiny records: all five share one BGZF member
    assert(Seq(a1, a2, a3, b1, v("u1")).map(_._1 >>> 16).distinct.size === 1)

    val bai = BaiIndex.read(out)
    assert(bai.noCoor === 1L)
    assert(bai.refs.length === 2)
    def binsOf(r: Int) = bai.refs(r).bins.map { case (b, cs) => b -> cs.toSeq }
    val meta = BaiIndex.metaBin(5)
    assert(meta === 37450)
    assert(binsOf(0) === Map(
      4681 -> Seq(BaiIndex.Chunk(a1._1, a2._2)), // a1 + a2 merged
      585 -> Seq(BaiIndex.Chunk(a3._1, a3._2)),  // 128 kb level
      // pseudo-bin: the ref's record span, then (n_mapped, n_unmapped)
      meta -> Seq(BaiIndex.Chunk(a1._1, a3._2), BaiIndex.Chunk(3L, 0L))))
    assert(bai.refs(0).linear.toSeq === Seq(a1._1, a3._1))
    assert(binsOf(1) === Map(
      4681 -> Seq(BaiIndex.Chunk(b1._1, b1._2)),
      meta -> Seq(BaiIndex.Chunk(b1._1, b1._2), BaiIndex.Chunk(1L, 0L))))
    assert(bai.refs(1).linear.toSeq === Seq(b1._1))
  }

  test(".tbi of a three-line VCF matches hand-derived bins, chunks and " +
      "hole-filled linear windows") {
    val lines = Seq(
      "chr1\t100\t.\tA\tT\t.\tPASS\tDP=1",    // [99, 100): 4681, window 0
      "chr1\t40000\t.\tAC\tA\t.\tPASS\tDP=1", // [39999, 40001): 4683, w 2
      "chr2\t5\t.\tA\t<DEL>\t.\tPASS\tEND=40000") // [4, 40000): 585, w 0..2
      .toDF("line").coalesce(1)
    val out = s"${tmp("tbiarith")}/t.vcf.gz"
    TextSink.write(Seq("##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"), lines, out)
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Tabix.build(out, conf) === 3)
    val Seq(l1, l2, l3) = vcfVoffsets(out)

    val tbi = Tabix.read(out, conf)
    assert(tbi.names.toSeq === Seq("chr1", "chr2"))
    assert(tbi.bai.noCoor === 0L)
    def binsOf(r: Int) =
      tbi.bai.refs(r).bins.map { case (b, cs) => b -> cs.toSeq }
    assert(binsOf(0) === Map(
      4681 -> Seq(BaiIndex.Chunk(l1._1, l1._2)),
      4683 -> Seq(BaiIndex.Chunk(l2._1, l2._2))))
    // window 1 holds no record: filled from window 0 (htslib rule)
    assert(tbi.bai.refs(0).linear.toSeq === Seq(l1._1, l1._1, l2._1))
    assert(binsOf(1) === Map(585 -> Seq(BaiIndex.Chunk(l3._1, l3._2))))
    assert(tbi.bai.refs(1).linear.toSeq === Seq(l3._1, l3._1, l3._1))
  }
}

object IndexArithmeticSpec {

  private def open(path: String): (SeekableFile, BgzfInputStream) = {
    val ch = new SeekableFile(path, new org.apache.hadoop.conf.Configuration())
    (ch, new BgzfInputStream(ch, 0L))
  }

  private def vpos(in: BgzfInputStream): Long = {
    val (m, u) = in.virtualPos
    (m << 16) | u
  }

  /** read name → (vBeg, vEnd) of every record of a BAM. */
  def bamVoffsets(path: String): Map[String, (Long, Long)] = {
    val (ch, in) = open(path)
    try {
      BamHeader.parse(in, path)
      val din = new java.io.DataInputStream(in)
      val out = Map.newBuilder[String, (Long, Long)]
      var beg = vpos(in)
      var first = in.read()
      while (first >= 0) {
        val body = new Array[Byte](first | (din.readUnsignedByte() << 8) |
          (din.readUnsignedByte() << 16) | (din.readUnsignedByte() << 24))
        din.readFully(body)
        val nameLen = body(8) & 0xff
        out += new String(body, 32, nameLen - 1, "US-ASCII") -> (beg, vpos(in))
        beg = vpos(in)
        first = in.read()
      }
      out.result()
    } finally ch.close()
  }

  /** (vBeg, vEnd) of every non-header line of a bgzip'd text file. */
  def vcfVoffsets(path: String): Seq[(Long, Long)] = {
    val (ch, in) = open(path)
    try {
      val out = Seq.newBuilder[(Long, Long)]
      var beg = vpos(in)
      var b = in.read()
      while (b >= 0) {
        val header = b == '#'
        while (b >= 0 && b != '\n') b = in.read()
        if (!header) out += ((beg, vpos(in)))
        beg = vpos(in)
        b = in.read()
      }
      out.result()
    } finally ch.close()
  }
}
