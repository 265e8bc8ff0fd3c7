package graft.sources

import graft.SparkSpec
import graft.mito.Sam
import org.apache.spark.sql.functions._

class BamWriterSpec extends SparkSpec {

  private val recordCols = Seq("readName", "flag", "referenceName", "start",
    "mapQ", "cigar", "rnext", "pnext", "tlen", "sequence", "qual",
    "attributes").map(col)

  test("round trip: sam text -> BamWriter -> format(\"bam\") preserves records") {
    val tmp = java.nio.file.Files.createTempDirectory("bamw").toString
    val src = Sam.read(spark, resource("mito/sample_MT_MD.sam"))
    val (text, refs) = BamWriter.readHeader(resource("mito/sample_MT_MD.bam"))
    val n = BamWriter.write(src, text, refs, s"$tmp/out.bam")
    assert(n === 7)
    val back = spark.read.format("bam").load(s"$tmp/out.bam").select(recordCols: _*)
    val orig = src.select(recordCols: _*)
    assert(back.except(orig).isEmpty && orig.except(back).isEmpty)
  }

  test("records carry the spec bin: reg2bin of the span, 4680 unplaced, CSI past 2^29") {
    import spark.implicits._
    // (name, flag, rname, 1-based start, cigar)
    val recs = Seq(
      ("m1", 0, "chr1", 1, "10M"),           // [0, 10): leaf 4681
      ("m2", 0, "chr1", 16380, "10M"),       // crosses a 16 kb window
      ("m3", 0, "chr1", 100000, "5M2000N5M"), // N consumes reference
      ("u1", 4, "chr1", 16380, "10M"),       // unmapped, placed: one base
      ("u2", 4, "*", 0, "*"),                // unplaced
      ("far", 0, "chrL", 600000000, "10M"))  // past the BAI range
      .toDF("readName", "flag", "referenceName", "start", "cigar")
      .select(col("readName"), col("flag"), col("referenceName"),
        col("start"), lit(60).as("mapQ"), col("cigar"), lit("*").as("rnext"),
        lit(0).as("pnext"), lit(0).as("tlen"), lit("ACGTACGTAC").as("sequence"),
        lit("*").as("qual"), lit("NM:i:0").as("attributes"))
    val tmp = java.nio.file.Files.createTempDirectory("bambin").toString
    val refs = Seq("chr1" -> 1000000, "chrL" -> 700000000)
    BamWriter.write(recs, "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:1000000\n" +
      "@SQ\tSN:chrL\tLN:700000000\n", refs, s"$tmp/bins.bam")
    assert(readBins(s"$tmp/bins.bam") === Map(
      "m1" -> 4681,
      "m2" -> BaiIndex.reg2bin(16379, 16389),
      "m3" -> BaiIndex.reg2bin(99999, 102009),
      "u1" -> 4681,
      "u2" -> 4680,
      // chrL needs a depth-6 CSI; the 16-bit field keeps the low bits
      "far" -> (CsiIndex.reg2bin(599999999L, 600000009L, 14, 6) & 0xffff)))
    assert(BaiIndex.reg2bin(16379, 16389) === 585)
  }

  /** read name → the `bin` field of every record, decoded from the file. */
  private def readBins(path: String): Map[String, Int] =
    readRecords(path).map { case (n, bb) => n -> (bb.getShort(10) & 0xffff) }

  /** read name → the record body (after `block_size`), little-endian. */
  private def readRecords(path: String): Map[String, java.nio.ByteBuffer] = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      new java.util.zip.GZIPInputStream(
        java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path)))))
    def i32(): Int = Integer.reverseBytes(in.readInt())
    try {
      in.skipNBytes(4) // magic
      in.skipNBytes(i32().toLong) // header text
      (1 to i32()).foreach { _ => in.skipNBytes(i32().toLong); i32() }
      val out = Map.newBuilder[String, java.nio.ByteBuffer]
      var size = 0
      while ({ size = try i32() catch { case _: java.io.EOFException => -1 }; size >= 0 }) {
        val body = new Array[Byte](size)
        in.readFully(body)
        val bb = java.nio.ByteBuffer.wrap(body).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nameLen = body(8) & 0xff
        out += new String(body, 32, nameLen - 1, "US-ASCII") -> bb
      }
      out.result()
    } finally in.close()
  }

  test("sortAndWrite: dictionary-ORDER sort (not name order), unmapped last") {
    import spark.implicits._
    // dictionary order chr2 < chr1; name order would invert it. One
    // unmapped record ("*") must land at the very end, encoded refId -1.
    val recs = Seq(
      ("r1", 0, "chr1", 500, 60), ("r2", 0, "chr2", 900, 60),
      ("r3", 0, "chr1", 10, 60), ("r4", 0, "chr2", 5, 60),
      ("r5", 0, "*", 1, 0), ("r6", 0, "chr2", 901, 60))
      .toDF("readName", "flag", "referenceName", "start", "mapQ")
      .select(col("readName"), col("flag"), col("referenceName"),
        col("start"), col("mapQ"), lit("10M").as("cigar"),
        lit("*").as("rnext"), lit(0).as("pnext"), lit(0).as("tlen"),
        lit("ACGTACGTAC").as("sequence"), lit("*").as("qual"),
        lit("NM:i:0").as("attributes"))
    val tmp = java.nio.file.Files.createTempDirectory("bamsort").toString
    val refs = Seq("chr2" -> 10000, "chr1" -> 10000)
    val n = BamWriter.sortAndWrite(recs,
      "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr2\tLN:10000\n@SQ\tSN:chr1\tLN:10000\n",
      refs, s"$tmp/sorted.bam", numPartitions = 3)
    assert(n === 6)
    // single split -> DataFrame row order is file order
    val back = spark.read.format("bam").load(s"$tmp/sorted.bam")
      .select("readName").collect().map(_.getString(0)).toSeq
    assert(back === Seq("r4", "r2", "r6", "r3", "r1", "r5"))
  }

  test("written file carries the BGZF EOF marker and a valid header") {
    val tmp = java.nio.file.Files.createTempDirectory("bamw2").toString
    val src = Sam.read(spark, resource("mito/sample_NT.sam"))
    val (text, refs) = BamWriter.readHeader(resource("mito/sample_NT.bam"))
    BamWriter.write(src, text, refs, s"$tmp/nt.bam")
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$tmp/nt.bam"))
    // gzip magic at start, spec EOF marker at end
    assert((bytes(0) & 0xff) === 0x1f && (bytes(1) & 0xff) === 0x8b)
    val eof = bytes.takeRight(28)
    assert((eof(0) & 0xff) === 0x1f && (eof(12), eof(13)) === (('B'.toByte, 'C'.toByte)))
    // header round-trips through our own header reader
    val (text2, refs2) = BamWriter.readHeader(s"$tmp/nt.bam")
    assert(refs2 === refs)
    assert(text2 === text)
  }

  test("records larger than one BGZF member split across members (BSIZE cap)") {
    // a 70 KB sequence makes the encoded record (~105 KB with qual) exceed
    // the 60 KB member payload cap: without the pre-append flush the
    // member would exceed 65535 bytes and BSIZE (uint16) silently wraps
    import spark.implicits._
    val longSeq = ("ACGT" * (70 * 1024 / 4))
    val qual = "I" * longSeq.length
    val rec = Seq(("rBig", 0, "chrM", 1, 60, s"${longSeq.length}M", "*", 0, 0,
        longSeq, qual, "NM:i:0"))
      .toDF("readName", "flag", "referenceName", "start", "mapQ", "cigar",
        "rnext", "pnext", "tlen", "sequence", "qual", "attributes")
    val tmp = java.nio.file.Files.createTempDirectory("bamw4").toString
    BamWriter.write(rec, "@HD\tVN:1.6\n", Seq("chrM" -> 16569), s"$tmp/big.bam")
    // every BGZF member in the file must respect the uint16 BSIZE bound
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$tmp/big.bam"))
    var off = 0
    var members = 0
    while (off < bytes.length) {
      assert((bytes(off) & 0xff) === 0x1f && (bytes(off + 1) & 0xff) === 0x8b,
        s"bad member magic at $off")
      val bsize = ((bytes(off + 16) & 0xff) | ((bytes(off + 17) & 0xff) << 8)) + 1
      assert(bsize <= 65536, s"member at $off has size $bsize")
      off += bsize
      members += 1
    }
    assert(off === bytes.length) // members tile the file exactly
    assert(members > 2)          // the record really did span members
    val back = spark.read.format("bam").load(s"$tmp/big.bam")
    val r = back.head()
    assert(r.getAs[String]("sequence") === longSeq)
    assert(r.getAs[String]("qual") === qual)
  }

  test("multi-partition write: executor part-files, driver concat, no funnel") {
    import spark.implicits._
    // 5 explicit partitions, each big enough to emit several BGZF members —
    // the write path must stream every partition to its own part-file
    // (bounded ~60 KB member buffer) and leave only the concatenated file
    val recs = spark.range(0, 5000).repartition(5).select(
      concat(lit("r"), col("id")).as("readName"),
      lit(99).as("flag"), lit("chrM").as("referenceName"),
      (col("id") % 16000 + 1).cast("int").as("start"),
      lit(60).as("mapQ"), lit("10M").as("cigar"), lit("=").as("rnext"),
      lit(0).as("pnext"), lit(0).as("tlen"),
      lit("ACGTACGTAC").as("sequence"), lit("IIIIIIIIII").as("qual"),
      concat(lit("NM:i:"), col("id") % 4).as("attributes"))
    val tmp = java.nio.file.Files.createTempDirectory("bamw5").toString
    val out = s"$tmp/multi.bam"
    val n = BamWriter.write(recs, "@HD\tVN:1.6\n@SQ\tSN:chrM\tLN:16569\n",
      Seq("chrM" -> 16569), out)
    assert(n === 5000)
    // the scratch part-file dir is cleaned up after the commit concat
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out.parts")))
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out))
    // members tile the file exactly and each respects the uint16 BSIZE cap
    // (the structural witness that only ≤60 KB member buffers ever existed)
    var off = 0
    var members = 0
    while (off < bytes.length) {
      assert((bytes(off) & 0xff) === 0x1f && (bytes(off + 1) & 0xff) === 0x8b,
        s"bad member magic at $off")
      val bsize = ((bytes(off + 16) & 0xff) | ((bytes(off + 17) & 0xff) << 8)) + 1
      assert(bsize <= 65536, s"member at $off has size $bsize")
      off += bsize
      members += 1
    }
    assert(off === bytes.length)
    assert(members >= 6) // header member + at least one per partition
    // exactly one EOF marker, at the tail: part runs must not carry EOFs
    val eof = BgzfOutputStream.EofMarker
    val eofCount = (0 to bytes.length - eof.length).count(i =>
      eof.indices.forall(j => bytes(i + j) == eof(j)))
    assert(eofCount === 1 && bytes.takeRight(28).sameElements(eof))
    // full-fidelity round trip through the bam DSv2 reader
    val back = spark.read.format("bam").load(out)
    assert(back.count() === 5000)
    assert(back.agg(sum(col("start"))).head.getLong(0) ===
      (0L until 5000L).map(_ % 16000 + 1).sum)
    assert(back.select(recordCols: _*).except(recs.select(recordCols: _*)).isEmpty)
  }

  test("concat ignores stray part-files from failed/duplicate task attempts") {
    import spark.implicits._
    // simulate a retried/zombie attempt: a garbage file named like a
    // second attempt (-a1) sits in the scratch dir alongside the real
    // tasks' -a0 parts; the commit concat must read ONLY the (pid, count,
    // path) triples the successful tasks returned, so the garbage never
    // reaches the output — and the scratch dir (stray included) is dropped
    val recs = spark.range(0, 300).repartition(3).select(
      concat(lit("r"), col("id")).as("readName"),
      lit(0).as("flag"), lit("chrM").as("referenceName"),
      (col("id") % 16000 + 1).cast("int").as("start"),
      lit(60).as("mapQ"), lit("10M").as("cigar"), lit("*").as("rnext"),
      lit(0).as("pnext"), lit(0).as("tlen"),
      lit("ACGTACGTAC").as("sequence"), lit("IIIIIIIIII").as("qual"),
      lit("NM:i:0").as("attributes"))
    val tmp = java.nio.file.Files.createTempDirectory("bamw6").toString
    val out = s"$tmp/retry.bam"
    val partsDir = java.nio.file.Paths.get(s"$out.parts")
    java.nio.file.Files.createDirectories(partsDir)
    java.nio.file.Files.write(partsDir.resolve("part-00001-a1"),
      "GARBAGE-NOT-BGZF-FROM-A-FAILED-ATTEMPT".getBytes("US-ASCII"))
    val n = BamWriter.write(recs, "@HD\tVN:1.6\n@SQ\tSN:chrM\tLN:16569\n",
      Seq("chrM" -> 16569), out)
    assert(n === 300)
    assert(!java.nio.file.Files.exists(partsDir), "scratch dir not dropped")
    // the file still tiles as valid BGZF members end to end — any stray
    // ASCII bytes in the concat would break the member framing
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out))
    var off = 0
    while (off < bytes.length) {
      assert((bytes(off) & 0xff) === 0x1f && (bytes(off + 1) & 0xff) === 0x8b,
        s"bad member magic at $off")
      off += ((bytes(off + 16) & 0xff) | ((bytes(off + 17) & 0xff) << 8)) + 1
    }
    assert(off === bytes.length)
    // and round-trips to exactly the input records
    val back = spark.read.format("bam").load(out)
    assert(back.count() === 300)
    assert(back.select(recordCols: _*).except(recs.select(recordCols: _*)).isEmpty)
  }

  test("index-on-write emits a .bai byte-identical to a post-hoc " +
      "BaiIndex.build over the finished file") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bamiow").toString
    // 2500 records over two contigs, positions spread across many 16 kb
    // windows, mixed CIGARs (deletions widen spans; '*' spans 1 base),
    // plus unmapped records that must land in n_no_coor on both paths
    val recs = (1 to 2500).map { i =>
      val unmapped = i % 17 == 0
      val contig = if (unmapped) "*" else if (i % 3 == 0) "chr1" else "MT"
      val start = if (unmapped) 0 else (i * 37) % 150000 + 1
      val cigar = if (unmapped || i % 5 == 0) "*" else "30M5D20M"
      (f"r$i%04d", if (unmapped) 4 else 0, contig, start, 60, cigar,
        "*", 0, 0, "A" * 50, "*", "NM:i:0")
    }.toDF("readName", "flag", "referenceName", "start", "mapQ", "cigar",
      "rnext", "pnext", "tlen", "sequence", "qual", "attributes")
    val refs = Seq("MT" -> 200000, "chr1" -> 200000)
    val out = s"$tmp/iow.bam"
    val n = BamWriter.sortAndWrite(recs,
      "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:MT\tLN:200000\n" +
        "@SQ\tSN:chr1\tLN:200000\n",
      refs, out, numPartitions = 7, index = true)
    assert(n === 2500)
    val fromWrite = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out + ".bai"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(out + ".bai"))
    assert(BaiIndex.build(out) === 2500)
    assert(java.util.Arrays.equals(fromWrite,
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out + ".bai"))),
      "write-emitted .bai differs from the post-hoc sequential build")
    // the write-emitted index drives a correct pruned region scan
    def regionCount() = spark.read.format("bam")
      .option("splitsize", 7001).load(out)
      .where(col("referenceName") === "MT" &&
        col("start") >= 40000 && col("start") < 90000).count()
    val indexed = regionCount()
    java.nio.file.Files.delete(java.nio.file.Paths.get(out + ".bai"))
    assert(indexed === regionCount(),
      "indexed region scan diverged from the unindexed scan")
  }

  test("placed unmapped read: write-side .bai == post-hoc .bai, and its " +
      "chunk sits in the bin its `bin` field names (htslib bam_endpos)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bamiowpu").toString
    // u1 is unmapped but placed at 16300 with a 100M CIGAR: by CIGAR it
    // would span [16299, 16399) (bin 585); bam_endpos gives [16299, 16300)
    val recs = Seq(
      ("m1", 0, "chr1", 100, "50M"),
      ("u1", 4, "chr1", 16300, "100M"),
      ("m2", 0, "chr1", 20000, "50M"))
      .toDF("readName", "flag", "referenceName", "start", "cigar")
      .select(col("readName"), col("flag"), col("referenceName"),
        col("start"), lit(60).as("mapQ"), col("cigar"), lit("*").as("rnext"),
        lit(0).as("pnext"), lit(0).as("tlen"), lit("A" * 100).as("sequence"),
        lit("*").as("qual"), lit("NM:i:0").as("attributes"))
      .coalesce(1)
    val out = s"$tmp/pu.bam"
    BamWriter.write(recs, "@HD\tVN:1.6\tSO:coordinate\n" +
      "@SQ\tSN:chr1\tLN:100000\n", Seq("chr1" -> 100000), out, index = true)
    val side = java.nio.file.Paths.get(out + ".bai")
    val fromWrite = java.nio.file.Files.readAllBytes(side)
    java.nio.file.Files.delete(side)
    assert(BaiIndex.build(out) === 3)
    assert(java.util.Arrays.equals(fromWrite,
      java.nio.file.Files.readAllBytes(side)),
      "write-emitted .bai differs from the post-hoc build")
    val bin = readBins(out)("u1")
    assert(bin === 4681)
    val (vBeg, vEnd) = IndexArithmeticSpec.bamVoffsets(out)("u1")
    val chunks = BaiIndex.read(out).refs(0).bins(bin)
    assert(chunks.exists(c => c.beg <= vBeg && vEnd <= c.end),
      s"u1 [$vBeg, $vEnd) not in bin $bin: ${chunks.toSeq}")
  }

  test("index-on-write refuses unsorted input loudly") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bamiow2").toString
    val recs = Seq(
      ("r1", 0, "MT", 900, 60, "10M", "*", 0, 0, "A" * 10, "*", "NM:i:0"),
      ("r2", 0, "MT", 5, 60, "10M", "*", 0, 0, "A" * 10, "*", "NM:i:0"))
      .toDF("readName", "flag", "referenceName", "start", "mapQ", "cigar",
        "rnext", "pnext", "tlen", "sequence", "qual", "attributes")
      .coalesce(1)
    val e = intercept[Exception](BamWriter.write(recs,
      "@HD\tVN:1.6\n@SQ\tSN:MT\tLN:16569\n", Seq("MT" -> 16569),
      s"$tmp/bad.bam", index = true))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("not coordinate-sorted")), e.toString)
  }

  test("writer refuses a referenceName absent from the header dictionary " +
      "(ADVICE r14: silently encoding it unplaced hides the read from " +
      "every region query)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bamw4").toString
    def rec(rname: String, rnext: String) =
      Seq(("r1", 0, rname, 5, 60, "4M", rnext, 0, 0, "ACGT", "*", "NM:i:0"))
        .toDF("readName", "flag", "referenceName", "start", "mapQ", "cigar",
          "rnext", "pnext", "tlen", "sequence", "qual", "attributes")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // typo'd referenceName raises naming the contig — both plain and
    // index-on-write paths go through the same encode
    val e1 = intercept[Exception](BamWriter.write(rec("chrMT", "*"),
      "@HD\tVN:1.6\n@SQ\tSN:chrM\tLN:16569\n", Seq("chrM" -> 16569),
      s"$tmp/a.bam"))
    assert(msgs(e1).exists(_.contains("'chrMT'")), e1.toString)
    // same discipline for the MATE contig
    val e2 = intercept[Exception](BamWriter.write(rec("chrM", "chr17"),
      "@HD\tVN:1.6\n@SQ\tSN:chrM\tLN:16569\n", Seq("chrM" -> 16569),
      s"$tmp/b.bam"))
    assert(msgs(e2).exists(_.contains("'chr17'")), e2.toString)
    // '*' (unplaced) stays legal
    val n = BamWriter.write(rec("*", "*").withColumn("start", lit(0))
      .withColumn("mapQ", lit(0)).withColumn("cigar", lit("*")),
      "@HD\tVN:1.6\n@SQ\tSN:chrM\tLN:16569\n", Seq("chrM" -> 16569),
      s"$tmp/c.bam")
    assert(n === 1)
  }

  test("writer re-encodes every tag the bam source emits: B arrays of all " +
      "seven subtypes and uint32 values past 2^31 (decode, write, decode)") {
    val tmp = java.nio.file.Files.createTempDirectory("bamtags").toString
    val fixture = resource("mito/sample_tags.bam")
    val first = spark.read.format("bam").load(fixture)
    val (text, refs) = BamWriter.readHeader(fixture)
    assert(BamWriter.write(first, text, refs, s"$tmp/tags.bam") === 4)
    val again = spark.read.format("bam").load(s"$tmp/tags.bam")
    def attrs(df: org.apache.spark.sql.DataFrame) =
      df.select("readName", "flag", "attributes").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq
    assert(attrs(again) === attrs(first))
    val byRead = attrs(first).map { case (n, f, a) => (n, f) -> a }.toMap
    assert(byRead(("t1", 99)).contains("ML:B:C,0,128,255"))
    assert(byRead(("t2", 0)).contains("XJ:B:I,0,4294967295"))
    assert(byRead(("t3", 0)).contains("XL:i:4294967295"))
    assert(again.select(recordCols: _*).except(first.select(recordCols: _*)).isEmpty)
  }

  test("writer bytes equal the independent fixture encoder's on B arrays " +
      "and uint32 tags (inflated payload)") {
    val tmp = java.nio.file.Files.createTempDirectory("bamtagbytes").toString
    val fixture = resource("mito/sample_tags.bam")
    val (text, refs) = BamWriter.readHeader(fixture)
    BamWriter.write(Sam.read(spark, resource("mito/sample_tags.sam")).coalesce(1),
      text, refs, s"$tmp/tags.bam")
    def inflated(path: String): Array[Byte] = {
      val in = new java.util.zip.GZIPInputStream(
        java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path)))
      try in.readAllBytes() finally in.close()
    }
    val want = inflated(fixture)
    val got = inflated(s"$tmp/tags.bam")
    assert(got.length === want.length)
    assert(java.util.Arrays.equals(got, want),
      s"first difference at byte ${got.indices.find(i => got(i) != want(i))}")
  }

  test("SEQ `*` is l_seq 0 with no seq or qual bytes, and reads back as " +
      "`*`/`*` (writer bytes equal the fixture encoder's)") {
    val tmp = java.nio.file.Files.createTempDirectory("bamnoseq").toString
    val fixture = resource("mito/sample_noseq.bam")
    val (text, refs) = BamWriter.readHeader(fixture)
    val src = Sam.read(spark, resource("mito/sample_noseq.sam"))
    assert(BamWriter.write(src.coalesce(1), text, refs, s"$tmp/noseq.bam") === 3)
    for (path <- Seq(fixture, s"$tmp/noseq.bam")) {
      val lSeq = readRecords(path).map { case (n, bb) => n -> bb.getInt(16) }
      assert(lSeq === Map("n1" -> 0, "n2" -> 4, "n3" -> 0), path)
      val back = spark.read.format("bam").load(path)
        .select("readName", "sequence", "qual").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
      assert(back === Seq(("n1", "*", "*"), ("n2", "ACGT", "IIII"), ("n3", "*", "*")), path)
      val both = spark.read.format("bam").load(path).select(recordCols: _*)
      assert(both.except(src.select(recordCols: _*)).isEmpty, path)
    }
    def inflated(path: String): Array[Byte] = {
      val in = new java.util.zip.GZIPInputStream(
        java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path)))
      try in.readAllBytes() finally in.close()
    }
    assert(java.util.Arrays.equals(inflated(s"$tmp/noseq.bam"), inflated(fixture)))
  }

  test("writer refuses out-of-range integer and array tag values") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bamtagrange").toString
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    for ((attr, i) <- Seq("XL:i:4294967296", "XL:i:-2147483649", "XB:B:C,256",
        "XS:B:s,32768")
        .zipWithIndex) {
      val rec = Seq(("r1", 0, "chrM", 1, 60, "4M", "*", 0, 0, "ACGT", "*", attr))
        .toDF("readName", "flag", "referenceName", "start", "mapQ", "cigar",
          "rnext", "pnext", "tlen", "sequence", "qual", "attributes")
      val e = intercept[Exception](BamWriter.write(rec, "@HD\tVN:1.6\n",
        Seq("chrM" -> 16569), s"$tmp/bad$i.bam"))
      assert(msgs(e).exists(m => m.contains(attr) || m.contains("out of range")),
        e.toString)
    }
  }

  test("writer refuses a QNAME, MAPQ or FLAG its BAM field cannot hold, " +
      "naming the read") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bamwidth").toString
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val long = "q" * 255
    for (((name, mapq, flag), i) <- Seq((long, 60, 0), ("m256", 256, 0),
        ("mneg", -1, 0), ("f65536", 60, 65536)).zipWithIndex) {
      val rec = Seq((name, flag, "chrM", 1, mapq, "4M", "*", 0, 0, "ACGT",
        "*", "NM:i:0"))
        .toDF("readName", "flag", "referenceName", "start", "mapQ", "cigar",
          "rnext", "pnext", "tlen", "sequence", "qual", "attributes")
      val e = intercept[Exception](BamWriter.write(rec, "@HD\tVN:1.6\n",
        Seq("chrM" -> 16569), s"$tmp/bad$i.bam"))
      assert(msgs(e).exists(_.contains(s"read '$name'")), e.toString)
    }
    // the widest legal values still write and read back
    val edge = Seq(("q" * 254, 65535, "chrM", 1, 255, "4M", "*", 0, 0,
      "ACGT", "*", "NM:i:0"))
      .toDF("readName", "flag", "referenceName", "start", "mapQ", "cigar",
        "rnext", "pnext", "tlen", "sequence", "qual", "attributes")
    BamWriter.write(edge, "@HD\tVN:1.6\n", Seq("chrM" -> 16569),
      s"$tmp/edge.bam")
    val back = spark.read.format("bam").load(s"$tmp/edge.bam")
      .select("readName", "flag", "mapQ").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq
    assert(back === Seq(("q" * 254, 65535, 255)))
  }

  test("a CIGAR of more than 65535 ops round-trips through the CG tag " +
      "(SAM spec 4.2.2), with the bin and the write-side .bai of its span") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("bamcg").toString
    val longCigar = "1M1I" * 33000 + "5M" // 66001 ops, 33005 reference bases
    val seq = "A" * 66005
    val recs = Seq(
      ("a", 0, "chr1", 100, 60, "10M", "*", 0, 0, "C" * 10, "*", "NM:i:0"),
      ("long", 0, "chr1", 200, 60, longCigar, "*", 0, 0, seq, "*",
        "NM:i:0 XZ:Z:x"),
      ("b", 0, "chr1", 50000, 60, "10M", "*", 0, 0, "G" * 10, "*", "NM:i:1"))
      .toDF("readName", "flag", "referenceName", "start", "mapQ", "cigar",
        "rnext", "pnext", "tlen", "sequence", "qual", "attributes")
      .coalesce(1)
    val out = s"$tmp/cg.bam"
    assert(BamWriter.write(recs, "@HD\tVN:1.6\tSO:coordinate\n" +
      "@SQ\tSN:chr1\tLN:100000\n", Seq("chr1" -> 100000), out,
      index = true) === 3)
    // on disk: the placeholder CIGAR, the span's bin, the ops in CG:B:I
    val body = readRecords(out)("long")
    assert((body.getShort(12) & 0xffff) === 2)
    val nameLen = body.get(8) & 0xff
    assert(body.getInt(32 + nameLen) === (66005 << 4 | 4))
    assert(body.getInt(36 + nameLen) === (33005 << 4 | 3))
    assert((body.getShort(10) & 0xffff) === BaiIndex.reg2bin(199, 199 + 33005))
    // read back: the real CIGAR, and no CG among the attributes
    val back = spark.read.format("bam").load(out)
      .select(recordCols: _*)
    assert(back.except(recs.select(recordCols: _*)).isEmpty &&
      recs.select(recordCols: _*).except(back).isEmpty)
    assert(spark.read.format("bam").load(out).where(col("readName") === "long")
      .select("attributes").head().getString(0) === "NM:i:0 XZ:Z:x")
    // the write-side index spans the placeholder's reference length too
    val side = java.nio.file.Paths.get(out + ".bai")
    val fromWrite = java.nio.file.Files.readAllBytes(side)
    java.nio.file.Files.delete(side)
    assert(BaiIndex.build(out) === 3)
    assert(java.util.Arrays.equals(fromWrite,
      java.nio.file.Files.readAllBytes(side)))
  }

  test("writer refuses records with unsupported tag types") {
    import spark.implicits._
    val bad = Seq(("r1", 0, "chrM", 1, 60, "4M", "*", 0, 0, "ACGT", "*", "XX:Q:weird"))
      .toDF("readName", "flag", "referenceName", "start", "mapQ", "cigar",
        "rnext", "pnext", "tlen", "sequence", "qual", "attributes")
    val tmp = java.nio.file.Files.createTempDirectory("bamw3").toString
    // encode now runs in executor tasks, so the failure surfaces as a
    // SparkException wrapping the encode error
    val e = intercept[Exception] {
      BamWriter.write(bad, "@HD\tVN:1.6\n", Seq("chrM" -> 16569), s"$tmp/bad.bam")
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("unsupported tag type")), e.toString)
  }
}
