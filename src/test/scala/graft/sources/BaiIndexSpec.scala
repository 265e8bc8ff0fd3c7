package graft.sources

import graft.SparkSpec
import graft.mito.Sam
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

class BaiIndexSpec extends SparkSpec {

  /** Copy a fixture into a temp dir and build ONLY a `.bai` for it — the
    * samtools-user scenario: no graft-native `.gai` anywhere. */
  private def baiIndexed(fixture: String): String = {
    val dir = Files.createTempDirectory("bai")
    val name = Paths.get(fixture).getFileName
    val dst = dir.resolve(name)
    Files.copy(Paths.get(resource(fixture).stripPrefix("file:")), dst)
    val n = BaiIndex.build(dst.toString)
    assert(n === 3000, "fixture should index all records")
    dst.toString
  }

  test("binning arithmetic matches the spec's reg2bin table") {
    // level anchors from SAM spec §5.3: 16 kb leaves start at bin 4681
    assert(BaiIndex.reg2bin(0, 1) === 4681)
    assert(BaiIndex.reg2bin(16383, 16384) === 4681)
    assert(BaiIndex.reg2bin(16384, 16385) === 4682)
    assert(BaiIndex.reg2bin(0, 16385) === 585)  // spans two leaves -> 128 kb level
    assert(BaiIndex.reg2bin(0, BaiIndex.MaxPos) === 0)
    // reg2bins for one leaf window: the leaf plus its ancestor chain
    val bins = BaiIndex.reg2bins(0, 16384)
    assert(bins.toSet === Set(0, 1, 9, 73, 585, 4681))
    assert(BaiIndex.reg2bins(5, 5).isEmpty) // empty region -> no bins
  }

  test("build round-trips through read with sane structure") {
    val bam = baiIndexed("mito/sample_sorted.bam")
    assert(BaiIndex.exists(bam))
    val bai = BaiIndex.read(bam)
    assert(bai.refs.length === 2) // MT, chr1
    assert(bai.noCoor === 0L)
    assert(bai.refs.forall(_.bins.nonEmpty))
    // MT spans [1, ~16569] -> leaf windows 0..1; chr1 ~[50k, 106k] -> 3..6
    assert(bai.refs(0).linear.length >= 1 && bai.refs(0).linear.length <= 2)
    assert(bai.refs(1).linear.length >= 4)
    // chunks are well-formed voffset intervals over real file bytes —
    // minus the PSEUDO-BIN (37450), whose two "chunks" are the ref's
    // record span and its (n_mapped, n_unmapped) counts (r16)
    val fileLen = Files.size(Paths.get(bam))
    for (r <- bai.refs;
        (bin, cs) <- r.bins if bin != BaiIndex.metaBin(5); c <- cs) {
      assert(java.lang.Long.compareUnsigned(c.beg, c.end) < 0)
      assert((c.beg >>> 16) < fileLen && (c.end >>> 16) <= fileLen)
    }
    // every ref with records carries a pseudo-bin with sane stats
    for (r <- bai.refs) {
      val Array(span, counts) = r.bins(BaiIndex.metaBin(5))
      assert(java.lang.Long.compareUnsigned(span.beg, span.end) < 0)
      assert(counts.beg > 0L) // n_mapped
      assert(counts.end === 0L) // n_unmapped (fixture has none)
    }
  }

  test("distributed bai build == sequential, byte-for-byte, all split sizes") {
    val bam = baiIndexed("mito/sample_sorted.bam") // sequential sidecar
    val seqBytes = Files.readAllBytes(Paths.get(bam + ".bai"))
    // range sizes forcing many tasks (some mid-member, some mid-header)
    for (split <- Seq(32768L, 7001L)) {
      Files.delete(Paths.get(bam + ".bai"))
      val n = BaiIndex.buildDistributed(spark, bam, split)
      assert(n === 3000)
      val distBytes = Files.readAllBytes(Paths.get(bam + ".bai"))
      assert(java.util.Arrays.equals(distBytes, seqBytes),
        s"split=$split: distributed sidecar differs")
    }
  }

  test("bai-pruned scan returns exactly the filtered records, all split sizes") {
    val bam = baiIndexed("mito/sample_sorted.bam")
    val full = Sam.read(spark, resource("mito/sample_sorted.sam"))
    for (pred <- Seq(
        col("referenceName") === "MT",
        col("referenceName") === "chr1" && col("start") >= 50000,
        col("referenceName") === "chr1" &&
          col("start") >= 60000 && col("start") < 90000,
        col("referenceName") === "MT" && col("start") === 12))
      // 4096-byte splits clip runs mid-span -> the guess-sync path
      for (split <- Seq(1 << 20, 16384, 4096)) {
        val viaBai = spark.read.format("bam").option("splitsize", split)
          .load(bam).where(pred).select("readName", "start", "referenceName")
        val expected =
          full.where(pred).select("readName", "start", "referenceName")
        assert(viaBai.except(expected).isEmpty && expected.except(viaBai).isEmpty,
          s"$pred @ splitsize=$split")
        assert(viaBai.count() === expected.count(), s"$pred @ splitsize=$split")
      }
  }

  test("region runs span a minority of the file for a one-ref query") {
    val bam = baiIndexed("mito/sample_sorted.bam")
    val bai = BaiIndex.read(bam)
    val fileLen = Files.size(Paths.get(bam))
    // MT block is ~1/3 of the records; its runs must not span half the file
    val runs = BaiIndex.memberRuns(
      BaiIndex.chunks(bai, 0, 0, BaiIndex.MaxPos))
    assert(runs.nonEmpty)
    val kept = runs.map { case (beg, _, end) => math.min(end, fileLen) - beg }.sum
    assert(kept * 2 < fileLen, s"MT runs span $kept of $fileLen bytes")
    // a region past all data selects nothing at all
    assert(BaiIndex.chunks(bai, 1, 100000000, BaiIndex.MaxPos).isEmpty)
  }

  test("region() maps pushed predicates to 0-based half-open coordinates") {
    import SamFilters._
    val refs = Array("MT", "chr1")
    assert(BaiIndex.region(Seq(RefNameEq("chr1")), refs) ===
      Some((1, 0, BaiIndex.MaxPos)))
    assert(BaiIndex.region(
      Seq(AndP(RefNameEq("MT"), IntCmp("start", ">=", 101)),
        IntCmp("start", "<=", 300)), refs) === Some((0, 100, 300)))
    assert(BaiIndex.region(
      Seq(RefNameEq("MT"), IntCmp("start", "=", 12)), refs) ===
      Some((0, 11, 12)))
    assert(BaiIndex.region(
      Seq(RefNameEq("MT"), IntCmp("start", ">", 10),
        IntCmp("start", "<", 10)), refs).exists { case (_, b, e) => b >= e })
    // unprunable shapes fall back: no ref, '*', unknown name, two names
    assert(BaiIndex.region(Seq(IntCmp("start", ">=", 5)), refs).isEmpty)
    assert(BaiIndex.region(Seq(RefNameEq("*")), refs).isEmpty)
    assert(BaiIndex.region(Seq(RefNameEq("chrX")), refs).isEmpty)
    assert(BaiIndex.region(
      Seq(RefNameEq("MT"), RefNameEq("chr1")), refs).isEmpty)
    // flag masks don't constrain the region but don't break it either
    assert(BaiIndex.region(
      Seq(RefNameEq("MT"), MaskEq("flag", 4, 0)), refs) ===
      Some((0, 0, BaiIndex.MaxPos)))
  }

  test("property: 25 seeded random regions all match the brute-force filter") {
    val bam = baiIndexed("mito/sample_sorted.bam")
    val full = spark.read.format("bam").load(bam)
      .select("readName", "start", "referenceName").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 25) {
      val ref = if (rnd.nextBoolean()) "MT" else "chr1"
      val a = rnd.nextInt(120000) + 1
      val b = a + rnd.nextInt(60000)
      val got = spark.read.format("bam").option("splitsize", 8192).load(bam)
        .where(col("referenceName") === ref &&
          col("start") >= a && col("start") <= b)
        .select("readName", "start", "referenceName").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
      val want = full.filter { case (_, s, rn) => rn == ref && s >= a && s <= b }
      assert(got === want, s"region $ref:[$a,$b]")
    }
  }

  test("build refuses an unsorted BAM loudly") {
    val dir = Files.createTempDirectory("bai")
    val dst = dir.resolve("sample_split.bam")
    Files.copy(
      Paths.get(resource("mito/sample_split.bam").stripPrefix("file:")), dst)
    val e = intercept[IllegalArgumentException](BaiIndex.build(dst.toString))
    assert(e.getMessage.contains("not coordinate-sorted"))
  }

  test("x06 gate: .bai-only region scan matches lineitem arithmetic and prunes") {
    import graft.operators.MitoQueries
    val sf = "/root/testdata/sf0.001"
    val r = MitoQueries.x06BaiRegionGate(spark, sf).head()
    assert(r.getAs[Boolean]("pruned_ok"),
      ".bai region runs spanned half the sorted file or more")
    val expected = graft.Tables.lineitem(spark, sf)
      .where(col("l_orderkey") % 4 === 3 &&
        ((col("l_partkey") * 977) % 160000 + 1).between(30001, 60000))
      .agg(count(lit(1)), sum(col("l_quantity").cast("int"))).head()
    assert(r.getLong(0) === expected.getLong(0))
    assert(r.getLong(1) === expected.getLong(1))
    // no .gai may exist for this file — the gate must have planned through
    // the samtools-compatibility index alone
    val out = s"${HadoopIO.scratchDir(spark)}/graft_x06_" +
      sf.replaceAll("[^A-Za-z0-9]", "_") + ".bam"
    assert(!BamIndex.exists(out, HadoopIO.driverConf()))
    assert(BaiIndex.exists(out, HadoopIO.driverConf()))
  }

  test("a zero-match region reads no records without error") {
    val bam = baiIndexed("mito/sample_sorted.bam")
    val out = spark.read.format("bam").load(bam)
      .where(col("referenceName") === "chr1" && col("start") >= 100000000)
    assert(out.count() === 0)
  }
}
