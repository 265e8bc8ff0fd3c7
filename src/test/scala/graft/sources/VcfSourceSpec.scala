package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The `vcf` DataSource V2 + [[Tabix]] (r13): split parallelism, region
  * pruning through both sidecar formats, header helpers, the ported
  * [[VcfWriter]] read paths, decoder-fuzz truncation behavior, and the
  * fastq micro-batch stream's append-only offset contract. */
class VcfSourceSpec extends SparkSpec {
  import spark.implicits._

  private def conf = spark.sparkContext.hadoopConfiguration
  private val root =
    s"/tmp/graft_vcfspec_${java.util.UUID.randomUUID().toString.take(8)}"

  // chr1 positions 7i+1, chr2 positions 5i+3, i in [0, 600) — sorted,
  // distinct, two contigs; REF of length 2 exercises end = beg + len(REF)
  private val model: Seq[(String, Long, Long, Long)] =
    (0 until 600).flatMap { i =>
      Seq(("chr1", i * 7L + 1), ("chr2", i * 5L + 3))
    }.map { case (c, p) => (c, p, p % 5 + 1, p % 90 + 1) }

  private lazy val bgz: String = {
    val out = s"$root/sites.vcf.gz"
    val sites = model.toDF("contig", "pos", "ac", "dp")
      .select(col("contig"), col("pos"), lit("AC").as("ref"),
        lit("T").as("alt"), col("ac"), col("dp"))
    VcfWriter.write(sites, Seq("chr1" -> 100000, "chr2" -> 100000), out,
      numPartitions = 6)
    assert(Tabix.build(out, conf) === 1200)
    out
  }

  private def fmt(path: String, split: Int = 997) =
    spark.read.format("vcf").option("splitsize", split).load(path)

  test("bgzip'd VCF scans split-parallel and matches the model") {
    val got = fmt(bgz).select("contig", "pos", "ref", "alt").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.length === 1200)
    assert(got.map(t => (t._1, t._2)) ===
      model.map(t => (t._1, t._2)).sorted.toArray)
    assert(got.forall(t => t._3 == "AC" && t._4 == "T"))
    // several byte-range partitions actually planned
    assert(fmt(bgz).rdd.getNumPartitions > 1)
  }

  test("tbi region query prunes partitions and returns exactly the region") {
    val q = fmt(bgz).where(col("contig") === "chr2" &&
      col("pos") >= 1000 && col("pos") < 2000)
    val want = model.filter(t => t._1 == "chr2" && t._2 >= 1000 && t._2 < 2000)
    val got = q.select(col("pos"),
        expr("CAST(regexp_extract(info, 'AC=(\\\\d+)', 1) AS BIGINT)"),
        expr("CAST(regexp_extract(info, 'DP=(\\\\d+)', 1) AS BIGINT)"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(got.toSeq === want.map(t => (t._2, t._3, t._4)).sorted)
    assert(q.rdd.getNumPartitions < fmt(bgz).rdd.getNumPartitions,
      "region scan must plan fewer partitions than the full scan")
    assert(q.queryExecution.executedPlan.toString.contains("contig = 'chr2'"),
      "predicate must reach the V2 scan as a pushed filter")
  }

  test("csi sidecar (tabix aux) prunes the same region identically") {
    val out = s"$root/sites_csi.vcf.gz"
    val sites = model.toDF("contig", "pos", "ac", "dp")
      .select(col("contig"), col("pos"), lit("AC").as("ref"),
        lit("T").as("alt"), col("ac"), col("dp"))
    VcfWriter.write(sites, Seq("chr1" -> 100000, "chr2" -> 100000), out,
      numPartitions = 6)
    assert(Tabix.buildCsi(out, conf) === 1200)
    val q = fmt(out).where(col("contig") === "chr2" &&
      col("pos") >= 1000 && col("pos") < 2000)
    assert(q.count() ===
      model.count(t => t._1 == "chr2" && t._2 >= 1000 && t._2 < 2000))
    assert(q.rdd.getNumPartitions < fmt(out).rdd.getNumPartitions)
    // aux round-trips the contig names in index order
    val csi = CsiIndex.read(out, conf)
    assert(Tabix.csiNames(csi.aux).toSeq === Seq("chr1", "chr2"))
  }

  test("projection pushdown prunes the scan schema: a (contig, pos) " +
      "select never materializes genotypes") {
    val q = fmt(bgz).select("contig", "pos")
    val scans = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.readSchema().fieldNames.toSeq
    }
    assert(scans.nonEmpty)
    assert(scans.head.sorted === Seq("contig", "pos"),
      s"scan must read only the projected columns, got ${scans.head}")
  }

  test("tbi parses back: names, region chunks present, absent contig empty") {
    val tbi = Tabix.read(bgz, conf)
    assert(tbi.names.toSeq === Seq("chr1", "chr2"))
    assert(BaiIndex.chunks(tbi.bai, 1, 999, 2000).nonEmpty)
    assert(BaiIndex.chunks(tbi.bai, 7, 0, 1000).isEmpty)
    // a region past every record prunes to nothing
    assert(BaiIndex.chunks(tbi.bai, 0, 50000, 60000).isEmpty)
  }

  test("header helpers read through bgzf; VcfWriter.read ports to the " +
      "format path unchanged") {
    val hl = VcfDataSource.headerLines(bgz, conf)
    assert(hl.head === "##fileformat=VCFv4.2")
    assert(hl.last.startsWith("#CHROM"))
    assert(VcfDataSource.headerSamples(bgz, conf).isEmpty)
    val back = VcfWriter.read(spark, bgz, strict = true)
    assert(back.count() === 1200)
    assert(back.agg(sum(col("ac"))).head.getLong(0) ===
      model.map(_._3).sum)
  }

  test("multi-sample genotype roundtrip rides the format path (bgzip'd)") {
    val out = s"$root/cohort.vcf.gz"
    val gt = model.take(200).flatMap { case (c, p, ac, _) =>
      Seq((c, p, "A", "G", "s1", if (ac % 2 == 0) "0/1" else "1/1", ac),
        (c, p, "A", "G", "s2", "0/0", ac + 1))
    }.toDF("contig", "pos", "ref", "alt", "sample", "gt", "dp")
    VcfWriter.writeGenotypes(gt, Seq("chr1" -> 100000, "chr2" -> 100000),
      Seq("s1", "s2"), out)
    assert(VcfDataSource.headerSamples(out, conf) === Seq("s1", "s2"))
    val back = VcfWriter.readGenotypes(spark, out, strict = true)
    assert(back.count() === 400)
    assert(back.where(col("sample") === "s2" && col("gt") === "0/0")
      .count() === 200)
  }

  test("filters on VcfWriter.read push through the helper's projection " +
      "into the V2 scan and still prune") {
    val q = VcfWriter.read(spark, bgz).where(col("contig") === "chr2" &&
      col("pos") >= 1000 && col("pos") < 2000)
    assert(q.queryExecution.executedPlan.toString.contains("contig = 'chr2'"),
      "helper projection must not block predicate pushdown")
    assert(q.rdd.getNumPartitions < fmt(bgz).rdd.getNumPartitions)
    assert(q.count() ===
      model.count(t => t._1 == "chr2" && t._2 >= 1000 && t._2 < 2000))
  }

  test("structurally truncated record (< 8 fields) raises loudly; " +
      "garbage POS is lenient-null but strict raises") {
    val p = s"$root/broken.vcf"
    val txt = "##fileformat=VCFv4.2\n" +
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n" +
      "chr1\t5\t.\tA\tT\t.\tPASS\tAC=1;DP=2\n" +
      "chr1\t9\t.\tA" // truncated mid-record
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    java.nio.file.Files.write(java.nio.file.Paths.get(p), txt.getBytes)
    val e = intercept[Exception](fmt(p).count())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("malformed VCF record")), e.toString)

    val p2 = s"$root/badpos.vcf"
    java.nio.file.Files.write(java.nio.file.Paths.get(p2),
      ("##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n" +
        "chr1\tfive\t.\tA\tT\t.\tPASS\tAC=1;DP=2\n").getBytes)
    val rows = fmt(p2).select("contig", "pos").collect()
    assert(rows.length === 1 && rows(0).isNullAt(1),
      "unparseable POS must be lenient-null at the source layer")
    val e2 = intercept[Exception](
      VcfWriter.read(spark, p2, strict = true).count())
    assert(msgs(e2).exists(_.contains("malformed VCF record")), e2.toString)
  }

  test("a pushed contig-only predicate keeps lenient-null-pos rows " +
      "(ADVICE r13: per-kind null handling)") {
    val p = s"$root/nullpos.vcf"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      ("##fileformat=VCFv4.2\n#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n" +
        "chr1\tfive\t.\tA\tT\t.\tPASS\tAC=1;DP=2\n" +
        "chr2\t9\t.\tA\tT\t.\tPASS\tAC=1;DP=2\n").getBytes)
    // contig-only: the null-pos chr1 row survives, exactly as the same
    // filter over the unpushed scan would keep it
    val q = fmt(p).where(col("contig") === "chr1")
    assert(q.queryExecution.executedPlan.toString.contains("contig = 'chr1'"),
      "predicate must be pushed for this to test the pushed path")
    val rows = q.select("contig", "pos").collect()
    assert(rows.length === 1 && rows(0).isNullAt(1))
    // pos comparison with null pos stays not-true (SQL semantics)
    assert(fmt(p).where(col("contig") === "chr1" && col("pos") > 0)
      .count() === 0)
    assert(fmt(p).where(col("pos") > 0).count() === 1)
  }

  test("bgzf VCF truncated mid-member fails loudly, never as a shorter " +
      "valid file") {
    val full = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(bgz))
    val cut = java.util.Arrays.copyOf(full, full.length - 37)
    val p = s"$root/cut.vcf.gz"
    java.nio.file.Files.write(java.nio.file.Paths.get(p), cut)
    val e = intercept[Exception](fmt(p, split = 1 << 30).count())
    assert(e != null)
  }

  test("tabix build refuses an unsorted VCF loudly") {
    val p = s"$root/unsorted.vcf.gz"
    val sites = Seq(("chr1", 500L), ("chr1", 100L))
      .toDF("contig", "pos")
      .select(col("contig"), col("pos"), lit("A").as("ref"),
        lit("T").as("alt"), lit(1L).as("ac"), lit(1L).as("dp"))
    // bypass the sorting writer: render lines in the given (wrong) order
    val lines = sites.orderBy(col("pos").desc)
      .select(concat_ws("\t", col("contig"), col("pos"), lit("."),
        col("ref"), col("alt"), lit("."), lit("PASS"),
        lit("AC=1;DP=1")).as("line"))
    TextSink.write(Seq("##fileformat=VCFv4.2",
      "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"), lines, p)
    val e = intercept[IllegalArgumentException](Tabix.build(p, conf))
    assert(e.getMessage.contains("not coordinate-sorted"))
  }

  test("fastq micro-batch stream: prefix offsets enforce append-only " +
      "ingest loudly") {
    val dir = s"$root/fq"
    def land(i: Int): Unit = FastqDataSource.write(
      Seq((f"r$i%03d", null.asInstanceOf[String], "ACGT", "IIII"))
        .toDF("name", "comment", "sequence", "quality"),
      f"$dir/part-$i%05d.fastq.gz")
    land(0); land(1)
    val ms = new FastqMicroBatchStream(Seq(dir), Some(4096L),
      FastqDataSource.schema.fieldNames)
    val end = ms.latestOffset()
    assert(end.json().contains("\"n\":2"))
    val parts = ms.planInputPartitions(ms.initialOffset(), end)
    assert(parts.length === 2)
    // a committed prefix whose file was renamed/displaced must raise
    val bogus = ms.deserializeOffset("""{"n":1,"last":"not-the-file"}""")
    val e = intercept[IllegalArgumentException](
      ms.planInputPartitions(bogus, end))
    assert(e.getMessage.contains("non-append-only"))
    // streamed == batch over the same directory
    val s2 = spark.newSession()
    val q = s2.readStream.format("fastq").load(dir)
      .groupBy().agg(count(lit(1)).as("n"), sum(col("length")).as("b"))
      .writeStream.format("memory").queryName("vcfspec_fq")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = s2.table("vcfspec_fq").head
    assert(got.getLong(0) === 2L && got.getLong(1) === 8L)
  }
}
