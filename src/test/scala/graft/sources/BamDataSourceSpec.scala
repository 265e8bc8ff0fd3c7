package graft.sources

import graft.SparkSpec
import graft.mito.{Features, Sam}
import org.apache.spark.sql.functions._

/** The .bam fixtures are generated from the .sam fixtures by
  * scripts/make_bam_fixture.py — authored independently from the BAM spec
  * (BGZF framing, binary record layout, 4-bit sequence packing, typed
  * tags), so agreement here validates the Scala decoder against
  * spec-derived bytes, not against itself. */
class BamDataSourceSpec extends SparkSpec {

  private lazy val bamPath = resource("mito/sample_MT_MD.bam")
  private lazy val samPath = resource("mito/sample_MT_MD.sam")

  test("format(\"bam\") decodes BGZF + binary records") {
    val df = spark.read.format("bam").load(bamPath)
    assert(df.count() === 7)
    val r1 = df.where(col("readName") === "r1" && col("flag") === 99).head()
    assert(r1.getAs[String]("referenceName") === "chrM")
    assert(r1.getAs[Int]("start") === 5)
    assert(r1.getAs[String]("sequence") === "==G===C===")
    assert(r1.getAs[String]("cigar") === "10M")
    assert(r1.getAs[String]("attributes") ===
      "NM:i:2 MD:Z:2A3T3 NH:i:1 XQ:i:10")
  }

  test("bam and sam sources agree on every record field") {
    val cols = Seq("readName", "flag", "referenceName", "start", "mapQ",
      "cigar", "rnext", "pnext", "tlen", "sequence", "qual",
      "attributes").map(col)
    val fromBam = spark.read.format("bam").load(bamPath).select(cols: _*)
    val fromSam = Sam.read(spark, samPath).select(cols: _*)
    assert(fromBam.except(fromSam).isEmpty && fromSam.except(fromBam).isEmpty)
  }

  test("feature pipeline is format-agnostic: identical MT features from bam") {
    val viaBam = Features.mtPerRead(
      Sam.withFlags(spark.read.format("bam").load(bamPath)))
    val viaSam = Features.mtPerRead(Sam.read(spark, samPath))
    assert(viaBam.except(viaSam).isEmpty && viaSam.except(viaBam).isEmpty)
  }

  test("bam line column reconstructs the original SAM text exactly") {
    // with mate fields + qual carried through, the reconstructed line is
    // byte-identical to the text fixture the bam was generated from
    val fromBam = spark.read.format("bam").load(bamPath).select("line")
    val fromSam = Sam.read(spark, samPath).select("line")
    assert(fromBam.except(fromSam).isEmpty && fromSam.except(fromBam).isEmpty)
  }

  test("multi-reference NT bam resolves chromosome names from the dictionary") {
    val df = spark.read.format("bam").load(resource("mito/sample_NT.bam"))
    val refs = df.select("referenceName").distinct()
      .collect().map(_.getString(0)).sorted
    assert(refs.toSeq === Seq("chr1", "chr2", "chr3"))
  }

  test("intra-file BGZF splits: one bam scans as many partitions, record-identical") {
    val split = resource("mito/sample_split.bam")
    val whole = spark.read.format("bam").load(split)
    assert(whole.rdd.getNumPartitions === 1)
    // 32 KB ranges over a ~250 KB file → one byte-range partition per
    // started 32 KB (8), each guess-syncing to a record boundary mid-file
    val parts = spark.read.format("bam").option("splitsize", 32768).load(split)
    val ranges = (java.nio.file.Files.size(java.nio.file.Paths.get(split)) + 32767) / 32768
    assert(ranges >= 8 && parts.rdd.getNumPartitions === ranges)
    assert(parts.count() === 3000)
    val cols = Seq("readName", "flag", "referenceName", "start", "mapQ",
      "cigar", "rnext", "pnext", "tlen", "sequence", "qual",
      "attributes").map(col)
    val a = whole.select(cols: _*)
    val b = parts.select(cols: _*)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    // no duplicates either: counts per partition sum to the whole
    assert(b.distinct().count() === 3000)
  }

  test("default splits follow the session's parallelism: a >4 MB BAM plans " +
      "4 partitions on local[4], row-identical in order to one split") {
    assert(spark.sparkContext.defaultParallelism === 4)
    val dir = java.nio.file.Files.createTempDirectory("bamsplitrule").toString
    val big = s"$dir/big.bam"
    // pseudo-random bases and qualities keep the BGZF payload from
    // compressing below the 4 MB this case needs
    def hex(k: Int) = md5(concat(lit(s"$k:"), col("id").cast("string")))
    val recs = spark.range(0, 48000).select(
      concat(lit("r"), col("id")).as("readName"),
      lit(0).as("flag"), lit("chrM").as("referenceName"),
      (col("id") % 16000 + 1).cast("int").as("start"),
      lit(60).as("mapQ"), lit("96M").as("cigar"), lit("*").as("rnext"),
      lit(0).as("pnext"), lit(0).as("tlen"),
      translate(concat(hex(0), hex(1), hex(2)), "0123456789abcdef",
        "ACGTACGTACGTACGT").as("sequence"),
      translate(concat(hex(3), hex(4), hex(5)), "0123456789abcdef",
        "!+5?I#-7A\"/9C%1;").as("qual"),
      concat(lit("NM:i:"), col("id") % 7).as("attributes"))
    BamWriter.write(recs, "@HD\tVN:1.6\n@SQ\tSN:chrM\tLN:16569\n",
      Seq("chrM" -> 16569), big)
    val size = new java.io.File(big).length
    assert(size > (4L << 20), s"fixture is only $size bytes")
    val auto = spark.read.format("bam").load(big)
    assert(auto.rdd.getNumPartitions === 4)
    val one = spark.read.format("bam").option("splitsize", Long.MaxValue)
      .load(big)
    assert(one.rdd.getNumPartitions === 1)
    val cols = Seq("readName", "start", "sequence", "qual", "attributes")
    assert(auto.select(cols.map(col): _*).collect().toSeq ===
      one.select(cols.map(col): _*).collect().toSeq)
    // an explicit splitsize still decides the count
    val mb = spark.read.format("bam").option("splitsize", 1L << 20).load(big)
    assert(mb.rdd.getNumPartitions === ((size + (1L << 20) - 1) >> 20).toInt)
    // inputs of 1 MB or less stay on one partition
    assert(spark.read.format("bam").load(resource("mito/sample_split.bam"))
      .rdd.getNumPartitions === 1)
    // a directory scan sizes its splits from the data files only: 8 MB of
    // stray sidecars would halve the partition count if they were summed
    val stray = new Array[Byte](8 << 20)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/calls.vcf.gz.tbi"), stray)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/other.bam.gai"), stray)
    assert(spark.read.format("bam").load(dir).rdd.getNumPartitions === 4)
    // ... and from the files that can split: a plain-gzip file is one
    // split whatever its size, so its 8 MB must not widen the bgzf file's
    // splits (4 + 1 partitions; summed, it would be 2 + 1). Planning only:
    // no task reads these random bytes.
    val mixed = java.nio.file.Files.createTempDirectory("samsplitmix")
    val rnd = new scala.util.Random(7)
    def random(n: Int) = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
    val bgzf = new BgzfOutputStream(
      java.nio.file.Files.newOutputStream(mixed.resolve("a.sam.gz")))
    try bgzf.write(random(5 << 20)) finally bgzf.close()
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(mixed.resolve("b.sam.gz")))
    try gz.write(random(8 << 20)) finally gz.close()
    assert(spark.read.format("sam").load(mixed.toString)
      .rdd.getNumPartitions === 5)
    // the rule itself: 64 MB cap, 1 MB floor
    val rule = SamDataSource.batchSplitSize _
    assert(rule(1L << 40) === SamDataSource.DefaultSplitSize)
    assert(rule(300L) === (1L << 20))
    assert(SamDataSource.MinSplitSize === (1L << 20))
    assert(rule(8L << 20) === (2L << 20))
  }

  test("split bam agrees with the sam text fixture it was generated from") {
    val cols = Seq("readName", "flag", "referenceName", "start", "mapQ",
      "cigar", "rnext", "pnext", "tlen", "sequence", "qual",
      "attributes").map(col)
    val fromBam = spark.read.format("bam").option("splitsize", 20000)
      .load(resource("mito/sample_split.bam")).select(cols: _*)
    val fromSam = Sam.read(spark, resource("mito/sample_split.sam")).select(cols: _*)
    assert(fromBam.except(fromSam).isEmpty && fromSam.except(fromBam).isEmpty)
  }

  test("directory of indexed BAMs: multi-file multi-split scan, per-file .gai pruning") {
    // the actual 100 TB layout: many <f>.bam + <f>.bam.gai pairs in one
    // directory, scanned as one DataFrame with per-file index pruning
    val dir = java.nio.file.Files.createTempDirectory("bamdir").toString
    val nPerFile = 5000L
    for (f <- 0 until 3) {
      val recs = spark.range(f * nPerFile, (f + 1) * nPerFile).orderBy("id")
        .select(
          concat(lit(s"f${f}_r"), col("id")).as("readName"),
          lit(99).as("flag"), lit("chrM").as("referenceName"),
          (col("id") + 1).cast("int").as("start"),
          lit(60).as("mapQ"), lit("10M").as("cigar"), lit("=").as("rnext"),
          lit(0).as("pnext"), lit(0).as("tlen"),
          lit("ACGTACGTAC").as("sequence"), lit("*").as("qual"),
          lit("NM:i:1").as("attributes"))
      val out = s"$dir/sample_$f.bam"
      BamWriter.write(recs,
        "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chrM\tLN:16569\n",
        Seq("chrM" -> 16569), out)
      BamIndex.build(out)
    }
    // a stray tabix sidecar in the same directory is skipped too, never
    // scanned as data ("not a BAM file")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/calls.vcf.gz.tbi"),
      "TBI\u0001 stray".getBytes("US-ASCII"))
    val df = spark.read.format("bam").option("splitsize", 8192).load(dir)
    // partition math: sum over the DATA files of ceil(len / splitsize);
    // the sidecars must be excluded from planning, not scanned
    val conf = HadoopIO.driverConf()
    val targets = HadoopIO.listScanTargets(dir, conf)
    assert(targets.count(_._1.endsWith(".gai")) === 3) // sidecars present...
    assert(targets.count(_._1.endsWith(".tbi")) === 1)
    val lens = targets.filterNot(t => HadoopIO.isSidecar(t._1)).map(_._2)
    assert(lens.size === 3) // ...but only the 3 BAMs become splits
    val expectParts = lens.map(l => ((l + 8191) / 8192).toInt).sum
    assert(df.rdd.getNumPartitions === expectParts)
    assert(expectParts >= 6, s"want multiple splits per file, got $expectParts")
    assert(df.count() === 3 * nPerFile)
    // a pushed start-range predicate only file 1 can satisfy: the result
    // is exactly file 1's records...
    val hits = df.where(col("start") >= nPerFile + 1 &&
        col("start") <= 2 * nPerFile)
      .select("readName").collect()
    assert(hits.length === nPerFile)
    assert(hits.forall(_.getString(0).startsWith("f1_r")))
    // ...pruned at PLANNING: only file 1's members become partitions, so
    // the predicated scan plans fewer of them than the unpredicated one
    val preds = Seq(SamFilters.IntCmp("start", ">=", nPerFile + 1),
      SamFilters.IntCmp("start", "<=", 2 * nPerFile))
    def planned(ps: Seq[SamFilters.Pred]): Seq[SamInputPartition] =
      new BamScan(Seq(dir), Some(8192L), SamDataSource.schema, ps)
        .planInputPartitions().toSeq.map(_.asInstanceOf[SamInputPartition])
    val all = planned(Nil)
    val pruned = planned(preds)
    assert(all.length === expectParts)
    assert(pruned.nonEmpty && pruned.length < all.length,
      s"pruned scan planned ${pruned.length} of ${all.length} partitions")
    assert(pruned.forall(_.path.endsWith("sample_1.bam")))
    assert(df.where(col("start") >= nPerFile + 1 &&
      col("start") <= 2 * nPerFile).rdd.getNumPartitions === pruned.length)
    // every partition of a .gai-indexed file starts at an exact record
    // offset: no reader guesses
    assert((all ++ pruned).forall(_.uoffset >= 0))
    // ...and the other files' indexes prove they contribute ZERO runs —
    // their members are skipped without decompression
    for (f <- Seq(0, 2)) {
      val stats = BamIndex.read(s"$dir/sample_$f.bam", conf)
      val runs = BamIndex.selectRuns(stats, preds, Array("chrM"),
        0L, Long.MaxValue)
      assert(runs.isEmpty, s"file $f should prune to zero runs, got ${runs.length}")
    }
  }

  test("degenerate split sizes still produce exactly-once records") {
    // ranges far smaller than a BGZF member: most partitions own no member
    // boundary and must emit nothing
    val tiny = spark.read.format("bam").option("splitsize", 512)
      .load(resource("mito/sample_split.bam"))
    assert(tiny.rdd.getNumPartitions > 100)
    assert(tiny.count() === 3000)
  }

  test("bam landing-dir micro-batch stream: streamed == batch, " +
      "append-only contract enforced loudly") {
    import spark.implicits._
    val dir = s"/tmp/graft_bamstream_${java.util.UUID.randomUUID().toString.take(8)}"
    def land(i: Int): Unit = BamWriter.write(
      Seq((s"r${i}_a", 1, "chrM", 10 + i, 60, "4M", "=", 0, 0,
        "ACGT", "*", "NM:i:0"),
        (s"r${i}_b", 5, "chrM", 20 + i, 60, "4M", "=", 0, 0,
          "ACGT", "*", "NM:i:0"))
        .toDF("readName", "flag", "referenceName", "start", "mapQ",
          "cigar", "rnext", "pnext", "tlen", "sequence", "qual",
          "attributes"),
      "@HD\tVN:1.6\n@SQ\tSN:chrM\tLN:16569\n", Seq("chrM" -> 16569),
      f"$dir/part-$i%05d.bam")
    land(0); land(1)
    val s2 = spark.newSession()
    val q = s2.readStream.format("bam").load(dir)
      .groupBy().agg(count(lit(1)).as("n"),
        sum(col("start").cast("long")).as("s"),
        sum((col("flag").bitwiseAND(lit(4)) =!= 0).cast("long")).as("u"))
      .writeStream.format("memory").queryName("bamstream_spec")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = s2.table("bamstream_spec").head
    assert(got.getLong(0) === 4L)
    assert(got.getLong(1) === (10 + 20 + 11 + 21).toLong)
    assert(got.getLong(2) === 2L) // one flag-5 (unmapped) record per file
    // append-only contract: a displaced committed-prefix file raises
    val ms = new LandingDirMicroBatchStream(Seq(dir), Some(4096L), "bam",
      () => new BamReaderFactory(SamDataSource.schema.fieldNames, Nil,
        HadoopIO.capture()))
    val end = ms.latestOffset()
    assert(end.json().contains("\"n\":2"))
    val bogus = ms.deserializeOffset("""{"n":1,"last":"displaced"}""")
    val e = intercept[IllegalArgumentException](
      ms.planInputPartitions(bogus, end))
    assert(e.getMessage.contains("non-append-only"))
  }

  test("x05 region gate: sorted-file runs span a measured minority of the bytes") {
    import graft.operators.MitoQueries
    val sf = "/root/testdata/sf0.001"
    val r = MitoQueries.x05BamRegionGate(spark, sf).head()
    assert(r.getAs[Boolean]("pruned_ok"),
      "region runs spanned half the sorted file or more")
    // independent byte math on the sidecar the gate planned with: the
    // sorted file's region members form ONE contiguous run, and the
    // region scan result equals the brute post-filter of a full scan
    val out = s"${HadoopIO.scratchDir(spark)}/graft_x05_" +
      sf.replaceAll("[^A-Za-z0-9]", "_") + ".bam"
    val conf = HadoopIO.driverConf()
    val stats = BamIndex.read(out, conf)
    assert(stats.length >= 16, s"want many members, got ${stats.length}")
    val preds = Seq(SamFilters.RefNameEq("chrM"),
      SamFilters.IntCmp("start", ">=", 101L),
      SamFilters.IntCmp("start", "<=", 300L))
    val runs = BamIndex.selectRuns(stats, preds, Array("chrM"),
      0L, Long.MaxValue)
    assert(runs.length === 1, s"sorted file must give one run, got $runs")
    val full = spark.read.format("bam").load(out)
      .where(col("start") >= 101 && col("start") <= 300)
      .select("readName").collect().map(_.getString(0)).sorted
    val nRegion = r.getLong(0)
    assert(full.length.toLong === nRegion)
  }
}
