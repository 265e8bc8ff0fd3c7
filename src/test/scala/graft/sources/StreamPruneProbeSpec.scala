package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Index-aware STREAMING region scans (r15, VERDICT r14 #4): a `region`
  * read option on a streamed `vcf`/`bam` landing dir prunes each landed
  * file's splits at BATCH PLANNING through its sidecar index, the way
  * the batch scans do. The option channel exists because Spark performs
  * no predicate pushdown into MICRO_BATCH scans (probed here: the
  * executed plan shows `PushedFilters: []` for a .where() on a stream),
  * and its record semantics are exactly the equivalent .where() —
  * asserted by stream ≡ batch value checks. */
class StreamPruneProbeSpec extends SparkSpec {
  import spark.implicits._

  private val root =
    s"/tmp/graft_sprune_${java.util.UUID.randomUUID().toString.take(8)}"

  /** Two landed indexed cohort VCFs (lazy: written once, shared by the
    * vcf / batch-option / multi-region tests — each test stays
    * self-sufficient under -z filtering). */
  private lazy val vcfDir: String = {
    val dir = s"$root/vcf"
    (0 to 1).foreach { i =>
      val variants = spark.range(12000).select(
        concat(lit("c"), col("id") % 2).as("contig"),
        (col("id") * 97 + 1 + i).as("pos"),
        lit("A").as("ref"), lit("T").as("alt"),
        (col("id") % 7 + 1).as("ac"), (col("id") % 89 + 1).as("dp"))
      VcfWriter.write(variants, Seq("c0" -> 3000000, "c1" -> 3000000),
        f"$dir/part-$i%05d.vcf.gz", numPartitions = 2, index = true)
    }
    dir
  }

  /** Two landed indexed BAMs (lazy, same discipline). */
  private lazy val bamDir: String = {
    val dir = s"$root/bam"
    (0 to 1).foreach { i =>
      val recs = spark.range(8000).select(
        concat(lit("r"), col("id"), lit("_"), lit(i)).as("readName"),
        lit(0).as("flag"),
        concat(lit("k"), col("id") % 2).cast("string")
          .as("referenceName"),
        (col("id") * 40 + 1 + i).cast("int").as("start"),
        lit(60).as("mapQ"), lit("8M").as("cigar"), lit("*").as("rnext"),
        lit(0).as("pnext"), lit(0).as("tlen"),
        lit("ACGTACGT").as("sequence"), lit("*").as("qual"),
        lit("NM:i:0").as("attributes"))
      BamWriter.sortAndWrite(recs, "@HD\tVN:1.6\tSO:coordinate\n" +
        "@SQ\tSN:k0\tLN:1000000\n@SQ\tSN:k1\tLN:1000000\n",
        Seq("k0" -> 1000000, "k1" -> 1000000),
        f"$dir/part-$i%05d.bam", numPartitions = 2, index = true)
    }
    dir
  }

  test("catalyst predicates do NOT reach micro-batch scans (the probe " +
      "that motivates the region option)") {
    val dir = s"$root/probe"
    val variants = spark.range(2000).select(
      lit("chr1").as("contig"), (col("id") * 130 + 1).as("pos"),
      lit("A").as("ref"), lit("T").as("alt"),
      (col("id") % 7 + 1).as("ac"), (col("id") % 89 + 1).as("dp"))
    VcfWriter.write(variants, Seq("chr1" -> 1000000),
      s"$dir/part-00000.vcf.gz", numPartitions = 2, index = true)
    val s2 = spark.newSession()
    val q = s2.readStream.format("vcf").option("splitsize", 2048).load(dir)
      .where(col("contig") === "chr1" && col("pos") >= 100000L)
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("sprune_probe")
      .outputMode("complete").start()
    val plan =
      try {
        q.processAllAvailable()
        q.asInstanceOf[org.apache.spark.sql.execution.streaming
          .runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan.toString
      } finally q.stop()
    assert(plan.contains("PushedFilters: []"),
      s"streaming pushdown appeared — revisit the region-option design:\n" +
        plan.take(1500))
  }

  test("vcf: streamed region scan plans FEWER partitions through the " +
      "write-emitted .tbi, and stream(region option) == batch(where)") {
    val dir = vcfDir
    // partition accounting via the stream's own planner (the x85 gate
    // discipline): region-pred stream vs unfiltered stream
    def planned(preds: Seq[VcfFilters.Pred]): Int = {
      val ms = new VcfScan(Seq(dir), Some(4093L), VcfDataSource.schema, preds)
        .toMicroBatchStream("")
      ms.planInputPartitions(ms.initialOffset(), ms.latestOffset()).length
    }
    val regionPreds = Seq(VcfFilters.ContigEq("c0"),
      VcfFilters.PosCmp(">=", 100000L), VcfFilters.PosCmp("<=", 200000L))
    val nPruned = planned(regionPreds)
    val nFull = planned(Nil)
    assert(nPruned < nFull, s"stream planned $nPruned vs full $nFull")
    // value check: streamed with the region OPTION == batch .where()
    val s2 = spark.newSession()
    s2.catalog.dropTempView("sprune_vcf") // idempotent rerun
    val q = s2.readStream.format("vcf").option("splitsize", 4093)
      .option("region", "c0:100000-200000").load(dir)
      .groupBy().agg(count(lit(1)).as("n"),
        coalesce(sum(col("pos")), lit(0L)).as("sp"))
      .writeStream.format("memory").queryName("sprune_vcf")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = s2.table("sprune_vcf").head
    val want = s2.read.format("vcf").load(dir)
      .where(col("contig") === "c0" &&
        col("pos") >= 100000L && col("pos") <= 200000L)
      .agg(count(lit(1)), coalesce(sum(col("pos")), lit(0L))).head
    assert(got.getLong(0) === want.getLong(0))
    assert(got.getLong(1) === want.getLong(1))
    assert(got.getLong(0) > 0L) // region must be non-degenerate
  }

  test("bam: streamed region scan plans fewer partitions through the " +
      "write-emitted .bai, and stream(region option) == batch(where)") {
    val dir = bamDir
    val preds = Seq(SamFilters.RefNameEq("k0"),
      SamFilters.IntCmp("start", ">=", 100000L),
      SamFilters.IntCmp("start", "<=", 180000L))
    def planned(ps: Seq[SamFilters.Pred]): Int = {
      val ms = new BamScan(Seq(dir), Some(4096L), SamDataSource.schema, ps)
        .toMicroBatchStream("")
      ms.planInputPartitions(ms.initialOffset(), ms.latestOffset()).length
    }
    val nPruned = planned(preds)
    val nFull = planned(Nil)
    assert(nPruned < nFull, s"stream planned $nPruned vs full $nFull")
    val s2 = spark.newSession()
    s2.catalog.dropTempView("sprune_bam")
    val q = s2.readStream.format("bam").option("splitsize", 4096)
      .option("region", "k0:100000-180000").load(dir)
      .groupBy().agg(count(lit(1)).as("n"),
        coalesce(sum(col("start").cast("long")), lit(0L)).as("ss"))
      .writeStream.format("memory").queryName("sprune_bam")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = s2.table("sprune_bam").head
    val want = s2.read.format("bam").load(dir)
      .where(col("referenceName") === "k0" &&
        col("start") >= 100000 && col("start") <= 180000)
      .agg(count(lit(1)),
        coalesce(sum(col("start").cast("long")), lit(0L))).head
    assert(got.getLong(0) === want.getLong(0))
    assert(got.getLong(1) === want.getLong(1))
    assert(got.getLong(0) > 0L)
    // r15: BATCH bam scans with a region-shaped pushed predicate prune
    // at PLANNING too (the VCF source's design — previously every split
    // scheduled a task and pruning was reader-side only)
    val batchPruned = s2.read.format("bam").option("splitsize", 4096)
      .load(dir).where(col("referenceName") === "k0" &&
        col("start") >= 100000 && col("start") <= 180000)
    val batchFull = s2.read.format("bam").option("splitsize", 4096)
      .load(dir)
    assert(batchPruned.rdd.getNumPartitions <
      batchFull.rdd.getNumPartitions)
    assert(batchPruned.count() === want.getLong(0))
  }

  test("region option: batch scans honor it too, and malformed values " +
      "refuse loudly") {
    val dir = vcfDir
    val opt = spark.read.format("vcf").option("splitsize", 4093)
      .option("region", "c0:100000-200000").load(dir)
    val where = spark.read.format("vcf").option("splitsize", 4093)
      .load(dir).where(col("contig") === "c0" &&
        col("pos") >= 100000L && col("pos") <= 200000L)
    assert(opt.count() === where.count())
    assert(opt.rdd.getNumPartitions <
      spark.read.format("vcf").option("splitsize", 4093).load(dir)
        .rdd.getNumPartitions)
    // whole-contig form
    val contigOnly = spark.read.format("vcf").option("splitsize", 4093)
      .option("region", "c1").load(dir)
    assert(contigOnly.count() ===
      spark.read.format("vcf").load(dir)
        .where(col("contig") === "c1").count())
    // malformed forms raise at planning, never silently scan everything:
    // an intended numeric range with bad bounds, an empty list element,
    // a broken {contig} escape
    for (bad <- Seq("c0:20-10", "c0:1-2,,c1", "{c0", "{c0}:x-y"))
      intercept[IllegalArgumentException] {
        spark.read.format("vcf").option("region", bad).load(dir).count()
      }
    // ADVICE r15: elements whose post-':' tail is NOT a numeric range
    // fall back to a whole-contig query on the full string (HLA-style
    // contig names legally contain ':'); unknown contig + index →
    // planned NOTHING (zero partitions), not a degraded full scan
    for (fb <- Seq("c0:a-b", ":1-2", "HLA-A*01:01")) {
      val df = spark.read.format("vcf").option("splitsize", 4093)
        .option("region", fb).load(dir)
      assert(df.rdd.getNumPartitions === 0, fb)
      assert(df.count() === 0L, fb)
    }
    // the bam face's SINGLE-region arm matches (ADVICE r15: it used to
    // degrade to a full unpruned scan on an unknown contig); "*" still
    // scans — unmapped records live outside the index's coordinate bins
    val bamUnknown = spark.read.format("bam").option("splitsize", 4096)
      .option("region", "nope").load(bamDir)
    assert(bamUnknown.rdd.getNumPartitions === 0)
    assert(bamUnknown.count() === 0L)
    assert(spark.read.format("bam").option("splitsize", 4096)
      .option("region", "*").load(bamDir).rdd.getNumPartitions > 0)
  }

  test("MULTI-region option: union-of-windows semantics, pruned " +
      "planning, batch and stream agree (scatter-gather over intervals)") {
    val dir = vcfDir
    val multi = "c0:100000-200000,c1:500000-600000"
    val wherePred = (col("contig") === "c0" &&
      col("pos").between(100000L, 200000L)) ||
      (col("contig") === "c1" && col("pos").between(500000L, 600000L))
    val opt = spark.read.format("vcf").option("splitsize", 4093)
      .option("region", multi).load(dir)
    val where = spark.read.format("vcf").option("splitsize", 4093)
      .load(dir).where(wherePred)
    assert(opt.select("pos").collect().map(_.getLong(0)).sorted.toSeq
      === where.select("pos").collect().map(_.getLong(0)).sorted.toSeq)
    assert(opt.count() > 0)
    // planning prunes: fewer partitions than the unfiltered scan
    assert(opt.rdd.getNumPartitions <
      spark.read.format("vcf").option("splitsize", 4093).load(dir)
        .rdd.getNumPartitions)
    // overlapping windows stay exactly-once (memberRuns merges them)
    val overlap = spark.read.format("vcf").option("splitsize", 4093)
      .option("region", "c0:100000-160000,c0:140000-200000").load(dir)
      .where(col("contig") === "c0" &&
        col("pos").between(100000L, 200000L))
    assert(overlap.count() ===
      spark.read.format("vcf").load(dir).where(col("contig") === "c0" &&
        col("pos").between(100000L, 200000L)).count())
    // a window on an unknown contig contributes nothing, loudly nothing
    val unknown = spark.read.format("vcf").option("splitsize", 4093)
      .option("region", "c0:100000-200000,nope:1-10").load(dir)
    assert(unknown.count() ===
      spark.read.format("vcf").load(dir).where(col("contig") === "c0" &&
        col("pos").between(100000L, 200000L)).count())
    // streamed multi-region == the batch where() (the stream planner
    // unions windows through the same per-file planner)
    val s2 = spark.newSession()
    s2.catalog.dropTempView("sprune_multi")
    val q = s2.readStream.format("vcf").option("splitsize", 4093)
      .option("region", multi).load(dir)
      .groupBy().agg(count(lit(1)).as("n"),
        coalesce(sum(col("pos")), lit(0L)).as("sp"))
      .writeStream.format("memory").queryName("sprune_multi")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = s2.table("sprune_multi").head
    val want = where.agg(count(lit(1)),
      coalesce(sum(col("pos")), lit(0L))).head
    assert(got.getLong(0) === want.getLong(0))
    assert(got.getLong(1) === want.getLong(1))
    // bam face: multi-region batch pruning + value equality
    val bamOpt = spark.read.format("bam").option("splitsize", 4096)
      .option("region", "k0:100000-180000,k1:20000-60000").load(bamDir)
    val bamWhere = spark.read.format("bam").option("splitsize", 4096)
      .load(bamDir).where(
        (col("referenceName") === "k0" &&
          col("start").between(100000, 180000)) ||
        (col("referenceName") === "k1" &&
          col("start").between(20000, 60000)))
    assert(bamOpt.select("readName").collect().map(_.getString(0))
      .sorted.toSeq ===
      bamWhere.select("readName").collect().map(_.getString(0))
        .sorted.toSeq)
    assert(bamOpt.count() > 0)
    assert(bamOpt.rdd.getNumPartitions <
      spark.read.format("bam").option("splitsize", 4096).load(bamDir)
        .rdd.getNumPartitions)
  }
}
