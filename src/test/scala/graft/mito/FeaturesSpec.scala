package graft.mito

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FeaturesSpec extends SparkSpec {

  lazy val numts = Numt.load(spark, resource("mito/numts.tsv"))
  lazy val ld = Ld.load(spark, resource("mito/ld.tsv"))
  lazy val nt = Features.ntFeatures(Sam.read(spark, resource("mito/sample_NT.sam")), numts)
  lazy val mtAlign = Sam.read(spark, resource("mito/sample_MT_MD.sam"))

  test("LD load: headerless (B2 fix), quantized, zeros dropped") {
    val rows = ld.collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toSeq
    // file order; the two ~0 rows quantize to 0 and drop, and the reversed
    // (6T, 5C) row and the exact duplicate (7G, 11C) row are kept as rows
    assert(rows === Seq(("7G", "11C") -> 50000, ("105T", "7G") -> -20000,
      ("5C", "6T") -> 30000, ("6T", "5C") -> 10000, ("7G", "11C") -> 50000))
    assert(rows.head === (("7G", "11C") -> 50000)) // first line NOT eaten as header
  }

  test("LD and NUMT readers match Spark's CSV reader on the fixtures") {
    val viaCsv = spark.read.option("sep", "\t")
      .schema("Variant1 STRING, Variant2 STRING, R DOUBLE")
      .csv(resource("mito/ld.tsv"))
      .select(col("Variant1"), col("Variant2"),
        (col("R") * 100000).cast("int").as("R_q"))
      .where(col("R_q") =!= 0)
    assert(ld.schema.fieldNames.toSeq === viaCsv.schema.fieldNames.toSeq)
    assert(ld.collect().toSeq === viaCsv.collect().toSeq)
    val numtCsv = spark.read.option("sep", "\t")
      .schema("chromosome STRING, nstart INT, nend INT, score FLOAT")
      .csv(resource("mito/numts.tsv")).collect()
      .map(r => Numt.Interval(r.getString(0), r.getInt(1), r.getInt(2), r.getFloat(3)))
    assert(numts === numtCsv.toSeq)
  }

  test("LD symmetric lookup") {
    val m = Ld.toMap(ld)
    assert(Ld.lookup(m, "7G", "11C") === 50000)
    assert(Ld.lookup(m, "11C", "7G") === 50000)
    assert(Ld.lookup(m, "7G", "105T") === -20000)
    assert(Ld.lookup(m, "7G", "999Z") === 0)
  }

  test("NUMT interval overlap (B7 fix: bounds respected)") {
    val iv = numts
    import spark.implicits._
    val reads = Seq(
      ("chr1", 120, "ACGTACGTAC"), // overlaps [100,200] only -> 10
      ("chr1", 160, "ACGTACGTAC"), // overlaps both chr1 intervals -> 15
      ("chr1", 350, "ACGTACGTAC"), // past both -> 0
      ("chr2", 550, "ACGTACGTAC"), // chr2 interval -> 7
      ("chr3", 550, "ACGTACGTAC")  // wrong chromosome -> 0
    ).toDF("referenceName", "start", "sequence")
    val got = reads.select(col("start"), col("referenceName"),
      Numt.overlapScore(iv).as("s")).collect()
      .map(r => (r.getString(1), r.getInt(0)) -> r.getInt(2)).toMap
    assert(got(("chr1", 120)) === 10)
    assert(got(("chr1", 160)) === 15)
    assert(got(("chr1", 350)) === 0)
    assert(got(("chr2", 550)) === 7)
    assert(got(("chr3", 550)) === 0)
  }

  test("NT features: intended column mapping (B1 fix), per-read sums") {
    val rows = nt.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // r1: mapQ 60+40, NH 2+1, NM 1+0, numt 10+15
    assert(rows("r1") === ((100L, 3L, 1L, 25L)))
    // r2: mapQ 35+5, NH 1+1, NM 2+0, numt 0+7
    assert(rows("r2") === ((40L, 2L, 2L, 7L)))
    // r6 valid in NT -> present here, dropped later by the inner feature join
    assert(rows.contains("r6"))
  }

  test("MT per-read aggregation: sums + sorted flattened variants") {
    val rows = Features.mtPerRead(mtAlign).collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getSeq[String](4))).toMap
    assert(rows("r1")._1 === 50L) // 30+20
    assert(rows("r1")._2 === 3L)  // NH 1+2
    assert(rows("r1")._3 === 3L)  // NM 2+1
    assert(rows("r1")._4 === Seq("105T", "11C", "7G")) // sorted
    assert(rows("r2")._1 === 50L)
    assert(rows("r2")._4 === Seq("9A"))
    assert(!rows.contains("r3") && !rows.contains("r4") && !rows.contains("r5"))
  }

  /** (Read → LD) from a feature frame. */
  private def ldOf(mt: org.apache.spark.sql.DataFrame): Map[String, Int] =
    mt.select("Read", "LD").collect().map(r => r.getString(0) -> r.getInt(1)).toMap

  /** The reference: Ld.scorePairs over the driver map, per read. */
  private def reference(align: org.apache.spark.sql.DataFrame): Map[String, Int] = {
    val m = Ld.toMap(ld)
    Features.mtPerRead(align).select("Read", "variants").collect()
      .map(r => r.getString(0) -> Ld.scorePairs(m, r.getSeq[String](1))).toMap
  }

  test("LD pair scoring: single path == Ld.scorePairs reference == hand value") {
    val idx = Ld.index(Ld.read(resource("mito/ld.tsv")))
    val viaIndex = ldOf(Features.mtFeatures(mtAlign, () => idx))
    // r1 pairs: (11C,7G) → the (7G,11C) row 50000 (its duplicate counts
    // once), (105T,7G) = -20000, (105T,11C) dropped as ~0 → 30000
    assert(viaIndex("r1") === 30000)
    assert(viaIndex("r2") === 0) // single variant, no pairs
    assert(viaIndex === reference(mtAlign))
    // both adapters land on the same path
    val bc = spark.sparkContext.broadcast(Ld.toMap(ld))
    assert(ldOf(Features.mtFeaturesBroadcast(mtAlign, bc)) === viaIndex)
    assert(ldOf(Features.mtFeaturesJoin(mtAlign, ld)) === viaIndex)
    bc.destroy()
  }

  test("LD duplicate and reversed rows: the reference map's rule, not a sum") {
    // the fixture holds (5C,6T)=0.3 and the reversed (6T,5C)=0.1, and
    // (7G,11C)=0.5 twice. The map keeps the last row per orientation and
    // probes (b,a) only when (a,b) is absent; summing every row of a
    // canonical pair would give 40000 and 100000.
    val idx = Ld.index(Ld.read(resource("mito/ld.tsv")))
    val m = Ld.toMap(ld)
    assert(idx.lookup("5C", "6T") === 30000 && Ld.lookup(m, "5C", "6T") === 30000)
    assert(idx.lookup("6T", "5C") === 30000) // the index is symmetric
    assert(idx.lookup("11C", "7G") === 50000 && Ld.lookup(m, "11C", "7G") === 50000)
    import spark.implicits._
    val lines = Seq(
      // MD 0A0A8 at start 5: read bases C, T at 5, 6 → variants 5C, 6T
      "rR\t99\tchrM\t5\t30\t10M\t=\t0\t0\tCT========\t*\tNM:i:2\tNH:i:1\tMD:Z:0A0A8",
      // 7G and 11C (MD 2A3T3 at start 5)
      "rD\t99\tchrM\t5\t30\t10M\t=\t0\t0\t==G===C===\t*\tNM:i:2\tNH:i:1\tMD:Z:2A3T3"
    ).toDF("value")
    val align = Sam.parse(lines)
    val got = ldOf(Features.mtFeatures(align, () => idx))
    assert(got === Map("rR" -> 30000, "rD" -> 50000))
    assert(got === reference(align))
  }

  test("interned Ld.Index == Ld.scorePairs(Ld.toMap(..)) on random tables " +
      "and variant lists, also after a Java-serialization round trip") {
    val rnd = new scala.util.Random(11)
    val known = (1 to 40).map(i => s"${i * 7}${"ACGT"(i % 4)}")
    val unknown = Seq("999Z", "1A", "70000T")
    // rows over a small alphabet, so pairs repeat: duplicates with other
    // R, reversed rows, self-pairs, and R values that quantize to 0
    val rows = (1 to 600).map { _ =>
      val a = known(rnd.nextInt(known.size))
      val b = if (rnd.nextInt(10) == 0) a else known(rnd.nextInt(known.size))
      val r = if (rnd.nextInt(8) == 0) "0.000001" else f"${rnd.nextDouble() * 2 - 1}%.5f"
      s"$a\t$b\t$r"
    }
    val parsed = rows.map(_.split("\t")).filter(f => (f(2).toDouble * 100000).toInt != 0)
    assert(parsed.exists(f => f(0) == f(1)), "no self-pair row")
    assert(parsed.exists(f => f(0) > f(1)), "no reversed row")
    assert(parsed.map(f => (f(0), f(1))).distinct.size < parsed.size, "no duplicate row")
    assert(parsed.exists(f => parsed.exists(g => g(0) == f(1) && g(1) == f(0) && f(0) != f(1))),
      "no pair present in both orientations")
    val path = java.nio.file.Files.createTempFile("ld", ".tsv")
    java.nio.file.Files.write(path, rows.mkString("", "\n", "\n").getBytes("US-ASCII"))
    val m = Ld.toMap(Ld.load(spark, path.toString))
    val built = Ld.loadIndex(path.toString)
    val bytes = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bytes)
    oos.writeObject(built); oos.close()
    val shipped = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray)).readObject()
      .asInstanceOf[Ld.Index]
    val fromRows = Ld.index(Ld.read(path.toString))
    // lists arrive sorted (mtPerRead's sort_array); repeats and unknown
    // variants included
    val lists = Seq(Seq.empty[String], Seq("999Z"), Seq(known.head, known.head)) ++
      (1 to 400).map { _ =>
        Seq.fill(rnd.nextInt(12)) {
          if (rnd.nextInt(6) == 0) unknown(rnd.nextInt(unknown.size))
          else known(rnd.nextInt(12)) // a narrow range, so values repeat
        }.sorted
      }
    assert(lists.count(vs => vs.distinct.size < vs.size) > 50)
    for (vs <- lists; idx <- Seq(built, shipped, fromRows))
      assert(idx.score(vs) === Ld.scorePairs(m, vs), vs)
    assert(lists.count(vs => Ld.scorePairs(m, vs) != 0) > 100)
    for (a <- known ++ unknown; b <- known ++ unknown; idx <- Seq(built, shipped)) {
      val (lo, hi) = if (a <= b) (a, b) else (b, a)
      assert(idx.lookup(a, b) === Ld.lookup(m, lo, hi), (a, b))
    }
  }

  test("combinations(2) semantics: duplicate variants across mates collapse") {
    // both mates of rD report 7G (an overlapping read pair sharing a SNP);
    // reference computeR uses variants.flatten.combinations(2), which
    // yields DISTINCT pair-multisets: {7G,11C} once (not twice), plus the
    // self-pair {7G,7G} (absent from the LD table -> 0)
    import spark.implicits._
    val lines = Seq(
      // MD 2A7: read base G at start+2 -> variant (start+2)G = 7G for start 5
      "rD\t99\tchrM\t5\t30\t10M\t=\t0\t0\t==G=======\t*\tNM:i:1\tNH:i:1\tMD:Z:2A7",
      // mate: same variant 7G (start 5, MD 2A7) AND 11C (via MD 6T3 at start 5 -> pos 11, base C)
      "rD\t147\tchrM\t5\t20\t10M\t=\t0\t0\t==G===C===\t*\tNM:i:2\tNH:i:1\tMD:Z:2A3T3"
    ).toDF("value")
    val align = Sam.parse(lines.select(col("value")))
    val perRead = Features.mtPerRead(align)
    val vs = perRead.head().getSeq[String](4)
    assert(vs.sorted === Seq("11C", "7G", "7G")) // duplicate preserved in the list
    // LD table: (7G,11C)=50000. Old i<j-with-multiplicity would give
    // 2*50000; combinations(2) gives 50000.
    val bc = spark.sparkContext.broadcast(Ld.toMap(ld))
    val viaBroadcast = Features.mtFeaturesBroadcast(align, bc)
      .select("Read", "LD").head().getInt(1)
    val viaJoin = Features.mtFeaturesJoin(align, ld)
      .select("Read", "LD").head().getInt(1)
    assert(viaBroadcast === 50000)
    assert(viaJoin === 50000)
    assert(Ld.scorePairs(Ld.toMap(ld), vs) === 50000)
  }

  test("mtFeatures is one plan over one scan, with nothing persisted") {
    val out = Features.mtFeaturesJoin(mtAlign, ld)
    out.count()
    val plan = out.queryExecution.optimizedPlan
    // the per-read aggregate feeds the LD score in the same projection: one
    // scan of the input, no pair explode, no join, no cache
    assert(plan.collectLeaves().size === 1, plan.treeString)
    assert(!plan.treeString.contains("InMemoryRelation"), plan.treeString)
    assert(!plan.treeString.contains("Join"), plan.treeString)
  }

  test("feature join is inner (reads missing on either side drop) + label") {
    val bc = spark.sparkContext.broadcast(Ld.toMap(ld))
    val mt = Features.mtFeaturesBroadcast(mtAlign, bc)
    val ff = Features.featureFrame(mt, nt, label = 0.5)
    val reads = ff.select("Read").collect().map(_.getString(0)).sorted
    assert(reads.toSeq === Seq("r1", "r2")) // r6 (NT-only) dropped
    assert(ff.select("label").distinct().head().getDouble(0) === 0.5)
    assert(ff.columns.sorted.toSeq === Seq("LD", "MTEditDist", "MTMapQ",
      "MTNumAlignments", "NTEditDist", "NTMapQ", "NTNumAlignments",
      "NTScore", "Read", "label"))
  }

  test("normalizeMapQ: pooled z-transform over both MapQ columns") {
    val bc = spark.sparkContext.broadcast(Ld.toMap(ld))
    val ff = Features.featureFrame(
      Features.mtFeaturesBroadcast(mtAlign, bc), nt, 0.5)
    val norm = Features.normalizeMapQ(ff)
    // pooled values: MT 50,50; NT 100,40 -> mean 60, sd sample
    val pooled = Seq(50.0, 50.0, 100.0, 40.0)
    val mu = pooled.sum / 4
    val sd = math.sqrt(pooled.map(x => (x - mu) * (x - mu)).sum / 3)
    val got = norm.where(col("Read") === "r1")
      .select("MTMapQ", "NTMapQ").head()
    assert(math.abs(got.getDouble(0) - (50 - mu) / sd) < 1e-12)
    assert(math.abs(got.getDouble(1) - (100 - mu) / sd) < 1e-12)
  }
}
