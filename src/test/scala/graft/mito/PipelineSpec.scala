package graft.mito

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CacheProbe

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** End-to-end `MTClassify.main` parity on fixtures: features → train a tiny
  * RF → score → confidence+prediction filters → semi-join → single-SAM
  * sink (SURVEY §3.1 steps 5-10). */
class PipelineSpec extends SparkSpec {

  private def cfg(tmp: String) = MitoPipeline.Config(
    prefix = resource("mito/sample_MT.sam").stripSuffix("_MT.sam"),
    out = tmp + "/out.sam",
    ldFile = resource("mito/ld.tsv"),
    numtFile = resource("mito/numts.tsv"),
    prob = 0.5)

  private def trainingFrame = PipelineSpec.trainingFrame(spark)

  test("train → score → evaluate: separable data scores ~1.0") {
    val model = Classify.trainRF(trainingFrame, numTrees = 8)
    val scored = Classify.score(model, trainingFrame)
    assert(scored.columns.contains("MaxProb"))
    assert(Classify.evaluate(scored) > 0.95)
    val probs = scored.select("MaxProb").collect().map(_.getDouble(0))
    assert(probs.forall(p => p >= 0.5 && p <= 1.0))
  }

  test("GBT path trains and separates like RF (reference testGBModel parity)") {
    val model = Classify.trainGBT(trainingFrame, maxIter = 10)
    val prepared = Classify.rformula.fit(trainingFrame).transform(trainingFrame)
    val scored = model.transform(prepared)
    assert(Classify.evaluate(scored) > 0.95)
    // reference testGBModel reported "precision" (MTClassifierModel.scala:252-256)
    assert(Classify.evaluatePrecision(scored) > 0.95)
  }

  test("mtReadKeys applies confidence gate and prediction filter") {
    val model = Classify.trainRF(trainingFrame, numTrees = 8)
    val scored = Classify.score(model, trainingFrame)
    val keys = Classify.mtReadKeys(scored, 0.5).collect().map(_.getString(0)).toSet
    // exactly the even (mtDNA-labelled) reads survive on separable data
    val expected = (1 to 200).filter(_ % 2 == 0).map(i => s"t$i").toSet
    assert(keys === expected)
  }

  test("end-to-end: classify fixture sample and write single SAM") {
    val tmp = Files.createTempDirectory("mito-e2e").toString
    val c = cfg(tmp)
    val model = Classify.trainRF(trainingFrame, numTrees = 8)
    val written = MitoPipeline.run(spark, c, model)
    val kept = Sam.read(spark, c.out)
    val keptReads = kept.select("readName").distinct()
      .collect().map(_.getString(0)).toSet
    // r7 has no features (absent from MT_MD/NT) -> can never be classified MT
    assert(!keptReads.contains("r7"))
    assert(keptReads.subsetOf(Set("r1", "r2")))
    // sink: header preserved, records = kept alignments, tabs intact
    val lines = Files.readAllLines(Paths.get(c.out)).asScala
    assert(lines.head.startsWith("@HD"))
    assert(lines.count(_.startsWith("@")) === 2)
    val dataLines = lines.filterNot(_.startsWith("@"))
    assert(dataLines.size === written)
    assert(dataLines.forall(_.split("\t").length >= 11))
  }

  test("BAM in, BAM out: classify from binary inputs and write binary output") {
    val tmp = Files.createTempDirectory("mito-bam").toString
    val c = cfg(tmp).copy(out = tmp + "/out.bam", prob = 0.0)
    val model = Classify.trainRF(trainingFrame, numTrees = 4)
    assert(MitoPipeline.run(spark, c, model) === 5)
    val back = spark.read.format("bam").load(tmp + "/out.bam")
    assert(back.count() === 5)
    assert(back.select("readName").distinct().collect().map(_.getString(0)).sorted
      === Array("r1", "r2", "r7"))
  }

  test("prob = 0 disables filtering (pass-through, reference B10 semantics)") {
    val tmp = Files.createTempDirectory("mito-e2e0").toString
    val c = cfg(tmp).copy(prob = 0.0)
    val model = Classify.trainRF(trainingFrame, numTrees = 4)
    // all 5 records of sample_MT.sam pass through, including r7
    assert(MitoPipeline.run(spark, c, model) === 5)
    // and every record of a generated BAM, in order
    val (g, mt) = generated(tmp, pairs = 40, mtLike = _ % 2 == 0)
    assert(MitoPipeline.run(spark, g.copy(prob = 0.0), model) === mt.size)
    assert(bamRecords(g.out) === mt)
  }

  test("features: the labeled, MapQ-normalized training frame over both dims") {
    val f = MitoPipeline.features(spark, cfg("unused"), label = 1.0)
    val rows = f.select("Read", "LD", "NTScore", "label", "MTMapQ").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === Set("r1", "r2"))
    assert(rows("r1").getInt(1) === 30000 && rows("r2").getInt(1) === 0)
    assert(rows("r1").getLong(2) === 25L) // NUMT overlap 10 + 15
    assert(rows.values.forall(_.getDouble(3) === 1.0))
    // pooled MapQ: MT 50, 50; NT 100, 40 → mean 60, sample sd
    val sd = math.sqrt((100.0 + 100 + 1600 + 400) / 3)
    assert(rows.values.forall(r => math.abs(r.getDouble(4) - (50 - 60) / sd) < 1e-12))
  }

  test("Cli prints the record count the sink wrote") {
    val tmp = Files.createTempDirectory("mito-cli").toString
    val c = cfg(tmp).copy(out = tmp + "/out.bam")
    Classify.trainRF(trainingFrame, numTrees = 4).write.overwrite()
      .save(tmp + "/model")
    val line = Cli.classify(spark, Map("prefix" -> c.prefix, "out" -> c.out,
      "ld" -> c.ldFile, "numt" -> c.numtFile, "model" -> (tmp + "/model")))
    val n = spark.read.format("bam").load(c.out).count()
    assert(n > 0)
    assert(line === s"wrote $n alignments to ${c.out}")
  }

  test("two concurrent runs on one session each write their sequential output") {
    val tmp = Files.createTempDirectory("mito-conc").toString
    val model = Classify.trainRF(trainingFrame, numTrees = 8)
    val cfgs = Seq(cfg(tmp).copy(out = tmp + "/a.sam"),
      cfg(tmp).copy(out = tmp + "/b.bam", prob = 0.6))
    def records(out: String): Seq[String] =
      (if (out.endsWith(".bam")) spark.read.format("bam").load(out)
       else Sam.read(spark, out))
        .select(concat_ws("|", col("readName"), col("flag"), col("start")))
        .collect().map(_.getString(0)).sorted.toSeq
    val sequential = cfgs.map { c =>
      val n = MitoPipeline.run(spark, c, model)
      (n, records(c.out))
    }
    cfgs.foreach(c => Files.delete(Paths.get(c.out)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val concurrent = try {
      val runs = cfgs.map(c => scala.concurrent.Future(MitoPipeline.run(spark, c, model)))
      runs.map(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
    assert(concurrent.zip(cfgs).map { case (n, c) => (n, records(c.out)) } === sequential)
  }

  /** BAM inputs for `pairs` read pairs under `dir`, plus their LD and NUMT
    * tables. Read i is mtDNA-like when `mtLike(i)`: an LD-linked variant
    * pair on chrM (LD 25000) and high NT edit distance off any NUMT; it is
    * NUMT-like otherwise (no variants, NT edit distance 0, both NT mates in
    * a NUMT). `_MT` is coordinate-sorted and its read names are not in
    * coordinate order. With `withNt = false` the `_NT` BAM has no records,
    * so no read has features. Returns the config and each read's `_MT`
    * records as (readName, flag, start), in file order. */
  private def generated(dir: String, pairs: Int, mtLike: Int => Boolean,
      withNt: Boolean = true): (MitoPipeline.Config, Seq[(String, Int, Int)]) = {
    import spark.implicits._
    val prefix = s"$dir/gen"
    def name(i: Int) = s"q${(i * 7919L) % 10007}_$i"
    def start(i: Int) = 10 + 20 * i
    def bam(suffix: String, header: String, refs: Seq[(String, Int)],
        lines: Seq[String]): Unit =
      graft.sources.BamWriter.write(Sam.parse(lines.toDF("value")),
        header + refs.map { case (n, l) => s"@SQ\tSN:$n\tLN:$l\n" }.mkString,
        refs, s"${prefix}_$suffix.bam")
    val hd = "@HD\tVN:1.6\tSO:coordinate\n"
    val chrM = Seq("chrM" -> 16569)
    bam("MT_MD", hd, chrM, (0 until pairs).flatMap { i =>
      val (seq, md) = if (mtLike(i)) ("==G===C===", "2A3T3") else ("==========", "10")
      Seq(99, 147).map(f =>
        s"${name(i)}\t$f\tchrM\t${start(i)}\t30\t10M\t=\t0\t0\t$seq\t*\tNM:i:2\tNH:i:1\tMD:Z:$md")
    })
    bam("NT", hd, Seq("chr1" -> 248956422, "chr2" -> 242193529),
      if (!withNt) Seq.empty
      else (0 until pairs).flatMap { i =>
        val (chr, nm) = if (mtLike(i)) ("chr1", 5) else ("chr2", 0)
        Seq(99, 147).map(f =>
          s"${name(i)}\t$f\t$chr\t${1000 + start(i)}\t30\t10M\t=\t0\t0\tACGTACGTAC\t*\tNM:i:$nm\tNH:i:1")
      })
    val mt = (0 until pairs).flatMap(i =>
      Seq((name(i), 99, start(i)), (name(i), 147, start(i) + 300)))
      .sortBy(r => (r._3, r._2))
    bam("MT", hd, chrM, mt.map { case (n, f, p) =>
      s"$n\t$f\tchrM\t$p\t60\t10M\t=\t0\t0\tACGTACGTAC\t*\tNM:i:0" })
    val ld = s"$dir/ld.tsv"
    Files.write(Paths.get(ld), (0 until pairs).filter(mtLike)
      .map(i => s"${start(i) + 2}G\t${start(i) + 6}C\t0.25\n").mkString.getBytes("US-ASCII"))
    val numt = s"$dir/numts.tsv"
    Files.write(Paths.get(numt), "chr2\t1\t100000\t30\n".getBytes("US-ASCII"))
    (MitoPipeline.Config(prefix, s"$dir/out.bam", ld, numt), mt)
  }

  /** The (readName, flag, start) of a BAM's records, in file order. */
  private def bamRecords(path: String): Seq[(String, Int, Int)] =
    spark.read.format("bam").load(path).select("readName", "flag", "start")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSeq

  private lazy val model8 = Classify.trainRF(trainingFrame, numTrees = 8)

  test("run writes the kept _MT records in coordinate order, at the default " +
      "broadcast threshold and at -1, and the same records at both") {
    val tmp = Files.createTempDirectory("mito-order").toString
    val (c, mt) = generated(tmp, pairs = 150, mtLike = _ % 3 != 0)
    val kept = mt.filter(r => r._1.split("_")(1).toInt % 3 != 0)
    // the names alone would order the records otherwise
    assert(kept.sortBy(_._1) != kept)
    val off = spark.newSession()
    off.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    for ((s, out) <- Seq(spark -> s"$tmp/default.bam", off -> s"$tmp/off.bam")) {
      assert(MitoPipeline.run(s, c.copy(out = out), model8) === kept.size)
      assert(bamRecords(out) === kept, out)
    }
  }

  test("empty-input pass-through: no read has an NT alignment, so every _MT " +
      "record is written") {
    val tmp = Files.createTempDirectory("mito-nont").toString
    val (c, mt) = generated(tmp, pairs = 40, mtLike = _ % 2 == 0, withNt = false)
    assert(MitoPipeline.features(spark, c, 0.5).isEmpty)
    assert(MitoPipeline.run(spark, c, model8) === mt.size)
    assert(bamRecords(c.out) === mt)
  }

  test("features but no kept read: 0 records, no pass-through") {
    val tmp = Files.createTempDirectory("mito-nokeep").toString
    val (c, _) = generated(tmp, pairs = 40, mtLike = _ => false)
    assert(!MitoPipeline.features(spark, c, 0.5).isEmpty)
    assert(MitoPipeline.run(spark, c, model8) === 0)
    assert(bamRecords(c.out).isEmpty)
  }

  test("a run that keeps reads is one SQL execution: no cache, no sort-merge " +
      "join over _MT, and no cached plan left behind") {
    import org.apache.spark.sql.execution.QueryExecution
    val tmp = Files.createTempDirectory("mito-onequery").toString
    val (c, mt) = generated(tmp, pairs = 60, mtLike = _ % 2 == 0)
    val s = spark.newSession()
    val seen = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]
    s.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.put(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.put(qe)
    })
    // the cache manager is shared by every session of the suite's JVM, so
    // the run must leave the count of cached plans as it found it
    val cachedBefore = CacheProbe.cachedPlans(s)
    assert(MitoPipeline.run(s, c, model8) === mt.size / 2)
    // listener events arrive in order on the bus: once a marker query's
    // event is in, every execution of the run has been reported
    s.range(1).toDF("end_of_run_marker").collect()
    val runs = Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
      .takeWhile(qe => qe != null &&
        !qe.analyzed.output.exists(_.name == "end_of_run_marker")).toSeq
    assert(runs.size === 1, runs.map(_.analyzed.treeString).mkString("\n"))
    // the initial and the final plan: the semi-join over _MT broadcasts
    // the keys in both
    val plan = runs.head.executedPlan.treeString
    assert(!plan.contains("InMemory"), plan)
    val semi = plan.linesIterator.filter(_.contains("LeftSemi")).toSeq
    assert(semi.size === 2 && semi.forall(_.contains("BroadcastHashJoin")), plan)
    assert(CacheProbe.cachedPlans(s) === cachedBefore)
  }
}

object PipelineSpec {

  /** Synthetic labeled training frame: mtDNA-like rows (low NT quality,
    * label 0) vs NUMT-like rows (high NT quality, label 1), separable so a
    * 4-tree forest nails it. */
  def trainingFrame(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 200).map { i =>
      val isMt = i % 2 == 0
      val label = if (isMt) 0.0 else 1.0
      val ntEdit = if (isMt) 8 + rnd.nextInt(4) else rnd.nextInt(2)
      val ntScore = if (isMt) 0 else 50 + rnd.nextInt(30)
      val ld = if (isMt) 20000 + rnd.nextInt(9999) else rnd.nextInt(100)
      (s"t$i", 1.0, 2L, 3L + rnd.nextInt(3), ld, 1.0, 2L, ntEdit.toLong, ntScore.toLong, label)
    }
    rows.toDF("Read", "MTMapQ", "MTNumAlignments", "MTEditDist", "LD",
      "NTMapQ", "NTNumAlignments", "NTEditDist", "NTScore", "label")
  }
}
