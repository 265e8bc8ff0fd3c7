package graft.mito

import graft.SparkSpec
import org.apache.spark.sql.functions._

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
