package graft.mito

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end classification pipeline — `MTClassify.main` parity
  * (reference `MTClassify.scala:54-213`, lifecycle SURVEY §3.1), wired from
  * the composable stages in Sam/Features/Ld/Numt/Classify.
  *
  * Inputs per sample prefix (SAM text in place of BAM, §7.2):
  *   <prefix>_MT_MD.sam  — mito-aligned, calmd -e'd (MD tags)
  *   <prefix>_NT.sam     — nuclear-aligned
  *   <prefix>_MT.sam     — mito-aligned, the records to filter & write
  *
  * Each sample is one SQL execution, the sink's: both feature scans, the
  * feature join, the forest walk, the semi-join of `<prefix>_MT` against
  * the broadcast kept-read keys, and the encode. It runs over two
  * dimension tables read on the driver: the NUMT intervals fold into the
  * NT scan as a literal expression, and the interned LD index
  * ([[Ld.loadIndex]]) is broadcast once per [[run]] (once per
  * [[runCohort]]) and probed per read. Nothing is persisted.
  */
object MitoPipeline {

  final case class Config(
    prefix: String,
    out: String,
    ldFile: String,
    numtFile: String,
    prob: Double = 0.5)

  /** Normalized, labeled feature frame for one sample (reference
    * `MTClassifierModel.DF`, `MTClassifierModel.scala:71-87`): the
    * training input of [[TrainCli]]. Inputs resolve `<prefix>_X.bam`
    * first, then `<prefix>_X.sam` (Sam.readAuto). The LD index ships in
    * the task closure rather than a broadcast, so the returned frame holds
    * no handle that needs releasing. */
  def features(spark: SparkSession, cfg: Config, label: Double): DataFrame = {
    val ld = Ld.loadIndex(cfg.ldFile)
    Features.normalizeMapQ(featureFrame(spark, cfg.prefix,
      Numt.load(spark, cfg.numtFile), () => ld, label))
  }

  /** One sample's feature frame over dims already read. */
  private def featureFrame(spark: SparkSession, prefix: String,
      numts: Seq[Numt.Interval], ld: () => Ld.Index, label: Double)
      : DataFrame =
    Features.featureFrame(
      Features.mtFeatures(Sam.readAuto(spark, prefix + "_MT_MD"), ld),
      Features.ntFeatures(Sam.readAuto(spark, prefix + "_NT"), numts),
      label)

  /** Reads the NUMT and LD dims once on the driver, broadcasts the LD
    * index once, runs `body` over them, and destroys the broadcast. */
  private def withDims[T](spark: SparkSession, ldFile: String,
      numtFile: String)(body: (Seq[Numt.Interval], () => Ld.Index) => T): T = {
    val numts = Numt.load(spark, numtFile)
    val ld = spark.sparkContext.broadcast(Ld.loadIndex(ldFile))
    try body(numts, () => ld.value)
    finally ld.destroy()
  }

  /** Classify `<prefix>_MT` with a trained model and write the filtered
    * records to `cfg.out` (reference steps 6-10,
    * `MTClassify.scala:159-204`): one feature query over the driver-read
    * dims, scored without MapQ normalization (the model's formula reads no
    * MapQ column). Returns the number of records written. */
  def run(spark: SparkSession, cfg: Config,
      model: org.apache.spark.ml.classification.RandomForestClassificationModel)
      : Long =
    withDims(spark, cfg.ldFile, cfg.numtFile) { (numts, ld) =>
      classifyAndWrite(spark,
        featureFrame(spark, cfg.prefix, numts, ld, label = 0.5),
        cfg.prefix, cfg.out, cfg.prob, model)
    }

  /** Steps 6-10 shared by [[run]] and [[runCohort]]: score the feature
    * frame, filter `<prefix>_MT`, write the single-file sink. Returns the
    * sink's record count.
    *
    * Features → score → keys → semi-join → sink is ONE SQL execution (the
    * sink's): nothing is persisted, and the feature plan is not run ahead
    * of the write. The reference's empty-input pass-through
    * (`MTClassify.scala:159-161,194-197`: no read has features, so every
    * `_MT` record is written) is checked after the write instead: only a
    * write that kept 0 records asks whether the feature frame is empty,
    * and if so writes `_MT` again unfiltered. `prob <= 0` passes every
    * record through with no feature query at all. */
  private def classifyAndWrite(spark: SparkSession, features: DataFrame,
      prefix: String, out: String, prob: Double,
      model: org.apache.spark.ml.classification.RandomForestClassificationModel)
      : Long = {
    val srcBase = prefix + "_MT"
    val srcBam = srcBase + ".bam"
    val srcIsBam = graft.sources.HadoopIO.exists(srcBam,
      graft.sources.HadoopIO.driverConf())
    val toWrite = Sam.readAuto(spark, srcBase)
    val (headerText, refs) =
      if (srcIsBam) graft.sources.BamWriter.readHeader(srcBam)
      else Sam.headerFromSam(spark, Sam.resolveSamText(srcBase))
    def write(records: DataFrame): Long =
      if (out.endsWith(".bam"))
        graft.sources.BamWriter.write(records, headerText, refs, out)
      else
        Sam.writeSingleSamWithHeader(
          headerText.split("\n").filter(_.nonEmpty), records, out)
    if (prob <= 0.0) write(toWrite)
    else {
      val keys = Classify.mtReadKeys(Classify.score(model, features), prob)
      val n = write(Classify.filterAlignments(toWrite, keys))
      if (n == 0 && features.isEmpty) write(toWrite) else n
    }
  }

  /** Paired FASTQ → unmapped BAM (the picard `FastqToSam` analogue) —
    * the reference's documented preprocessing entry (ref README.md:30
    * reverts inputs to uBAM before alignment), promoted from x82's gate
    * plumbing to a user surface. Strict paired read ([[FastqPaired]]:
    * name-stem agreement enforced split-parallel), picard-flag 77/141
    * unaligned records, one read group, written through [[graft.sources
    * .BamWriter]] against an empty reference dictionary. Returns the
    * record count (2 × pairs).
    *
    * Scale shape: two split-parallel FASTQ scans zipped by position, a
    * narrow explode, and the BAM sink's streamed per-task part files —
    * no record bytes on the driver. */
  def fastqToUbam(spark: SparkSession, r1: String, r2: String, out: String,
      readGroup: String = "sample1", sample: String = null,
      splitSize: Long = 8L * 1024 * 1024): Long = {
    val sm = Option(sample).getOrElse(readGroup)
    val pairs = graft.sources.FastqPaired.read(spark, r1, r2,
      strict = true, splitSize = splitSize)
    val recs = pairs.select(col("name"), explode(array(
        struct(lit(77).as("flag"), col("seq_1").as("sequence"),
          col("qual_1").as("qual")),
        struct(lit(141).as("flag"), col("seq_2").as("sequence"),
          col("qual_2").as("qual")))).as("m"))
      .select(col("name").as("readName"), col("m.flag").as("flag"),
        lit("*").as("referenceName"), lit(0).as("start"), lit(0).as("mapQ"),
        lit("*").as("cigar"), lit("*").as("rnext"), lit(0).as("pnext"),
        lit(0).as("tlen"), col("m.sequence").as("sequence"),
        col("m.qual").as("qual"),
        lit(s"RG:Z:$readGroup").as("attributes"))
    val header = s"@HD\tVN:1.6\tSO:queryname\n@RG\tID:$readGroup\tSM:$sm\n"
    graft.sources.BamWriter.write(recs, header, Seq.empty, out)
  }

  /** COHORT mode — N samples, ONE session, SHARED dims: the reference is
    * one-sample-per-JVM (`MTClassify.main` takes a single prefix), so a
    * cohort pays N dim loads and N JVM spins. Here both dims are read once
    * and the LD index broadcast once, and every sample's feature query
    * probes the SAME broadcast — N samples cost one dim load plus N
    * sample-sized pipelines. [[graft.mito.Ld.loadCount]] /
    * [[graft.mito.Numt.loadCount]] make the once-not-N contract
    * observable (the x80 gate asserts the deltas are exactly 1 across an
    * 8-sample cohort).
    *
    * `samples` maps each input prefix to its output path. */
  def runCohort(spark: SparkSession, samples: Seq[(String, String)],
      ldFile: String, numtFile: String, prob: Double,
      model: org.apache.spark.ml.classification.RandomForestClassificationModel)
      : Unit =
    withDims(spark, ldFile, numtFile) { (numts, ld) =>
      samples.foreach { case (prefix, out) =>
        classifyAndWrite(spark,
          featureFrame(spark, prefix, numts, ld, label = 0.5),
          prefix, out, prob, model)
      }
    }
}
