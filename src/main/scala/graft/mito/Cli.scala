package graft.mito

import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.sql.SparkSession

/** CLI entry point — reference `MTClassify.main` parity
  * (`MTClassify.scala:37-44,54-127`): same options, same validation, same
  * defaults. Usage:
  *
  *   graft.mito.Cli --prefix S1 --out out.sam --ld mitomap.ld
  *     --numt NUMTs.txt --model <dir> [--prob 0.5] [--threads 4]
  */
object Cli {

  private[mito] def parse(args: List[String], acc: Map[String, String]): Map[String, String] =
    args match {
      case Nil => acc
      case key :: value :: rest if key.startsWith("--") =>
        parse(rest, acc + (key.drop(2) -> value))
      case other :: _ =>
        sys.error(s"unexpected argument: $other")
    }

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList, Map.empty)
    val threads = opts.getOrElse("threads", "4").toInt
    require(threads > 0, s"--threads must be positive, got $threads")

    val spark = graft.Sessions.local("graft-mito-classify", threads)
    try println(classify(spark, opts))
    finally spark.stop()
  }

  /** Classifies one sample and returns the line [[main]] prints. The count
    * is the one the sink produced while writing, so nothing runs twice. */
  private[mito] def classify(spark: SparkSession, opts: Map[String, String]): String = {
    def req(k: String): String =
      opts.getOrElse(k, sys.error(s"missing required option --$k"))
    val prob = opts.getOrElse("prob", "0.5").toDouble
    require(prob >= 0.0 && prob <= 1.0, s"--prob must be in [0,1], got $prob")
    val cfg = MitoPipeline.Config(
      prefix = req("prefix"), out = req("out"),
      ldFile = req("ld"), numtFile = req("numt"), prob = prob)
    val model = RandomForestClassificationModel.load(req("model"))
    val kept = MitoPipeline.run(spark, cfg, model)
    s"wrote $kept alignments to ${cfg.out}"
  }
}

/** Paired FASTQ → unmapped BAM CLI (picard `FastqToSam` analogue; the
  * reference's preprocessing entry, ref README.md:30). Usage:
  *
  *   graft.mito.FastqToUbamCli --r1 R1.fastq.gz --r2 R2.fastq.gz
  *     --out unmapped.bam [--rg sample1] [--sample <SM>] [--threads 4]
  */
object FastqToUbamCli {
  def main(args: Array[String]): Unit = {
    val opts = Cli.parse(args.toList, Map.empty)
    def req(k: String): String =
      opts.getOrElse(k, sys.error(s"missing required option --$k"))
    val threads = opts.getOrElse("threads", "4").toInt
    require(threads > 0, s"--threads must be positive, got $threads")
    val spark = graft.Sessions.local("graft-fastq-to-ubam", threads)
    try {
      val rg = opts.getOrElse("rg", "sample1")
      val n = MitoPipeline.fastqToUbam(spark, req("r1"), req("r2"),
        req("out"), readGroup = rg, sample = opts.getOrElse("sample", rg))
      println(s"wrote $n unaligned records to ${req("out")}")
    } finally spark.stop()
  }
}
