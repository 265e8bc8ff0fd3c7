package graft.mito

/** Training entry point — reference entry point 2 (SURVEY §3.2,
  * `MTClassifierModel.scala:187-281`): build labeled feature frames from an
  * mtDNA-amplified cohort (label 0.0) and a rho0 (mitochondria-free, label
  * 1.0) cohort, train the RF, persist it (reference K2:
  * `model.write.overwrite().save`).
  *
  *   graft.mito.TrainCli --mt-prefix A --rho0-prefix B --ld mitomap.ld
  *     --numt NUMTs.txt --out <modelDir> [--trees 128] [--threads 4]
  */
object TrainCli {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def req(k: String): String =
      opts.getOrElse(k, sys.error(s"missing required option --$k"))
    val threads = opts.getOrElse("threads", "4").toInt

    val spark = graft.Sessions.local("graft-mito-train", threads)
    try {
      def cfg(prefix: String) = MitoPipeline.Config(
        prefix = prefix, out = "", ldFile = req("ld"), numtFile = req("numt"))
      val mt = MitoPipeline.features(spark, cfg(req("mt-prefix")), label = Classify.MtLabel)
      val rho0 = MitoPipeline.features(spark, cfg(req("rho0-prefix")), label = 1.0)
      val training = mt.unionByName(rho0)
      val model = Classify.trainRF(training, numTrees = opts.getOrElse("trees", "128").toInt)
      model.write.overwrite().save(req("out"))
      println(s"saved model to ${req("out")} (${model.getNumTrees} trees)")
    } finally spark.stop()
  }
}
