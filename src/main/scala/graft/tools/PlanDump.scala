package graft.tools

import scala.util.control.NonFatal

/** Dump `.explain("formatted")` for every declared query (or the named
  * subset) to one file per query — the plan evidence the optimization
  * rounds commit under `plans/r<n>/`.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> [nameSubstring ...]
  *
  * Uses the same session as Bench ([[graft.Sessions.local]]) so the
  * captured plans match the benched ones (shuffle partitions from
  * SPARK_GRAFT_CPUS, AQE state etc.).
  * Planning only — nothing is executed, so the sweep is cheap enough to
  * run over all ~230 engine rows.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/dump")
    val filters = args.drop(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local("graft-plandump", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val names = SparkEntryNames.names(filters)
    names.foreach { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        // queryExecution.explainString == explain("formatted") verbatim,
        // without stdout capture games
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$n.txt"), txt.getBytes("UTF-8"))
        System.err.println(s"[plandump] $n ok")
      } catch { case NonFatal(e) =>
        System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

private object SparkEntryNames {
  /** Gate rows are excluded by default (they are correctness plumbing with
    * side effects — writes, stream runs — that planning alone may not even
    * support); pass an explicit name filter to include one. */
  def names(filters: Seq[String]): Seq[String] = {
    val all = graft.SparkEntry.queries.keys.toSeq.sorted
    if (filters.isEmpty) all.filterNot(_.endsWith("_gate"))
    else all.filter(n => filters.exists(n.contains))
  }
}
