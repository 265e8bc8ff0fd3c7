package graft.mito

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.HadoopIO

/** NUMT (nuclear-mitochondrial segment) reference intervals.
  *
  * Headerless 4-column TSV (chromosome, start, end, score) — reference
  * `src/universal/NUMTs_hg38.txt` loaded driver-side
  * (`MTClassifierModel.scala:157-172`). The reference's "overlap" ignored
  * the interval bounds entirely (defect B7, `BamReader.scala:83-88` summed
  * every score on the chromosome); we implement the intended
  * interval-overlap semantics.
  *
  * Scale design: the dim is 23 rows, so it folds into the scan as a literal
  * scalar expression (zero shuffle, whole-stage codegen) — the Spark-native
  * equivalent of the reference's closure-captured map, minus the closure.
  * For a large interval set the same call sites would switch to a broadcast
  * range join.
  */
object Numt {

  final case class Interval(chromosome: String, start: Int, end: Int, score: Float)

  /** Dim-load counter: the cohort gate (x80) asserts an N-sample run
    * loads the NUMT dim exactly once, not N times. */
  val loadCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Reads the rows on the driver, with no Spark job. Extra fields are ignored; a row with a missing or unparsable
    * field fails with its line number. */
  def load(spark: SparkSession, path: String): Seq[Interval] = {
    loadCount.incrementAndGet()
    HadoopIO.readLines(path, spark.sparkContext.hadoopConfiguration).zipWithIndex
      .filter(_._1.nonEmpty).map { case (line, i) =>
        val f = line.split("\t", -1)
        try Interval(f(0), f(1).toInt, f(2).toInt, f(3).toFloat)
        catch {
          case e @ (_: NumberFormatException | _: ArrayIndexOutOfBoundsException) =>
            throw new IllegalArgumentException(
              s"$path:${i + 1}: malformed NUMT row '$line'", e)
        }
      }
  }

  /** Per-alignment NUMT overlap score as a literal expression:
    * Σ score of intervals overlapping [start, start + len(sequence)) on the
    * same chromosome. Columns consumed: referenceName, start, sequence. */
  def overlapScore(numts: Seq[Interval]): Column =
    if (numts.isEmpty) lit(0)
    else numts.map { iv =>
      when(col("referenceName") === iv.chromosome &&
        col("start") <= iv.end &&
        col("start") + length(col("sequence")) - 1 >= iv.start,
        lit(iv.score.toDouble)).otherwise(lit(0.0))
    }.reduce(_ + _).cast(IntegerType)
}
