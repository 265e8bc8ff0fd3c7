package perfbench

import org.apache.spark.ml.classification.RandomForestClassifier
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Trains and saves the Random Forest the benchmark scores with, using
  * stock MLlib only, so the model does not depend on the program under
  * test. Rows follow the generator's rule over the same feature supports
  * (see [[Inputs]]): mtDNA rows have MTEditDist 0–4 and LD 0, NUMT rows
  * MTEditDist 14–18 and LD ≥ 30000. The other four features are noise
  * drawn from `j = id / 2`, so each noise value appears once per label and
  * carries no class signal. The feature order is the pipeline's R-formula
  * order. */
object Model {

  val Features: Seq[String] = Seq("MTEditDist", "LD", "NTEditDist", "NTScore",
    "MTNumAlignments", "NTNumAlignments")

  def train(spark: SparkSession, dir: String): Unit = {
    def m(c: Column, k: Int): Column = (c % k).cast("double")
    val id = col("id")
    val j = (id / 2).cast("long")
    val label = (id % 2).cast("double")
    val rows = spark.range(8192).select(
      label.as("label"),
      (label * 14 + m(j, 5)).as("MTEditDist"),
      (label * (lit(30000) + (j * 7919) % 70000) * (lit(1) + j % 20))
        .cast("double").as("LD"),
      m(j * 7, 9).as("NTEditDist"),
      when((j * 13) % 3 === 0, m(j * 31, 200)).otherwise(lit(0.0)).as("NTScore"),
      (lit(2) + m(j, 3)).as("MTNumAlignments"),
      (lit(1) + m(j * 5, 6)).as("NTNumAlignments"))
    val prepared = new VectorAssembler().setInputCols(Features.toArray)
      .setOutputCol("features").transform(rows)
    new RandomForestClassifier().setNumTrees(128).setSeed(42L)
      .setLabelCol("label").setFeaturesCol("features")
      .fit(prepared)
      .write.overwrite().save(dir)
  }
}
