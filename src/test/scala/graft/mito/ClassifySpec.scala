package graft.mito

import graft.SparkSpec
import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.feature.{VectorAssembler, VectorIndexer}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, Node}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** `Classify.score` against MLlib's own scoring chain, which it replaces:
  * `rformula` + `model.transform` + `array_max(vector_to_array(
  * probability))`. Equality is exact (`==` on doubles), on the driver's
  * interpreted path (a local frame is folded by the optimizer) and on the
  * executors' generated code (a repartitioned frame). */
class ClassifySpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def training = PipelineSpec.trainingFrame(spark)

  /** Overlapping classes: no forest separates them, so MaxProb spreads. */
  private def noisy(n: Int, seed: Long, classes: Int = 2): DataFrame =
    spark.range(n).select(
      concat(lit("n"), col("id")).as("Read"),
      (rand(seed) * 6).cast("long").as("MTEditDist"),
      (rand(seed + 1) * 40000).cast("int").as("LD"),
      (rand(seed + 2) * 12).cast("long").as("NTEditDist"),
      (rand(seed + 3) * 80).cast("long").as("NTScore"),
      (rand(seed + 4) * 4).cast("long").as("MTNumAlignments"),
      rand(seed + 5).as("NTNumAlignments"))
      .withColumn("label", (pmod(col("MTEditDist") + (col("LD") / 10000).cast("long") +
        (rand(seed + 6) * 3).cast("long"), lit(classes.toLong))).cast("double"))

  private type Scores = Seq[(String, Double, Double)]

  private def collect(df: DataFrame): Scores =
    df.select("Read", "prediction", "MaxProb").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).sortBy(_._1).toSeq

  private def oracle(model: RandomForestClassificationModel, df: DataFrame): Scores =
    collect(model.transform(Classify.rformula.fit(df).transform(df))
      .withColumn("MaxProb", array_max(vector_to_array(col("probability")))))

  /** Kernel == MLlib on `df`'s rows, both on a local frame (the optimizer
    * folds the projection on the driver, interpreted) and on a
    * repartitioned one (executors run the generated code, with codegen
    * fallback off so a compile failure cannot hide). */
  private def assertExact(model: RandomForestClassificationModel, df: DataFrame): Scores = {
    val local = spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
    val want = oracle(model, local)
    val previous = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      assert(collect(Classify.score(model, local)) === want)
      assert(collect(Classify.score(model, local.repartition(3))) === want)
    } finally spark.conf.set("spark.sql.codegen.fallback", previous)
    want
  }

  test("score equals MLlib bit for bit: the training frame at 8 and 128 trees") {
    for (trees <- Seq(8, 128)) {
      val model = Classify.trainRF(training, numTrees = trees)
      assertExact(model, training)
      assertExact(model, noisy(400, 3))
    }
  }

  test("score equals MLlib bit for bit on an overlapping frame, MaxProb spread") {
    val model = Classify.trainRF(noisy(2000, 11), numTrees = 32, seed = 5L)
    val got = assertExact(model, noisy(1500, 21))
    assert(got.map(_._3).distinct.size > 50)
    assert(got.map(_._2).toSet === Set(0.0, 1.0))
  }

  /** Every continuous split of the forest, as (feature, threshold). */
  private def splits(model: RandomForestClassificationModel): Seq[(Int, Double)] = {
    def walk(n: Node): Seq[(Int, Double)] = n match {
      case in: InternalNode =>
        val s = in.split.asInstanceOf[ContinuousSplit]
        (s.featureIndex, s.threshold) +: (walk(in.leftChild) ++ walk(in.rightChild))
      case _ => Nil
    }
    model.trees.toSeq.flatMap(t => walk(t.rootNode)).distinct
  }

  test("rows exactly on split thresholds (and one ulp either side) score as MLlib") {
    val model = Classify.trainRF(noisy(2000, 31), numTrees = 16, seed = 9L)
    val cuts = splits(model)
    assert(cuts.nonEmpty)
    val base = Array(2.0, 15000.0, 5.0, 30.0, 1.0, 0.5)
    val rows = for {
      ((f, t), i) <- cuts.zipWithIndex
      (v, j) <- Seq(t, math.nextDown(t), math.nextUp(t)).zipWithIndex
    } yield {
      val x = base.clone()
      x(f) = v
      (s"c${i}_$j", x(0), x(1), x(2), x(3), x(4), x(5))
    }
    import spark.implicits._
    val df = rows.toDF("Read" +: Classify.Features: _*)
    assertExact(model, df)
  }

  test("a 3-class forest scores as MLlib") {
    val train = Classify.rformula.fit(noisy(3000, 41, classes = 3))
      .transform(noisy(3000, 41, classes = 3))
    val model = new RandomForestClassifier().setNumTrees(24).setSeed(3L).fit(train)
    assert(model.numClasses === 3)
    val got = assertExact(model, noisy(1200, 51, classes = 3))
    assert(got.map(_._2).toSet === Set(0.0, 1.0, 2.0))
  }

  test("a model round-tripped through write/load scores as before") {
    val model = Classify.trainRF(noisy(1000, 61), numTrees = 16, seed = 13L)
    val dir = Files.createTempDirectory("rf-model").toString + "/m"
    model.write.overwrite().save(dir)
    val loaded = RandomForestClassificationModel.load(dir)
    val df = noisy(800, 71)
    assert(assertExact(loaded, df) === collect(Classify.score(model, df)))
  }

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)

  test("refuses a model over other than the six formula features") {
    val five = new VectorAssembler().setInputCols(Classify.Features.take(5).toArray)
      .setOutputCol("features").transform(training)
    val model = new RandomForestClassifier().setNumTrees(2).fit(five)
    val e = intercept[IllegalArgumentException](Classify.score(model, training))
    assert(e.getMessage.contains("5 features"), e.getMessage)
  }

  test("refuses a model with thresholds") {
    val model = Classify.trainRF(training, numTrees = 2).setThresholds(Array(0.3, 0.7))
    val e = intercept[IllegalArgumentException](Classify.score(model, training))
    assert(e.getMessage.contains("thresholds"), e.getMessage)
  }

  test("refuses a model with categorical splits") {
    // every feature takes at most 4 values, so the indexer marks all six
    // categorical and every split the forest learns is a CategoricalSplit
    val small = training.select(col("Read") +: col("label") +:
      Classify.Features.map(f => pmod(col(f), lit(4)).cast("double").as(f)): _*)
    val vec = new VectorAssembler().setInputCols(Classify.Features.toArray)
      .setOutputCol("raw").transform(small)
    val indexed = new VectorIndexer().setInputCol("raw").setOutputCol("features")
      .setMaxCategories(4).fit(vec).transform(vec)
    val model = new RandomForestClassifier().setNumTrees(4).setSeed(1L).fit(indexed)
    val e = intercept[IllegalArgumentException](Classify.score(model, training))
    assert(e.getMessage.contains("continuous splits"), e.getMessage)
  }

  test("a null or NaN feature fails the query, as the MLlib path does") {
    val model = Classify.trainRF(training, numTrees = 2)
    val withNull = training.withColumn("LD",
      when(col("Read") === "t3", lit(null).cast("int")).otherwise(col("LD")))
    val withNaN = training.withColumn("NTNumAlignments",
      when(col("Read") === "t5", lit(Double.NaN)).otherwise(col("NTNumAlignments").cast("double")))
    for ((df, what) <- Seq(withNull -> "null", withNaN -> "NaN");
         frame <- Seq(df, df.repartition(2))) {
      val e = intercept[Exception](Classify.score(model, frame).collect())
      assert(messages(e).exists(_.contains(s"is $what")), e.toString)
      intercept[Exception](oracle(model, frame))
    }
  }

  /** Class names of every object `e`'s Java serialization writes. */
  private def serializedClasses(e: AnyRef): Set[String] = {
    val names = scala.collection.mutable.Set.empty[String]
    val out = new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream()) {
      override def annotateClass(cl: Class[_]): Unit = names += cl.getName
    }
    out.writeObject(e)
    out.close()
    names.toSet
  }

  private val modelClasses = Set(
    "org.apache.spark.ml.classification.RandomForestClassificationModel",
    "org.apache.spark.ml.classification.DecisionTreeClassificationModel")
  private val forestClasses = modelClasses + "graft.functions.FlatForest"

  test("the keys plan ships no MLlib model and walks the forest once per row") {
    val model = Classify.trainRF(training, numTrees = 8)
    val keys = Classify.mtReadKeys(Classify.score(model, training.repartition(2)), 0.5)
    assert(keys.collect().length === 100)
    val nodes: Seq[SparkPlan] = collectWithSubqueries(keys.queryExecution.executedPlan) {
      case p => p
    }
    val exprs = nodes.flatMap(p => p.expressions.map(p -> _))
    val shipped = exprs.flatMap { case (_, e) => serializedClasses(e) }.toSet
    assert((shipped & modelClasses).isEmpty, shipped & modelClasses)
    // a scoring expression: one that holds a forest while none of its
    // children does; each instance in the plan is one walk per row
    def holdsForest(e: AnyRef): Boolean = (serializedClasses(e) & forestClasses).nonEmpty
    val scoring = exprs.flatMap { case (p, root) =>
      root.collect { case e if holdsForest(e) && !e.children.exists(holdsForest) => p }
    }
    assert(scoring.size === 1, scoring.map(_.nodeName))
    assert(scoring.head.isInstanceOf[ProjectExec], scoring.head.nodeName)
  }
}
