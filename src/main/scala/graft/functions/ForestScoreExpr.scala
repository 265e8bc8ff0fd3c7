package graft.functions

import org.apache.spark.SparkException
import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.ml.graft.{bridge => mlBridge}
import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, LeafNode, Node}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, Nondeterministic}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}

import scala.collection.mutable.ArrayBuffer

/** A trained Random Forest classifier compiled to flat primitive arrays.
  *
  * Internal nodes are indexed `0 until feature.length`; a child (or a
  * tree's root) `c >= 0` is an internal node, `c < 0` is leaf `~c`. Leaf
  * `l` owns the class-probability row `leafProb(l * numClasses + k)`,
  * precomputed as `counts(k) / counts.sum` from the leaf's class counts.
  *
  * [[score]] repeats `RandomForestClassificationModel.predictRaw`,
  * `normalizeToProbabilitiesInPlace` and `DenseVector.argmax` operation for
  * operation: the same `ContinuousSplit` walk (`x(f) <= threshold` goes
  * left), the same divisions, the same left-to-right sums over trees in
  * model order. Its results are therefore bit-identical to MLlib's. A leaf
  * whose counts sum to 0 gets a row of `+0.0`, which leaves every
  * (non-negative) vote unchanged, as MLlib's skip of such a leaf does.
  */
final class FlatForest private (
    val numClasses: Int,
    roots: Array[Int],
    feature: Array[Int],
    threshold: Array[Double],
    left: Array[Int],
    right: Array[Int],
    leafProb: Array[Double]) extends Serializable {

  def numTrees: Int = roots.length

  /** `(prediction, MaxProb)` of one feature vector, as a Catalyst struct:
    * the first argmax of the summed votes, and the largest normalized
    * vote. */
  def score(x: Array[Double]): InternalRow = {
    val k = numClasses
    val votes = new Array[Double](k)
    var t = 0
    while (t < roots.length) {
      var n = roots(t)
      while (n >= 0) n = if (x(feature(n)) <= threshold(n)) left(n) else right(n)
      val row = ~n * k
      var c = 0
      while (c < k) { votes(c) += leafProb(row + c); c += 1 }
      t += 1
    }
    // DenseVector.argmax: the first index of the largest raw vote
    var best = 0
    var c = 1
    while (c < k) { if (votes(c) > votes(best)) best = c; c += 1 }
    // normalizeToProbabilitiesInPlace: `values.sum` reduces left to right
    var sum = votes(0)
    c = 1
    while (c < k) { sum += votes(c); c += 1 }
    require(sum > 0, "Can't normalize the 0-vector.")
    // array_max over the normalized votes
    var maxProb = votes(0) / sum
    c = 1
    while (c < k) { val p = votes(c) / sum; if (p > maxProb) maxProb = p; c += 1 }
    new GenericInternalRow(Array[Any](best.toDouble, maxProb))
  }
}

object FlatForest {

  /** Compiles `model`, refusing what [[FlatForest.score]] cannot
    * reproduce exactly: class `thresholds` (MLlib then predicts through
    * `probability2prediction`) and any split that is not a
    * `ContinuousSplit` (categorical features). */
  def apply(model: RandomForestClassificationModel): FlatForest = {
    if (model.isDefined(model.thresholds))
      throw new IllegalArgumentException("forest scoring: the model sets " +
        s"thresholds ${model.getThresholds.mkString("[", ", ", "]")}; only " +
        "the plain argmax prediction is supported")
    val k = model.numClasses
    val feature = ArrayBuffer.empty[Int]
    val threshold = ArrayBuffer.empty[Double]
    val left = ArrayBuffer.empty[Int]
    val right = ArrayBuffer.empty[Int]
    val leafProb = ArrayBuffer.empty[Double]

    def leaf(l: LeafNode): Int = {
      val counts = mlBridge.classCounts(l)
      // predictRaw's `classCounts.sum`: Scala's reduce, left to right
      val total = counts.reduceLeft(_ + _)
      var c = 0
      while (c < k) { leafProb += (if (total != 0) counts(c) / total else 0.0); c += 1 }
      ~(leafProb.length / k - 1)
    }
    def node(n: Node): Int = n match {
      case l: LeafNode => leaf(l)
      case in: InternalNode => in.split match {
        case s: ContinuousSplit =>
          val i = feature.length
          feature += s.featureIndex; threshold += s.threshold
          left += 0; right += 0
          left(i) = node(in.leftChild)
          right(i) = node(in.rightChild)
          i
        case other =>
          throw new IllegalArgumentException("forest scoring: only " +
            s"continuous splits are supported, found ${other.getClass.getSimpleName} " +
            s"on feature ${other.featureIndex}")
      }
    }
    val roots = model.trees.map(t => node(t.rootNode))
    new FlatForest(k, roots, feature.toArray,
      threshold.toArray, left.toArray, right.toArray, leafProb.toArray)
  }
}

/** `forest_score(f0, ..., fn) -> struct<prediction: double, MaxProb:
  * double>`: [[FlatForest.score]] over the children, each a double.
  *
  * A null or NaN feature fails the query, as MLlib's `VectorAssembler`
  * does in its default `error` mode.
  *
  * Nondeterministic on purpose: the value is a pure function of the row,
  * but Catalyst may inline a deterministic producer into every consumer
  * (a filter pushed below the projection reading both struct fields
  * would hold two copies), and each copy walks every tree. A
  * nondeterministic producer stays in its own projection, so each row is
  * walked once.
  */
case class ForestScore(children: Seq[Expression], forest: FlatForest)
  extends Expression with Nondeterministic {

  override def nullable: Boolean = false
  override def dataType: DataType = ForestScoreExpr.Schema
  override def prettyName: String = "forest_score"
  override def toString: String =
    s"$prettyName(${children.mkString(", ")}; ${forest.numTrees} trees)"

  override protected def initializeInternal(partitionIndex: Int): Unit = ()

  /** Fails the query on feature `i`, which is `what` ("null" or "NaN"). */
  def invalid(i: Int, what: String): Nothing =
    throw new SparkException(s"forest_score: feature ${children(i).sql} is " +
      s"$what; MLlib's VectorAssembler (handleInvalid = error) refuses it too")

  override protected def evalInternal(input: InternalRow): Any = {
    val x = new Array[Double](children.length)
    var i = 0
    while (i < x.length) {
      val v = children(i).eval(input)
      if (v == null) invalid(i, "null")
      x(i) = v.asInstanceOf[Double]
      if (x(i).isNaN) invalid(i, "NaN")
      i += 1
    }
    forest.score(x)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("forestScore", this)
    val f = ctx.addReferenceObj("forest", forest, classOf[FlatForest].getName)
    val x = ctx.addMutableState("double[]", "forestX",
      v => s"$v = new double[${children.length}];")
    val fill = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      code"""
        ${e.code}
        if (${e.isNull}) $self.invalid($i, "null");
        $x[$i] = ${e.value};
        if (Double.isNaN($x[$i])) $self.invalid($i, "NaN");"""
    }
    ev.copy(code = code"""
        ${fill.reduce(_ + _)}
        InternalRow ${ev.value} = $f.score($x);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object ForestScoreExpr {

  val Schema: StructType = StructType(Seq(
    StructField("prediction", DoubleType, nullable = false),
    StructField("MaxProb", DoubleType, nullable = false)))

  /** Column-level API: `features` in the model's feature order, each cast
    * to double. */
  def forestScore(forest: FlatForest, features: Seq[Column]): Column =
    bridge.toColumn(ForestScore(
      features.map(c => bridge.toExpression(c.cast(DoubleType))), forest))
}
