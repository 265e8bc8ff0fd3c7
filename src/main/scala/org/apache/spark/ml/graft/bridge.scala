package org.apache.spark.ml.graft

import org.apache.spark.ml.tree.LeafNode

/** Tree-model internals a library scorer needs. A leaf's class counts
  * (`LeafNode.impurityStats`) are `private[ml]`; this is the single
  * crossing point, kept in the spark.ml namespace as the sql-side
  * `org.apache.spark.sql.graft.bridge` is in spark.sql. */
object bridge {

  /** The training-weighted class counts of a classification leaf: the
    * array `RandomForestClassificationModel.predictRaw` normalizes. */
  def classCounts(leaf: LeafNode): Array[Double] = leaf.impurityStats.stats
}
