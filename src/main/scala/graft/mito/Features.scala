package graft.mito

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-read feature frames (reference `BamReader.scala` NucReader/MTReader).
  *
  * Everything stays in one declarative plan per frame: scan → pushed
  * validity filter → projection (attribute tags extracted with builtins) →
  * per-read hash aggregate. The reference's RDD→Row→createDataFrame hop
  * (defect D2/B1, SURVEY §4.2) does not exist here, so Catalyst sees the
  * whole pipeline. Column semantics are the *intended* ones (B1 corrected):
  * NTMapQ←MAPQ, NTNumAlignments←NH, NTEditDist←NM, NTScore←NUMT interval
  * overlap. The dimension tables (LD and NUMT) are read on the driver and
  * enter the plan as a literal expression (NUMT) or a broadcast index
  * probed in one projection (LD, [[mtFeatures]]).
  */
object Features {

  /** Nuclear-side features (reference `NucReader.DF`, `BamReader.scala:60-118`):
    * per read(+mate): sums of MAPQ / NH / NM / NUMT-overlap score. */
  /** Extract the three consumed tags in one native byte scan
    * ([[graft.functions.SamTagsExpr]]) behind a projection boundary — the
    * generic attrMap chain (regex split → map build → three probes) cost
    * ~2× in this hot path, and lambda-bearing builtins are excluded from
    * subexpression elimination. Defaults (NM→0, NH→1, MD→null) match the
    * reference (`Feature.scala:122-124`). */
  private def withTags(alignments: DataFrame): DataFrame =
    alignments
      .where(Sam.isValid)
      .select(col("readName"), col("mapQ"), col("start"), col("sequence"),
        col("referenceName"),
        graft.functions.SamTagsExpr.samTags(col("attributes")).as("t"))

  def ntFeatures(alignments: DataFrame, numts: Seq[Numt.Interval]): DataFrame =
    withTags(alignments)
      .select(
        col("readName").as("Read"),
        col("mapQ"),
        col("t.nh").as("numAlignments"),
        col("t.nm").as("editDistance"),
        Numt.overlapScore(numts).as("numtScore"))
      .groupBy(col("Read"))
      .agg(
        sum(col("mapQ")).as("NTMapQ"),
        sum(col("numAlignments")).as("NTNumAlignments"),
        sum(col("editDistance")).as("NTEditDist"),
        sum(col("numtScore")).as("NTScore"))

  /** Mito-side per-read rows before LD scoring (reference `MTReader.DF`,
    * `BamReader.scala:120-190`): sums + the collected variant lists of both
    * mates. */
  def mtPerRead(alignments: DataFrame): DataFrame =
    withTags(alignments)
      .select(
        col("readName").as("Read"),
        col("mapQ"),
        col("t.nh").as("numAlignments"),
        col("t.nm").as("editDistance"),
        graft.functions.MdVariantsExpr.mdVariants(col("sequence"),
          col("t.md"),
          col("start")).as("variants"))
      .groupBy(col("Read"))
      .agg(
        sum(col("mapQ")).as("MTMapQ"),
        sum(col("numAlignments")).as("MTNumAlignments"),
        sum(col("editDistance")).as("MTEditDist"),
        // canonical order so downstream scoring is deterministic
        sort_array(flatten(collect_list(col("variants")))).as("variants"))

  /** MT features (Read, MTMapQ, MTNumAlignments, MTEditDist, LD): the
    * per-read aggregate, then each read's variant list scored against the
    * LD index in the projection right after it ([[Ld.score]]; reference
    * `BamReader.scala:147-154`). One plan, one evaluation of the scan and
    * the aggregate, nothing persisted. `ld` is probed inside tasks:
    * `() => bc.value` over a broadcast [[Ld.Index]] (as
    * [[MitoPipeline.run]] does), or a constant for a small index. */
  def mtFeatures(alignments: DataFrame, ld: () => Ld.Index): DataFrame =
    mtPerRead(alignments)
      .withColumn("LD", Ld.score(col("variants"), ld))
      .drop("variants")

  /** [[mtFeatures]] over an index built from a broadcast LD map. */
  def mtFeaturesBroadcast(alignments: DataFrame,
      ldBc: Broadcast[Map[(String, String), Int]]): DataFrame =
    mtFeatures(alignments, constant(Ld.index(ldBc.value)))

  /** [[mtFeatures]] over an index built from an [[Ld.load]] frame. */
  def mtFeaturesJoin(alignments: DataFrame, ld: DataFrame): DataFrame =
    mtFeatures(alignments, constant(Ld.index(Ld.toMap(ld))))

  private def constant(i: Ld.Index): () => Ld.Index = () => i

  /** Nothing is persisted by this object any more. */
  @deprecated("mtFeatures persists nothing; there is nothing to release", "")
  def releaseCaches(): Unit = ()

  /** Feature join (reference J1, `MTClassifierModel.scala:83` — inner on
    * Read; the comment said left join, the code was inner; we keep inner as
    * shipped semantics) + constant label (P3). */
  def featureFrame(mt: DataFrame, nt: DataFrame, label: Double): DataFrame =
    mt.join(nt, Seq("Read"), "inner")
      .withColumn("label", lit(label))

  /** Pooled z-normalization of the MapQ columns (reference `NormalizeMapQ`,
    * `MTClassifierModel.scala:119-144`): mean/sd over the union of MTMapQ
    * and NTMapQ, distributed as a broadcast scalar row (no .first() action,
    * no single-partition window). Empty input → typed null columns
    * (reference P5 path).
    *
    * The pooled stats are ONE two-column aggregate over `df`: an aggregate
    * over a union of two single-column prunings evaluated the upstream
    * pipeline once per arm. The MapQ sums are integer-valued, so Σx and Σx²
    * through decimal-exact [[graft.functions.Det.dsum]] are exact and `mu`
    * is bit-identical to a pooled avg; `sigma` uses the exact-sums
    * formulation of [[graft.functions.Det.dstddev]].
    *
    * The input feeds two plan branches and is not persisted here: Catalyst
    * prunes the stats arm down to the MapQ columns, and a persist measured
    * 25% slower on the corpus-scale pipeline (x02).
    *
    * [[Classify.Formula]] reads no MapQ column, so scoring does not need
    * this pass: [[MitoPipeline.run]] and `runCohort` score the
    * un-normalized frame, and only the training frame
    * ([[MitoPipeline.features]]) is normalized. */
  def normalizeMapQ(df: DataFrame): DataFrame = {
    import graft.functions.Det.dsum
    val mt = col("MTMapQ").cast(DoubleType)
    val nt = col("NTMapQ").cast(DoubleType)
    // scale 0: the values are integer-valued by construction (sums of int
    // mapQ per read), so the decimal image is exact with no headroom games
    val stats = df.agg(
        (count(mt) + count(nt)).cast(DoubleType).as("n"),
        (coalesce(dsum(mt, 0), lit(0.0)) + coalesce(dsum(nt, 0), lit(0.0)))
          .as("s"),
        (coalesce(dsum(mt * mt, 0), lit(0.0)) +
          coalesce(dsum(nt * nt, 0), lit(0.0))).as("q"))
      .select(
        when(col("n") > 0, col("s") / col("n")).as("mu"),
        // numerator clamped at 0 (ADVICE r16): with ~0 variance (or sums
        // past 2^53 at scale) n·q − s² can round to a tiny negative and
        // sqrt would return NaN where stddev_samp returns 0.0
        when(col("n") > 1,
          sqrt(greatest(lit(0.0), col("n") * col("q") - col("s") * col("s")) /
            (col("n") * (col("n") - lit(1.0))))).as("sigma"))
    df.crossJoin(broadcast(stats))
      .withColumn("MTMapQ", (col("MTMapQ") - col("mu")) / col("sigma"))
      .withColumn("NTMapQ", (col("NTMapQ") - col("mu")) / col("sigma"))
      .drop("mu", "sigma")
  }
}
