package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Det._

/** The reference's distinctive dataflow shapes (SURVEY §2.4 A4, §2.6 X4,
  * §2.3 J3) re-expressed over the driver corpus so the oracle can check
  * them: per-group pairwise combinations scored against a broadcast
  * dimension — the scalable formulation of MitoScape's pairwise-LD scoring
  * (reference BamReader.scala:147-153,198-203). The domain pipeline itself
  * (SAM/MD/LD/RF) runs on fixtures in the test suite (graft.mito).
  */
object MitoQueries {

  // ---------------------------------------------------------------- x01
  /** Pairwise-combination scoring, explode+join+sum formulation: within
    * each order, all unordered supplier pairs (the reference's
    * `variants.combinations(2)`), each pair scored from a broadcast
    * dimension (supplier acctbal stands in for the LD table), summed per
    * order. No driver-side map, no quadratic collect: the pair space is
    * bounded per group and generated distributively by a self-join.
    *
    * r17 (VERDICT r16 #5): the self-join's distinct (okey, suppkey)
    * frame is STAGED once (eager lineage truncation) — its old plan
    * (plans/r17/x01_pair_score_before.txt) evaluated the scan + two-phase
    * distinct TWICE (the stats-chosen BroadcastHashJoin build side cannot
    * share the stream side's subtree) and collected ~580k rows to the
    * driver for the broadcast. The staged build side carries the
    * size-gated broadcast hint; at bench SF it exceeds the threshold and
    * the pair join runs as a shuffle join over the staged frame — flat
    * locally (1.89 → 1.97 s isolated 6-rep min, within wobble), but ONE
    * distinct evaluation and no corpus-sized driver collect at any scale.
    * Two alternatives measured and rejected: a narrow 2-column fan-out
    * before the distinct (1.89 → 2.00 s — the near-unique key makes the
    * partial distinct reduce nothing) and a per-group
    * collect_set + in-row combinations rewrite (1.89 → 3.05 s — the
    * ObjectHashAggregate falls out of whole-stage codegen). Stage-wise
    * floor at sf0.1: scan 0.17 + distinct 0.67 + pair join 1.15 +
    * dimension joins/agg 1.45 + final sort ≈ 1.9 s. */
  def x01PairScore(s: SparkSession, d: String): DataFrame = {
    val (li, nLi) = Dedup.truncateLineageCounted(
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_suppkey")).distinct())
    val a = li.select(col("l_orderkey"), col("l_suppkey").as("s1"))
    val b = li.select(col("l_orderkey"), col("l_suppkey").as("s2"))
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_acctbal"))
    a.join(Dedup.broadcastIfSmall(b, nLi, 24L), Seq("l_orderkey"))
      .where(col("s1") < col("s2"))
      .join(broadcast(sup.select(col("s_suppkey").as("s1"), col("s_acctbal").as("bal1"))), Seq("s1"))
      .join(broadcast(sup.select(col("s_suppkey").as("s2"), col("s_acctbal").as("bal2"))), Seq("s2"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_pairs"),
        dsum(col("bal1") + col("bal2")).as("pair_score"))
      .orderBy("l_orderkey")
  }

  val x01Sql: String =
    s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
       |SELECT a.l_orderkey, COUNT(*) AS n_pairs,
       |  ${dsumSql("s1.s_acctbal + s2.s_acctbal")} AS pair_score
       |FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
       |JOIN supplier s1 ON a.l_suppkey = s1.s_suppkey
       |JOIN supplier s2 ON b.l_suppkey = s2.s_suppkey
       |GROUP BY a.l_orderkey ORDER BY a.l_orderkey""".stripMargin

  // ---------------------------------------------------------------- x02
  /** The full MitoScape feature pipeline (SAM parse → validity filter →
    * attribute extraction → MD-variant scan → per-read aggregation → LD
    * pair scoring → NUMT overlap → feature join → z-normalization) over
    * alignment records synthesized deterministically from `lineitem` — a
    * domain-throughput benchmark entry at corpus scale (sf0.1 ≈ 1.2M
    * alignment records). Output: one compact global summary row
    * (deterministic: exact integer sums + decimal-exact double sums).
    * Rows-only driver check; per-read values are pinned on fixtures by
    * FeaturesSpec. */
  def x02MitoFeatures(s: SparkSession, d: String): DataFrame = {
    import graft.mito.{Features, Ld, Numt, Sam}
    // deterministic 25% subset keeps the bench entry proportional but sane
    // r16 fanOut: SAM-line synthesis + split parse are the map-side kernel
    val li = Tables.fanOut(Tables.lineitem(s, d), col("l_orderkey"), col("l_linenumber")).where(col("l_orderkey") % 4 === 0)
    // MT side: read rX paired rows (flags 99/147) on chrM; every 3rd line
    // number carries a substitution (MD 2A7, read base G at start+2).
    // Read id spans (okey, linenumber, partkey, suppkey) — the minimal
    // unique key of this corpus's lineitem — so reads map 1:1 to rows.
    def mtLine(flag: Int, startOff: Int) = concat_ws("\t",
      concat(lit("r"), col("l_orderkey"), lit("_"), col("l_linenumber"),
        lit("_"), col("l_partkey"), lit("_"), col("l_suppkey")),
      lit(flag), lit("chrM"),
      (col("l_partkey") % 1000 + startOff).cast("int"),
      (col("l_quantity")).cast("int"), lit("10M"), lit("="), lit("0"), lit("0"),
      when(col("l_linenumber") % 3 === 0, lit("==G======="))
        .otherwise(lit("==========")),
      lit("*"),
      concat(lit("NM:i:"), (col("l_linenumber") % 3 === 0).cast("int"),
        lit("\tNH:i:1\t"),
        when(col("l_linenumber") % 3 === 0, lit("MD:Z:2A7"))
          .otherwise(lit("MD:Z:10"))))
    // both mates synthesized in ONE lineitem pass (explode, not a union of
    // two scans)
    val mtAlign = Sam.parse(
      li.select(explode(array(mtLine(99, 0), mtLine(147, 500))).as("value")))
    // NT side: one row per read on a nuclear chromosome
    val ntLines = li.select(concat_ws("\t",
      concat(lit("r"), col("l_orderkey"), lit("_"), col("l_linenumber"),
        lit("_"), col("l_partkey"), lit("_"), col("l_suppkey")),
      lit(99), concat(lit("chr"), (col("l_suppkey") % 5 + 1)),
      (col("l_partkey") % 2000).cast("int"),
      (col("l_discount") * 100).cast("int"), lit("10M"), lit("="), lit("0"),
      lit("0"), lit("ACGTACGTAC"), lit("*"),
      concat(lit("NM:i:"), (col("l_suppkey") % 4), lit("\tNH:i:2"))).as("value"))
    val numts = Seq(
      Numt.Interval("chr1", 100, 600, 10f),
      Numt.Interval("chr2", 500, 1500, 5f),
      Numt.Interval("chr3", 0, 1000, 7f))
    val nt = Features.ntFeatures(Sam.parse(ntLines), numts)
    // small LD table over the synthesized variant space: positions p+2 for
    // p in [0,1000), base G; pair (x, x+500) scored. 1000 entries: small
    // enough to ship in the task closure
    val ld = Ld.index((0 until 1000).map { p =>
      (s"${p + 2}G", s"${p + 502}G") -> 42000
    })
    val mt = Features.mtFeatures(mtAlign, () => ld)
    // r17 (VERDICT r16 #3): stage the per-read feature frame (one narrow
    // row per read — 10 numeric columns, ~1/8 of the alignment input row
    // count) through an eager lineage truncation before normalizeMapQ.
    // normalizeMapQ's two consumers (pooled-stats aggregate + the output
    // branch) previously re-evaluated the whole scan→synthesis→parse→
    // aggregate→join pipeline each; the r16 "persist 25% slower" verdict
    // predated the scan fan-out that made both branches parallel. Measured
    // at sf0.1: 2.4 → 2.2 s warm-min (vs 2.97-3.25 in r16's committed
    // runs); plan: 4 lineitem scans → 2 (both inside the one staged
    // evaluation). The staging materializes per CALL (RDD-level
    // checkpoint, no cache-manager plan dedup), so every bench pass still
    // computes from the parquet inputs.
    val feat = Features.normalizeMapQ(
      Dedup.truncateLineage(Features.featureFrame(mt, nt, 0.5)))
    feat.agg(
      count(lit(1)).as("n_reads"),
      sum(col("MTEditDist")).as("sum_mt_edit"),
      sum(col("LD")).as("sum_ld"),
      sum(col("NTScore")).as("sum_nt_score"),
      sum(col("MTNumAlignments")).as("sum_mt_aligns"))
  }

  /** DuckDB oracle for x02, derived from the synthesis arithmetic: every
    * lineitem row (l_orderkey%4=0) becomes one read with two valid MT
    * records (flags 99/147, both carrying NM=ind and, when ind, the MD
    * variant pair {(p+2)G, (p+502)G} which the synthetic LD table scores
    * 42000) and one valid NT record (flag 99, 10M read at l_partkey%2000
    * on chr(l_suppkey%5+1), overlap-scored against the three intervals).
    * The z-normalization only rewrites the MapQ columns, which the final
    * aggregate does not consume, so it cancels out of the oracle. */
  val x02Sql: String =
    """WITH li AS (
      |  SELECT (l_linenumber % 3 = 0) AS ind,
      |         (l_suppkey % 5 + 1) AS chrn,
      |         (l_partkey % 2000) AS s
      |  FROM lineitem WHERE l_orderkey % 4 = 0)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_reads,
      |  CAST(SUM(CASE WHEN ind THEN 2 ELSE 0 END) AS BIGINT) AS sum_mt_edit,
      |  CAST(SUM(CASE WHEN ind THEN 42000 ELSE 0 END) AS BIGINT) AS sum_ld,
      |  CAST(SUM(CASE chrn
      |    WHEN 1 THEN CASE WHEN s <= 600 AND s + 9 >= 100 THEN 10 ELSE 0 END
      |    WHEN 2 THEN CASE WHEN s <= 1500 AND s + 9 >= 500 THEN 5 ELSE 0 END
      |    WHEN 3 THEN CASE WHEN s <= 1000 THEN 7 ELSE 0 END
      |    ELSE 0 END) AS BIGINT) AS sum_nt_score,
      |  CAST(SUM(2) AS BIGINT) AS sum_mt_aligns
      |FROM li""".stripMargin

  // ---------------------------------------------------------------- x03
  /** Full binary round-trip through the custom source/sink pair (SURVEY
    * §2.1 S1-S3/K1): alignment records synthesized deterministically from
    * `lineitem`, written as a real BGZF/BAM file by [[graft.sources.BamWriter]],
    * `.gai`-indexed, then scanned back via `spark.read.format("bam")` in
    * MULTIPLE byte-range splits with the validity predicate pushed into the
    * reader (rejected records skip from their 32 fixed bytes — the invalid
    * half of the file never decodes names/sequences/tags). The aggregate is
    * oracle-derivable because the synthesis controls every field: each
    * lineitem row (l_orderkey%4=0) emits one valid record (flag 99) and one
    * pushdown-rejected record (flag 355 = 99|256 fails (flag&2315)=3). */
  def x03BamRoundTrip(s: SparkSession, d: String): DataFrame = {
    import graft.mito.Sam
    import graft.sources.{BamIndex, BamWriter, HadoopIO}
    val li = Tables.fanOut(Tables.lineitem(s, d), col("l_orderkey"), col("l_linenumber")) // r16 fan-out; r17 PK keys
      .where(col("l_orderkey") % 4 === 0)
    val recs = li.select(
      concat(lit("r"), col("l_orderkey"), lit("_"), col("l_linenumber"),
        lit("_"), col("l_partkey"), lit("_"), col("l_suppkey")).as("readName"),
      explode(array(lit(99), lit(355))).as("flag"),
      lit("chrM").as("referenceName"),
      (col("l_partkey") % 1000 + 1).cast("int").as("start"),
      col("l_quantity").cast("int").as("mapQ"),
      lit("10M").as("cigar"), lit("=").as("rnext"),
      lit(0).as("pnext"), lit(0).as("tlen"),
      lit("ACGTACGTAC").as("sequence"), lit("*").as("qual"),
      concat(lit("NM:i:"), col("l_suppkey") % 4, lit(" NH:i:1")).as("attributes"))
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    // scratch root is conf-driven (spark.graft.scratchDir): executors
    // re-read this BAM via format("bam"), so on a real cluster it must be
    // a shared store, not the driver's local tmp
    val out = s"${HadoopIO.scratchDir(s)}/graft_x03_$sfTag.bam"
    BamWriter.write(recs, "@HD\tVN:1.6\n@SQ\tSN:chrM\tLN:16569\n",
      Seq("chrM" -> 16569), out)
    // executor-parallel sidecar build — x03 now drives the distributed
    // indexer (byte-identical to the sequential form, BamIndexSpec)
    BamIndex.buildDistributed(s, out, splitSize = 256 * 1024)
    // 64 KB ranges force many intra-file BGZF splits even at sf0.01
    val back = s.read.format("bam").option("splitsize", 64 * 1024).load(out)
    val m = Sam.attrMap(col("attributes"))
    back.where(Sam.isValid)
      .agg(count(lit(1)).as("n_valid"),
        sum(col("start")).as("sum_start"),
        sum(col("mapQ")).as("sum_mapq"),
        sum(Sam.tagOrDefault(m, "NM", 0)).as("sum_nm"))
  }

  /** Oracle from the synthesis arithmetic: exactly the flag-99 record of
    * each selected lineitem row survives the pushed validity mask. */
  val x03Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_valid,
      |  CAST(SUM(l_partkey % 1000 + 1) AS BIGINT) AS sum_start,
      |  CAST(SUM(CAST(l_quantity AS INT)) AS BIGINT) AS sum_mapq,
      |  CAST(SUM(l_suppkey % 4) AS BIGINT) AS sum_nm
      |FROM lineitem WHERE l_orderkey % 4 = 0""".stripMargin

  // ---------------------------------------------------------------- x04
  /** Driver-visible ML scoring row (SURVEY §2.8 M1-M7 finally behind the
    * hard gate): a seeded RandomForest is trained on a fixture frame whose
    * label is a WIDE-MARGIN separable function of the features
    * (MTEditDist 0-2 vs 10-12, NTScore 7-8 vs 0-1 — redundantly
    * separable), then scores features synthesized from `lineitem` by the
    * SAME rule. Every tree isolates the margin, so predictions equal the
    * generating rule and per-row MaxProb is ~1.0 — which makes the
    * confusion counts oracle-derivable from the synthesis arithmetic even
    * though DuckDB cannot run the model. Training data is a fixed
    * `spark.range` fixture (independent of sf), scoring is distributed
    * model.transform — the 100 TB shape: broadcast model, narrow scan. */
  /** x04's engineered-margin fixture (shared with x10): the decisive
    * features separate the classes by construction, so any reasonable
    * model's predictions equal the generating rule (label = k % 2). */
  private def sepFeats(df: DataFrame, k: org.apache.spark.sql.Column,
      part: org.apache.spark.sql.Column, supp: org.apache.spark.sql.Column,
      line: org.apache.spark.sql.Column): DataFrame = {
    val label = (k % 2).cast("double")
    df.select(
      label.as("label"),
      (label * 10 + (part % 3)).cast("double").as("MTEditDist"),
      (label * 5 + (supp % 2)).cast("double").as("LD"),
      (part % 4).cast("double").as("NTEditDist"),
      ((lit(1) - label) * 7 + (line % 2)).cast("double").as("NTScore"),
      (lit(1) + (k % 3)).cast("double").as("MTNumAlignments"),
      (supp % 3).cast("double").as("NTNumAlignments"),
      concat(lit("r"), k).as("Read"))
  }

  def x04MlScore(s: SparkSession, d: String): DataFrame = {
    import graft.mito.Classify
    def feats(df: DataFrame, k: org.apache.spark.sql.Column,
        part: org.apache.spark.sql.Column, supp: org.apache.spark.sql.Column,
        line: org.apache.spark.sql.Column): DataFrame =
      sepFeats(df, k, part, supp, line)
    val train = feats(s.range(2048).toDF(), col("id"), col("id") * 7,
      col("id") * 13, col("id") * 3)
    val model = Classify.trainRF(train, numTrees = 64, seed = 7L)
    val li = Tables.fanOut(Tables.lineitem(s, d), col("l_orderkey"), col("l_linenumber")) // r16 fan-out; r17 PK keys
      .where(col("l_orderkey") % 4 === 1)
    val scored = Classify.score(model,
      feats(li, col("l_partkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber")))
    scored.agg(
      count(lit(1)).as("n_scored"),
      sum((col("prediction") === lit(Classify.MtLabel)).cast("long"))
        .as("n_predicted_mt"),
      sum((col("MaxProb") >= 0.9).cast("long")).as("n_confident"))
  }

  /** Oracle from the generating rule: prediction == label == l_partkey%2,
    * and the margin keeps every row's MaxProb at ~1.0. */
  val x04Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
      |  CAST(SUM(CASE WHEN l_partkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_predicted_mt,
      |  CAST(COUNT(*) AS BIGINT) AS n_confident
      |FROM lineitem WHERE l_orderkey % 4 = 1""".stripMargin

  // ---------------------------------------------------------------- x10
  /** Model SELECTION — CrossValidator + ParamGridBuilder, the MLlib
    * surface one step past x04's fixed-hyperparameter fit (the
    * reference hand-picks 128 trees; a production retrain grid-searches
    * and cross-validates). 2-fold CV over a maxDepth grid on the
    * engineered-margin fixture: the fold split and every RF are seeded,
    * so selection is deterministic, and the margin makes EVERY grid
    * point learn the generating rule — best-model predictions provably
    * equal label = k % 2 and both folds score ~1.0 accuracy (emitted as
    * the gate boolean; the counts restate as plain arithmetic). CV
    * trains grid × folds models; each fit is a distributed job — the
    * grid parallelizes at the job level via setParallelism at scale.
    *
    * The fitted CrossValidatorModel is CACHED across invocations (the
    * x08Rf/Similarity.ivfModels build-once discipline): the fixture is
    * seeded and sf-independent, so the fit is identical run-to-run, and
    * retraining grid×folds forests each bench pass put 10-40 s of MLlib
    * job-scheduling jitter on an arbitrary pass — r12's tripled `noise`
    * floor (15 s, noise_q=x10_cv_gate) traced here. Warm passes now
    * measure the gate's scoring pipeline; the one-time fit cost lands in
    * `cold_total` where one-time costs belong. */
  private val x10Model = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.ml.tuning.CrossValidatorModel]

  def x10CvGate(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.classification.RandomForestClassifier
    import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    val model = x10Model.getOrElseUpdate("cv", {
      val train = sepFeats(s.range(2048).toDF(), col("id"), col("id") * 7,
        col("id") * 13, col("id") * 3)
      val rf = new RandomForestClassifier().setNumTrees(16).setSeed(7L)
      val pipe = new Pipeline()
        .setStages(Array(graft.mito.Classify.rformula, rf))
      val grid = new ParamGridBuilder()
        .addGrid(rf.maxDepth, Array(2, 5)).build()
      val cv = new CrossValidator().setEstimator(pipe)
        .setEvaluator(
          new MulticlassClassificationEvaluator().setMetricName("accuracy"))
        .setEstimatorParamMaps(grid).setNumFolds(2).setSeed(11L)
      cv.fit(train)
    })
    val accOk = model.avgMetrics.max >= 0.99
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 4 === 2)
    val scored = model.transform(sepFeats(li, col("l_partkey"),
      col("l_partkey"), col("l_suppkey"), col("l_linenumber")))
    scored.agg(
        count(lit(1)).as("n_scored"),
        sum((col("prediction") === lit(graft.mito.Classify.MtLabel))
          .cast("long")).as("n_predicted_mt"))
      .select(col("n_scored"), col("n_predicted_mt"),
        lit(model.getEstimatorParamMaps.length.toLong).as("grid_size"),
        lit(accOk).as("cv_acc_ok"))
  }

  val x10Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
      |  CAST(SUM(CASE WHEN l_partkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_predicted_mt,
      |  CAST(2 AS BIGINT) AS grid_size,
      |  true AS cv_acc_ok
      |FROM lineitem WHERE l_orderkey % 4 = 2""".stripMargin

  // ---------------------------------------------------------------- x05
  /** Region scan over a SORTED, `.gai`-indexed BAM — the reference's
    * chrM-from-WGS extraction pattern (MTClassify.scala:200-204 +
    * scripts/mitoscape.sh:39-46: samtools-index, then read one contig's
    * region out of a whole-genome file) as a driver-visible gate.
    *
    * Records synthesized from `lineitem` are written coordinate-sorted
    * (`repartitionByRange` + `sortWithinPartitions` — the part-file
    * concat preserves partition order, so the file is globally sorted),
    * indexed, and scanned with a pushed (referenceName, start-range)
    * predicate. Correctness is the oracle: the region aggregate equals
    * lineitem arithmetic, so a member wrongly pruned (or wrongly kept
    * past the runs' decode stop) flips the hash. Efficiency is the
    * byte accounting: the index's kept runs must span a MINORITY of the
    * file (`pruned_ok`) — on a sorted file the region's members are
    * contiguous, everything else is skipped without decompression
    * (BamDataSourceSpec pins the zero-run skip behavior; x05 pins the
    * sorted-file fraction end-to-end at driver visibility). */
  def x05BamRegionGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{BamIndex, BamWriter, HadoopIO, SamFilters}
    val (lo, hi) = (101, 300) // ~20% of the start domain [1, 1000]
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 4 === 2)
    val recs = li.select(
      concat(lit("r"), col("l_orderkey"), lit("_"), col("l_linenumber"))
        .as("readName"),
      lit(99).as("flag"),
      lit("chrM").as("referenceName"),
      (col("l_partkey") % 1000 + 1).cast("int").as("start"),
      col("l_quantity").cast("int").as("mapQ"),
      lit("10M").as("cigar"), lit("=").as("rnext"),
      lit(0).as("pnext"), lit(0).as("tlen"),
      lit("ACGTACGTAC").as("sequence"), lit("*").as("qual"),
      lit("NM:i:1").as("attributes"))
      .repartitionByRange(32, col("start"))
      .sortWithinPartitions(col("start"))
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val out = s"${HadoopIO.scratchDir(s)}/graft_x05_$sfTag.bam"
    BamWriter.write(recs,
      "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chrM\tLN:16569\n",
      Seq("chrM" -> 16569), out)
    BamIndex.build(out, HadoopIO.driverConf())
    val region = s.read.format("bam").load(out)
      .where(col("referenceName") === "chrM" &&
        col("start") >= lo && col("start") <= hi)
    // byte accounting straight from the sidecar the reader plans with:
    // kept-run spans vs file length (the last open run conservatively
    // extends to EOF)
    val conf = HadoopIO.driverConf()
    val stats = BamIndex.read(out, conf)
    val preds = Seq(SamFilters.RefNameEq("chrM"),
      SamFilters.IntCmp("start", ">=", lo.toLong),
      SamFilters.IntCmp("start", "<=", hi.toLong))
    val runs = BamIndex.selectRuns(stats, preds, Array("chrM"),
      0L, Long.MaxValue)
    val fileLen = HadoopIO.lenAndMtime(out, conf).get._1
    val keptBytes = runs.map { case (st, _, end) =>
      (if (end == Long.MaxValue) fileLen else end) - st
    }.sum
    region.agg(count(lit(1)).as("n_region"),
        sum(col("mapQ")).as("sum_mapq"))
      .select(col("n_region"), col("sum_mapq"),
        lit(runs.nonEmpty && keptBytes * 2 < fileLen).as("pruned_ok"))
  }

  /** Oracle from the synthesis arithmetic; `pruned_ok` is the pinned
    * efficiency contract (sorted file → contiguous minority span). */
  val x05Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_region,
      |  CAST(SUM(CAST(l_quantity AS INT)) AS BIGINT) AS sum_mapq,
      |  true AS pruned_ok
      |FROM lineitem
      |WHERE l_orderkey % 4 = 2
      |  AND l_partkey % 1000 + 1 BETWEEN 101 AND 300""".stripMargin

  // ---------------------------------------------------------------- x06
  /** x05's region scan through a samtools-compatibility `.bai` ONLY — the
    * index a reference user's sorted BAMs already carry (README.md:23,32:
    * the published workflow runs `samtools index` before classification).
    * No graft-native `.gai` exists for this file, so the reader's binned
    * BaiIndex path plans the scan: region-bin chunks, floored by the
    * linear index, widened to whole BGZF members.
    *
    * Starts spread over ~10 leaf windows of a long contig (the binning is
    * 16 kb-granular — x05's [1,1000] domain would land every record in ONE
    * bin and prune nothing), so `pruned_ok` pins that bin+linear pruning
    * alone (no per-member stats) still skips a majority of the file, while
    * the oracle arithmetic pins that member widening + per-record predicate
    * re-evaluation drop none and duplicate none across splits. */
  def x06BaiRegionGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{BaiIndex, BamWriter, HadoopIO, SamFilters}
    val (lo, hi) = (30001, 60000) // ~19% of the start domain [1, 160000]
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 4 === 3)
    val recs = li.select(
      concat(lit("r"), col("l_orderkey"), lit("_"), col("l_linenumber"))
        .as("readName"),
      lit(99).as("flag"),
      lit("chr1").as("referenceName"),
      ((col("l_partkey") * 977) % 160000 + 1).cast("int").as("start"),
      col("l_quantity").cast("int").as("mapQ"),
      lit("10M").as("cigar"), lit("=").as("rnext"),
      lit(0).as("pnext"), lit(0).as("tlen"),
      lit("ACGTACGTAC").as("sequence"), lit("*").as("qual"),
      lit("NM:i:1").as("attributes"))
      .repartitionByRange(32, col("start"))
      .sortWithinPartitions(col("start"))
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val out = s"${HadoopIO.scratchDir(s)}/graft_x06_$sfTag.bam"
    BamWriter.write(recs,
      "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr1\tLN:200000\n",
      Seq("chr1" -> 200000), out)
    val conf = HadoopIO.driverConf()
    BaiIndex.build(out, conf)
    val region = s.read.format("bam").load(out)
      .where(col("referenceName") === "chr1" &&
        col("start") >= lo && col("start") <= hi)
    // byte accounting straight from the chunk runs the reader plans with
    val bai = BaiIndex.read(out, conf)
    val preds = Seq(SamFilters.RefNameEq("chr1"),
      SamFilters.IntCmp("start", ">=", lo.toLong),
      SamFilters.IntCmp("start", "<=", hi.toLong))
    val (refId, beg, end) = BaiIndex.region(preds, Array("chr1")).get
    val runs = BaiIndex.memberRuns(BaiIndex.chunks(bai, refId, beg, end))
    val fileLen = HadoopIO.lenAndMtime(out, conf).get._1
    val keptBytes = runs.map { case (st, _, rend) =>
      math.min(rend, fileLen) - st
    }.sum
    region.agg(count(lit(1)).as("n_region"),
        sum(col("mapQ")).as("sum_mapq"))
      .select(col("n_region"), col("sum_mapq"),
        lit(runs.nonEmpty && keptBytes * 2 < fileLen).as("pruned_ok"))
  }

  /** Oracle from the synthesis arithmetic; `pruned_ok` pins the binned
    * index's skip fraction (sorted file → contiguous minority span). */
  val x06Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_region,
      |  CAST(SUM(CAST(l_quantity AS INT)) AS BIGINT) AS sum_mapq,
      |  true AS pruned_ok
      |FROM lineitem
      |WHERE l_orderkey % 4 = 3
      |  AND (l_partkey * 977) % 160000 + 1 BETWEEN 30001 AND 60000""".stripMargin

  // ---------------------------------------------------------------- x07
  /** x06's region scan through a `.csi` ONLY — and through a NON-default
    * binning scheme (min_shift=12, depth=6: 4 kb leaf windows, 2^30
    * coordinate cap), so the row exercises the generalized (min_shift,
    * depth) arithmetic a long-contig `samtools index -c` BAM requires,
    * not just the BAI-equivalent default. Same contract as x05/x06: the
    * region aggregate is oracle-restated from the synthesis arithmetic
    * and `pruned_ok` asserts the measured chunk-run bytes are a minority
    * of the file. */
  def x07CsiRegionGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{BaiIndex, BamWriter, CsiIndex, HadoopIO, SamFilters}
    val (lo, hi) = (100001, 130000) // ~19% of the start domain [1, 160000]
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 4 === 1)
    val recs = li.select(
      concat(lit("r"), col("l_orderkey"), lit("_"), col("l_linenumber"))
        .as("readName"),
      lit(99).as("flag"),
      lit("chr1").as("referenceName"),
      ((col("l_partkey") * 613) % 160000 + 1).cast("int").as("start"),
      col("l_quantity").cast("int").as("mapQ"),
      lit("10M").as("cigar"), lit("=").as("rnext"),
      lit(0).as("pnext"), lit(0).as("tlen"),
      lit("ACGTACGTAC").as("sequence"), lit("*").as("qual"),
      lit("NM:i:1").as("attributes"))
      .repartitionByRange(32, col("start"))
      .sortWithinPartitions(col("start"))
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val out = s"${HadoopIO.scratchDir(s)}/graft_x07_$sfTag.bam"
    BamWriter.write(recs,
      "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chr1\tLN:200000\n",
      Seq("chr1" -> 200000), out)
    val conf = HadoopIO.driverConf()
    CsiIndex.build(out, conf, minShift = 12, depth = 6)
    val region = s.read.format("bam").load(out)
      .where(col("referenceName") === "chr1" &&
        col("start") >= lo && col("start") <= hi)
    // byte accounting straight from the chunk runs the reader plans with
    val csi = CsiIndex.read(out, conf)
    val preds = Seq(SamFilters.RefNameEq("chr1"),
      SamFilters.IntCmp("start", ">=", lo.toLong),
      SamFilters.IntCmp("start", "<=", hi.toLong))
    val (refId, beg, end) = BaiIndex.region(preds, Array("chr1"),
      CsiIndex.maxPos(csi.minShift, csi.depth)).get
    val runs = BaiIndex.memberRuns(CsiIndex.chunks(csi, refId, beg, end))
    val fileLen = HadoopIO.lenAndMtime(out, conf).get._1
    val keptBytes = runs.map { case (st, _, rend) =>
      math.min(rend, fileLen) - st
    }.sum
    region.agg(count(lit(1)).as("n_region"),
        sum(col("mapQ")).as("sum_mapq"))
      .select(col("n_region"), col("sum_mapq"),
        lit(runs.nonEmpty && keptBytes * 2 < fileLen).as("pruned_ok"))
  }

  val x07Sql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_region,
      |  CAST(SUM(CAST(l_quantity AS INT)) AS BIGINT) AS sum_mapq,
      |  true AS pruned_ok
      |FROM lineitem
      |WHERE l_orderkey % 4 = 1
      |  AND (l_partkey * 613) % 160000 + 1 BETWEEN 100001 AND 130000""".stripMargin

  // ---------------------------------------------------------------- x08
  /** The reference's actual PRODUCT, end-to-end at driver visibility
    * (`MTClassify.scala:131-213`): BAM-in → feature build (SAM tags + MD
    * variants + LD pair scoring + NUMT overlap) → RF scoring → confidence
    * + prediction filter → left-semi against the records file → single-file
    * BAM out — one `MitoPipeline.run` call over a synthesized cohort whose
    * three input BAMs, LD table and NUMT table are all derived from
    * `lineitem`, so the OUTPUT FILE's record aggregate is restatable as
    * lineitem arithmetic.
    *
    * Determinism argument (x04's separable-feature technique, now driven
    * through the real feature pipeline instead of a fixture frame): each
    * read's class is `l_partkey % 2`; class 1 ("NUMT", dropped) reads carry
    * MD variants whose pair the synthesized LD table scores 0.42→42000 and
    * per-mate NM of 5..7, class 0 ("mtDNA", kept) reads score LD=0 with NM
    * 0..2 — two independently separating margins (LD 0 vs 42000, MTEditDist
    * 0-4 vs 10-14). The RF trains on a `spark.range` fixture generated by
    * the SAME rule over the same feature supports, so every informative
    * tree isolates the margin, predictions equal the generating rule, and
    * MaxProb clears the 0.9 gate. The oracle then counts the class-0
    * records. Correctness pins the full composition: a record wrongly
    * dropped (scoring), wrongly kept (semi-join), or mis-encoded (sink)
    * flips the hash when the written BAM is scanned back. */
  private val x08Model = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.ml.classification.RandomForestClassificationModel]

  /** Cohort synthesis shared by x08 (BAM inputs) and x09 (compressed SAM
    * text inputs): the three per-sample record frames in the writer schema
    * plus their headers. See [[x08PipelineGate]] for the determinism
    * argument — identical for both gates, only the container differs. */
  private def x08Cohort(s: SparkSession, d: String): (DataFrame, DataFrame,
      DataFrame, String, String, Seq[(String, Int)]) =
    x08CohortSlice(s, d, col("l_orderkey") % 4 === 2)

  /** [[x08Cohort]] restricted to a sub-slice of the population — x80
    * partitions x08's cohort (`l_orderkey % 4 = 2`) into 8 disjoint
    * per-sample slices (`l_orderkey % 32 = 4k + 2`), so the per-sample
    * oracles are the same arithmetic grouped by slice. */
  private def x08CohortSlice(s: SparkSession, d: String, slice: Column)
      : (DataFrame, DataFrame, DataFrame, String, String,
        Seq[(String, Int)]) = {
    val li = Tables.lineitem(s, d).where(slice)
    val cls = col("l_partkey") % 2 // 1 = NUMT (dropped), 0 = mtDNA (kept)
    val rid = concat(lit("r"), col("l_orderkey"), lit("_"),
      col("l_linenumber"), lit("_"), col("l_partkey"), lit("_"),
      col("l_suppkey"))
    val p = (col("l_partkey") % 1000 + 1).cast("int")

    // <prefix>_MT_MD.bam: two valid mates per read on chrM, sequences in
    // `samtools calmd -e` convention (matched bases '=' — the reference's
    // MD-parse precondition, MdParser doc). Class-1 reads carry MD 2A7
    // (read base G at offset 2 → genome-absolute variants (start+2)G: the
    // mate pair {(p+2)G, (p+502)G} is exactly one LD-table entry). NM/NH
    // supply the MTEditDist margin and MTNumAlignments noise.
    def mtMd(flag: Int, off: Int) = struct(
      rid.as("readName"), lit(flag).as("flag"),
      lit("chrM").as("referenceName"), (p + off).cast("int").as("start"),
      col("l_quantity").cast("int").as("mapQ"),
      lit("10M").as("cigar"), lit("=").as("rnext"), lit(0).as("pnext"),
      lit(0).as("tlen"),
      when(cls === 1, lit("==G=======")).otherwise(lit("=========="))
        .as("sequence"),
      lit("*").as("qual"),
      concat(lit("NM:i:"), cls * 5 + col("l_suppkey") % 3,
        lit(" NH:i:"), lit(1) + col("l_linenumber") % 2,
        lit(" MD:Z:"),
        when(cls === 1, lit("2A7")).otherwise(lit("10"))).as("attributes"))
    val chrM = "@HD\tVN:1.6\n@SQ\tSN:chrM\tLN:16569\n"
    val mtMdDf = li
      .select(explode(array(mtMd(99, 0), mtMd(147, 500))).as("r"))
      .select(col("r.*"))

    // <prefix>_NT: one valid record per read on a nuclear chromosome —
    // NTEditDist/NTNumAlignments noise, NTScore from real interval overlap.
    val ntRefs = (1 to 5).map(i => s"chr$i" -> 100000)
    val ntHeader = "@HD\tVN:1.6\n" +
      ntRefs.map { case (n, l) => s"@SQ\tSN:$n\tLN:$l\n" }.mkString
    val ntDf = li.select(rid.as("readName"), lit(99).as("flag"),
      concat(lit("chr"), col("l_suppkey") % 5 + 1).as("referenceName"),
      (col("l_partkey") % 2000 + 1).cast("int").as("start"),
      (col("l_discount") * 100).cast("int").as("mapQ"),
      lit("10M").as("cigar"), lit("=").as("rnext"), lit(0).as("pnext"),
      lit(0).as("tlen"), lit("ACGTACGTAC").as("sequence"),
      lit("*").as("qual"),
      concat(lit("NM:i:"), col("l_suppkey") % 4,
        lit(" NH:i:"), lit(1) + col("l_suppkey") % 3).as("attributes"))

    // <prefix>_MT: the records the pipeline filters and re-emits.
    def mtRec(flag: Int, off: Int) = struct(
      rid.as("readName"), lit(flag).as("flag"),
      lit("chrM").as("referenceName"), (p + off).cast("int").as("start"),
      col("l_quantity").cast("int").as("mapQ"),
      lit("10M").as("cigar"), lit("=").as("rnext"), lit(0).as("pnext"),
      lit(0).as("tlen"), lit("ACGTACGTAC").as("sequence"),
      lit("*").as("qual"), lit("NM:i:1").as("attributes"))
    val mtDf = li
      .select(explode(array(mtRec(99, 0), mtRec(147, 500))).as("r"))
      .select(col("r.*"))
    (mtMdDf, ntDf, mtDf, chrM, ntHeader, ntRefs)
  }

  /** LD + NUMT sidecar tables (driver-written, KB-sized dims by
    * contract). */
  private def x08Sidecars(root: String): Unit = {
    import graft.sources.HadoopIO
    def writeText(path: String, text: String): Unit = {
      val out = HadoopIO.create(path, HadoopIO.driverConf())
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    writeText(root + "/mitomap.ld",
      (1 to 1000).map(q => s"${q + 2}G\t${q + 502}G\t0.42").mkString("\n") + "\n")
    writeText(root + "/numts.tsv",
      "chr1\t100\t600\t10\nchr2\t500\t1500\t5\nchr3\t0\t1000\t7\n")
  }

  private def x08Rf(s: SparkSession)
      : org.apache.spark.ml.classification.RandomForestClassificationModel = {
    import org.apache.spark.sql.Column
    // RF trained on a fixture generated by the same rule over the same
    // feature supports (x04's wide-margin technique; sf-independent).
    // Noise dims derive from j = id/2, NOT id: label is id's parity, so
    // each j emits one row per label with IDENTICAL noise — zero
    // label↔noise correlation, mirroring the scoring distribution where
    // the noise columns (supp/line-derived) are independent of the class
    // (part-derived). A parity-correlated noise dim would hand the trees
    // a spurious perfect splitter that is pure noise at scoring time.
    def m(c: Column, k: Int): Column = (c % k).cast("double")
    val id = col("id")
    val j = (id / 2).cast("long") // integer halving: '/' on longs is double division
    val label = (id % 2).cast("double")
    val train = s.range(4096).toDF().select(
      label.as("label"),
      (label * 10 + m(j, 3) * 2).as("MTEditDist"),
      (label * 42000).as("LD"),
      m(j * 7, 4).as("NTEditDist"),
      element_at(array(lit(0.0), lit(5.0), lit(7.0), lit(10.0)),
        ((j * 3) % 4 + 1).cast("int")).as("NTScore"),
      (lit(2) + m(j, 2) * 2).as("MTNumAlignments"),
      (lit(1) + m(j * 5, 3)).as("NTNumAlignments"),
      concat(lit("r"), id).as("Read"))
    // seeded + sf-independent fixture → the trained forest is identical
    // run-to-run; cache it so bench warm passes measure the PIPELINE, not
    // a retrain (same build-once discipline as Similarity.ivfModels)
    x08Model.getOrElseUpdate("rf",
      graft.mito.Classify.trainRF(train, numTrees = 64, seed = 7L))
  }

  def x08PipelineGate(s: SparkSession, d: String): DataFrame = {
    import graft.mito.MitoPipeline
    import graft.sources.{BamWriter, HadoopIO}
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"${HadoopIO.scratchDir(s)}/graft_x08_$sfTag"
    val prefix = s"$root/sample"
    val (mtMdDf, ntDf, mtDf, chrM, ntHeader, ntRefs) = x08Cohort(s, d)
    BamWriter.write(mtMdDf, chrM, Seq("chrM" -> 16569), prefix + "_MT_MD.bam")
    BamWriter.write(ntDf, ntHeader, ntRefs, prefix + "_NT.bam")
    BamWriter.write(mtDf, chrM, Seq("chrM" -> 16569), prefix + "_MT.bam")
    x08Sidecars(root)

    MitoPipeline.run(s,
      MitoPipeline.Config(prefix, root + "/classified.bam",
        root + "/mitomap.ld", root + "/numts.tsv", prob = 0.9),
      x08Rf(s))

    // the gate checks the written ARTIFACT, not the returned frame: scan
    // the classified single-file BAM back through the binary source
    s.read.format("bam").load(root + "/classified.bam")
      .agg(count(lit(1)).as("n_out"),
        sum(col("start")).as("sum_start"),
        sum(col("mapQ")).as("sum_mapq"))
  }

  // ---------------------------------------------------------------- x09
  /** x08's end-to-end pipeline with every container COMPRESSED: the same
    * lineitem-synthesized cohort written as bgzip SAM text (`.sam.gz`,
    * the format real NGS archives actually ship), classified through the
    * same `MitoPipeline.run`, and emitted as a compressed single-file SAM
    * — then scanned back through the `sam` DSv2's BGZF reader WITH
    * intra-file byte-range splits. Pins at driver visibility: compressed
    * ingestion (member-boundary split ownership), format-blind pipeline
    * resolution (`Sam.resolveSamText`), header recovery from a
    * compressed source, the BGZF text sink, and the re-scan — one row,
    * same oracle arithmetic as x08 (the container must not change the
    * answer). */
  def x09CompressedPipelineGate(s: SparkSession, d: String): DataFrame = {
    import graft.mito.{MitoPipeline, Sam}
    import graft.sources.HadoopIO
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"${HadoopIO.scratchDir(s)}/graft_x09_$sfTag"
    val prefix = s"$root/sample"
    val (mtMdDf, ntDf, mtDf, chrM, ntHeader, _) = x08Cohort(s, d)
    // writer-schema record frame → raw SAM text lines (tags are
    // tab-separated on disk; the internal `attributes` convention is
    // space-joined and no synthesized value contains a space)
    def lines(df: DataFrame): DataFrame = df.select(concat_ws("\t",
      col("readName"), col("flag"), col("referenceName"), col("start"),
      col("mapQ"), col("cigar"), col("rnext"), col("pnext"), col("tlen"),
      col("sequence"), col("qual"),
      translate(col("attributes"), " ", "\t")).as("line"))
    def hdr(h: String): Seq[String] =
      h.split("\n").toSeq.filter(_.nonEmpty)
    Sam.writeSingleSamWithHeader(hdr(chrM), lines(mtMdDf),
      prefix + "_MT_MD.sam.gz")
    Sam.writeSingleSamWithHeader(hdr(ntHeader), lines(ntDf),
      prefix + "_NT.sam.gz")
    Sam.writeSingleSamWithHeader(hdr(chrM), lines(mtDf),
      prefix + "_MT.sam.gz")
    x08Sidecars(root)

    MitoPipeline.run(s,
      MitoPipeline.Config(prefix, root + "/classified.sam.gz",
        root + "/mitomap.ld", root + "/numts.tsv", prob = 0.9),
      x08Rf(s))

    // scan the compressed artifact back with forced intra-file splits
    s.read.format("sam").option("splitsize", 65536)
      .load(root + "/classified.sam.gz")
      .agg(count(lit(1)).as("n_out"),
        sum(col("start")).as("sum_start"),
        sum(col("mapQ")).as("sum_mapq"))
  }

  /** Oracle from the synthesis arithmetic: exactly the class-0 reads'
    * two MT records survive (starts p and p+500, mapQ l_quantity each). */
  val x08Sql: String =
    """SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_out,
      |  CAST(SUM(2 * (l_partkey % 1000 + 1) + 500) AS BIGINT) AS sum_start,
      |  CAST(2 * SUM(CAST(l_quantity AS INT)) AS BIGINT) AS sum_mapq
      |FROM lineitem
      |WHERE l_orderkey % 4 = 2 AND l_partkey % 2 = 0""".stripMargin

  // ---------------------------------------------------------------- x80
  /** COHORT-SCALE PIPELINE GATE — the scale-out story the reference never
    * had: its `MTClassify.main` is one-sample-per-JVM, so an N-sample
    * cohort pays N JVM spins and N dim loads. Here 8 samples (x08's
    * population partitioned into disjoint `l_orderkey % 32 = 4k + 2`
    * slices) run through `MitoPipeline.runCohort` in ONE session: the LD
    * index is read + broadcast once, the NUMT dim loaded once (both
    * asserted via load counters — a regression to per-sample dim loads
    * fails the gate, not just slows it), and each sample's classified
    * single-file BAM is written then independently re-scanned. Output:
    * one row per sample with x08's exact-count arithmetic, so a record
    * wrongly dropped/kept/mis-encoded in ANY sample flips the hash. */
  def x80CohortGate(s: SparkSession, d: String): DataFrame = {
    import graft.mito.{Ld, MitoPipeline, Numt}
    import graft.sources.{BamWriter, HadoopIO}
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"${HadoopIO.scratchDir(s)}/graft_x80_$sfTag"
    x08Sidecars(root)
    // bench gated mode runs 4 of the 8 cohort samples (Bench sets
    // spark.graft.x80.samples=4 — r15 next-round #2's row cap); Verify
    // never sets the conf, so the CORRECTNESS row keeps the full cohort
    // and x80Sql's range(0, 8) oracle is unchanged
    val nSamples = s.conf.get("spark.graft.x80.samples", "8").toInt
    val samples = (0 until nSamples).map { k =>
      val pre = s"$root/s$k/sample"
      val (mtMdDf, ntDf, mtDf, chrM, ntHeader, ntRefs) =
        x08CohortSlice(s, d, col("l_orderkey") % 32 === k * 4 + 2)
      BamWriter.write(mtMdDf, chrM, Seq("chrM" -> 16569), pre + "_MT_MD.bam")
      BamWriter.write(ntDf, ntHeader, ntRefs, pre + "_NT.bam")
      BamWriter.write(mtDf, chrM, Seq("chrM" -> 16569), pre + "_MT.bam")
      pre -> s"$root/s$k/classified.bam"
    }
    val (ld0, nt0) = (Ld.loadCount.get(), Numt.loadCount.get())
    MitoPipeline.runCohort(s, samples, root + "/mitomap.ld",
      root + "/numts.tsv", prob = 0.9, x08Rf(s))
    require(Ld.loadCount.get() - ld0 == 1L && Numt.loadCount.get() - nt0 == 1L,
      "cohort run must load each shared dim exactly once, not per sample")
    (0 until nSamples).map { k =>
      s.read.format("bam").load(s"$root/s$k/classified.bam")
        .agg(count(lit(1)).as("n_out"),
          sum(col("start")).as("sum_start"),
          sum(col("mapQ")).as("sum_mapq"))
        .select(lit(k.toLong).as("sample_id"), col("n_out"),
          col("sum_start"), col("sum_mapq"))
    }.reduce(_ unionByName _).orderBy("sample_id")
  }

  /** x08's oracle arithmetic grouped by the slice id, with every sample
    * id present even if a slice is empty at tiny scale factors. */
  val x80Sql: String =
    """WITH base AS (SELECT (l_orderkey % 32 - 2) // 4 AS sample_id,
      |    l_partkey, l_quantity
      |  FROM lineitem WHERE l_orderkey % 4 = 2 AND l_partkey % 2 = 0),
      |g AS (SELECT sample_id, CAST(2 * COUNT(*) AS BIGINT) AS n_out,
      |    CAST(SUM(2 * (l_partkey % 1000 + 1) + 500) AS BIGINT)
      |      AS sum_start,
      |    CAST(2 * SUM(CAST(l_quantity AS INT)) AS BIGINT) AS sum_mapq
      |  FROM base GROUP BY sample_id),
      |ids AS (SELECT unnest(range(0, 8)) AS k)
      |SELECT CAST(ids.k AS BIGINT) AS sample_id,
      |  CAST(COALESCE(g.n_out, 0) AS BIGINT) AS n_out,
      |  g.sum_start, g.sum_mapq
      |FROM ids LEFT JOIN g ON g.sample_id = ids.k
      |ORDER BY sample_id""".stripMargin

  // ---------------------------------------------------------------- x11
  /** Per-position read DEPTH (pileup) — the coverage statistic every
    * alignment QC step computes (samtools depth / mpileup's first
    * column), via the SCALABLE sweep formulation rather than the naive
    * per-base explode: each read contributes (+1 at start, −1 at
    * end+1), deltas aggregate per boundary position, a running sum over
    * boundaries yields the depth of each constant-depth segment, and
    * only then do segments expand to positions. The explode-per-base
    * alternative shuffles read_len× the input (50–150× for real reads);
    * the sweep shuffles exactly 2 rows per read and its window runs
    * over DISTINCT BOUNDARIES (≤ 2·positions per contig), not reads.
    * The running sum is PARTITIONED BY CONTIG — the synthesis spreads
    * reads over two contigs so the partitioned path is actually
    * exercised, and the in-row plan assert (q43 style) rejects any
    * unpartitioned window: at genome scale an un-keyed sweep would move
    * every boundary (≈ positions ≈ 3·10⁹) through one reducer. Within a
    * single monster contig the same decomposition recurses as t14's
    * two-level prefix sum over position-range buckets — the sweep now
    * RIDES [[Genomics.coverageIntervals]]'s bucketed
    * `boundaryPrefixScan` (the r10 verdict's one `weak`: this scaladoc
    * used to promise the decomposition while the body ran a flat
    * per-contig window), exercised here with a 512-position bucket
    * width so the gate data spans multiple buckets per contig and
    * pinned by the ≥2-key-window plan require. Reads are synthesized
    * from lineitem (fixed 10 bp span) so the oracle can restate depth
    * as the per-base GROUP BY it replaces. */
  def x11DepthPileup(s: SparkSession, d: String): DataFrame = {
    val reads = Tables.lineitem(s, d).where(col("l_orderkey") % 3 === 1)
      .select(
        when(col("l_suppkey") % 2 === 0, "chr1").otherwise("chrM")
          .as("contig"),
        ((col("l_partkey") % 500) + 1).cast("long").as("start"))
      .withColumn("end", col("start") + 10L)
    val r = Genomics.coverageIntervals(reads, bucketWidth = 512L)
      .select(col("contig"),
        explode(sequence(col("start_pos"), col("end_pos") - 1)).as("pos"),
        col("depth"))
      .orderBy("contig", "pos")
    Genomics.requireBucketedSweep(r, "x11")
    r
  }

  /** Oracle is the naive per-base formulation the sweep replaces. */
  val x11Sql: String =
    """WITH r AS (
      |  SELECT CASE WHEN l_suppkey % 2 = 0 THEN 'chr1' ELSE 'chrM' END
      |    AS contig, (l_partkey % 500) + 1 AS st
      |  FROM lineitem WHERE l_orderkey % 3 = 1),
      |p AS (SELECT contig, unnest(generate_series(st, st + 9)) AS pos FROM r)
      |SELECT contig, CAST(pos AS BIGINT) AS pos,
      |  CAST(COUNT(*) AS BIGINT) AS depth
      |FROM p GROUP BY contig, pos ORDER BY contig, pos""".stripMargin

  // ---------------------------------------------------------------- x12
  /** Generic CIGAR arithmetic — the alignment-geometry scalar kernel
    * (SAM spec §1.4.6) every coverage/clipping/QC pass needs: reference
    * span (M/D/N/=/X consume reference), read length (M/I/S/=/X consume
    * query), aligned bases (M/=/X), clipped bases (S/H) — computed by
    * the native codegen expression [[graft.functions.CigarSumsExpr]]
    * (one byte pass over the string for ALL sums; the generic
    * regexp-scan + HOF-fold formulation it replaced re-tokenized per
    * requested sum because lambda-bearing builtins sit outside both
    * whole-stage codegen and subexpression elimination — it survives as
    * [[x12CigarKernelHof]], the spec's equality oracle). CIGARs are
    * synthesized with a
    * known composition (cS aM iI bD aM), so the oracle restates each
    * output as closed-form arithmetic — checking the parser against the
    * construction rather than a second parser. Narrow scan, zero
    * shuffle. */
  def x12CigarKernel(s: SparkSession, d: String): DataFrame =
    x12CigarKernelImpl(s, d, native = true)

  /** The generic-builtin formulation (regexp token scan → HOF folds) the
    * native expression replaced — kept as the spec's equality oracle
    * (HOF lambdas are interpreted, outside whole-stage codegen AND
    * subexpression elimination, so this re-tokenizes per requested sum). */
  private[graft] def x12CigarKernelHof(s: SparkSession, d: String): DataFrame =
    x12CigarKernelImpl(s, d, native = false)

  private def x12CigarKernelImpl(s: SparkSession, d: String,
      native: Boolean): DataFrame = {
    val a = col("l_quantity").cast("int") % 40 + 1
    val b = col("l_partkey") % 5 + 1
    val c = col("l_suppkey") % 8 + 1
    val i = col("l_linenumber") % 3 + 1
    val cigar = concat(c, lit("S"), a, lit("M"), i, lit("I"),
      b, lit("D"), a, lit("M"))
    val base = Tables.lineitem(s, d).where(col("l_orderkey") % 10 === 3)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), cigar.as("cigar"))
    val sums =
      if (native) {
        val withCs = base.withColumn("__cs",
          graft.functions.CigarSumsExpr.cigarSums(col("cigar")))
        withCs.select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("cigar"),
          col("__cs.ref_len").as("ref_len"),
          col("__cs.read_len").as("read_len"),
          col("__cs.aligned").as("aligned"),
          col("__cs.clipped").as("clipped"))
      } else {
        val toks = regexp_extract_all(col("cigar"),
          lit("(\\d+)([MIDNSHP=X])"), lit(0))
        val pairs = transform(toks, t => struct(
          t.substr(lit(1), length(t) - 1).cast("long").as("len"),
          t.substr(length(t), lit(1)).as("op")))
        def opSum(ops: String*): Column =
          aggregate(filter(pairs, p => p.getField("op").isin(ops: _*)),
            lit(0L), (acc, p) => acc + p.getField("len"))
        base.select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("cigar"),
          opSum("M", "D", "N", "=", "X").as("ref_len"),
          opSum("M", "I", "S", "=", "X").as("read_len"),
          opSum("M", "=", "X").as("aligned"),
          opSum("S", "H").as("clipped"))
      }
    sums.orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
  }

  /** Closed-form restatement from the synthesis composition. */
  val x12Sql: String =
    """WITH r AS (
      |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |    CAST(l_quantity AS INT) % 40 + 1 AS a,
      |    l_partkey % 5 + 1 AS b,
      |    l_suppkey % 8 + 1 AS c,
      |    l_linenumber % 3 + 1 AS i
      |  FROM lineitem WHERE l_orderkey % 10 = 3)
      |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |  c || 'S' || a || 'M' || i || 'I' || b || 'D' || a || 'M' AS cigar,
      |  CAST(2 * a + b AS BIGINT) AS ref_len,
      |  CAST(2 * a + c + i AS BIGINT) AS read_len,
      |  CAST(2 * a AS BIGINT) AS aligned,
      |  CAST(c AS BIGINT) AS clipped
      |FROM r
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin

  // ---------------------------------------------------------------- x13
  /** ALS collaborative filtering gate — MLlib's distributed matrix-
    * factorization recommender (the remaining major `spark.ml` family
    * beside the tree/linear/clustering surfaces already gated by
    * x04/x10/t23/t28 and the KMeans index): a planted two-block rating
    * matrix (users and items split by parity; rating 5 within a block, 1
    * across) is exactly rank-2, so a seeded rank-4 ALS fit must (a)
    * reconstruct the training ratings to RMSE < 1 and (b) separate the
    * block structure — the mean within-block prediction exceeds the mean
    * cross-block prediction by > 2 (the planted gap is 4; factors are
    * float-seeded so exact values vary in ulps, which the margin gates
    * absorb — d24's statistical-contract discipline). ALS itself is the
    * scale story: factor updates are block-partitioned joint least
    * squares, no user×item materialization. */
  def x13AlsGate(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.recommendation.ALS
    val n = 40
    val u = (col("id") / n).cast("int")
    val i = (col("id") % n).cast("int")
    val ratings = s.range(n.toLong * n).select(
      u.as("user"), i.as("item"),
      when(u % 2 === i % 2, 5.0f).otherwise(1.0f).as("rating"))
    val model = new ALS().setRank(4).setSeed(7L).setMaxIter(10)
      .setRegParam(0.1).setUserCol("user").setItemCol("item")
      .setRatingCol("rating").fit(ratings)
    model.setColdStartStrategy("drop")
    val pred = model.transform(ratings)
      .withColumn("within", (col("user") % 2) === (col("item") % 2))
    pred.agg(
        count(lit(1)).as("n_ratings"),
        sqrt(avg(pow(col("prediction") - col("rating"), 2))).as("rmse"),
        avg(when(col("within"), col("prediction"))).as("w"),
        avg(when(!col("within"), col("prediction"))).as("c"))
      .select(col("n_ratings"),
        (col("rmse") < 1.0).as("rmse_ok"),
        (col("w") - col("c") > 2.0).as("sep_ok"))
  }

  val x13Sql: String =
    """SELECT CAST(1600 AS BIGINT) AS n_ratings,
      |  true AS rmse_ok, true AS sep_ok""".stripMargin

  // ---------------------------------------------------------------- x14
  /** `samtools flagstat` parity over the BAM source — the first command a
    * reference user runs against any BAM (the published MitoScape workflow
    * inspects its inputs with samtools before classification,
    * README.md:23-32). Records synthesized from `lineitem` carry a flag
    * word assembled from five independent arithmetic bits (proper-pair,
    * unmapped, secondary, duplicate, supplementary) on top of the
    * always-set paired bit; the file is written by [[graft.sources.BamWriter]]
    * and read back WITHOUT the validity predicate — flagstat counts every
    * record, so this row pins the source's unfiltered full-scan path
    * (x03/x05 only ever exercise the pushdown path at driver visibility).
    * The category counts are bitwise aggregates the oracle restates from
    * the same arithmetic; any decode slip of the 16-bit flag field flips
    * them. Scale shape: one narrow scan, one global aggregate. */
  def x14Flagstat(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{BamWriter, HadoopIO}
    val li = Tables.fanOut(Tables.lineitem(s, d), col("l_orderkey"), col("l_linenumber")) // r16 fan-out; r17 PK keys
      .where(col("l_orderkey") % 4 === 3)
    val flag = (lit(1)
      + when(col("l_linenumber") % 2 === 0, 2).otherwise(0)
      + when(col("l_partkey") % 7 === 0, 4).otherwise(0)
      + when(col("l_suppkey") % 5 === 0, 256).otherwise(0)
      + when(col("l_quantity").cast("int") % 11 === 0, 1024).otherwise(0)
      + when(col("l_orderkey") % 13 === 0, 2048).otherwise(0)).cast("int")
    val recs = li.select(
      concat(lit("r"), col("l_orderkey"), lit("_"), col("l_linenumber"))
        .as("readName"),
      flag.as("flag"),
      lit("chrM").as("referenceName"),
      (col("l_partkey") % 1000 + 1).cast("int").as("start"),
      col("l_quantity").cast("int").as("mapQ"),
      lit("10M").as("cigar"), lit("=").as("rnext"),
      lit(0).as("pnext"), lit(0).as("tlen"),
      lit("ACGTACGTAC").as("sequence"), lit("*").as("qual"),
      lit("NM:i:0").as("attributes"))
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val out = s"${HadoopIO.scratchDir(s)}/graft_x14_$sfTag.bam"
    BamWriter.write(recs, "@HD\tVN:1.6\n@SQ\tSN:chrM\tLN:16569\n",
      Seq("chrM" -> 16569), out)
    val back = s.read.format("bam").load(out)
    def bit(b: Int) = (back("flag").bitwiseAND(lit(b)) =!= 0).cast("long")
    back.agg(
      count(lit(1)).as("n_total"),
      sum(bit(256)).as("n_secondary"),
      sum(bit(2048)).as("n_supplementary"),
      sum(bit(1024)).as("n_duplicates"),
      sum((back("flag").bitwiseAND(lit(4)) === 0).cast("long"))
        .as("n_mapped"),
      sum(bit(2)).as("n_proper"),
      sum((back("flag").bitwiseAND(lit(256 | 2048)) === 0).cast("long"))
        .as("n_primary"))
  }

  /** Oracle from the synthesis arithmetic (flag bits regenerated from the
    * same lineitem expressions). */
  val x14Sql: String =
    """WITH f AS (
      |  SELECT 1
      |    + CASE WHEN l_linenumber % 2 = 0 THEN 2 ELSE 0 END
      |    + CASE WHEN l_partkey % 7 = 0 THEN 4 ELSE 0 END
      |    + CASE WHEN l_suppkey % 5 = 0 THEN 256 ELSE 0 END
      |    + CASE WHEN CAST(l_quantity AS INT) % 11 = 0 THEN 1024 ELSE 0 END
      |    + CASE WHEN l_orderkey % 13 = 0 THEN 2048 ELSE 0 END AS flag
      |  FROM lineitem WHERE l_orderkey % 4 = 3)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
      |  CAST(SUM(CASE WHEN flag & 256 != 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_secondary,
      |  CAST(SUM(CASE WHEN flag & 2048 != 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_supplementary,
      |  CAST(SUM(CASE WHEN flag & 1024 != 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_duplicates,
      |  CAST(SUM(CASE WHEN flag & 4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_mapped,
      |  CAST(SUM(CASE WHEN flag & 2 != 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_proper,
      |  CAST(SUM(CASE WHEN flag & 2304 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_primary
      |FROM f""".stripMargin

  // ---------------------------------------------------------------- x15
  /** Mate-pair consistency validation — the `samtools fixmate` /
    * ValidateSamFile QC pass a pipeline runs before trusting paired-end
    * flags (the reference's feature build keys on read names pairing up,
    * `MTClassifierModel.scala` per-read aggregation). Pairs synthesized
    * from `lineitem` write both mates (flags 99/147) with `pnext` set to
    * the mate's position — except keys≡0 mod 17, whose second mate gets a
    * corrupted `pnext` (+1), and keys≡0 mod 19 (and not 17), which write
    * the first mate ONLY (an orphan). After the BAM roundtrip the
    * operator groups by read name and classifies each template: paired +
    * cross-consistent (each mate's pnext equals the other's start),
    * paired-but-inconsistent, or orphaned — counts the oracle restates
    * from the planting arithmetic. Scale shape: one shuffle on the read
    * name (uniform key, 2 rows per group), the classification a per-group
    * conditional — the same profile as the engine's per-read feature
    * aggregation, now pinned as a QC row. */
  def x15MateCheck(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{BamWriter, HadoopIO}
    val li = Tables.fanOut(Tables.lineitem(s, d), col("l_orderkey"), col("l_linenumber")) // r16 fan-out; r17 PK keys
      .where(col("l_orderkey") % 4 === 0)
    val rid = concat(lit("r"), col("l_orderkey"), lit("_"),
      col("l_linenumber"), lit("_"), col("l_partkey"), lit("_"),
      col("l_suppkey"))
    val p1 = (col("l_partkey") % 1000 + 1).cast("int")
    val p2 = (col("l_partkey") % 1000 + 501).cast("int")
    val badPnext = col("l_orderkey") % 17 === 0
    val orphan = !badPnext && col("l_orderkey") % 19 === 0
    def mate(flag: Int, pos: Column, mpos: Column) = struct(
      rid.as("readName"), lit(flag).as("flag"),
      lit("chrM").as("referenceName"), pos.as("start"),
      col("l_quantity").cast("int").as("mapQ"),
      lit("10M").as("cigar"), lit("=").as("rnext"),
      mpos.as("pnext"), lit(0).as("tlen"),
      lit("ACGTACGTAC").as("sequence"), lit("*").as("qual"),
      lit("NM:i:0").as("attributes"))
    val recs = li.select(explode(
        when(orphan, array(mate(99, p1, p2)))
          .otherwise(array(
            mate(99, p1, p2),
            mate(147, p2, when(badPnext, p1 + 1).otherwise(p1))))).as("r"))
      .select(col("r.*"))
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val out = s"${HadoopIO.scratchDir(s)}/graft_x15_$sfTag.bam"
    BamWriter.write(recs, "@HD\tVN:1.6\n@SQ\tSN:chrM\tLN:16569\n",
      Seq("chrM" -> 16569), out)
    val back = s.read.format("bam").load(out)
    val tmpl = back.groupBy(col("readName")).agg(
      count(lit(1)).as("n_mates"),
      // cross-consistency as MULTISET equality {starts} == {pnexts} via
      // min/max agreement — equivalent to the full crosswise check when
      // the two mates sit at distinct positions, which the synthesis
      // guarantees (p2 − p1 = 500; the planted corruption shifts by +1,
      // never onto the other mate)
      min(col("start")).as("min_s"), max(col("start")).as("max_s"),
      min(col("pnext")).as("min_p"), max(col("pnext")).as("max_p"))
    val cls = tmpl.select(
      when(col("n_mates") < 2, lit("orphan"))
        .when(col("min_s") === col("min_p") && col("max_s") === col("max_p"),
          lit("consistent"))
        .otherwise(lit("inconsistent")).as("status"))
    cls.groupBy(col("status"))
      .agg(count(lit(1)).as("n_templates"))
      .orderBy("status")
  }

  /** Oracle replays the planting arithmetic: orphans are keys≡0 mod 19
    * (not 17), inconsistent are keys≡0 mod 17, the rest consistent.
    * Positions never collide within a template (p2 = p1 + 500, corrupt
    * pnext = p1 + 1 ≠ p2), so the min/max cross-check is exact. */
  val x15Sql: String =
    """WITH t AS (
      |  SELECT CASE
      |      WHEN l_orderkey % 17 = 0 THEN 'inconsistent'
      |      WHEN l_orderkey % 19 = 0 THEN 'orphan'
      |      ELSE 'consistent' END AS status
      |  FROM lineitem WHERE l_orderkey % 4 = 0)
      |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_templates
      |FROM t GROUP BY status ORDER BY status""".stripMargin

  // ---------------------------------------------------------------- x16
  /** COORDINATE-SORT gate — [[graft.sources.BamWriter.sortAndWrite]],
    * the in-engine replacement for the reference workflow's one external
    * dependency (`samtools sort`, `/root/reference/scripts/alignToMT.sh:70`;
    * the reference requires sorted input, `/root/reference/README.md:23,32`,
    * and cannot produce it itself). An UNSORTED multi-contig cohort is
    * synthesized from lineitem (starts scattered by ·977 mod, contigs
    * interleaved by suppkey) with a deliberately NON-alphabetical
    * reference dictionary (chr2 < chr1 < chrM in header order), sorted
    * and written in-engine, `.gai`-indexed, then verified on BOTH axes:
    *
    * `sorted_ok` — the DISTRIBUTED sortedness proof: the file is
    * re-scanned in forced byte-range splits (planned in ascending
    * offset order, so partitionId = file order), each split checks its
    * own (dictionary-ordinal, start) monotonicity and emits only its
    * boundary keys, and the driver folds the per-split boundary list
    * (task-metadata-sized, like the writer's commit) — a per-split
    * check plus boundary chaining is the sortedness audit that survives
    * a 100 TB file, where any single-pass check is a one-reducer scan.
    * A lexicographic-NAME sort (chr1 < chr2 < chrM) would fail it.
    *
    * `pruned_ok` + the region aggregate — the sorted artifact must be
    * index-SERVABLE (the point of coordinate order): a mid-domain chr1
    * region query through the fresh `.gai` must decode a minority of
    * the file's bytes (x05's accounting) and match the oracle's
    * synthesis arithmetic exactly. */
  def x16CoordinateSortGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{BamIndex, BamWriter, HadoopIO, SamFilters}
    val (lo, hi) = (1001, 2000) // ~20% of the start domain [1, 5000]
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 4 === 1)
    val recs = li.select(
      concat(lit("r"), col("l_orderkey"), lit("_"), col("l_linenumber"))
        .as("readName"),
      lit(99).as("flag"),
      when(col("l_suppkey") % 3 === 0, "chr2")
        .when(col("l_suppkey") % 3 === 1, "chr1")
        .otherwise("chrM").as("referenceName"),
      ((col("l_partkey") * 977) % 5000 + 1).cast("int").as("start"),
      col("l_quantity").cast("int").as("mapQ"),
      lit("10M").as("cigar"), lit("=").as("rnext"),
      lit(0).as("pnext"), lit(0).as("tlen"),
      lit("ACGTACGTAC").as("sequence"), lit("*").as("qual"),
      lit("NM:i:1").as("attributes"))
    val refs = Seq("chr2" -> 200000, "chr1" -> 200000, "chrM" -> 16569)
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val out = s"${HadoopIO.scratchDir(s)}/graft_x16_$sfTag.bam"
    // r14: index-on-write — the `.bai` is emitted FROM the write itself
    // (write-side virtual positions, part-shifted at the driver), then
    // pinned in-row byte-identical to an independent post-hoc
    // BaiIndex.build re-read of the finished file
    BamWriter.sortAndWrite(recs,
      "@HD\tVN:1.6\tSO:coordinate\n" +
        refs.map { case (n, l) => s"@SQ\tSN:$n\tLN:$l\n" }.mkString,
      refs, out, numPartitions = 8, index = true)
    val conf = HadoopIO.driverConf()
    def baiBytes(): Array[Byte] = {
      val p = new org.apache.hadoop.fs.Path(out + ".bai")
      val in = p.getFileSystem(conf).open(p)
      try in.readAllBytes() finally in.close()
    }
    val iowBai = baiBytes()
    graft.sources.BaiIndex.build(out, conf)
    val iowOk = java.util.Arrays.equals(iowBai, baiBytes())
    BamIndex.build(out, conf)

    // distributed sortedness proof over forced splits
    val ord = refs.map(_._1).zipWithIndex.toMap
    import s.implicits._
    val bounds = s.read.format("bam").option("splitsize", 64 * 1024)
      .load(out).select(col("referenceName"), col("start"))
      .as[(String, Int)]
      .mapPartitions { rows =>
        val pid = org.apache.spark.TaskContext.get().partitionId()
        if (!rows.hasNext) Iterator.empty
        else {
          val first = rows.next()
          var last = (ord(first._1), first._2)
          val firstK = last
          var sortedWithin = true
          var n = 1L
          while (rows.hasNext) {
            val r = rows.next()
            val k = (ord(r._1), r._2)
            if (Ordering[(Int, Int)].lt(k, last)) sortedWithin = false
            last = k; n += 1
          }
          Iterator((pid, firstK._1, firstK._2, last._1, last._2,
            sortedWithin, n))
        }
      }
      .collect().sortBy(_._1) // per-SPLIT boundary rows, metadata-sized
    val sortedOk = bounds.nonEmpty && bounds.forall(_._6) &&
      bounds.sliding(2).forall {
        case Array(a, b) =>
          Ordering[(Int, Int)].lteq((a._4, a._5), (b._2, b._3))
        case _ => true
      }

    // region servability through the fresh index (x05's byte accounting)
    val region = s.read.format("bam").load(out)
      .where(col("referenceName") === "chr1" &&
        col("start") >= lo && col("start") <= hi)
    val stats = BamIndex.read(out, conf)
    val preds = Seq(SamFilters.RefNameEq("chr1"),
      SamFilters.IntCmp("start", ">=", lo.toLong),
      SamFilters.IntCmp("start", "<=", hi.toLong))
    val runs = BamIndex.selectRuns(stats, preds,
      refs.map(_._1).toArray, 0L, Long.MaxValue)
    val fileLen = HadoopIO.lenAndMtime(out, conf).get._1
    val keptBytes = runs.map { case (st, _, end) =>
      (if (end == Long.MaxValue) fileLen else end) - st
    }.sum
    val full = s.read.format("bam").option("splitsize", 64 * 1024).load(out)
    full.agg(count(lit(1)).as("n_records"),
        sum(col("start")).as("sum_start"),
        sum(col("mapQ")).as("sum_mapq"))
      .crossJoin(region.agg(count(lit(1)).as("n_region"),
        sum(col("mapQ")).as("region_mapq")))
      .select(col("n_records"), col("sum_start"), col("sum_mapq"),
        col("n_region"), col("region_mapq"),
        lit(sortedOk).as("sorted_ok"),
        lit(runs.nonEmpty && keptBytes * 2 < fileLen).as("pruned_ok"),
        lit(iowOk).as("iow_bai_ok"))
  }

  /** Oracle from the synthesis arithmetic; the booleans are the pinned
    * sortedness + index-servability contracts. */
  val x16Sql: String =
    """WITH t AS (
      |  SELECT l_suppkey % 3 AS c,
      |    (l_partkey * 977) % 5000 + 1 AS st,
      |    CAST(l_quantity AS INT) AS q
      |  FROM lineitem WHERE l_orderkey % 4 = 1)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_records,
      |  CAST(SUM(st) AS BIGINT) AS sum_start,
      |  CAST(SUM(q) AS BIGINT) AS sum_mapq,
      |  CAST(SUM(CASE WHEN c = 1 AND st BETWEEN 1001 AND 2000
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_region,
      |  CAST(SUM(CASE WHEN c = 1 AND st BETWEEN 1001 AND 2000
      |    THEN q ELSE 0 END) AS BIGINT) AS region_mapq,
      |  true AS sorted_ok, true AS pruned_ok, true AS iow_bai_ok
      |FROM t""".stripMargin

  // ---------------------------------------------------------------- x17
  /** PCR/optical DUPLICATE MARKING over any alignment frame — the
    * `samtools markdup` / Picard MarkDuplicates step that follows
    * coordinate sort in every alignment pipeline (PCR amplification
    * yields multiple reads of one physical fragment; leaving them in
    * double-counts evidence in every downstream depth/variant call).
    * Reads sharing a fragment signature — (contig, start, mate start,
    * orientation bit) — are duplicates of one fragment; the
    * highest-quality read survives, the rest get flag bit 0x400 (the
    * SAM-spec duplicate flag). Keep choice is totalized by
    * (mapQ desc, readName asc) so marking is deterministic under ties.
    *
    * Scale shape: ONE shuffle on the fragment signature (uniform —
    * genomic positions; group sizes are bounded by the PCR duplication
    * factor, single digits in practice, so the per-group window is
    * skew-free by construction). No corpus-sized window, no driver
    * state — the same per-key profile as x15's mate aggregation. */
  def markDuplicates(reads: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("referenceName"), col("start"), col("pnext"),
        col("flag").bitwiseAND(lit(16)))
      .orderBy(col("mapQ").desc, col("readName").asc)
    reads
      .withColumn("__rk", row_number().over(w))
      .withColumn("flag",
        when(col("__rk") === 1, col("flag"))
          .otherwise(col("flag").bitwiseOR(lit(1024))))
      .drop("__rk")
  }

  /** Driver gate: the x16 sort feeds markdup (the real pipeline order),
    * with fragment multiplicity synthesized from lineitem (fragment
    * signature = l_partkey mod 300, so group sizes and per-group max
    * quality are oracle arithmetic). */
  def x17MarkdupGate(s: SparkSession, d: String): DataFrame = {
    import graft.sources.{BamWriter, HadoopIO}
    val li = Tables.lineitem(s, d).where(col("l_orderkey") % 5 === 2)
    val recs = li.select(
      concat(lit("r"), col("l_orderkey"), lit("_"), col("l_linenumber"))
        .as("readName"),
      lit(99).as("flag"),
      lit("chrM").as("referenceName"),
      ((col("l_partkey") % 300) + 1).cast("int").as("start"),
      col("l_quantity").cast("int").as("mapQ"),
      lit("10M").as("cigar"), lit("=").as("rnext"),
      ((col("l_partkey") % 300) + 501).cast("int").as("pnext"),
      lit(500).as("tlen"),
      lit("ACGTACGTAC").as("sequence"), lit("*").as("qual"),
      lit("NM:i:0").as("attributes"))
    val sfTag = d.replaceAll("[^A-Za-z0-9]", "_")
    val out = s"${HadoopIO.scratchDir(s)}/graft_x17_$sfTag.bam"
    BamWriter.sortAndWrite(recs,
      "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:chrM\tLN:16569\n",
      Seq("chrM" -> 16569), out, numPartitions = 8)
    val marked = markDuplicates(
      s.read.format("bam").option("splitsize", 64 * 1024).load(out))
    val isDup = col("flag").bitwiseAND(lit(1024)) =!= 0
    marked.agg(
      count(lit(1)).as("n_reads"),
      sum((!isDup).cast("long")).as("n_kept"),
      sum(isDup.cast("long")).as("n_marked"),
      sum(when(!isDup, col("mapQ")).otherwise(0)).as("sum_kept_mapq"),
      sum(when(!isDup, col("start")).otherwise(0)).as("sum_kept_start"))
  }

  /** Oracle replays the fragment arithmetic: one survivor per signature,
    * carrying the group's max quality. */
  val x17Sql: String =
    """WITH r AS (
      |  SELECT (l_partkey % 300) + 1 AS st, CAST(l_quantity AS INT) AS q
      |  FROM lineitem WHERE l_orderkey % 5 = 2),
      |g AS (SELECT st, MAX(q) AS mq FROM r GROUP BY st)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM r) AS n_reads,
      |  CAST(COUNT(*) AS BIGINT) AS n_kept,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM r)
      |    - CAST(COUNT(*) AS BIGINT) AS n_marked,
      |  CAST(SUM(mq) AS BIGINT) AS sum_kept_mapq,
      |  CAST(SUM(st) AS BIGINT) AS sum_kept_start
      |FROM g""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x01_pair_score"    -> (x01PairScore _),
    "x02_mito_features" -> (x02MitoFeatures _),
    "x03_bam_roundtrip" -> (x03BamRoundTrip _),
    "x04_ml_score"      -> (x04MlScore _),
    "x05_bam_region_gate" -> (x05BamRegionGate _),
    "x06_bai_region_gate" -> (x06BaiRegionGate _),
    "x07_csi_region_gate" -> (x07CsiRegionGate _),
    "x08_pipeline_gate"   -> (x08PipelineGate _),
    "x09_compressed_pipeline_gate" -> (x09CompressedPipelineGate _),
    "x10_cv_gate"         -> (x10CvGate _),
    "x11_depth_pileup"    -> (x11DepthPileup _),
    "x12_cigar_kernel"    -> (x12CigarKernel _),
    "x13_als_gate"        -> (x13AlsGate _),
    "x14_flagstat"        -> (x14Flagstat _),
    "x15_mate_check"      -> (x15MateCheck _),
    "x16_coordinate_sort_gate" -> (x16CoordinateSortGate _),
    "x17_markdup_gate"    -> (x17MarkdupGate _),
    "x80_cohort_gate"     -> (x80CohortGate _))

  val oracles: Map[String, String] = Map(
    "x01_pair_score" -> x01Sql,
    "x02_mito_features" -> x02Sql,
    "x03_bam_roundtrip" -> x03Sql,
    "x04_ml_score" -> x04Sql,
    "x05_bam_region_gate" -> x05Sql,
    "x06_bai_region_gate" -> x06Sql,
    "x07_csi_region_gate" -> x07Sql,
    "x08_pipeline_gate" -> x08Sql,
    "x09_compressed_pipeline_gate" -> x08Sql,
    "x10_cv_gate" -> x10Sql,
    "x11_depth_pileup" -> x11Sql,
    "x12_cigar_kernel" -> x12Sql,
    "x13_als_gate" -> x13Sql,
    "x14_flagstat" -> x14Sql,
    "x15_mate_check" -> x15Sql,
    "x16_coordinate_sort_gate" -> x16Sql,
    "x17_markdup_gate" -> x17Sql,
    "x80_cohort_gate" -> x80Sql)
}
